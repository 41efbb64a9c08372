"""r13 — regression tests for the five r12 ADVICE findings.

1 (high)   relation._index_route must BYPASS the index for any
           lookup mentioning a NUL-containing string value — such values
           are storable but deliberately unindexed, so probing the
           partial value list silently dropped rows.
2 (medium) create_index had a lost-update window: a sibling append
           between the bulk-build snapshot and the registration commit
           was never indexed; the CAS-retried commit closure now diffs
           fragments and backfills the gap.
3 (medium) tune_lsh_params' corpus-size rule self-destructed at scale:
           the post-inflation clamp shrank bits-per-band BELOW the
           un-scaled value as bands grew.  The budget is now enforced
           jointly; r is monotone non-decreasing in n.
4 (low)    bloom.write_sidecar used a fixed tmp name; two concurrent
           builders raced os.replace and the loser failed an executor
           task.  Now per-writer tmp + swallow OSError (best-effort).
5 (low)    DROP TABLE cascade dropped the main table first; a crash in
           between left orphaned `t__idx_*` tables that collided with a
           later CREATE INDEX.  Indexes drop first, and create_index
           tolerates a pre-existing orphan.
"""

import threading

import numpy as np
import pytest

from spark_sql_on_hbase_spark import bloom
from spark_sql_on_hbase_spark.operators.similarity import tune_lsh_params
from spark_sql_on_hbase_spark.session import AstroSession

DDL = (
    "CREATE TABLE adv (k1 INT, status STRING, amt INT, PRIMARY KEY (k1)) "
    "MAPPED BY (adv_ht, COLS=[status=f.s, amt=f.a]) OPTIONS (regions=4)"
)


@pytest.fixture()
def astro(spark, tmp_path):
    a = AstroSession(spark, str(tmp_path / "adv_wh"))
    a.sql(DDL)
    csv = tmp_path / "adv.csv"
    rows = []
    for i in range(200):
        st = "E" if i in (7, 17) else "ABCD"[i % 4]
        rows.append(f"{i},{st},{i * 10}\n")
    csv.write_text("".join(rows))
    a.sql(f"LOAD DATA INPATH '{csv}' INTO TABLE adv")
    return a


# -- 1: NUL-containing values bypass the index entirely ----------------------


def test_nul_value_in_list_bypasses_index(astro, spark):
    astro.sql("CREATE INDEX ON adv (status)")
    rel = astro.relation("adv")
    # store a NUL-carrying value through the DataFrame append path (the
    # SQL layer can't spell it; the storage layer accepts it)
    from spark_sql_on_hbase_spark.relation import table_schema

    df = spark.createDataFrame([(9100, "a\x00b", 5)], table_schema(rel.meta))
    rel.append(df)
    rel = astro.relation("adv")
    # the whole lookup must take the full-scan path, not probe 'E' alone
    assert rel._index_route("status IN ('E', 'a\x00b')") is None
    assert rel._index_route("status = 'a\x00b'") is None
    # plain lookups still route through the index
    got = rel._index_route("status = 'E'")
    assert got is not None and got["kind"] == "augment" and got["col"] == "status"
    assert got["n"] == 2  # keys 7 and 17; the NUL-carrying row is unindexed
    # end-to-end: the full-scan fallback returns BOTH the indexed and
    # the unindexed rows
    df, res = rel.scan_where("status IN ('E', 'a\x00b')")
    assert sorted(r.k1 for r in df.collect()) == [7, 17, 9100]
    assert res.index_used is None


def test_all_null_in_list_still_safe(astro):
    astro.sql("CREATE INDEX ON adv (status)")
    rel = astro.relation("adv")
    # `= NULL` / `IN (NULL)` can never match — dropping SQL-NULL alone
    # keeps the index usable for the remaining values
    got = rel._index_route("status IN (NULL, 'E')")
    assert got is not None and got["kind"] == "augment" and got["col"] == "status"
    assert got["n"] == 2
    df, _ = rel.scan_where("status IN (NULL, 'E')")
    assert sorted(r.k1 for r in df.collect()) == [7, 17]


# -- 2: create_index backfills a sibling append -------------------------------


def test_create_index_backfills_sibling_append(astro, spark, monkeypatch):
    wh = astro.catalog.root
    other = AstroSession(spark, wh)
    other.catalog.get_table("adv")  # prime the sibling's cache
    rel = astro.relation("adv")
    rel._ensure_fresh_regions()

    real_persist = astro.catalog.persist
    injected = {"done": False}

    def persist(meta, *a, **kw):
        # first registration persist of the MAIN meta → interleave a
        # sibling append that the bulk build never saw
        if meta.name == "adv" and meta.indexes and not injected["done"]:
            injected["done"] = True
            other.sql("INSERT INTO adv VALUES (9000, 'Z', 1)")
        return real_persist(meta, *a, **kw)

    monkeypatch.setattr(astro.catalog, "persist", persist)
    rel.create_index("status")
    assert injected["done"]

    # a FRESH session must find the sibling's row THROUGH the index —
    # before the fix the entry was permanently missing (superset
    # invariant violated) until a manual REINDEX
    fresh = AstroSession(spark, wh).relation("adv")
    idx = fresh._index_relation("status")
    assert idx.scan().filter("status = 'Z'").count() == 1
    df, res = fresh.scan_where("status = 'Z'")
    assert [r.k1 for r in df.collect()] == [9000]
    assert res.index_used == "status"


# -- 3: tune_lsh_params budget enforced jointly ------------------------------


def test_tune_lsh_never_shrinks_r_below_unscaled():
    for t in (0.5, 0.7, 0.85, 0.9, 0.95, 0.99):
        bits0, b0 = tune_lsh_params(t)
        r0 = bits0 // b0
        prev_r = 0
        for n in (1, 1000, 10**5, 10**6, 10**7, 2 * 10**8, 10**10):
            bits, b = tune_lsh_params(t, n=n)
            r = bits // b
            assert r >= r0, (t, n, r, r0)
            assert r >= prev_r, (t, n, "r must be monotone in n")
            assert bits <= 256, (t, n, bits)
            assert r * b == bits
            prev_r = r


def test_tune_lsh_budget_and_midpoint_hold():
    # the r12 ADVICE reproductions: n=1M and n=200M must not collapse r
    import math

    for n in (10**6, 2 * 10**8):
        bits, b = tune_lsh_params(0.95, n=n)
        r = bits // b
        assert r >= 20, (n, r)  # un-scaled r for 0.95 is 20
        # midpoint of the S-curve stays near the threshold when the
        # band count was re-derived: p^r ≈ 1/b within a factor of ~4
        p = 1.0 - math.acos(0.95) / math.pi
        assert 0.25 <= (p**r) * b <= 4.0, (n, r, b)


# -- 4: bloom sidecar builder race is harmless --------------------------------


def test_bloom_sidecar_concurrent_builders(tmp_path):
    frag = str(tmp_path / "frag.parquet")
    keys = [f"k{i}".encode() for i in range(100)]
    m, k = 1024, 7
    bits = np.zeros((m + 7) // 8, dtype=np.uint8)
    for rk in keys:
        h1, h2 = bloom.hash_pair(rk)
        for i in range(k):
            pos = ((h1 + i * h2) & 0xFFFF_FFFF_FFFF_FFFF) % m
            bits[pos >> 3] |= 1 << (pos & 7)

    errs = []

    def build():
        try:
            for _ in range(50):
                bloom.write_sidecar(frag, bits, m, k, len(keys))
        except BaseException as e:  # noqa: BLE001 — the test asserts none
            errs.append(e)

    ts = [threading.Thread(target=build) for _ in range(8)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs, errs
    loaded = bloom.load_sidecar(frag)
    assert loaded is not None
    lb, lm, lk = loaded
    assert lm == m and lk == k and bytes(lb) == bytes(bits)
    # no tmp litter left behind
    litter = [p.name for p in tmp_path.iterdir() if ".tmp" in p.name]
    assert not litter, litter


def test_bloom_sidecar_replace_failure_is_swallowed(tmp_path, monkeypatch):
    import os as _os

    frag = str(tmp_path / "frag2.parquet")

    def boom(src, dst):
        raise OSError("simulated race loser")

    monkeypatch.setattr(bloom.os, "replace", boom)
    bloom.write_sidecar(frag, np.zeros(128, dtype=np.uint8), 1024, 7, 1)
    # missing sidecar = maybe-present, never an error
    assert bloom.load_sidecar(frag) is None
    assert not [p.name for p in tmp_path.iterdir() if ".tmp" in p.name]


# -- 5: DROP TABLE cascade order + orphan tolerance ---------------------------


def test_drop_table_cascade_drops_indexes_first(astro, spark, monkeypatch):
    astro.sql("CREATE INDEX ON adv (status)")
    cat = astro.catalog
    real_drop = cat.drop_table
    dropped = []

    def drop(table, namespace="default", **kw):
        dropped.append(table)
        return real_drop(table, namespace, **kw)

    monkeypatch.setattr(cat, "drop_table", drop)
    astro.sql("DROP TABLE adv")
    assert dropped.index("adv__idx_status") < dropped.index("adv")


def test_create_index_overwrites_orphan(astro, spark, tmp_path):
    """Simulate the pre-r13 crash artifact: an index table exists in the
    catalog but its owning table's meta.indexes does not point at it."""
    astro.sql("CREATE INDEX ON adv (status)")
    # crash simulation: the registration is rolled back, the index
    # table survives as an orphan
    rel = astro.relation("adv")

    def unregister():
        rel.meta.indexes.pop("status", None)
        rel.catalog.persist(rel.meta)

    rel._commit_retry(unregister)
    assert astro.catalog.get_table("adv__idx_status") is not None  # orphan
    # re-creating the index must overwrite the orphan, not collide
    astro.sql("CREATE INDEX ON adv (status)")
    fresh = AstroSession(spark, astro.catalog.root).relation("adv")
    df, res = fresh.scan_where("status = 'E'")
    assert sorted(r.k1 for r in df.collect()) == [7, 17]
    assert res.index_used == "status"


def test_missing_index_table_falls_back_to_full_scan(astro, spark):
    """The other crash direction (index tables dropped, main drop didn't
    land): meta.indexes points at a table the catalog no longer has —
    lookups must degrade to a correct full scan, never error."""
    astro.sql("CREATE INDEX ON adv (status)")
    astro.catalog.drop_table("adv__idx_status")
    rel = AstroSession(spark, astro.catalog.root).relation("adv")
    df, res = rel.scan_where("status = 'E'")
    assert sorted(r.k1 for r in df.collect()) == [7, 17]
    assert res.index_used is None
