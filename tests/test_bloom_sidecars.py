"""ROW bloom-filter sidecars (bloom.py — HBase BLOOMFILTER=ROW analog).

HBase consults a per-HFile bloom before opening a store file, so a Get
over a k-generation LSM store touches only files that probably contain
the key; the reference inherits that via HBase Gets
(HBaseSQLReaderRDD.scala:270-315).  These tests pin our parquet-fragment
equivalent: OPTIONS(bloomfilter=row) builds a ``<fragment>.bloom``
sidecar per fragment, full-key point/IN scans skip fragments the
sidecar proves empty, and the filter is never a correctness dependency
(missing sidecar = maybe present).
"""

import glob
import os
import random

import pytest

from spark_sql_on_hbase_spark import bloom
from spark_sql_on_hbase_spark import codec as C
from spark_sql_on_hbase_spark.session import AstroSession

# ---------------------------------------------------------------------------
# unit: builder (numpy, uint64 wraparound) vs prober (python ints) parity
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_sane_fpp():
    rng = random.Random(42)
    keys = [rng.randbytes(rng.randint(1, 24)) for _ in range(5000)]
    m, k = bloom.params_for(len(keys))
    bits = bloom.build_bits(keys, m, k)
    for rk in keys:  # zero false negatives, by construction
        assert bloom.maybe_contains(bits, m, k, rk)
    probes = [rng.randbytes(32) for _ in range(5000)]
    fp = sum(bloom.maybe_contains(bits, m, k, p) for p in probes)
    assert fp / len(probes) < 0.05  # ~1% design point, wide margin


def test_bloom_sidecar_roundtrip(tmp_path):
    frag = str(tmp_path / "part-0.parquet")
    open(frag, "wb").close()
    keys = [f"key-{i}".encode() for i in range(100)]
    m, k = bloom.params_for(len(keys))
    bits = bloom.build_bits(keys, m, k)
    bloom.write_sidecar(frag, bits, m, k, len(keys))
    loaded = bloom.load_sidecar(frag)
    assert loaded is not None
    b2, m2, k2 = loaded
    assert (m2, k2) == (m, k) and bytes(b2) == bits.tobytes()
    bloom.drop_sidecar(frag)
    assert bloom.load_sidecar(frag) is None


def test_bloom_empty_fragment():
    m, k = bloom.params_for(0)
    bits = bloom.build_bits([], m, k)
    assert not bloom.maybe_contains(bits, m, k, b"anything")


# ---------------------------------------------------------------------------
# engine: LSM point-get skipping
# ---------------------------------------------------------------------------

DDL = (
    "CREATE TABLE bl (k1 INT, v INT, PRIMARY KEY (k1)) "
    "MAPPED BY (bl_htable, COLS=[v=f.v]) "
    "OPTIONS (regions=4, bloomfilter=row)"
)


@pytest.fixture(scope="module")
def astro(spark, tmp_path_factory):
    wh = tmp_path_factory.mktemp("bloom_wh")
    a = AstroSession(spark, str(wh))
    a.sql(DDL)
    csv = wh / "bl.csv"
    # generation 0: keys 0..63 across 4 regions — EXCEPT 13, a hole
    # inside every file's range envelope (the bloom-to-zero-files probe)
    csv.write_text("".join(f"{i},{1000 + i}\n" for i in range(64) if i != 13))
    a.sql(f"LOAD DATA INPATH '{csv}' INTO TABLE bl")
    # 3 trickle appends whose key ranges SPAN the table (5..60), so
    # range pruning alone cannot skip them for any point in that span
    for g in range(1, 4):
        vals = ", ".join(f"({k1}, {2000 * g + k1})" for k1 in (5 + g, 20 + g, 40 + g, 60 - g))
        a.sql(f"INSERT INTO bl SELECT * FROM VALUES {vals} AS t(k1, v)")
    return a


def _warehouse(astro):
    return astro.catalog.root


def test_sidecars_exist_for_every_fragment(astro):
    rel = astro.relation("bl")
    for r in rel.meta.regions:
        assert os.path.exists(bloom.sidecar_path(rel._local_path(r.path))), r.path
    # and for no OTHER files (no stale sidecars)
    data_dir = astro.catalog.data_dir(rel.meta)
    frags = {os.path.basename(p) for p in glob.glob(os.path.join(data_dir, "*.parquet"))}
    side = {os.path.basename(p)[: -len(bloom.SUFFIX)] for p in glob.glob(os.path.join(data_dir, "*.bloom"))}
    assert side <= frags


def test_point_lookup_skips_unrelated_generations(astro):
    rel = astro.relation("bl")
    # key 17 exists only in generation 0; the three append fragments all
    # span it by range ([6..59] each), so without blooms the probe
    # reads the gen0 region PLUS every append fragment
    df, res = rel.scan_where("k1 = 17")
    assert [(r.k1, r.v) for r in df.collect()] == [(17, 1017)]
    assert len(res.files) == 1, [f.path for f in res.files]


def test_point_lookup_hole_reads_zero_files(astro):
    rel = astro.relation("bl")
    # 13 sits inside the gen0 region's range AND every append's range,
    # but no generation ever wrote it — blooms prove it absent everywhere
    df, res = rel.scan_where("k1 = 13")
    assert df.count() == 0
    assert len(res.files) == 0, [f.path for f in res.files]


@pytest.mark.slow  # r16 (VERDICT r15 #1): soak/fuzz sweep — --runslow lane
def test_every_present_key_found(astro):
    """No false negatives end-to-end: every key returns newest value."""
    rel = astro.relation("bl")
    expect = {i: 1000 + i for i in range(64) if i != 13}
    for g in range(1, 4):
        for k1 in (5 + g, 20 + g, 40 + g, 60 - g):
            expect[k1] = 2000 * g + k1  # newest cell wins
    for k1 in sorted(expect):
        df, _ = rel.scan_where(f"k1 = {k1}")
        assert [(r.k1, r.v) for r in df.collect()] == [(k1, expect[k1])], k1


def test_in_list_probes_union(astro):
    rel = astro.relation("bl")
    df, res = rel.scan_where("k1 IN (17, 19)")
    assert sorted((r.k1, r.v) for r in df.collect()) == [(17, 1017), (19, 1019)]
    assert len(res.files) == 1  # both keys live only in one gen0 region


def test_missing_sidecar_degrades_to_maybe_present(astro):
    rel = astro.relation("bl")
    victim = rel._local_path(rel.meta.regions[0].path)
    side = bloom.sidecar_path(victim)
    payload = open(side, "rb").read()
    try:
        os.unlink(side)
        rel._BLOOM_CACHE.clear()
        df, res = rel.scan_where("k1 = 17")
        assert [(r.k1, r.v) for r in df.collect()] == [(17, 1017)]
    finally:
        open(side, "wb").write(payload)
        rel._BLOOM_CACHE.clear()


def test_range_scan_unaffected(astro):
    rel = astro.relation("bl")
    df, res = rel.scan_where("k1 >= 10 AND k1 <= 12")
    assert sorted(r.k1 for r in df.collect()) == [10, 11, 12]


def test_compact_reclaims_stale_sidecars_and_builds_new(astro):
    astro.sql("COMPACT TABLE bl")
    rel = astro.relation("bl")
    data_dir = astro.catalog.data_dir(rel.meta)
    frags = {os.path.basename(p) for p in glob.glob(os.path.join(data_dir, "*.parquet"))}
    side = {os.path.basename(p)[: -len(bloom.SUFFIX)] for p in glob.glob(os.path.join(data_dir, "*.bloom"))}
    assert side <= frags, "stale sidecar outlived its fragment"
    for r in rel.meta.regions:
        assert os.path.exists(bloom.sidecar_path(rel._local_path(r.path)))
    rel._BLOOM_CACHE.clear()
    df, res = rel.scan_where("k1 = 17")
    assert [(r.k1, r.v) for r in df.collect()] == [(17, 1017)]
    assert len(res.files) == 1


def test_describe_shows_bloomfilter(astro):
    rows = astro.sql("DESCRIBE EXTENDED bl").collect()
    kv = {r[0]: r[1] for r in rows}
    assert kv.get("bloomfilter") == "row"


def test_composite_key_in_cross_product(spark, tmp_path_factory):
    wh = tmp_path_factory.mktemp("bloom_ck_wh")
    a = AstroSession(spark, str(wh))
    a.sql(
        "CREATE TABLE ck (a INT, b INT, v INT, PRIMARY KEY (a, b)) "
        "MAPPED BY (ck_htable, COLS=[v=f.v]) "
        "OPTIONS (regions=2, bloomfilter=row)"
    )
    csv = wh / "ck.csv"
    csv.write_text("".join(f"{i % 8},{i},{i}\n" for i in range(64)))
    a.sql(f"LOAD DATA INPATH '{csv}' INTO TABLE ck")
    a.sql("INSERT INTO ck VALUES (3, 100, 999)")
    rel = a.relation("ck")
    df, res = rel.scan_where("a = 3 AND b IN (11, 100)")
    assert sorted((r.a, r.b, r.v) for r in df.collect()) == [(3, 11, 11), (3, 100, 999)]
    # a residual conjunct on a non-key column must not break extraction
    df2, res2 = rel.scan_where("a = 3 AND b IN (11, 100) AND v > 50")
    assert sorted((r.a, r.b, r.v) for r in df2.collect()) == [(3, 100, 999)]
    assert len(res2.files) <= len(rel.meta.regions)


def test_bloomfilter_none_writes_no_sidecars(spark, tmp_path_factory):
    wh = tmp_path_factory.mktemp("bloom_off_wh")
    a = AstroSession(spark, str(wh))
    a.sql(
        "CREATE TABLE nb (k INT, v INT, PRIMARY KEY (k)) "
        "MAPPED BY (nb_htable, COLS=[v=f.v]) OPTIONS (regions=2)"
    )
    csv = wh / "nb.csv"
    csv.write_text("".join(f"{i},{i}\n" for i in range(16)))
    a.sql(f"LOAD DATA INPATH '{csv}' INTO TABLE nb")
    rel = a.relation("nb")
    data_dir = a.catalog.data_dir(rel.meta)
    assert glob.glob(os.path.join(data_dir, "*.bloom")) == []


def test_small_fragment_sidecar_rejects_absent_candidates(spark, tmp_path):
    """A 9-key trickle fragment probed with 40 absent exact candidates
    (an index lookup's shape) admits none of them: small sidecars are
    floored at 1,024 bits.  At 64 bits these keys admit two."""
    astro = AstroSession(spark, str(tmp_path / "wh"))
    astro.sql(
        "CREATE TABLE bs (k INT, v INT, PRIMARY KEY (k)) "
        "MAPPED BY (bs_h, COLS=[v=f.v]) OPTIONS (regions=1, bloomfilter=row)"
    )
    astro.sql("INSERT INTO bs VALUES " + ", ".join(f"({k}, {k})" for k in range(90, 99)))
    rel = astro.relation("bs")
    (frag,) = rel.meta.regions
    assert frag.num_keys == 9
    absent = [C.encode_key([k], ["int"]) for k in range(190, 230)]
    assert rel._bloom_admits(frag, [C.encode_key([93], ["int"])])
    assert sum(rel._bloom_admits(frag, [rk]) for rk in absent) == 0
