"""COMPACT rewrites only the regions that receive a newer row.

Differential: two warehouses run the same statements; one compacts by
region (``AstroRelation.compact``), the other takes the full
``_rebuild``.  Every read after the compaction — ``scan``, ``scan_where``
point, leading-key and second-key ranges, SQL, ``VERSION AS OF`` the
current generation and the change feed across the compaction — returns
the same rows on both, on DATE keys, TIMESTAMP keys under a non-UTC
session zone, DOUBLE keys with NaN and ±0.0 and DECIMAL keys, with
upserts that carry NULL cells, deleted keys and new keys below the first
region and above the last.  Kept regions keep their files, inodes and
bloom sidecars; an append that commits under the compaction aborts it;
z-order, bucketed, over-grown, dirty and shared tables, a table with
nothing newer and one whose base still holds a dropped column take the
full rebuild.
"""

import os
from datetime import date, datetime, timedelta, timezone
from decimal import Decimal

import pytest

from spark_sql_on_hbase_spark.catalog import ConcurrentWriteError
from spark_sql_on_hbase_spark.relation import AstroRelation, table_schema
from spark_sql_on_hbase_spark.session import AstroSession

# these tests assert prompt physical reclaim; reader-lease deferral is
# exercised in test_autocompact_leases.py
pytestmark = pytest.mark.usefixtures("no_reader_leases")

UTC = timezone.utc
_TS0 = datetime(2020, 1, 5, 18, 0, tzinfo=UTC)  # 10:00 in Los Angeles

# key type → (sorted key values, point get, leading-key range); the first
# and last values enter only after the bulk load, below the first region
# and above the last
_KEYS = {
    "date": (
        [date(2020, 1, d) for d in range(1, 15)],
        "k = '2020-01-06' AND i = 1",
        "k BETWEEN '2020-01-05' AND '2020-01-08'",
    ),
    "timestamp": (
        [_TS0 + timedelta(hours=h) for h in range(14)],
        # in the session zone: 15:00 LA is 23:00 UTC
        "k = '2020-01-05 15:00:00' AND i = 1",
        "k BETWEEN '2020-01-05 12:00:00' AND '2020-01-05 16:00:00'",
    ),
    "double": (
        [float("-inf"), -2.5, -1.0, -0.0, 0.0, 0.5, 1.5, 2.5, 3.5, 4.5, 5.5, 6.5,
         float("inf"), float("nan")],
        "k = 0.0 AND i = 1",
        "k BETWEEN -0.0 AND 2.5",
    ),
    "decimal(10,2)": (
        [Decimal(x) / 100 for x in (-250, -1, 0, 1, 5, 99, 100, 101, 250, 500, 999, 1000,
                                    5000, 12345)],
        "k = 0.05 AND i = 1",
        "k BETWEEN 0.01 AND 2.50",
    ),
}


@pytest.fixture()
def la_time_zone(spark):
    key = "spark.sql.session.timeZone"
    before = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try:
        yield
    finally:
        spark.conf.set(key, before)


def _write(astro, name, rows, fragments=None):
    rel = astro.relation(name)
    df = astro.spark.createDataFrame(rows, table_schema(rel.meta))
    if fragments is None:
        rel.write(df)
    else:
        rel.append(df, fragments=fragments)


def _table(astro, name, ktype, vals, options="", indexes=False):
    """``name (k ktype, i INT, v INT, s STRING)``: a bulk load of every
    value but the first and last, three rows each, then small deltas that
    upsert with NULL cells, add keys below the first region and above the
    last, and a key-only DELETE of every ``i = 2`` row."""
    astro.sql(
        f"CREATE TABLE {name} (k {ktype}, i INT, v INT, s STRING, PRIMARY KEY (k, i)) "
        f"MAPPED BY ({name}_h, COLS=[v=f.v, s=f.s]) {options}"
    )
    _write(astro, name, [(k, i, j * 10 + i, f"b{j}")
                         for j, k in enumerate(vals[1:-1], 1) for i in range(3)])
    if indexes:
        astro.sql(f"CREATE INDEX ON {name} (v)")
        astro.sql(f"CREATE INDEX ON {name} (s) INCLUDE (v)")
    _write(astro, name, [(vals[1], 0, None, "u1"), (vals[0], 1, 1, "lo"),
                         (vals[-1], 0, 2, "hi")], fragments=1)
    _write(astro, name, [(vals[5], 1, 100, None), (vals[5], 4, 4, "n4")], fragments=1)
    astro.sql(f"DELETE FROM {name} WHERE i = 2")
    _write(astro, name, [(vals[2], 0, 7, None), (vals[-1], 1, None, "hi2")], fragments=1)
    assert astro.relation(name).needs_merge()


def _rows(df):
    return sorted(tuple(repr(v) for v in r) for r in df.collect())  # repr: NaN == NaN


def _twins(spark, tmp_path, monkeypatch, build):
    """Two sessions over two warehouses after the same ``build(astro)``:
    the first compacted by region, the second by the full rebuild."""
    a = AstroSession(spark, str(tmp_path / "regions_wh"))
    b = AstroSession(spark, str(tmp_path / "rebuild_wh"))
    name = build(a)
    build(b)
    a.sql(f"COMPACT TABLE {name}")
    assert a.last_write_stats["compact_mode"] == "regions"
    with monkeypatch.context() as m:
        m.setattr(AstroRelation, "_compaction_plan", lambda self: "forced")
        b.sql(f"COMPACT TABLE {name}")
    assert b.last_write_stats["compact_mode"] == "rebuild"
    return a, b, name


def _same_reads(a, b, name, wheres):
    ra, rb = a.relation(name), b.relation(name)
    assert not ra.needs_merge()
    assert {r.seq for r in ra.meta.regions} == {0}
    assert _rows(ra.scan()) == _rows(rb.scan())
    assert _rows(ra.scan(as_of_seq=0)) == _rows(rb.scan(as_of_seq=0))
    for where in wheres + ["i BETWEEN 0 AND 1", "v > 30 AND i < 4"]:
        assert _rows(ra.scan_where(where)[0]) == _rows(rb.scan_where(where)[0]), where
        q = f"SELECT * FROM {name} WHERE {where}"
        assert _rows(a.sql(q)) == _rows(b.sql(q)), where
    q = f"SELECT * FROM {name} VERSION AS OF 0"
    assert _rows(a.sql(q)) == _rows(b.sql(q))


@pytest.mark.parametrize("ktype", sorted(_KEYS))
def test_region_compaction_reads_like_a_rebuild(spark, tmp_path, la_time_zone, monkeypatch,
                                                ktype):
    vals, point, lead = _KEYS[ktype]

    def build(astro):
        _table(astro, "rc", ktype, vals, "OPTIONS (regions=4, bloomfilter=row)")
        return "rc"

    a, b, name = _twins(spark, tmp_path, monkeypatch, build)
    st = a.last_write_stats
    assert 0 < st["regions_rewritten"] < st["regions_rewritten"] + st["regions_kept"] <= 4
    _same_reads(a, b, name, [point, lead])
    # the change feed across the compaction: one more upsert on each
    for s in (a, b):
        _write(s, name, [(vals[3], 0, 33, "late")], fragments=1)
    ca = a.relation(name).changes(0)
    assert _rows(ca) == _rows(b.relation(name).changes(0))
    assert len(ca.collect()) == 1


def test_stringformat_table(spark, tmp_path, monkeypatch):
    vals = list(range(0, 140, 10))

    def build(astro):
        _table(astro, "sf", "int", vals, "IN stringformat OPTIONS (regions=4)")
        return "sf"

    a, b, name = _twins(spark, tmp_path, monkeypatch, build)
    _same_reads(a, b, name, ["k = 50 AND i = 1", "k BETWEEN 20 AND 70"])


def test_retained_history_reclaims_retired_fragments(spark, tmp_path, monkeypatch):
    vals = list(range(0, 140, 10))

    def build(astro):
        _table(astro, "rh", "int", vals, "OPTIONS (regions=4, retain_history=true)")
        assert astro.relation("rh").meta.retired_regions
        return "rh"

    a, b, name = _twins(spark, tmp_path, monkeypatch, build)
    meta = a.relation(name).meta
    assert meta.retired_regions == [] and meta.gc_pending == [] and meta.history_floor == 0
    on_disk = {f for f in os.listdir(a.catalog.data_dir(meta)) if f.endswith(".parquet")}
    assert on_disk == {os.path.basename(r.path) for r in meta.regions}
    _same_reads(a, b, name, ["k = 50 AND i = 1", "k BETWEEN 20 AND 70"])


def test_index_clean_flags_as_a_rebuild(spark, tmp_path, monkeypatch):
    vals = list(range(0, 140, 10))

    def build(astro):
        _table(astro, "ix", "int", vals, "OPTIONS (regions=4)", indexes=True)
        return "ix"

    a, b, name = _twins(spark, tmp_path, monkeypatch, build)
    ia, ib = a.relation(name).meta.index_info, b.relation(name).meta.index_info
    assert {c: (v["clean"], v["merge_exact"]) for c, v in ia.items()} == {
        c: (v["clean"], v["merge_exact"]) for c, v in ib.items()
    }
    _same_reads(a, b, name, ["v = 41", "s = 'b5'", "v = 100"])


def test_merge_free_compaction_keeps_indexes_clean(spark, tmp_path):
    """New keys that overlap nothing keep the table merge-free, so the
    compaction preserves the row set and the indexes stay clean."""
    astro = AstroSession(spark, str(tmp_path / "wh"))
    vals = list(range(0, 140, 10))
    astro.sql(
        "CREATE TABLE mf (k INT, i INT, v INT, s STRING, PRIMARY KEY (k, i)) "
        "MAPPED BY (mf_h, COLS=[v=f.v, s=f.s]) OPTIONS (regions=4)"
    )
    _write(astro, "mf", [(k, i, k + i, "b") for k in vals for i in range(3)])
    astro.sql("CREATE INDEX ON mf (v)")
    _write(astro, "mf", [(1000, 0, 5, "x")], fragments=1)
    rel = astro.relation("mf")
    assert not rel.needs_merge() and rel.meta.index_info["v"]["clean"]
    astro.sql("COMPACT TABLE mf")
    assert astro.last_write_stats["regions_rewritten"] == 1
    assert astro.relation("mf").meta.index_info["v"]["clean"] is True


def _idents(astro, meta):
    d = astro.catalog.data_dir(meta)
    return {f: os.stat(os.path.join(d, f)).st_ino for f in os.listdir(d)}


def _plain(astro, name, n=400, regions=8, options=""):
    astro.sql(
        f"CREATE TABLE {name} (k INT, v STRING, PRIMARY KEY (k)) "
        f"MAPPED BY ({name}_ht) OPTIONS (regions={regions}{options})"
    )
    astro.sql(f"INSERT INTO {name} SELECT id, CONCAT('v', id) FROM range(0, {n})")
    return astro.relation(name)


def test_kept_regions_keep_files_and_sidecars(spark, tmp_path):
    astro = AstroSession(spark, str(tmp_path / "wh"))
    rel = _plain(astro, "kr", options=", bloomfilter=row")
    base = sorted(rel.meta.regions, key=lambda r: r.min_rowkey_hex)
    assert len(base) == 8
    before = _idents(astro, rel.meta)
    assert sum(f.endswith(".bloom") for f in before) == 8
    # upserts and new keys in the second and the last region only
    hit = [base[1], base[-1]]
    ks = [hit[0].min_key[0], hit[0].max_key[0], hit[1].max_key[0] + 5]
    astro.sql("INSERT INTO kr VALUES " + ", ".join(f"({k}, 'n{k}')" for k in ks))
    row = astro.sql("COMPACT TABLE kr").collect()[0][0]
    assert row.endswith("-> 8 regions (2 rewritten, 6 kept)"), row
    assert astro.last_write_stats == {
        "compact_mode": "regions", "rebuild_reason": None,
        "regions_rewritten": 2, "regions_kept": 6,
    }
    meta = astro.relation("kr").meta
    after = _idents(astro, meta)
    kept = [os.path.basename(r.path) for r in base if r not in hit]
    for f in kept + [f + ".bloom" for f in kept]:
        assert after[f] == before[f], f
    assert {os.path.basename(r.path) for r in meta.regions} >= set(kept)
    assert len(meta.regions) == 8 and not astro.relation("kr").needs_merge()
    # every live file has its sidecar; replaced files and sidecars are gone
    assert {f for f in after if f.endswith(".bloom")} == {
        os.path.basename(r.path) + ".bloom" for r in meta.regions
    }
    assert not [f for f in after if f.startswith("rw-") and f.endswith(".parquet")
                and f not in {os.path.basename(r.path) for r in meta.regions}]
    got = {r.k: r.v for r in astro.sql("SELECT k, v FROM kr").collect()}
    assert got == {k: f"v{k}" for k in range(400)} | {k: f"n{k}" for k in ks}
    hist = astro.sql("DESCRIBE HISTORY kr").collect()
    assert [(h.generation, h.operation) for h in hist] == [(0, "COMPACT")]


def test_append_under_the_compaction_aborts_it(spark, tmp_path, monkeypatch):
    astro = AstroSession(spark, str(tmp_path / "wh"))
    rel = _plain(astro, "ab")
    astro.sql("INSERT INTO ab VALUES (5, 'x'), (500, 'y')")
    sibling = AstroSession(spark, astro.catalog.root)
    real = AstroRelation._publish_rows

    def publish_then_sibling_appends(self, *a, **k):
        out = real(self, *a, **k)
        sibling.sql("INSERT INTO ab VALUES (7, 'z')")
        return out

    monkeypatch.setattr(AstroRelation, "_publish_rows", publish_then_sibling_appends)
    with pytest.raises(ConcurrentWriteError):
        rel.compact()
    monkeypatch.undo()
    d = astro.catalog.data_dir(rel.meta)
    meta = astro.catalog.get_table("ab")
    live = {os.path.basename(r.path) for r in meta.regions}
    assert not [f for f in os.listdir(d) if f.startswith("rw-") and f not in live]
    fresh = AstroSession(spark, astro.catalog.root)
    got = {r.k: r.v for r in fresh.sql("SELECT k, v FROM ab").collect()}
    assert got == {k: f"v{k}" for k in range(400)} | {5: "x", 500: "y", 7: "z"}
    fresh.sql("COMPACT TABLE ab")
    assert fresh.last_write_stats["compact_mode"] == "regions"
    assert {r.k: r.v for r in fresh.sql("SELECT k, v FROM ab").collect()} == got


@pytest.mark.parametrize(
    "options,reason",
    [(", layout=zorder", "zorder layout"), (", align=1", "bucketed layout")],
)
def test_declared_layouts_take_the_full_rebuild(spark, tmp_path, options, reason):
    astro = AstroSession(spark, str(tmp_path / "wh"))
    astro.sql(
        "CREATE TABLE lay (a INT, b INT, v STRING, PRIMARY KEY (a, b)) "
        f"MAPPED BY (lay_ht) OPTIONS (regions=8{options})"
    )
    astro.sql("INSERT INTO lay SELECT id % 20, id, 'b' FROM range(0, 400)")
    astro.sql("INSERT INTO lay VALUES (5, 5, 'x')")
    row = astro.sql("COMPACT TABLE lay").collect()[0][0]
    assert row.endswith(f"(whole table rebuilt: {reason})"), row
    assert astro.last_write_stats["compact_mode"] == "rebuild"
    assert astro.last_write_stats["rebuild_reason"] == reason
    assert astro.sql("SELECT v FROM lay WHERE a = 5 AND b = 5").collect()[0].v == "x"


def test_over_grown_region_and_dirty_base_take_the_full_rebuild(spark, tmp_path):
    astro = AstroSession(spark, str(tmp_path / "wh"))
    _plain(astro, "og")
    # 200 new keys above the last region: it would hold ~250 of 600 rows
    astro.sql("INSERT INTO og SELECT id, 'n' FROM range(1000, 1200)")
    astro.sql("COMPACT TABLE og")
    st = astro.last_write_stats
    assert (st["compact_mode"], st["rebuild_reason"]) == ("rebuild", "a region over 2x the mean size")
    assert len(astro.relation("og").meta.regions) == 8
    # a residual DELETE folds an island at generation 0: more base files
    # than regions is no clean base
    astro.sql("INSERT INTO og VALUES (3, 'x')")
    astro.sql("DELETE FROM og WHERE k < 10 AND v = 'v4'")
    assert len([r for r in astro.relation("og").meta.regions if r.seq == 0]) == 9
    astro.sql("INSERT INTO og VALUES (5000, 'y')")
    astro.sql("COMPACT TABLE og")
    assert astro.last_write_stats["rebuild_reason"] == "no clean base"
    assert astro.sql("SELECT count(*) FROM og").collect()[0][0] == 600
    # nothing newer to fold: the COMPACT rebalances the table
    astro.sql("COMPACT TABLE og")
    assert astro.last_write_stats["rebuild_reason"] == "no newer rows"


def test_shared_physical_store_takes_the_full_rebuild(spark, tmp_path):
    astro = AstroSession(spark, str(tmp_path / "wh"))
    for name in ("ma", "mb"):
        astro.sql(
            f"CREATE TABLE {name} (k INT, v STRING, PRIMARY KEY (k)) "
            f"MAPPED BY (shared_ht, COLS=[v=f.v]) OPTIONS (regions=4)"
        )
    astro.sql("INSERT INTO ma SELECT id, CONCAT('v', id) FROM range(0, 400)")
    astro.sql("INSERT INTO ma VALUES (7, 'x')")
    astro.sql("COMPACT TABLE ma")
    assert astro.last_write_stats["rebuild_reason"] == "shared physical store"


@pytest.mark.parametrize("dtype,value,cell", [("INT", "1", 1), ("STRING", "'1'", "1")])
def test_dropped_column_takes_the_full_rebuild(spark, tmp_path, dtype, value, cell):
    """A kept region would keep a dropped column's cells, so COMPACT
    rebuilds: an ADD of the same name, of either type, reads NULL."""
    astro = AstroSession(spark, str(tmp_path / "wh"))
    astro.sql(
        "CREATE TABLE dc (k INT, v STRING, w INT, PRIMARY KEY (k)) "
        "MAPPED BY (dc_ht, COLS=[v=f.v, w=f.w]) OPTIONS (regions=8)"
    )
    astro.sql("INSERT INTO dc SELECT id, CONCAT('v', id), id FROM range(0, 400)")
    astro.sql("INSERT INTO dc VALUES (5, 'x', 5)")
    astro.sql("ALTER TABLE dc DROP w")
    astro.sql("COMPACT TABLE dc")
    assert astro.last_write_stats["rebuild_reason"] == "a dropped column in the base"
    astro.sql(f"ALTER TABLE dc ADD w {dtype} MAPPED BY (f.w)")
    astro.sql(f"INSERT INTO dc VALUES (7, 'y', {value})")
    astro.sql("COMPACT TABLE dc")
    assert astro.last_write_stats["compact_mode"] == "regions"
    got = {r.k: (r.v, r.w) for r in astro.sql("SELECT k, v, w FROM dc").collect()}
    assert got == {k: (f"v{k}", None) for k in range(400)} | {5: ("x", None), 7: ("y", cell)}
