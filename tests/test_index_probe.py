"""Index lookups as batched gets.

A ``scan_where`` on an indexed column probes the index table once, without
the newest-cell-wins merge and without a ``distinct`` shuffle: up to
``INDEX_LOOKUP_CAP`` index rows as one pyarrow read on the driver with no
Spark job, above it as one Spark job.  It deduplicates the candidate keys
on the driver, and probes the ROW-bloom sidecars with
the exact candidate rowkeys (up to ``POINT_PROBE_CAP``) rather than the
IN×IN cross product of the folded predicate.  The tables here have
overlapping index fragments, so a merged probe would plan an aggregate.
"""

import math
import os
from datetime import date, datetime, timezone
from decimal import Decimal
from pathlib import Path

import pytest

from spark_sql_on_hbase_spark import codec as C
from spark_sql_on_hbase_spark import leases
from spark_sql_on_hbase_spark.pruning import POINT_PROBE_CAP, prune_files
from spark_sql_on_hbase_spark.relation import AstroRelation, table_schema
from spark_sql_on_hbase_spark.session import AstroSession

DDL = (
    "CREATE TABLE ip (k1 LONG, k2 INT, v1 LONG, v2 STRING, PRIMARY KEY (k1, k2)) "
    "MAPPED BY (ip_h, COLS=[v1=f.v1, v2=f.v2]) OPTIONS (regions=4, bloomfilter=row)"
)
N_K1 = 400
NAN, INF, UTC = float("nan"), float("inf"), timezone.utc
N_V1 = 20  # each v1 value: 20 k1 values x 2 rows = 40 keys over 40 k2 values


def _base_rows():
    return [
        (k1, (k1 * 37 + j * 500) % 1000, k1 % N_V1, f"b{k1}")
        for k1 in range(N_K1)
        for j in range(2)
    ]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _values(rows) -> str:
    return ", ".join(f"({a}, {b}, {c}, '{d}')" for a, b, c, d in rows)


class Model:
    def __init__(self, rows):
        self.rows = {(k1, k2): (v1, v2) for k1, k2, v1, v2 in rows}

    def upsert(self, rows):
        for k1, k2, v1, v2 in rows:
            self.rows[(k1, k2)] = (v1, v2)

    def where_v1(self, *vals):
        return sorted(
            (k1, k2, v1, v2) for (k1, k2), (v1, v2) in self.rows.items() if v1 in vals
        )


def _indexed_base(spark, tmp_path):
    astro = AstroSession(spark, str(tmp_path / "ip_wh"))
    astro.sql(DDL)
    rel = astro.relation("ip")
    rows = _base_rows()
    rel.write(spark.createDataFrame(rows, table_schema(rel.meta)))
    astro.sql("CREATE INDEX ON ip (v1)")
    return astro, Model(rows)


@pytest.fixture()
def table(spark, tmp_path):
    astro, model = _indexed_base(spark, tmp_path)
    # upserts that move v1 (the old index entry goes stale) and new keys
    # spread over the whole k1 range: every trickle index fragment spans
    # the v1 values of the base index fragments, so the index overlaps
    for g in range(3):
        trickle = [
            (k1, (k1 * 37) % 1000, (k1 + g + 1) % N_V1, f"u{g}")
            for k1 in range(g * 7, N_K1, 97)
        ] + [(k1, 999 - g, k1 % N_V1, f"n{g}") for k1 in range(g * 11, N_K1, 131)]
        astro.sql(f"INSERT INTO ip VALUES {_values(trickle)}")
        model.upsert(trickle)
    return astro, model


def _lookup(astro, where):
    df, res = astro.relation("ip").scan_where(where)
    return sorted(tuple(r) for r in df.select("k1", "k2", "v1", "v2").collect()), res


def _spy_index_scans(monkeypatch, idx):
    """Record every ``scan_where`` on the index table ``idx``."""
    probes = []
    real = AstroRelation.scan_where

    def spy(self, where, **kw):
        out = real(self, where, **kw)
        if self.meta.name == idx.meta.name:
            probes.append((kw, out))
        return out

    monkeypatch.setattr(AstroRelation, "scan_where", spy)
    return probes


def _files_under(root) -> set:
    return {str(p) for p in Path(root).rglob("*") if p.is_file()}


def test_probe_under_cap_runs_on_the_driver(table, monkeypatch, jobs_of):
    """Up to ``INDEX_LOOKUP_CAP`` index rows, the probe is a batched get:
    one pyarrow read of the pruned index fragments on the driver, with no
    Spark job, no index-table ``scan_where`` and no reader lease."""
    astro, model = table
    rel = astro.relation("ip")
    idx = rel._index_relation("v1")
    assert idx.needs_merge()  # overlapping index fragments
    probes = _spy_index_scans(monkeypatch, idx)
    idx_dir = astro.catalog.data_dir(idx.meta)
    before = _files_under(idx_dir)
    route, jobs = jobs_of(lambda: rel._index_route("v1 = 7"))
    assert len(jobs) == 0 and probes == []
    assert _files_under(idx_dir) == before  # no lease, no temp file
    pruned = prune_files(idx.meta, "(v1 = 7)")
    n = idx.scan_where("(v1 = 7)")[0].select("k1", "k2").distinct().count()
    assert route["kind"] == "augment" and route["n"] == n >= len(model.where_v1(7))
    assert route["probe"] == (len(pruned.files), pruned.total, "driver")
    assert route["probe"][0] < route["probe"][1]


def test_probe_is_one_merge_free_job(table, monkeypatch, jobs_of):
    """Over the cap, the probe is the index table's ``scan_where`` with
    ``merge=False``: one job whose plan has no shuffle and no aggregate."""
    astro, _model = table
    rel = astro.relation("ip")
    idx = rel._index_relation("v1")
    # the index merges: a merged probe of one value plans an aggregate
    # (with the delta probe off, which would drop the deltas of no match)
    monkeypatch.setattr(idx, "INDEX_LOOKUP_CAP", 0)
    merged, res = idx.scan_where("(v1 = 7)")
    assert res.merge is True and "Aggregate" in _plan(merged)
    n = merged.select("k1", "k2").distinct().count()
    assert n < sum(r.num_rows for r in res.files)
    monkeypatch.setattr(rel, "INDEX_LOOKUP_CAP", n)
    probes = _spy_index_scans(monkeypatch, idx)
    route, jobs = jobs_of(lambda: rel._index_route("v1 = 7"))
    assert route["kind"] == "augment" and route["n"] == n
    assert len(jobs) == 1
    [(kw, (probe_df, probe_res))] = probes
    assert kw == {"merge": False} and probe_res.merge is False
    plan = _plan(probe_df)
    assert "Exchange" not in plan and "Aggregate" not in plan
    assert route["probe"] == (len(probe_res.files), probe_res.total, "spark")


@pytest.mark.parametrize("cap", [40, 100, 200])
def test_over_cap_probe_jobs_do_not_grow_with_fragments(table, monkeypatch, jobs_of, cap):
    """The over-cap probe limits every partition in one job: a collected
    limit would scan one partition, then more, each as its own job (4
    jobs at cap 40 on this index)."""
    astro, model = table
    rel = astro.relation("ip")
    pruned = prune_files(rel._index_relation("v1").meta, "(v1 = 7)")
    assert len(pruned.files) > 1 and sum(r.num_rows for r in pruned.files) > cap
    monkeypatch.setattr(rel, "INDEX_LOOKUP_CAP", cap)
    route, jobs = jobs_of(lambda: rel._index_route("v1 = 7"))
    assert route["kind"] == "augment" and route["probe"][2] == "spark"
    assert route["n"] >= len(model.where_v1(7))
    assert len(jobs) <= 2


def test_fragment_vanishing_under_the_driver_read_falls_back(table, tmp_path, monkeypatch):
    """An index fragment reclaimed between pruning and the driver read
    makes the read raise; the lookup then scans unrouted, returns the
    model's rows and leaves nothing behind but the main read's lease."""
    astro, model = table
    rel = astro.relation("ip")
    real = AstroRelation._read_on_driver
    gone = []

    def unlink_then_read(self, res, columns):
        gone.append(self._local_path(res.files[0].path))
        os.unlink(gone[-1])
        return real(self, res, columns)

    monkeypatch.setattr(AstroRelation, "_read_on_driver", unlink_then_read)
    before = _files_under(tmp_path / "ip_wh")
    got, res = _lookup(astro, "v1 = 7")
    after = _files_under(tmp_path / "ip_wh")
    assert len(gone) == 1 and res.index_used is None
    assert got == model.where_v1(7)
    assert before - after == set(gone)
    main_leases = leases.lease_dir(astro.catalog.data_dir(rel.meta))
    assert all(p.startswith(main_leases + os.sep) for p in after - before)


# py4j calls (Python → JVM) of four scan_where reads and three routed SQL
# SELECTs, plan and collect, on the ``table`` fixture: ceilings to lower as
# plans get cheaper.  A failure names the engine functions that made the
# calls (the ``py4j_calls`` fixture).
PY4J_CEILINGS = {  # measured + 10%
    "k1 = 5 AND k2 = 185": 37,  # a point get of one file (34)
    "k1 BETWEEN 100 AND 150": 73,  # a range over merged files: a delta matches (66)
    "k1 BETWEEN 30 AND 90": 37,  # a range no delta matches: probed, merge-free (34)
    "v1 = 7": 74,  # an index lookup, its probe on the driver (67)
    # the same reads as SQL: the router adds the view's registration
    # check, the plan's projection and the ownership guard
    "SELECT k1, k2, v1, v2 FROM ip WHERE k1 = 5 AND k2 = 185": 54,  # (49)
    "SELECT k1, k2, v1, v2 FROM ip WHERE v1 = 7": 90,  # (82)
    "SELECT k1, k2, v1, v2 FROM ip WHERE k1 BETWEEN 30 AND 90": 54,  # (49)
}


def test_py4j_ceilings_of_scan_where_reads(table, py4j_calls):
    astro, _model = table
    rel = astro.relation("ip")

    def read(where):
        if where.startswith("SELECT"):
            df = astro.sql(where)
            return df.collect(), astro.last_select_route
        df, res = rel.scan_where(where)
        return df.collect(), res

    for where, ceiling in PY4J_CEILINGS.items():
        read(where)  # warm
        (_rows, res), calls = py4j_calls(lambda: read(where))
        if "k1 = 5" in where:
            assert len(res.files) == 1
        elif "BETWEEN 30" in where:
            assert res.merge is False and len(res.files) == 1
            assert res.delta_dropped == 3  # the three trickle fragments
            assert "relation.AstroRelation._merge_latest" not in calls.sites
        elif where.startswith("k1 BETWEEN"):
            assert res.merge is True and len(res.files) > 1
            assert calls.sites["relation.AstroRelation._merge_latest"] > 0
            assert "relation.AstroRelation._merge_latest" in repr(calls)
        else:
            assert res.index_mode == "augment" and res.index_probe[2] == "driver"
        assert calls <= ceiling, (where, calls)


def test_lookups_match_model_after_moves_deletes_and_stale_entries(table):
    astro, model = table
    moved = [(5, (5 * 37) % 1000, 3, "moved"), (45, (45 * 37) % 1000, 3, "moved")]
    astro.sql(f"INSERT INTO ip VALUES {_values(moved)}")
    model.upsert(moved)
    astro.sql("DELETE FROM ip WHERE k1 = 25")
    model.rows = {k: v for k, v in model.rows.items() if k[0] != 25}
    # k1=5 and k1=45 left v1=5 (stale entries); k1=25 had v1=5 and is gone
    for where, vals in (
        ("v1 = 5", (5,)),
        ("v1 = 3", (3,)),
        ("v1 IN (1, 2, 5)", (1, 2, 5)),
        ("v1 BETWEEN 4 AND 6", (4, 5, 6)),
    ):
        got, res = _lookup(astro, where)
        assert res.index_used == "v1" and res.index_mode == "augment", where
        assert got == model.where_v1(*vals), where


def test_candidates_drive_the_blooms_and_skip_the_merge(spark, tmp_path):
    astro, model = _indexed_base(spark, tmp_path)
    # one trickle fragment spanning the whole key range, holding no key
    # of v1 = 10: it survives range pruning, and only the blooms drop it.
    # Its index fragment spans v1 0..19, so the index overlaps too.  (A
    # small fragment's bloom admits a probed absent key about 1 time in
    # 200 at 10 bits per key; two keys in 64 bits admit far fewer.)
    span = [(0, 1, 0, "s"), (N_K1 - 1, 998, N_V1 - 1, "s")]
    astro.sql(f"INSERT INTO ip VALUES {_values(span)}")
    model.upsert(span)
    rel = astro.relation("ip")
    assert rel._index_relation("v1").needs_merge()
    df, res = rel.scan_where("v1 = 10")
    live = model.where_v1(10)
    # the folded IN x IN cross product is over the point cap …
    assert len({r[0] for r in live}) * len({r[1] for r in live}) > POINT_PROBE_CAP
    # … but the exact candidates are probed
    assert res.bloom_index_keys == res.index_candidates >= len(live)
    assert res.bloom_skipped >= 1
    span_path = max(rel.meta.regions, key=lambda r: r.seq).path
    assert span_path not in {r.path for r in res.files}
    assert res.merge is False and "Exchange" not in _plan(df)
    got = sorted(tuple(r) for r in df.select("k1", "k2", "v1", "v2").collect())
    assert got == model.where_v1(10)
    out = {
        r.property: r.value
        for r in astro.sql("EXPLAIN SCAN ip WHERE v1 = 10").collect()
    }
    assert out["index_mode"] == (
        f"augment ({res.index_candidates} candidate keys; probe read "
        f"{res.index_probe[0]} of {res.index_probe[1]} index files on the "
        "driver, no merge)"
    )
    assert out["bloom_outcome"] == (
        f"probed {res.bloom_probed} range-surviving files with "
        f"{res.index_candidates} index candidate keys, skipped {res.bloom_skipped}"
    )
    assert out["merge"].startswith("none (")


def test_routed_sql_lookup_is_one_merge_free_job(spark, tmp_path, jobs_of):
    """A SQL index lookup reads through the index route: its probe runs on
    the driver and its candidates' fragments need no merge, so it runs one
    Spark job where spark.sql's merge over the whole view runs two."""
    astro, model = _indexed_base(spark, tmp_path)
    span = [(0, 1, 0, "s"), (N_K1 - 1, 998, N_V1 - 1, "s")]
    astro.sql(f"INSERT INTO ip VALUES {_values(span)}")
    model.upsert(span)
    q = "SELECT k1, k2, v1, v2 FROM ip WHERE v1 = 10"
    astro.sql(q).collect()  # warm
    routed, jobs = jobs_of(lambda: astro.sql(q).collect())
    res = astro.last_select_route
    assert res.index_mode == "augment" and res.merge is False
    assert len(jobs) == 1
    passthrough, view_jobs = jobs_of(lambda: spark.sql(q).collect())
    assert len(view_jobs) == 2
    assert sorted(map(tuple, routed)) == sorted(map(tuple, passthrough)) == model.where_v1(10)


def test_over_point_cap_candidates_skip_the_blooms(table):
    astro, model = table
    hot = [(k1, 997, 777, "h") for k1 in range(0, N_K1, 1)][: POINT_PROBE_CAP + 40]
    astro.sql(f"INSERT INTO ip VALUES {_values(hot)}")
    model.upsert(hot)
    got, res = _lookup(astro, "v1 = 777")
    assert res.index_mode == "augment" and res.index_candidates > POINT_PROBE_CAP
    assert res.bloom_probed is None and res.bloom_index_keys is None
    assert got == model.where_v1(777)


def test_raw_rows_over_cap_with_few_distinct_keys_still_augment(table, monkeypatch):
    astro, model = table
    # re-upsert the keys of v1 = 4 with the same value: every key now
    # has several index entries
    again = [(k1, k2, v1, "again") for k1, k2, v1, _ in model.where_v1(4)]
    for _ in range(2):
        astro.sql(f"INSERT INTO ip VALUES {_values(again)}")
    model.upsert(again)
    rel = astro.relation("ip")
    idx = rel._index_relation("v1")
    n = idx.scan_where("(v1 = 4)")[0].select("k1", "k2").distinct().count()
    raw = idx.scan_where("(v1 = 4)", merge=False)[0].count()
    assert raw > n >= len(model.where_v1(4))
    monkeypatch.setattr(rel, "INDEX_LOOKUP_CAP", n)
    route = rel._index_route("v1 = 4")
    assert route["kind"] == "augment" and route["n"] == n
    # keys deduplicated by Spark's distinct are not probed as rowkeys
    assert route["rowkeys"] is None
    df, res = rel.scan_where("v1 = 4")
    assert res.index_mode == "augment" and res.index_candidates == n
    got = sorted(tuple(r) for r in df.select("k1", "k2", "v1", "v2").collect())
    assert got == model.where_v1(4)


def test_string_keys_and_values(spark, tmp_path):
    """STRING rowkey components (NUL-terminated when not last) and a
    STRING index column: the candidate rowkeys must encode exactly as
    the keys the bloom sidecars hold.  Stringformat tables refuse
    secondary indexes (test_secondary_index.test_stringformat_refused)."""
    astro = AstroSession(spark, str(tmp_path / "ips_wh"))
    astro.sql(
        "CREATE TABLE ips (name STRING, n INT, tag STRING, PRIMARY KEY (name, n)) "
        "MAPPED BY (ips_h, COLS=[tag=f.t]) OPTIONS (regions=3, bloomfilter=row)"
    )
    rel = astro.relation("ips")
    rows = [(f"user{i:03d}", i % 5, f"t{i % 9}") for i in range(300)]
    rel.write(spark.createDataFrame(rows, table_schema(rel.meta)))
    astro.sql("CREATE INDEX ON ips (tag)")
    astro.sql("INSERT INTO ips VALUES ('user000', 0, 't8'), ('user299', 9, 'x')")
    model = {(a, b): c for a, b, c in rows}
    model.update({("user000", 0): "t8", ("user299", 9): "x"})
    for tag in ("t8", "t0", "x"):
        df, res = astro.relation("ips").scan_where(f"tag = '{tag}'")
        assert res.index_mode == "augment" and res.bloom_index_keys is not None
        got = sorted((r.name, r.n) for r in df.collect())
        assert got == sorted(k for k, v in model.items() if v == tag), tag


def test_composite_index_with_deeper_conjuncts(spark, tmp_path):
    astro = AstroSession(spark, str(tmp_path / "ipc_wh"))
    astro.sql(
        "CREATE TABLE ipc (k INT, a INT, b INT, amt INT, PRIMARY KEY (k)) "
        "MAPPED BY (ipc_h, COLS=[a=f.a, b=f.b, amt=f.m]) "
        "OPTIONS (regions=4, bloomfilter=row)"
    )
    rel = astro.relation("ipc")
    rows = [(k, k % 10, k % 7, k * 100) for k in range(400)]
    rel.write(spark.createDataFrame(rows, table_schema(rel.meta)))
    astro.sql("CREATE INDEX ON ipc (a, b)")
    moved = [(3, 4, 2, 1), (17, 3, 5, 2)]
    astro.sql("INSERT INTO ipc VALUES " + ", ".join(str(r) for r in moved))
    model = {r[0]: r for r in rows}
    model.update({r[0]: r for r in moved})
    for where, pred in (
        ("a = 3 AND b = 5", lambda r: r[1] == 3 and r[2] == 5),
        ("a = 3 AND b IN (2, 5)", lambda r: r[1] == 3 and r[2] in (2, 5)),
        ("a = 4 AND b >= 2", lambda r: r[1] == 4 and r[2] >= 2),
    ):
        df, res = astro.relation("ipc").scan_where(where)
        assert res.index_used == "a" and res.index_mode == "augment", where
        assert res.index_probe[0] < res.index_probe[1], where
        got = sorted(r.k for r in df.collect())
        assert got == sorted(k for k, r in model.items() if pred(r)), where


def test_non_finite_double_key_candidates(spark, tmp_path):
    """Index candidates holding NaN / ±inf DOUBLE keys render as
    ``CAST('NaN' AS DOUBLE)`` etc., not as the bare words ``nan`` / ``inf``
    that Spark would parse as column names."""
    import math

    from spark_sql_on_hbase_spark.predicate import _lit_sql

    assert _lit_sql(float("nan")) == "CAST('NaN' AS DOUBLE)"
    assert _lit_sql(float("inf")) == "CAST('Infinity' AS DOUBLE)"
    assert _lit_sql(float("-inf")) == "CAST('-Infinity' AS DOUBLE)"
    astro = AstroSession(spark, str(tmp_path / "fk_wh"))
    astro.sql("CREATE TABLE fk (k DOUBLE, v INT, PRIMARY KEY (k)) MAPPED BY (fk_h, COLS=[v=f.v])")
    rel = astro.relation("fk")
    rows = [(1.5, 5), (float("nan"), 5), (2.5, 7)]
    rel.write(spark.createDataFrame(rows, table_schema(rel.meta)))
    astro.sql("CREATE INDEX ON fk (v)")
    df, res = astro.relation("fk").scan_where("v = 5")
    assert res.index_used == "v"
    got = sorted(df.collect(), key=lambda r: (math.isnan(r.k), r.k))
    assert got[0].k == 1.5 and math.isnan(got[1].k) and len(got) == 2
    rel.append(spark.createDataFrame([(float("inf"), 7), (float("-inf"), 7)], table_schema(rel.meta)))
    df, _ = astro.relation("fk").scan_where("v = 7")
    assert sorted(r.k for r in df.collect()) == [float("-inf"), 2.5, float("inf")]


# -- the driver probe against the Spark probe, on every indexable type -------

_TYPED_COLS = [
    ("c_byte", "BYTE", [-128, -1, 0, 1, 127, None]),
    ("c_short", "SHORT", [-32768, -7, 0, 7, 32767, None]),
    ("c_int", "INT", [-(2**31), -5, 0, 5, 2**31 - 1, None]),
    ("c_long", "LONG", [-(2**63), -9, 0, 9, 2**63 - 1, None]),
    ("c_float", "FLOAT", [NAN, -0.0, 0.0, -INF, INF, 1.5, -2.25, None]),
    ("c_double", "DOUBLE", [NAN, -0.0, 0.0, -INF, INF, 1.1, -2.5, None]),
    ("c_bool", "BOOLEAN", [True, False, None]),
    ("c_str", "STRING", ["", "é漢字", "a", "ab", "Z", None, "naïve"]),
    ("c_date", "DATE", [date(1960, 3, 4), date(1969, 12, 31), date(1970, 1, 1),
                        date(2020, 2, 29), date(1901, 1, 1), None]),
    ("c_ts", "TIMESTAMP", [datetime(1950, 1, 2, 3, 4, 5, 123456, UTC),
                           datetime(1969, 12, 31, 23, 59, 59, 999999, UTC),
                           datetime(1970, 1, 1, tzinfo=UTC),
                           datetime(2021, 6, 1, 12, tzinfo=UTC), None]),
    ("c_dec", "DECIMAL(12,3)", [Decimal("-1.25"), Decimal("0.00"), Decimal("3.00"),
                                Decimal("123456.78"), Decimal("-0.01"), None]),
    ("a", "INT", [0, 1, 2, 3]),
    ("b", "DOUBLE", [NAN, -0.0, 0.0, 1.5, -INF, INF, None]),
]
_K2 = [-0.0, 0.0, NAN, 2.5, -INF, INF]

# (conjuncts, exact): each conjunct is (column, op, literals[, SQL text]).
# exact=False: to_arrow drops the conjunct, so the driver's candidates
# may be a superset of the Spark probe's.
_CASES = [
    ([("c_byte", "=", [-128])], True),
    ([("c_byte", "in", [-1, 127])], True),
    ([("c_byte", "<", [0])], True),
    ([("c_byte", "between", [-1, 1])], True),
    ([("c_short", "<=", [-7])], True),
    ([("c_short", ">", [7])], True),
    ([("c_int", "=", [-5])], True),
    ([("c_int", ">", [-(2**31)])], True),
    ([("c_int", "<", [2.5])], False),
    ([("c_long", ">=", [-9])], True),
    ([("c_long", "=", [2**63 - 1])], True),
    ([("c_float", "=", [0.0])], True),
    ([("c_float", ">", [1.0])], True),
    ([("c_float", ">=", [-2.25])], True),
    ([("c_float", "<", [0.0])], True),
    ([("c_float", "<=", [-0.0])], True),
    ([("c_float", "in", [-0.0, 1.5])], True),
    ([("c_float", "between", [-2.25, 1.5])], True),
    ([("c_float", "=", [1])], True),
    ([("c_float", "=", [16777217])], False),
    ([("c_double", "=", [1.1])], True),
    ([("c_double", ">", [1.0])], True),
    ([("c_double", "<", [0.0])], True),
    ([("c_double", "in", [0.0, 1.1])], True),
    ([("c_double", "between", [-3.0, 0.0])], True),
    ([("c_bool", "=", [True])], True),
    ([("c_bool", ">", [False])], True),
    ([("c_bool", "in", [False])], True),
    ([("c_str", "=", [""])], True),
    ([("c_str", "=", ["é漢字"])], True),
    ([("c_str", "in", ["a", "naïve", "missing"])], True),
    ([("c_str", ">", ["Z"])], True),  # a string range: probe-level only
    ([("c_date", "=", [date(1960, 3, 4)])], True),
    ([("c_date", "<", [date(1970, 1, 1)])], True),
    ([("c_date", "between", [date(1960, 1, 1), date(1970, 1, 1)])], True),
    ([("c_date", "in", [date(2020, 2, 29), date(1960, 3, 4)])], True),
    ([("c_date", "=", [date(1960, 3, 4)], "c_date = '1960-3-4'")], False),
    ([("c_ts", "=", [datetime(1950, 1, 2, 3, 4, 5, 123456, UTC)])], True),
    ([("c_ts", "<", [datetime(1970, 1, 1, tzinfo=UTC)])], True),
    ([("c_ts", ">", [datetime(1969, 12, 31, 23, 59, 59, 999999, UTC)])], True),
    ([("c_ts", "between", [datetime(1950, 1, 1, tzinfo=UTC), datetime(1970, 1, 1, tzinfo=UTC)])], True),
    ([("c_ts", ">", [datetime(1899, 1, 1, tzinfo=UTC)])], False),
    ([("c_dec", "=", [Decimal("-1.25")])], True),
    ([("c_dec", "=", [Decimal("3")])], True),
    ([("c_dec", ">", [Decimal("-1.251")])], True),
    ([("c_dec", "<=", [Decimal("0.00")])], True),
    ([("c_dec", "in", [Decimal("-0.01"), Decimal("123456.78")])], True),
    ([("a", "=", [1]), ("b", ">", [0.5])], True),
    ([("a", "in", [0, 2]), ("b", "=", [0.0])], True),
    ([("a", "=", [3]), ("b", "<=", [-0.0])], True),
    ([("a", "=", [2]), ("b", "between", [-1.0, 1.5])], True),
]


def _sql_lit(v) -> str:
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return f"'{v}'"
    if isinstance(v, datetime):
        return f"'{v:%Y-%m-%d %H:%M:%S.%f}'"
    if isinstance(v, date):
        return f"'{v.isoformat()}'"
    return str(v)


def _conjunct_sql(col, op, lits, text=None) -> str:
    if text is not None:
        return text
    if op == "in":
        return f"{col} IN ({', '.join(_sql_lit(v) for v in lits)})"
    if op == "between":
        return f"{col} BETWEEN {_sql_lit(lits[0])} AND {_sql_lit(lits[1])}"
    return f"{col} {op} {_sql_lit(lits[0])}"


def _spark_order(v):
    """Spark's order: NaN above every number, -0.0 equal to 0.0."""
    if isinstance(v, float):
        return (1, 0.0) if math.isnan(v) else (0, v + 0.0)
    return (0, v)


def _holds(v, op, lits) -> bool:
    if v is None:
        return False
    a, bs = _spark_order(v), [_spark_order(x) for x in lits]
    if op == "in":
        return a in bs
    if op == "between":
        return bs[0] <= a <= bs[1]
    return {"=": a == bs[0], "<": a < bs[0], "<=": a <= bs[0],
            ">": a > bs[0], ">=": a >= bs[0]}[op]


def _typed_row(k: int, shift: int = 0) -> dict:
    row = {"k": k, "k2": _K2[k % len(_K2)]}
    for name, _t, vals in _TYPED_COLS:
        row[name] = vals[(k + shift) % len(vals)]
    return row


def _rowkey(k, k2) -> bytes:
    return C.encode_key([k, k2], ["int", "double"])


@pytest.fixture(scope="module")
def typed(spark, tmp_path_factory):
    """A table indexed on a column of every indexable type and on (a, b),
    with moved values (stale index entries) and a deleted key, and its
    in-memory model."""
    astro = AstroSession(spark, str(tmp_path_factory.mktemp("pt") / "pt_wh"))
    cols = ", ".join(f"{n} {t}" for n, t, _v in _TYPED_COLS)
    mapped = ", ".join(f"{n}=f.{n}" for n, _t, _v in _TYPED_COLS)
    astro.sql(
        f"CREATE TABLE pt (k INT, k2 DOUBLE, {cols}, PRIMARY KEY (k, k2)) "
        f"MAPPED BY (pt_h, COLS=[{mapped}]) OPTIONS (regions=3, bloomfilter=row)"
    )
    names = ["k", "k2"] + [n for n, _t, _v in _TYPED_COLS]
    rel = astro.relation("pt")
    schema = table_schema(rel.meta)

    def frame(rows):
        return spark.createDataFrame([tuple(r[n] for n in names) for r in rows], schema)

    model = {r["k"]: r for r in (_typed_row(k) for k in range(48))}
    rel.write(frame(model.values()))
    for n, _t, _v in _TYPED_COLS[:-2]:  # all but a and b
        astro.sql(f"CREATE INDEX ON pt ({n})")
    astro.sql("CREATE INDEX ON pt (a, b)")
    # an upserted NULL keeps the older cell (newest non-null wins)
    moved = [_typed_row(k, shift=3) for k in (0, 7, 13, 20, 33)]
    astro.relation("pt").append(frame(moved))
    for r in moved:
        old = model[r["k"]]
        model[r["k"]] = {c: old[c] if v is None else v for c, v in r.items()}
    astro.sql("DELETE FROM pt WHERE k = 5")
    del model[5]
    return astro, model


def _model_keys(model, conjuncts) -> set:
    return {
        _rowkey(r["k"], r["k2"])
        for r in model.values()
        if all(_holds(r[c[0]], c[1], c[2]) for c in conjuncts)
    }


def _scan_keys(rel, where):
    df, res = rel.scan_where(where)
    return {_rowkey(r.k, r.k2) for r in df.select("k", "k2").collect()}, res


# DATE/TIMESTAMP string literals prune by value: a non-ISO date does not
# prune at all, and a timestamp equal to a fragment's lowest value keeps
# that fragment (compared as text with the catalog's ``+00:00`` bounds,
# both pruned fragments holding matches).
_TEXT_PRUNED = [
    [("c_date", "=", [date(1960, 3, 4)], "c_date = '1960-3-4'")],
    [("c_ts", "=", [datetime(1950, 1, 2, 3, 4, 5, 123456, UTC)])],
]


def test_driver_probe_matches_spark_probe_on_every_type(typed):
    """The driver probe's candidates are a superset of the Spark probe's
    for every indexable type — equal where to_arrow translates every
    conjunct — and ``scan_where`` through it returns the model's rows."""
    astro, model = typed
    rel = astro.relation("pt")
    for conjuncts, exact in _CASES:
        where = " AND ".join(_conjunct_sql(*c) for c in conjuncts)
        idx = rel._index_relation(conjuncts[0][0])
        spark_df, _res = idx.scan_where(where, merge=False)
        by_spark = {_rowkey(r.k, r.k2) for r in spark_df.select("k", "k2").collect()}
        on_driver = {
            _rowkey(k, k2)
            for k, k2 in idx._read_on_driver(prune_files(idx.meta, where), ["k", "k2"])
        }
        assert on_driver >= by_spark, where
        if exact:
            assert on_driver == by_spark, where
        got, res = _scan_keys(rel, where)
        if (conjuncts[0][0], conjuncts[0][1]) != ("c_str", ">"):  # string ranges bypass
            assert res.index_used == conjuncts[0][0], where
            assert res.index_probe[2] == "driver", where
        assert got == _model_keys(model, conjuncts), where


@pytest.mark.parametrize("conjuncts", _TEXT_PRUNED)
def test_date_and_timestamp_literals_prune_by_value(typed, conjuncts):
    astro, model = typed
    where = " AND ".join(_conjunct_sql(*c) for c in conjuncts)
    got, _res = _scan_keys(astro.relation("pt"), where)
    assert got == _model_keys(model, conjuncts)
    routed = astro.sql(f"SELECT k, k2 FROM pt WHERE {where}").collect()
    assert astro.last_select_route.index_mode == "augment"
    assert {_rowkey(r.k, r.k2) for r in routed} == _model_keys(model, conjuncts)


def _sql_rows(astro, q):
    """Rows of ``astro.sql(q)`` in a comparable form (NaN equal to NaN),
    and the route the session recorded."""
    rows = astro.sql(q).collect()
    return sorted(tuple(repr(v) for v in r) for r in rows), astro.last_select_route


def test_routed_sql_matches_the_view_and_the_model_on_every_type(typed):
    """A SQL SELECT with an index-servable predicate reads through the
    index route, and returns the rows of ``spark.sql`` over the view and
    of the model, on every indexable type."""
    astro, model = typed
    cols = "k, k2, " + ", ".join(n for n, _t, _v in _TYPED_COLS)
    routed = 0
    for conjuncts, _exact in _CASES:
        where = " AND ".join(_conjunct_sql(*c) for c in conjuncts)
        q = f"SELECT {cols} FROM pt WHERE {where}"
        got, res = _sql_rows(astro, q)
        live = sorted(_model_keys(model, conjuncts))
        if (conjuncts[0][0], conjuncts[0][1]) == ("c_str", ">"):
            assert res is None, where  # a string range takes no index
        elif res is not None and res.index_mode == "empty":
            assert live == [], where  # the index proved the result empty
        else:
            assert res.index_used == conjuncts[0][0], where
            assert res.index_mode == "augment", where
        view = astro.spark.sql(q).collect()
        assert got == sorted(tuple(repr(v) for v in r) for r in view), where
        assert sorted(_rowkey(r.k, r.k2) for r in view) == live, where
        routed += res is not None
    assert routed >= len(_CASES) - 1


def test_to_arrow_drops_what_it_cannot_express():
    """A conjunct whose Spark coercion to_arrow does not reproduce is
    dropped (None), never approximated."""
    from spark_sql_on_hbase_spark.predicate import parse_predicate, to_arrow

    coltypes = {n: C.normalize_type(t) for n, t, _v in _TYPED_COLS}
    dropped = [
        "c_int < 2.5",  # Spark compares as DECIMAL
        "c_long = 99999999999999999999",  # past LONG: a DECIMAL literal
        "c_float = 16777217",  # not exact in FLOAT
        "c_double = 9007199254740993",  # not exact in DOUBLE
        "c_double = 1.0e400",  # not finite
        "c_date = '1960-3-4'",  # Spark's lenient date forms
        "c_date = 5",
        "c_ts > '1899-01-01 00:00:00'",  # older values may be rebased
        "c_dec = 0.123456789012345678901",  # past decimal(38, 20)
        "c_str = 5",
        "c_bool = 1",
        "c_int = 1 OR c_int = 2",
        "c_int IN (NULL)",
    ]
    for where in dropped:
        assert to_arrow(parse_predicate(where, coltypes), coltypes, "UTC") is None, where
    assert to_arrow(parse_predicate("c_ts = '1970-01-01'", coltypes), coltypes) is None
    kept = parse_predicate("c_int < 2.5 AND c_byte = 1 AND c_ts = '1970-01-01'", coltypes)
    assert str(to_arrow(kept, coltypes, "UTC")).count("==") == 2


# -- full-key SQL SELECTs: the pruned, bloom-probed point read ---------------

_ALL = "k, k2, " + ", ".join(n for n, _t, _v in _TYPED_COLS)


def _k2_sql(v) -> str:
    if math.isnan(v):
        return "'NaN'"
    if math.isinf(v):
        return "'Infinity'" if v > 0 else "'-Infinity'"
    return repr(v)


# (where, the model keys it selects): present keys of every k2 kind, the
# other zero and string-spelled non-finite literals, upserted keys (0, 7,
# 13, 20, 33), the deleted key 5, absent keys, IN lists with NULL
_POINT_CASES = [
    ("k = 3 AND k2 = 2.5", {3}),
    ("k = 0 AND k2 = 0.0", {0}),  # stored -0.0: Spark's = ignores the sign
    ("k = 1 AND k2 = -0.0", {1}),
    ("k = 2 AND k2 = 'NaN'", {2}),
    ("k = 4 AND k2 = '-Infinity'", {4}),
    ("k = 11 AND k2 = 'Infinity'", {11}),
    ("k = 7 AND k2 = 0.0", {7}),
    ("k = 13 AND k2 = -0.0", {13}),
    ("k = 20 AND k2 = 'NaN'", {20}),
    ("k = 33 AND k2 = 2.5", {33}),
    ("k = 5 AND k2 = 'Infinity'", set()),
    ("k = 48 AND k2 = -0.0", set()),
    ("k = 3 AND k2 = 2.25", set()),
    ("k IN (3, 9, 47) AND k2 IN (2.5, 'Infinity')", {3, 9, 47}),
    ("k IN (1, NULL, 7) AND k2 = 0.0", {1, 7}),
    ("k IN (NULL, 8) AND k2 IN (NULL, 'NaN')", {8}),
    ("k = 13 AND k2 = -0.0 AND c_int > 0", {13}),
    ("k2 = 2.5 AND k = 21", {21}),
]


def test_full_key_selects_read_the_point_path_on_every_k2_kind(typed):
    """A SELECT pinning the full key reads through the point path and
    returns the rows of spark.sql over the view and of the model: upserted,
    deleted and absent keys, ±0.0, NaN and ±Infinity, NULL in an IN list."""
    astro, model = typed
    for where, keys in _POINT_CASES:
        q = f"SELECT {_ALL} FROM pt WHERE {where}"
        got, res = _sql_rows(astro, q)
        assert res is not None and res.index_used is None, where
        assert res.index_declined == "full-key point predicate (index not consulted)", where
        view = astro.spark.sql(q).collect()
        assert got == sorted(tuple(repr(v) for v in r) for r in view), where
        assert {r.k for r in view} == keys and keys <= model.keys(), where


_KEY_TYPES = [(n, t, [v for v in vals if v is not None]) for n, t, vals in _TYPED_COLS[:11]]


@pytest.fixture(scope="module")
def keyed(spark, tmp_path_factory):
    """A table whose key has a column of every key type, in two
    generations (upserts and new keys), with a deleted key, and its model
    {key tuple: v}."""
    astro = AstroSession(spark, str(tmp_path_factory.mktemp("kt") / "kt_wh"))
    cols = ", ".join(f"{n} {t}" for n, t, _v in _KEY_TYPES)
    names = [n for n, _t, _v in _KEY_TYPES]
    astro.sql(
        f"CREATE TABLE kt ({cols}, v INT, PRIMARY KEY ({', '.join(names)})) "
        "MAPPED BY (kt_h, COLS=[v=f.v]) OPTIONS (regions=2, bloomfilter=row)"
    )
    rel = astro.relation("kt")
    schema = table_schema(rel.meta)

    def key(i):
        return tuple(vals[i % len(vals)] for _n, _t, vals in _KEY_TYPES)

    model = {key(i): i for i in range(24)}
    rel.write(spark.createDataFrame([(*k, v) for k, v in model.items()], schema))
    later = {key(i): 100 + i for i in (2, 9, 30, 31)}
    rel.append(spark.createDataFrame([(*k, v) for k, v in later.items()], schema))
    model.update(later)
    gone = key(5)
    astro.sql(f"DELETE FROM kt WHERE {_key_where(gone)}")
    model = {k: v for k, v in model.items() if not _same_key(k, gone)}
    return astro, model, key


def _same_key(a, b) -> bool:
    return all(_spark_order(x) == _spark_order(y) for x, y in zip(a, b))


def _key_where(key) -> str:
    parts = []
    for (n, _t, _v), v in zip(_KEY_TYPES, key):
        lit = _k2_sql(v) if isinstance(v, float) and not math.isfinite(v) else _sql_lit(v)
        parts.append(f"{n} = {lit}")
    return " AND ".join(parts)


def test_full_key_selects_on_every_key_type(keyed):
    """Full-key gets on a table keyed by every key type route through the
    point path and match spark.sql over the view and the model.  Keys
    of finite floats probe the ROW blooms (DATE and TIMESTAMP keys by
    the values Spark casts their string literals to)."""
    astro, model, key = keyed
    names = [n for n, _t, _v in _KEY_TYPES]
    cases = [(i, _key_where(key(i))) for i in (0, 1, 2, 5, 9, 23, 24, 30, 31, 40)]
    # Spark casts a string compared with a BOOLEAN key: 'false' and '0'
    # match the false key (odd i), which a truthiness probe would miss
    for i in (1, 9):
        assert "c_bool = FALSE" in _key_where(key(i))
        cases += [
            (i, _key_where(key(i)).replace("c_bool = FALSE", f"c_bool = {s}"))
            for s in ("'false'", "'0'")
        ]
    probed = set()
    for i, where in cases:
        q = f"SELECT {', '.join(names)}, v FROM kt WHERE {where}"
        got, res = _sql_rows(astro, q)
        assert res is not None and res.index_used is None, where
        if res.bloom_probed is not None:
            probed.add(where)
        view = astro.spark.sql(q).collect()
        assert got == sorted(tuple(repr(v) for v in r) for r in view), where
        want = sorted(v for k, v in model.items() if _same_key(k, key(i)))
        assert sorted(r.v for r in view) == want, where
    assert {_key_where(key(i)) for i in (1, 2, 9)} <= probed


def test_routed_point_get_reads_one_file(table):
    """A SQL full-key get reads 1 file of the table's N, in its plan."""
    astro, model = table
    q = "SELECT k1, k2, v1, v2 FROM ip WHERE k1 = 5 AND k2 = 185"
    df = astro.sql(q)
    res = astro.last_select_route
    assert res is not None and len(res.files) == 1 and res.total > 1
    assert len(df.inputFiles()) == 1
    assert astro.spark.sql(q).inputFiles() != df.inputFiles()
    assert [tuple(r) for r in df.collect()] == [(5, 185, *model.rows[(5, 185)])]


def test_absent_key_get_runs_no_job(table, jobs_of):
    """An absent key read through scan_where and through SQL runs no Spark
    job, and has the scan schema."""
    astro, _model = table
    rel = astro.relation("ip")
    df, res = rel.scan_where("k1 = 5 AND k2 = 186")
    assert res.files == []
    rows, jobs = jobs_of(df.collect)
    assert rows == [] and jobs == []
    assert df.schema == rel.scan().schema
    q = "SELECT k1, k2, v1, v2 FROM ip WHERE k1 = 5 AND k2 = 186"
    rows, jobs = jobs_of(lambda: astro.sql(q).collect())
    assert rows == [] and jobs == [] and astro.last_select_route.files == []


def test_full_key_select_naming_an_unknown_column_still_raises(table):
    astro, _model = table
    with pytest.raises(Exception, match="nosuch"):
        astro.sql("SELECT k1 FROM ip WHERE k1 = 1 AND k2 = 2 AND nosuch = 1").collect()
    assert astro.last_select_route is None


def test_full_key_select_on_a_stringformat_table_with_an_added_column(spark, tmp_path):
    """The point route on a table without an index, stored as strings,
    after an ALTER ADD: the older fragments lack the new column."""
    astro = AstroSession(spark, str(tmp_path / "sf_wh"))
    astro.sql(
        "CREATE TABLE sf (k1 INT, s STRING, v DECIMAL(10,2), PRIMARY KEY (k1, s)) "
        "MAPPED BY (sf_h, COLS=[v=f.v]) IN stringformat"
    )
    astro.sql("INSERT INTO sf VALUES (1, 'a', 1.5), (2, 'b', 2.5), (10, 'a', 3.5)")
    astro.sql("ALTER TABLE sf ADD w DOUBLE MAPPED BY (f.w)")
    astro.sql("INSERT INTO sf VALUES (1, 'a', NULL, 7.0), (3, 'c', 4.5, 8.0)")
    assert not astro.relation("sf").meta.indexes
    for where, want in (
        ("k1 = 1 AND s = 'a'", [(1, "a", Decimal("1.50"), 7.0)]),
        ("k1 = 2 AND s = 'b'", [(2, "b", Decimal("2.50"), None)]),
        ("k1 IN (3, 10) AND s IN ('a', 'c')", [(3, "c", Decimal("4.50"), 8.0),
                                               (10, "a", Decimal("3.50"), None)]),
        ("k1 = 1 AND s = 'b'", []),
    ):
        q = f"SELECT k1, s, v, w FROM sf WHERE {where}"
        got = sorted(tuple(r) for r in astro.sql(q).collect())
        assert astro.last_select_route is not None, where
        assert got == want, where
        assert got == sorted(tuple(r) for r in astro.spark.sql(q).collect()), where


def test_merged_scan_plan_is_unchanged(spark, tmp_path):
    """The merge and projection built from SQL expression strings optimize
    to the plan the Column-built ones did (expression ids normalized)."""
    import re

    astro = AstroSession(spark, str(tmp_path / "mp_wh"))
    astro.sql(
        "CREATE TABLE mp (k1 LONG, k2 INT, v1 LONG, v2 STRING, PRIMARY KEY (k1, k2)) "
        "MAPPED BY (mp_h, COLS=[v1=f.v1, v2=f.v2]) OPTIONS (regions=2)"
    )
    astro.sql("INSERT INTO mp VALUES (1, 1, 10, 'a'), (2, 2, 20, 'b')")
    astro.sql("INSERT INTO mp VALUES (1, 1, 11, NULL), (3, 3, 30, 'c')")
    astro.sql("ALTER TABLE mp ADD v3 DOUBLE MAPPED BY (f.v3)")
    astro.sql(
        "CREATE TABLE sp (k1 INT, s STRING, v DECIMAL(10,2), PRIMARY KEY (k1, s)) "
        "MAPPED BY (sp_h, COLS=[v=f.v]) IN stringformat"
    )
    astro.sql("INSERT INTO sp VALUES (1, 'x', 1.5)")
    astro.sql("INSERT INTO sp VALUES (1, 'x', 2.5)")
    read = (
        "+- Project [{cols}, _rowkey#, coalesce(_seq#, 0) AS _seq#]\n"
        "   +- Relation [{rel}] parquet"
    )
    mp_aggs = ", ".join(
        f"max_by({c}#, CASE WHEN isnotnull({c}#) THEN _seq# END) AS {c}#"
        for c in ("v1", "v2", "v3")
    )
    sp_aggs = (
        "cast(max(k1#) as int) AS k1#, s#, cast(max_by(v#, CASE WHEN isnotnull(v#) "
        "THEN _seq# END) as decimal(20,2)) AS v#"
    )
    want = {
        "mp": "Aggregate [_rowkey#, k1#, k2#], [k1#, k2#, " + mp_aggs + "{rk}]\n" + read.format(
            cols="k1#, k2#, v1#, v2#, v3#", rel="k1#,k2#,v1#,v2#,v3#,_rowkey#,_seq#"
        ),
        "sp": "Aggregate [_rowkey#, s#], [" + sp_aggs + "{rk}]\n" + read.format(
            cols="k1#, s#, v#", rel="k1#,s#,v#,_rowkey#,_seq#"
        ),
    }
    for t, plan in want.items():
        rel = astro.relation(t)
        assert rel.needs_merge(), t
        for with_rowkey in (False, True):
            got = rel.scan(with_rowkey=with_rowkey)._jdf.queryExecution().optimizedPlan()
            got = re.sub(r"#\d+L?", "#", got.toString()).strip()
            assert got == plan.replace("{rk}", ", _rowkey#" if with_rowkey else ""), (t, got)
