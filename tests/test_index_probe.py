"""Index lookups as batched gets.

A ``scan_where`` on an indexed column probes the index table once, without
the newest-cell-wins merge and without a ``distinct`` shuffle, deduplicates
the candidate keys on the driver, and probes the ROW-bloom sidecars with
the exact candidate rowkeys (up to ``POINT_PROBE_CAP``) rather than the
IN×IN cross product of the folded predicate.  The tables here have
overlapping index fragments, so a merged probe would plan an aggregate.
"""

import pytest

from spark_sql_on_hbase_spark.pruning import POINT_PROBE_CAP
from spark_sql_on_hbase_spark.relation import AstroRelation, table_schema
from spark_sql_on_hbase_spark.session import AstroSession

DDL = (
    "CREATE TABLE ip (k1 LONG, k2 INT, v1 LONG, v2 STRING, PRIMARY KEY (k1, k2)) "
    "MAPPED BY (ip_h, COLS=[v1=f.v1, v2=f.v2]) OPTIONS (regions=4, bloomfilter=row)"
)
N_K1 = 400
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


def test_probe_is_one_merge_free_job(table, monkeypatch, jobs_of):
    astro, _model = table
    rel = astro.relation("ip")
    idx = rel._index_relation("v1")
    # the index merges: a merged probe of one value plans an aggregate
    merged, res = idx.scan_where("(v1 = 7)")
    assert res.merge is True and "Aggregate" in _plan(merged)

    probes = []
    real = AstroRelation.scan_where

    def spy(self, where, **kw):
        out = real(self, where, **kw)
        if self.meta.name == idx.meta.name:
            probes.append((kw, out))
        return out

    monkeypatch.setattr(AstroRelation, "scan_where", spy)
    route, jobs = jobs_of(lambda: rel._index_route("v1 = 7"))
    assert route["kind"] == "augment"
    assert len(jobs) == 1
    [(kw, (probe_df, probe_res))] = probes
    assert kw == {"merge": False} and probe_res.merge is False
    plan = _plan(probe_df)
    assert "Exchange" not in plan and "Aggregate" not in plan
    assert route["probe"] == (len(probe_res.files), probe_res.total)


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
        f"{res.index_probe[0]} of {res.index_probe[1]} index files, no merge)"
    )
    assert out["bloom_outcome"] == (
        f"probed {res.bloom_probed} range-surviving files with "
        f"{res.index_candidates} index candidate keys, skipped {res.bloom_skipped}"
    )
    assert out["merge"].startswith("none (")


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
