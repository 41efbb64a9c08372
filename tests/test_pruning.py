"""CPR pruning tests — mirror the reference's CriticalPointsTestSuite
(:42-632) and HBasePartitionerSuite computePredicate cases (:95-289),
re-targeted at region-file pruning decisions + result correctness.

Fixture: FIXTURES.md §7 testblk (3-part key col1 INT, col2 STRING,
col3 INT) and §8 cf (pure-int 3-key skip-scan table, 27 rows).
"""

import pytest

from spark_sql_on_hbase_spark.predicate import (
    FALSE,
    TRUE,
    UNKNOWN,
    Interval,
    evaluate,
    parse_predicate,
)
from spark_sql_on_hbase_spark.session import AstroSession


# ---------------------------------------------------------------------------
# predicate parser + 3-valued evaluation units
# ---------------------------------------------------------------------------
def test_parse_shapes():
    p = parse_predicate("a = 1 AND (b > 2 OR c IN (1, 2)) AND d BETWEEN 3 AND 5")
    assert evaluate(p, {"a": Interval.point(1), "b": Interval.point(3), "d": Interval.point(4)}) == TRUE
    p2 = parse_predicate("NOT (a < 5)")
    assert evaluate(p2, {"a": Interval.point(7)}) == TRUE
    assert evaluate(p2, {"a": Interval.point(3)}) == FALSE


def test_three_valued_ranges():
    # HBasePartitionerSuite: "k = 8 OR k > 8" over partition ranges
    p = parse_predicate("k = 8 OR k > 8")
    assert evaluate(p, {"k": Interval(None, 7)}) == FALSE
    assert evaluate(p, {"k": Interval(9, None)}) == TRUE
    assert evaluate(p, {"k": Interval(5, 10)}) == UNKNOWN
    # contradiction
    c = parse_predicate("k < 2 AND k > 5")
    assert evaluate(c, {"k": Interval(0, 100)}) == FALSE


def test_in_list_and_null():
    p = parse_predicate("k IN (3, 5, 7)")
    assert evaluate(p, {"k": Interval(8, 20)}) == FALSE
    assert evaluate(p, {"k": Interval.point(5)}) == TRUE
    assert evaluate(parse_predicate("k IS NULL"), {"k": Interval(0, 9)}) == FALSE
    assert evaluate(parse_predicate("k IS NOT NULL"), {"k": Interval(0, 9)}) == TRUE


def test_string_comparisons():
    p = parse_predicate("s >= 'bb' AND s < 'dd'")
    assert evaluate(p, {"s": Interval("aa", "ab")}) == FALSE
    assert evaluate(p, {"s": Interval("bc", "cc")}) == TRUE
    assert evaluate(p, {"s": Interval("ca", "zz")}) == UNKNOWN


# ---------------------------------------------------------------------------
# end-to-end file pruning on an Astro table
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def cf_table(spark, tmp_path_factory):
    """FIXTURES.md §8: cf(k1,k2,k3 key; nk1,nk2) i,100+i,1000+i,-i,-(100+i),
    27 rows across 9 regions → each file holds a tight k1 range."""
    wh = tmp_path_factory.mktemp("wh_cf")
    astro = AstroSession(spark, str(wh))
    astro.sql(
        "CREATE TABLE cf (k1 INT, k2 INT, k3 INT, nk1 INT, nk2 INT, "
        "PRIMARY KEY (k1, k2, k3)) MAPPED BY (hcf, COLS=[nk1=f.nk1, nk2=f.nk2]) "
        "OPTIONS (regions=9)"
    )
    csv = wh / "cf.txt"
    csv.write_text("".join(f"{i},{100+i},{1000+i},{-i},{-(100+i)}\n" for i in range(1, 28)))
    astro.sql(f"LOAD DATA INPATH '{csv}' INTO TABLE cf")
    return astro


def _run(astro, where):
    rel = astro.relation("cf")
    df, res = rel.scan_where(where)
    return df, res


def test_point_get_touches_one_file(cf_table):
    # full-key point query (reference point-Get path,
    # HBaseSQLReaderRDD.scala:270-315)
    df, res = _run(cf_table, "k1 = 14 AND k2 = 114 AND k3 = 1014")
    assert len(res.files) == 1
    assert res.total == 9
    assert df.count() == 1


def test_leading_range_prunes(cf_table):
    df, res = _run(cf_table, "k1 BETWEEN 4 AND 9")
    assert len(res.files) < 9
    rows = sorted(r.k1 for r in df.collect())
    assert rows == [4, 5, 6, 7, 8, 9]


def test_in_list_prunes(cf_table):
    df, res = _run(cf_table, "k1 IN (1, 27)")
    assert len(res.files) <= 2
    assert sorted(r.k1 for r in df.collect()) == [1, 27]


def test_contradiction_reads_nothing(cf_table):
    df, res = _run(cf_table, "k1 < 2 AND k1 > 5")
    assert len(res.files) == 0
    assert df.count() == 0


def test_or_predicate(cf_table):
    df, res = _run(cf_table, "k1 = 2 OR k1 = 26")
    assert len(res.files) <= 2
    assert sorted(r.k1 for r in df.collect()) == [2, 26]


def test_second_dim_pruning_with_point_prefix(cf_table):
    """Non-leading dim predicates prune only where the leading dim is
    constant within a file (reference skip-scan / CPR recursion,
    HBaseCustomFilter.scala + HBaseCriticalPoint.scala:432-482)."""
    df, res = _run(cf_table, "k1 = 20 AND k2 = 120")
    assert len(res.files) == 1
    assert df.count() == 1
    # k2-only predicate: k1 varies inside every file → conservative full scan
    df2, res2 = _run(cf_table, "k2 = 120")
    assert df2.count() == 1  # correctness regardless of pruning


def test_nonkey_predicate_no_pruning_but_correct(cf_table):
    df, res = _run(cf_table, "nk1 = -7")
    assert len(res.files) == 9  # nk1 not a key → no file pruning
    rows = df.collect()
    assert len(rows) == 1 and rows[0].k1 == 7


def test_mixed_key_nonkey(cf_table):
    df, res = _run(cf_table, "k1 > 20 AND nk1 > -23")
    assert len(res.files) < 9
    assert sorted(r.k1 for r in df.collect()) == [21, 22]


def test_classifier_split(cf_table):
    from spark_sql_on_hbase_spark.predicate import classify, parse_predicate, referenced_columns

    p = parse_predicate("k1 = 5 AND nk1 = -5 AND k2 > 100")
    push, resid = classify(p, {"k1", "k2", "k3"})
    assert referenced_columns(push) == {"k1", "k2"}
    assert referenced_columns(resid) == {"nk1"}


def test_non_sargable_degrades_to_full_scan(cf_table):
    """Reference Tpc Query 27: arithmetic on key column → full scan, right
    answer (HBaseTpcMiniTestSuite.scala:328-332)."""
    df, res = _run(cf_table, "k1 + 0 = 3")
    assert len(res.files) == res.total
    rows = df.collect()
    assert len(rows) == 1 and rows[0].k1 == 3


def test_residual_simplification(spark, tmp_path_factory):
    """When the key-pushed conjunct is definitely TRUE over every
    surviving file, scan_where applies only the residual — the
    per-partition predicate reduction (HBasePartition.scala:50-79)."""
    from spark_sql_on_hbase_spark.catalog import AstroCatalog, KeyColumn, NonKeyColumn, TableMeta
    from spark_sql_on_hbase_spark.relation import AstroRelation

    wh = tmp_path_factory.mktemp("wh_resid")
    catalog = AstroCatalog(str(wh))
    meta = TableMeta(
        name="rs", namespace="default", physical_table="hrs",
        key_columns=[KeyColumn("k", "int", 0)],
        nonkey_columns=[NonKeyColumn("v", "int", "f", "v")],
        num_regions=4, declared_columns=["k", "v"],
    )
    catalog.create_table(meta)
    rel = AstroRelation(catalog, meta, spark)
    rel.write(spark.range(1000).selectExpr("CAST(id AS INT) k", "CAST(id % 7 AS INT) v"))

    # key range covers the whole table → key part definitely TRUE everywhere
    df, res = rel.scan_where("k >= 0 AND v = 3")
    assert res.residual_only is True
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the Filter must not re-test the key conjunct
    assert "v#" in plan
    import re
    filters = [ln for ln in plan.splitlines() if "Filter" in ln and "Scan" not in ln]
    assert filters and not any(re.search(r"\(k#\d+ >= 0\)", ln) for ln in filters), filters
    assert df.count() == sum(1 for i in range(1000) if i % 7 == 3)

    # key range only partially covers a file → full predicate re-applied
    df2, res2 = rel.scan_where("k >= 10 AND v = 3")
    assert res2.residual_only is False
    assert df2.count() == sum(1 for i in range(10, 1000) if i % 7 == 3)

    # pure key predicate, fully covering → no filter needed at all
    df3, res3 = rel.scan_where("k >= 0")
    assert res3.residual_only is True
    assert df3.count() == 1000


def test_planner_scales_to_many_regions():
    """Driver-side pruning is O(#files × predicate size) with zero I/O —
    at 100 TB / 1 GB regions that's ~100k entries; 10k must plan in
    well under a second (reference caches region info for the same
    reason, HBaseRelation.scala:199-243)."""
    import time

    from spark_sql_on_hbase_spark.catalog import KeyColumn, NonKeyColumn, RegionFile, TableMeta
    from spark_sql_on_hbase_spark.codec import encode_key
    from spark_sql_on_hbase_spark.pruning import prune_files

    n = 10_000
    rows_per = 1000
    regions = []
    for i in range(n):
        lo, hi = i * rows_per, (i + 1) * rows_per - 1
        regions.append(
            RegionFile(
                path=f"mem://r{i}", num_rows=rows_per,
                min_key=[lo, 0], max_key=[hi, 9],
                min_rowkey_hex=encode_key([lo, 0], ["int", "int"]).hex(),
                max_rowkey_hex=encode_key([hi, 9], ["int", "int"]).hex(),
                num_keys=rows_per,
            )
        )
    meta = TableMeta(
        name="big", namespace="default", physical_table="hbig",
        key_columns=[KeyColumn("k1", "int", 0), KeyColumn("k2", "int", 1)],
        nonkey_columns=[NonKeyColumn("v", "int", "f", "v")],
        num_regions=n, regions=regions, declared_columns=["k1", "k2", "v"],
    )
    t0 = time.time()
    res = prune_files(meta, "k1 BETWEEN 5000000 AND 5001999 AND v > 3")
    elapsed = time.time() - t0
    assert len(res.files) == 2  # the 2000-row range aligns to exactly 2 regions
    assert elapsed < 1.0, f"pruning 10k regions took {elapsed:.2f}s"
    # point lookup: exactly one region
    assert len(prune_files(meta, "k1 = 4999500").files) == 1


def test_three_valued_evaluation_soundness_fuzz():
    """Property: evaluate(pred, env) is SOUND — FALSE means no point in the
    envelope satisfies the predicate (pruning may never drop a matching
    file), TRUE means every point does (residual elision may never admit a
    non-matching row).  Brute-force checked over a small integer grid with
    randomized predicate trees (the reference pins specific cases in
    CriticalPointsTestSuite; this covers the space between them)."""
    import random

    from spark_sql_on_hbase_spark.predicate import (
        FALSE,
        TRUE,
        And,
        Comparison,
        InList,
        Interval,
        Or,
        evaluate,
    )

    rng = random.Random(42)
    OPS = ["=", "!=", "<", "<=", ">", ">="]

    def rand_pred(depth=0):
        r = rng.random()
        col = rng.choice(["a", "b"])
        if depth >= 2 or r < 0.4:
            if rng.random() < 0.2:
                return InList(col, tuple(sorted(rng.sample(range(0, 12), rng.randint(1, 3)))))
            return Comparison(rng.choice(OPS), col, rng.randint(0, 12))
        kids = tuple(rand_pred(depth + 1) for _ in range(2))
        return And(kids) if r < 0.7 else Or(kids)

    def holds(p, a, b):
        if isinstance(p, Comparison):
            v = a if p.col == "a" else b
            return {
                "=": v == p.value, "!=": v != p.value, "<": v < p.value,
                "<=": v <= p.value, ">": v > p.value, ">=": v >= p.value,
            }[p.op]
        if isinstance(p, InList):
            return (a if p.col == "a" else b) in p.values
        if isinstance(p, And):
            return all(holds(c, a, b) for c in p.children)
        if isinstance(p, Or):
            return any(holds(c, a, b) for c in p.children)
        raise TypeError(type(p))

    for _ in range(400):
        pred = rand_pred()
        lo_a, hi_a = sorted((rng.randint(0, 12), rng.randint(0, 12)))
        lo_b, hi_b = sorted((rng.randint(0, 12), rng.randint(0, 12)))
        env = {"a": Interval(lo_a, hi_a), "b": Interval(lo_b, hi_b)}
        verdict = evaluate(pred, env)
        points = [(a, b) for a in range(lo_a, hi_a + 1) for b in range(lo_b, hi_b + 1)]
        truths = [holds(pred, a, b) for a, b in points]
        if verdict == FALSE:
            assert not any(truths), (pred, env)
        elif verdict == TRUE:
            assert all(truths), (pred, env)


def test_point_rowkeys_probe_what_spark_equality_matches():
    """The bloom probe set of a full-key point predicate holds every key
    Spark's ``=`` matches: both zeros of a DOUBLE key (they encode to
    other bytes), and no point set at all for a key compared with a
    literal of another type (Spark casts, so ``'05' = 5`` and
    ``b = 'false'`` hold)."""
    from spark_sql_on_hbase_spark import codec as C
    from spark_sql_on_hbase_spark.catalog import KeyColumn, NonKeyColumn, TableMeta
    from spark_sql_on_hbase_spark.pruning import point_rowkeys

    def meta(*keys):
        return TableMeta(
            name="t", namespace="default", physical_table="ht",
            key_columns=[KeyColumn(n, t, i) for i, (n, t) in enumerate(keys)],
            nonkey_columns=[NonKeyColumn("v", "int", "f", "v")],
            declared_columns=[n for n, _t in keys] + ["v"],
        )

    dk = meta(("k", "int"), ("d", "double"))
    keys = point_rowkeys(parse_predicate("k = 1 AND d = 0.0"), dk)
    assert sorted(keys) == sorted(C.encode_key([1, z], ["int", "double"]) for z in (0.0, -0.0))
    keys = point_rowkeys(parse_predicate("k = 1 AND d IN (-0.0, 2.5)"), dk)
    assert len(keys) == 3 and C.encode_key([1, 2.5], ["int", "double"]) in keys
    sk = meta(("s", "string"),)
    assert point_rowkeys(parse_predicate("s = 5"), sk) is None
    assert point_rowkeys(parse_predicate("s = '5'"), sk) == [C.encode_key(["5"], ["string"])]
    bk = meta(("k", "int"), ("b", "boolean"))
    for text in ("b = 'false'", "b = '0'", "b IN ('f', FALSE)", "b = 0"):
        assert point_rowkeys(parse_predicate(f"k = 1 AND {text}"), bk) is None, text
    assert point_rowkeys(parse_predicate("k = 1 AND b = FALSE"), bk) == [
        C.encode_key([1, False], ["int", "boolean"])
    ]
    assert point_rowkeys(parse_predicate("k = '1' AND b = TRUE"), bk) is None
    assert point_rowkeys(parse_predicate("k = TRUE AND b = TRUE"), bk) is None
