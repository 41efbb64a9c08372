"""Merge-on-read reads only the keys a query asks for.

``_merge_latest`` groups by the rowkey plus every key column that is a
function of it, with deterministic aggregates only, so Catalyst pushes key
conjuncts below the newest-cell-wins aggregate into the parquet scan —
from the SQL view and from ``scan_where`` alike — while non-key conjuncts
stay above it.  ``scan_where`` decides the merge over the files that
survived pruning, so a get that reaches one key-unique fragment shuffles
nothing.  Also pinned here: the metadata-built schema of empty results
(no read planned, no lease taken) and the EXPLAIN SCAN ``merge`` row.
"""

import decimal
import os

import pytest

from spark_sql_on_hbase_spark import leases
from spark_sql_on_hbase_spark.session import AstroSession

KV_DDL = (
    "CREATE TABLE {name} (k1 LONG, k2 INT, v1 LONG, v2 STRING, "
    "PRIMARY KEY (k1, k2)) MAPPED BY ({name}_ht, COLS=[v1=f.a, v2=f.b]) "
    "OPTIONS (regions=4, bloomfilter=row)"
)


def _load(astro, spark, name, n=400):
    astro.sql(KV_DDL.format(name=name))
    df = spark.createDataFrame(
        [(i, i % 7, i * 10, f"s{i}") for i in range(n)],
        "k1 long, k2 int, v1 long, v2 string",
    )
    astro.relation(name).write(df)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df) -> list[str]:
    # str() so NaN and -0.0 compare by their printed form
    return sorted(str(tuple(r)) for r in df.collect())


@pytest.fixture(scope="module")
def upserted(spark, tmp_path_factory):
    """A bulk-loaded kv table with one upsert of key (7, 0)."""
    a = AstroSession(spark, str(tmp_path_factory.mktemp("mp") / "wh"))
    _load(a, spark, "kv")
    a.sql("INSERT INTO kv VALUES (7, 0, 71, 'new')")
    assert a.relation("kv").needs_merge()
    return a


def test_sql_key_conjuncts_reach_scan_below_merge(upserted):
    df = upserted.sql("SELECT * FROM kv WHERE k1 = 7 AND k2 = 0 AND v1 = 71")
    lines = _plan(df).splitlines()
    agg = next(i for i, ln in enumerate(lines) if "Aggregate" in ln)
    scan = next(i for i, ln in enumerate(lines) if "FileScan" in ln)
    assert agg < scan
    pushed = lines[scan].split("PushedFilters: [")[1].split("]")[0]
    assert "EqualTo(k1,7)" in pushed and "EqualTo(k2,0)" in pushed
    assert "v1" not in pushed
    # the non-key conjunct is evaluated above the merge, over resolved rows
    v1_filters = [
        i for i, ln in enumerate(lines)
        if ln.lstrip("+-:| ").startswith("Filter") and "v1" in ln
    ]
    assert v1_filters and all(i < agg for i in v1_filters)
    assert _rows(df) == ["(7, 0, 71, 'new')"]


def test_scan_where_key_conjuncts_reach_scan(upserted):
    df, res = upserted.relation("kv").scan_where("k1 = 7 AND k2 = 0")
    assert res.merge is True
    scan = next(ln for ln in _plan(df).splitlines() if "FileScan" in ln)
    assert "EqualTo(k1,7)" in scan and "EqualTo(k2,0)" in scan


@pytest.mark.parametrize(
    "where",
    ["k1 = 7 AND k2 = 0 AND v1 = 70", "k1 BETWEEN 0 AND 20 AND v1 = 70", "v2 = 's7'"],
)
def test_superseded_value_never_matches(upserted, where):
    assert upserted.sql(f"SELECT * FROM kv WHERE {where}").collect() == []
    df, _ = upserted.relation("kv").scan_where(where)
    assert df.collect() == []


def test_newest_value_matches_both_entry_points(upserted):
    where = "k1 = 7 AND k2 = 0 AND v1 = 71"
    assert _rows(upserted.sql(f"SELECT * FROM kv WHERE {where}")) == ["(7, 0, 71, 'new')"]
    df, _ = upserted.relation("kv").scan_where(where)
    assert _rows(df) == ["(7, 0, 71, 'new')"]


def test_null_and_absent_cells_keep_older_value(spark, tmp_path):
    a = AstroSession(spark, str(tmp_path / "wh"))
    _load(a, spark, "nl", n=40)
    a.sql("INSERT INTO nl VALUES (3, 3, NULL, 'b')")  # NULL = absent cell
    a.sql("ALTER TABLE nl ADD w INT MAPPED BY (f.w)")  # older fragments lack w
    a.sql("INSERT INTO nl VALUES (4, 4, 41, NULL, 5)")
    a.sql("INSERT INTO nl VALUES (4, 4, NULL, 'c', NULL)")
    want = {
        "k1 = 3 AND k2 = 3": ["(3, 3, 30, 'b', None)"],
        "k1 = 4 AND k2 = 4": ["(4, 4, 41, 'c', 5)"],
        "k1 = 4 AND k2 = 4 AND w = 5": ["(4, 4, 41, 'c', 5)"],
        "k1 = 4 AND k2 = 4 AND v1 = 40": [],
    }
    for where, rows in want.items():
        assert _rows(a.sql(f"SELECT * FROM nl WHERE {where}")) == rows, where
        df, res = a.relation("nl").scan_where(where)
        assert res.merge is True
        assert _rows(df) == rows, where


def test_float_and_wide_decimal_keys_resolve_unchanged(spark, tmp_path):
    """FLOAT/DOUBLE keys are not grouping keys of the merge (``max``
    instead): −0.0, 0.0 and NaN stay distinct rows.  A declared
    ``decimal(12,3)`` is stored at scale 2, like its rowkey, so it groups;
    values that round to the same scale-2 key are one row."""
    a = AstroSession(spark, str(tmp_path / "wh"))
    a.sql(
        "CREATE TABLE fd (k DECIMAL(12,3), f DOUBLE, v INT, PRIMARY KEY (k, f)) "
        "MAPPED BY (fd_ht, COLS=[v=f.v]) OPTIONS (regions=2)"
    )
    assert a.relation("fd")._merge_group_keys() == ["k"]
    D = decimal.Decimal
    schema = "k decimal(12,3), f double, v int"
    batches = [
        [(D("1.234"), -0.0, 1), (D("1.234"), 0.0, 2), (D("2.5"), float("nan"), 3), (D("3.001"), 1.0, 4)],
        [(D("1.234"), -0.0, 10), (D("2.5"), float("nan"), 30), (D("3.004"), 1.0, 40)],
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).createOrReplaceTempView("fd_src")
        a.sql("INSERT INTO fd SELECT * FROM fd_src")
    rel = a.relation("fd")
    assert rel.needs_merge()
    every = [
        "(Decimal('1.23'), -0.0, 10)",
        "(Decimal('1.23'), 0.0, 2)",
        "(Decimal('2.50'), nan, 30)",
        "(Decimal('3.00'), 1.0, 40)",
    ]
    assert _rows(a.sql("SELECT * FROM fd")) == every
    zeros = every[:2]
    assert _rows(a.sql("SELECT * FROM fd WHERE f = 0.0")) == zeros
    assert _rows(rel.scan_where("f = 0.0")[0]) == zeros
    assert _rows(rel.scan_where("v >= 0")[0]) == every


def test_merge_group_keys_by_type(spark, tmp_path):
    a = AstroSession(spark, str(tmp_path / "wh"))
    a.sql(
        "CREATE TABLE ty (a INT, b DATE, c TIMESTAMP, d DECIMAL(10,2), e STRING, "
        "f FLOAT, g DECIMAL(12,3), v INT, PRIMARY KEY (a, b, c, d, e, f, g)) "
        "MAPPED BY (ty_ht, COLS=[v=f.v])"
    )
    assert a.relation("ty")._merge_group_keys() == ["a", "b", "c", "d", "e", "g"]
    a.sql(
        "CREATE TABLE tys (a INT, e STRING, v INT, PRIMARY KEY (a, e)) "
        "MAPPED BY (tys_ht, COLS=[v=f.v]) IN STRINGFORMAT"
    )
    assert a.relation("tys")._merge_group_keys() == ["e"]


def test_point_get_exchange_only_when_the_read_merges(spark, tmp_path):
    a = AstroSession(spark, str(tmp_path / "wh"))
    _load(a, spark, "pg")
    df, res = a.relation("pg").scan_where("k1 = 300 AND k2 = 6")
    assert res.merge is False and "Exchange" not in _plan(df)
    assert _rows(df) == ["(300, 6, 3000, 's300')"]
    # a new key inside a base fragment's range: the table needs the
    # merge, a get reaching only a key-unique fragment still does not
    a.sql("INSERT INTO pg VALUES (7, 4, 1, 'x')")
    rel = a.relation("pg")
    assert rel.needs_merge()
    df, res = rel.scan_where("k1 = 300 AND k2 = 6")
    assert len(res.files) == 1 and res.merge is False
    assert "Exchange" not in _plan(df)
    assert _rows(df) == ["(300, 6, 3000, 's300')"]
    # an upsert of the key itself: the get merges
    a.sql("INSERT INTO pg VALUES (300, 6, 9, 'up')")
    df, res = a.relation("pg").scan_where("k1 = 300 AND k2 = 6")
    assert res.merge is True and "Exchange" in _plan(df)
    assert _rows(df) == ["(300, 6, 9, 'up')"]


def _explain(astro, table, where):
    return {
        r.property: r.value
        for r in astro.sql(f"EXPLAIN SCAN {table} WHERE {where}").collect()
    }


def test_explain_scan_merge_row(upserted):
    out = _explain(upserted, "kv", "k1 = 7 AND k2 = 0")
    assert out["merge"] == (
        "newest-cell-wins over 2 files, key conjuncts on (k1, k2) below"
    )
    assert _explain(upserted, "kv", "k1 = 300 AND k2 = 6")["merge"] == (
        "none (1 key-unique file)"
    )
    assert _explain(upserted, "kv", "k1 > 100000")["merge"] == "none (no files read)"


def _empty_schemas(rel, where):
    df, res = rel.scan_where(where)
    assert res.files == [] and df.collect() == []
    return df.schema, rel.scan().schema


def test_empty_result_schema_from_metadata(spark, tmp_path):
    a = AstroSession(spark, str(tmp_path / "wh"))
    _load(a, spark, "eb", n=40)
    a.sql(
        "CREATE TABLE es (k LONG, name STRING, size INT, PRIMARY KEY (k)) "
        "MAPPED BY (es_ht, COLS=[name=f.n, size=f.s]) IN STRINGFORMAT"
    )
    a.sql("INSERT INTO es VALUES (1, 'a', 1), (2, 'b', 2)")
    _load(a, spark, "ea", n=40)
    a.sql("ALTER TABLE ea ADD w DOUBLE MAPPED BY (f.w)")
    a.sql("INSERT INTO ea VALUES (1, 1, 11, 'u', 1.5)")
    for table, where in [("eb", "k1 > 1000"), ("es", "k > 1000"), ("ea", "k1 > 1000")]:
        rel = a.relation(table)
        got, want = _empty_schemas(rel, where)
        assert got == want == rel._scan_schema(), table


def test_bloom_skipped_miss_takes_no_lease(spark, tmp_path):
    a = AstroSession(spark, str(tmp_path / "wh"))
    _load(a, spark, "bl")
    rel = a.relation("bl")
    df, res = rel.scan_where("k1 = 10 AND k2 = 6")  # in range, absent
    assert res.bloom_skipped and res.files == [] and res.merge is None
    assert df.collect() == []
    lease = os.path.join(
        leases.lease_dir(rel.catalog.data_dir(rel.meta)), f"{rel._lease_id}.json"
    )
    assert not os.path.exists(lease)
