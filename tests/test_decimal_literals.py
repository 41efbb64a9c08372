"""DECIMAL key literals: a number compared with, or inserted into, a
DECIMAL column keeps its exact value.  As a float, ``1.23`` never equals
the stored ``Decimal('1.23')``, so critical-point pruning dropped every
file, and INSERT VALUES handed the float to a ``DecimalType`` field."""

from decimal import Decimal

import pytest

from spark_sql_on_hbase_spark.predicate import Comparison, InList, parse_predicate
from spark_sql_on_hbase_spark.pruning import column_types, prune_files
from spark_sql_on_hbase_spark.relation import table_schema
from spark_sql_on_hbase_spark.session import AstroSession

ROWS = [(Decimal("1.23"), "a"), (Decimal("2.50"), "b"), (Decimal("7.10"), "c")]


@pytest.fixture()
def astro(spark, tmp_path):
    a = AstroSession(spark, str(tmp_path / "dec_wh"))
    a.sql(
        "CREATE TABLE dk (k DECIMAL, v STRING, PRIMARY KEY (k)) "
        "MAPPED BY (dk_h, COLS=[v=f.v]) OPTIONS (regions=2)"
    )
    rel = a.relation("dk")
    rel.write(spark.createDataFrame(ROWS, table_schema(rel.meta)))
    return a


def test_parse_coerces_literals_by_column_type():
    types = {"k": "decimal", "x": "double"}
    p = parse_predicate("k = 1.23 AND 7.1 > k AND x = 1.23 AND k IN (1, 2.5)", types)
    assert p.children[0] == Comparison("=", "k", Decimal("1.23"))
    assert p.children[1] == Comparison("<", "k", Decimal("7.1"))
    assert p.children[2] == Comparison("=", "x", 1.23)
    assert p.children[3] == InList("k", (Decimal(1), Decimal("2.5")))
    assert parse_predicate("k = 1.23").value == 1.23  # untyped: unchanged


def test_scan_where_decimal_key_literals(astro):
    rel = astro.relation("dk")
    assert column_types(rel.meta)["k"] == "decimal"
    for where, want in (
        ("k = 1.23", ["a"]),
        ("k IN (1.23, 7.1)", ["a", "c"]),
        ("k BETWEEN 1.22 AND 1.23", ["a"]),
        ("k = 2.5", ["b"]),
    ):
        df, res = rel.scan_where(where)
        assert sorted(r.v for r in df.collect()) == want, where
        assert len(res.files) == len(prune_files(rel.meta, where).files) >= 1, where


def test_sql_decimal_key_literals(astro):
    assert [r.v for r in astro.sql("SELECT v FROM dk WHERE k = 1.23").collect()] == ["a"]
    out = {
        r.property: r.value
        for r in astro.sql("EXPLAIN SCAN dk WHERE k = 1.23").collect()
    }
    assert out["files_read"] == "1"
    astro.sql("DELETE FROM dk WHERE k = 1.23")
    assert sorted(r.v for r in astro.sql("SELECT v FROM dk").collect()) == ["b", "c"]


def test_insert_values_decimal_literals(astro):
    astro.sql("INSERT INTO dk VALUES (1.23, 'z'), (9, 'n'), (12345678901234567.89, 'w')")
    got = {r.k: r.v for r in astro.sql("SELECT k, v FROM dk").collect()}
    assert got == {
        Decimal("1.23"): "z",
        Decimal("2.50"): "b",
        Decimal("7.10"): "c",
        Decimal("9.00"): "n",
        Decimal("12345678901234567.89"): "w",
    }
    df, _ = astro.relation("dk").scan_where("k = 12345678901234567.89")
    assert [r.v for r in df.collect()] == ["w"]
