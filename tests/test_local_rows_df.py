"""``local_rows_df``: driver rows as an Arrow-backed LocalRelation.

Parity with ``spark.createDataFrame(rows, schema)`` over the schema
shapes its callers pass (statement results, typed INSERT VALUES rows
with NULLs, vector columns, dates/timestamps under a non-UTC session
time zone, decimals), a ``LocalTableScan`` plan, and a statement result
that collects without running a Spark job.
"""

from datetime import date, datetime
from decimal import Decimal

import pytest
from pyspark.sql import types as T

from spark_sql_on_hbase_spark.functions.localdf import local_rows_df
from spark_sql_on_hbase_spark.session import AstroSession

VALUES_SCHEMA = T.StructType(
    [
        T.StructField("k1", T.LongType(), nullable=False),
        T.StructField("k2", T.IntegerType(), nullable=False),
        T.StructField("b", T.BooleanType()),
        T.StructField("f", T.DoubleType()),
        T.StructField("s", T.StringType()),
    ]
)

CASES = {
    "string_result": (
        "result string",
        [("inserted 1 row",)],
    ),
    "show_rows": (
        "namespace string, tableName string",
        [("default", "a"), ("ns", "b"), ("default", None)],
    ),
    "typed_values_with_nulls": (
        VALUES_SCHEMA,
        [(1, 2, True, 1.5, "x"), (-(2**63), -(2**31), None, None, None), (3, 4, False, float("nan"), "日本")],
    ),
    "float_vectors": (
        "id long, vec array<float>",
        [(1, [0.25, -1.5, 3.0]), (2, []), (3, None)],
    ),
    "double_vectors": (
        "centroid_id long, centroid array<double>",
        [(0, [1e-300, -2.5]), (1, [0.0])],
    ),
    "dates_and_timestamps": (
        "d date, ts timestamp",
        [
            (date(1, 1, 1), datetime(1969, 12, 31, 23, 59, 59, 999999)),
            (date(2026, 3, 8), datetime(2026, 3, 8, 10, 30, 0, 1)),
            (date(9999, 12, 31), datetime(2026, 11, 1, 1, 30)),
            (None, None),
        ],
    ),
    "decimals": (
        "amt decimal(20,2), p decimal(12,3)",
        [(Decimal("1.25"), Decimal("1.125")), (Decimal("-1.125"), Decimal("-0.0005")), (None, None)],
    ),
    "empty": ("namespace string, tableName string", []),
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


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_rows_df_matches_create_dataframe(spark, la_time_zone, case):
    schema, rows = CASES[case]
    got = local_rows_df(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert repr(got.collect()) == repr(want.collect())  # repr: NaN != NaN
    # rendered in the JVM under the (non-UTC) session time zone
    as_text = lambda df: df.select([df[c].cast("string") for c in df.columns]).collect()
    assert as_text(got) == as_text(want)
    assert "LocalTableScan" in _plan(got)


def test_local_rows_df_verifies_like_create_dataframe(spark):
    with pytest.raises(ValueError, match="not nullable"):
        local_rows_df(spark, [(None, 1, None, None, None)], VALUES_SCHEMA)
    with pytest.raises(TypeError):
        local_rows_df(spark, [("x",)], "n long")


def test_statement_result_runs_no_spark_job(spark, tmp_path, jobs_of):
    astro = AstroSession(spark, str(tmp_path / "wh"))
    # the counter sees a real job …
    assert jobs_of(lambda: spark.range(3).collect())[1]
    # … and none for a statement result
    rows, jobs = jobs_of(lambda: astro._ok("inserted 1 row").collect())
    assert [r.result for r in rows] == ["inserted 1 row"]
    assert jobs == []

