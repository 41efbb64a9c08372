"""Driver-local small-DataFrame constructor.

Driver-side literal tables — statement results, INSERT VALUES rows,
rate maps, probe rows, param sidecars — hold a handful of rows.
``local_rows_df`` hands them to the JVM as ONE Arrow table, which Spark
plans as a ``LocalRelation`` (``LocalTableScan``): the rows live in the
plan itself, so collecting one runs no Spark job and a write or join
that consumes one starts no Python worker.

Why not the alternatives:

- ``spark.createDataFrame(rows, schema)`` parallelizes the rows into
  ``defaultParallelism`` slices — on ``local[32]`` a 2-row broadcast
  rate table became a 32-task stage where every task launched (or
  claimed) a Python worker for a fraction of a row (27
  executor-task-seconds in one stage of the corpus-ops bench).
- a one-slice ``parallelize(rows, 1)`` Python RDD fixes the fan-out but
  still plans as an RDD scan: every action is a job whose task pickles
  the rows through a Python worker — one job per collected statement
  result, and one more Python stage in every INSERT VALUES write plan.

Rows pass the same type verifier and internal conversion as
``createDataFrame`` (a NULL in a non-nullable field or a wrongly typed
value raises here, on the driver; dates, timestamps, decimals and
arrays come out identical).  NOT for data that is actually large,
which should never originate on the driver.
"""

from __future__ import annotations

import decimal

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DecimalType, _make_type_verifier, _parse_datatype_string

__all__ = ["local_rows_df"]


def _arrow_column(values, field: pa.Field, dtype) -> pa.Array:
    if isinstance(dtype, DecimalType):
        # the JVM's Python-row conversion rounds to the declared scale
        # HALF_UP; Arrow refuses a lossy rescale
        q = decimal.Decimal(1).scaleb(-dtype.scale)
        values = [None if v is None else v.quantize(q, decimal.ROUND_HALF_UP) for v in values]
    # internal values: dates as epoch days, timestamps as epoch µs
    return pa.array(values, field.type)


def local_rows_df(spark: SparkSession, rows, schema) -> DataFrame:
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    verify = _make_type_verifier(schema)
    internal = []
    for r in rows:
        verify(r)
        internal.append(schema.toInternal(r))
    arrow = to_arrow_schema(schema)
    cols = list(zip(*internal)) if internal else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [_arrow_column(c, a, f.dataType) for c, a, f in zip(cols, arrow, schema.fields)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)
