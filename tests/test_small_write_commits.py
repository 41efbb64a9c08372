"""Small writes pay for what they write.

- an append commit stats, blooms and indexes ONLY the fragments the
  statement wrote (main table and index table alike); a known fragment
  vanishing from disk still takes the full restat;
- an append that writes nothing leaves every region, row, index entry
  and generation as it was;
- the rowkey is one JVM expression, byte-identical to
  ``codec.encode_key`` for every key type, with no Python-eval node in
  the write plan; NULL keys and NUL bytes in non-final STRING
  components still fail the write.
"""

import math
import os
import random
import struct
from datetime import date, datetime, timedelta
from decimal import Decimal

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_sql_on_hbase_spark import codec as C
from spark_sql_on_hbase_spark.relation import AstroRelation, _SPARK_TYPES, rowkey_sql
from spark_sql_on_hbase_spark.session import AstroSession

pytestmark = pytest.mark.usefixtures("no_reader_leases")

DDL = (
    "CREATE TABLE sw (k1 LONG, k2 INT, v1 LONG, v2 STRING, PRIMARY KEY (k1, k2)) "
    "MAPPED BY (sw_h, COLS=[v1=f.v1, v2=f.v2]) OPTIONS (regions=16, bloomfilter=row)"
)


@pytest.fixture()
def astro(spark, tmp_path):
    a = AstroSession(spark, str(tmp_path / "wh"))
    a.sql(DDL)
    a.relation("sw").write(
        spark.range(0, 640).selectExpr(
            "id * 3 AS k1", "CAST(id % 7 AS INT) AS k2", "id % 10 AS v1", "CONCAT('w', id) AS v2"
        )
    )
    a.sql("CREATE INDEX ON sw (v1)")
    return a


def _files(rel):
    return {os.path.basename(r.path) for r in rel.meta.regions}


def _state(astro):
    rel = astro.relation("sw")
    idx = rel._index_relation("v1")
    rows = sorted(tuple(r) for r in astro.sql("SELECT * FROM sw").collect())
    entries = sorted(tuple(r) for r in idx.scan().collect())
    return rel, _files(rel), _files(idx), rows, entries


def test_append_reads_only_the_fragments_it_wrote(astro, monkeypatch):
    rel, main0, idx0, _, _ = _state(astro)
    assert len(main0) >= 16
    reads, depth = [], [0]
    orig_append, orig_read = AstroRelation.append, AstroRelation._read_fragments

    def append(self, *a, **kw):
        depth[0] += 1
        try:
            return orig_append(self, *a, **kw)
        finally:
            depth[0] -= 1

    def read(self, *paths):
        if depth[0]:
            reads.extend(os.path.basename(p) for p in paths)
        return orig_read(self, *paths)

    monkeypatch.setattr(AstroRelation, "append", append)
    monkeypatch.setattr(AstroRelation, "_read_fragments", read)
    astro.sql("INSERT INTO sw VALUES (1, 1, 3, 'a'), (3000, 2, 4, 'b'), (0, 0, 5, 'c')")
    monkeypatch.undo()
    rel, main1, idx1, rows, _ = _state(astro)
    new_main, new_idx = main1 - main0, idx1 - idx0
    assert new_main and new_idx and main0 <= main1 and idx0 <= idx1
    # stats + bloom + index source on the main table, stats on the index
    # table: each pass read the statement's own fragments and nothing else
    assert set(reads) == new_main | new_idx
    assert (1, 1, 3, "a") in rows and (0, 0, 5, "c") in rows
    for r in rel.meta.regions:
        assert os.path.exists(rel._local_path(r.path) + ".bloom") or r.num_rows == 0


def test_vanished_fragment_takes_the_full_restat(spark, tmp_path, monkeypatch):
    astro = AstroSession(spark, str(tmp_path / "m2o"))
    for name in ("ma", "mb"):
        astro.sql(
            f"CREATE TABLE {name} (k INT, v STRING, PRIMARY KEY (k)) "
            f"MAPPED BY (shared_ht, COLS=[v=f.v]) OPTIONS (regions=4)"
        )
    astro.sql("INSERT INTO ma SELECT id, CONCAT('v', id) FROM range(1, 81)")
    astro.sql("INSERT INTO ma VALUES (200, 'late')")
    rel_b = astro.relation("mb")
    rel_b._ensure_fresh_regions()  # mb knows the pre-compact file set
    pre = _files(rel_b)
    astro.relation("ma").compact()  # a many-to-one sibling replaces them all
    calls = []
    orig = AstroRelation._refresh_region_bounds

    def spy(self, *a, **kw):
        calls.append(kw.get("only"))
        return orig(self, *a, **kw)

    monkeypatch.setattr(AstroRelation, "_refresh_region_bounds", spy)
    rel_b.append(spark.createDataFrame([(600, "post")], "k int, v string"))
    monkeypatch.undo()
    assert calls == [None]  # the append commit restatted the directory
    post = _files(rel_b)
    assert post and not (post & pre)
    got = {r.k: r.v for r in astro.sql("SELECT k, v FROM mb").collect()}
    assert len(got) == 82 and got[600] == "post" and got[200] == "late"


def test_empty_appends_keep_the_table(astro):
    rel0, main0, idx0, rows0, entries0 = _state(astro)
    gens0 = dict(rel0.meta.generation_times)
    astro.sql("UPDATE sw SET v1 = 99 WHERE v2 = 'no-such-row'")
    astro.sql("INSERT INTO sw SELECT * FROM sw WHERE k1 < 0")
    rel, main1, idx1, rows, entries = _state(astro)
    assert (main1, idx1, rows, entries) == (main0, idx0, rows0, entries0)
    assert rel.meta.pinned_gens == []
    assert rel.meta.generation_times == gens0
    assert rel._index_relation("v1").meta.pinned_gens == []


def test_append_write_plan_has_no_python_eval(astro, monkeypatch):
    plans = []
    orig = DataFrameWriter.parquet

    def parquet(self, path, *a, **kw):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    astro.sql("INSERT INTO sw VALUES (7, 7, 7, 'x'), (8, 8, 8, 'y')")
    monkeypatch.undo()
    assert len(plans) == 2  # main append + index append
    for p in plans:
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p
    assert "LocalTableScan" in plans[0]  # VALUES rows: no Python RDD either


def _f32(v):
    return struct.unpack(">f", struct.pack(">f", v))[0]


def _key_values(t):
    rng = random.Random(t)
    if t in ("byte", "short", "int", "long"):
        bits = 8 * C.FIXED_WIDTH[t]
        lo, hi = -(2 ** (bits - 1)), 2 ** (bits - 1) - 1
        return [lo, lo + 1, -1, 0, 1, hi - 1, hi] + [rng.randint(lo, hi) for _ in range(40)]
    if t in ("float", "double"):
        tiny = [1e-45, -1e-45, _f32(1.1e-38)] if t == "float" else [5e-324, -5e-324, 2.2e-308]
        big = [3.4028234663852886e38] if t == "float" else [1.7976931348623157e308]
        rand = [rng.uniform(-1e6, 1e6) for _ in range(40)]
        out = [math.nan, 0.0, -0.0, math.inf, -math.inf, *tiny, *big, -big[0], *rand]
        return [_f32(v) for v in out] if t == "float" else out
    if t == "boolean":
        return [True, False]
    if t == "string":
        return ["", "a", "ab", "é", "日本語", "😀", "a b", "\x7f", "zz"]
    if t == "date":
        base = date(1970, 1, 1)
        return [date(1, 1, 1), date(9999, 12, 31), date(1969, 12, 31), base] + [
            base + timedelta(days=rng.randint(-700_000, 700_000)) for _ in range(40)
        ]
    if t == "timestamp":
        base = datetime(1970, 1, 1)
        return [
            datetime(1969, 12, 31, 23, 59, 59, 999999),
            datetime(1900, 1, 1, 0, 0, 0, 1),
            base,
        ] + [base + timedelta(microseconds=rng.randint(-(2**51), 2**51)) for _ in range(40)]
    # decimal(12,3): half-even ties at the codec's scale 2
    ties = ["0.005", "0.015", "0.025", "-0.005", "-0.015", "1.125", "1.135", "-2.345", "0", "-1"]
    return [Decimal(x) for x in ties] + [
        Decimal(rng.randint(-(10**11), 10**11)).scaleb(-3) for _ in range(40)
    ]


@pytest.mark.parametrize("last", [False, True], ids=["first", "last"])
@pytest.mark.parametrize("t", sorted(C.ATOMIC_TYPES))
def test_jvm_rowkey_matches_codec(spark, t, last):
    col_t = T.DecimalType(12, 3) if t == C.DECIMAL else _SPARK_TYPES[t]
    schema = T.StructType([T.StructField("a", col_t), T.StructField("b", T.IntegerType())])
    names, dtypes = (["b", "a"], [C.INT, t]) if last else (["a", "b"], [t, C.INT])
    df = spark.createDataFrame([(v, -7) for v in _key_values(t)], schema)
    got = df.withColumn("rk", F.expr(rowkey_sql(names, dtypes))).collect()
    assert got
    for r in got:
        vals = [r.b, r.a] if last else [r.a, r.b]
        assert bytes(r.rk) == C.encode_key(vals, dtypes), (t, r.a)


def test_null_key_and_nul_byte_still_fail_the_write(spark, tmp_path):
    astro = AstroSession(spark, str(tmp_path / "bad"))
    astro.sql(
        "CREATE TABLE nk (s STRING, k INT, v INT, PRIMARY KEY (s, k)) "
        "MAPPED BY (nk_h, COLS=[v=f.v]) OPTIONS (regions=2)"
    )
    astro.sql("INSERT INTO nk VALUES ('a', 1, 1)")
    with pytest.raises(Exception, match="key columns are non-nullable"):
        astro.sql("INSERT INTO nk SELECT CAST(NULL AS STRING), 2, 2")
    with pytest.raises(Exception, match="key columns are non-nullable"):
        astro.sql("INSERT INTO nk SELECT 'b', CAST(NULL AS INT), 2")
    with pytest.raises(Exception, match="NUL byte not allowed"):
        astro.relation("nk").append(
            spark.createDataFrame([("x\x00y", 3, 3)], "s string, k int, v int")
        )
    assert [tuple(r) for r in astro.sql("SELECT * FROM nk").collect()] == [("a", 1, 1)]
