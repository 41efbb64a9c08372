"""Astro-engine query surface for the correctness gate.

Builds an Astro table (composite PK, sorted region files) from the
driver's lineitem parquet, then answers queries through the engine's
pruned-scan path.  The DuckDB oracle runs the equivalent plain SQL over
the raw lineitem view — results must match exactly, proving the
region-file format + CPR pruning + residual filtering end-to-end.

The table builds once per sf into .astro_warehouse/ (gitignored) and is
reused across queries/rounds (testdata is read-only + deterministic).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_sql_on_hbase_spark.catalog import AstroCatalog, KeyColumn, NonKeyColumn, TableMeta
from spark_sql_on_hbase_spark.functions.localdf import local_rows_df
from spark_sql_on_hbase_spark.queries_relational import Q
from spark_sql_on_hbase_spark.relation import AstroRelation

_WAREHOUSE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".astro_warehouse")

_COLS = [
    "l_orderkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_returnflag",
]


def _ensure_table(spark: SparkSession, sf_dir: str) -> AstroRelation:
    """Create + load astro_lineitem once per scale factor.

    Written with align_prefix=1: region boundaries never split an
    l_orderkey group, so the one-phase aggregation guard holds.
    """
    tag = (os.path.basename(sf_dir.rstrip("/")) or "sf") + "_v4"
    wh = os.path.join(_WAREHOUSE, tag)
    catalog = AstroCatalog(wh)
    if not catalog.table_exists("astro_lineitem"):
        meta = TableMeta(
            name="astro_lineitem",
            namespace="default",
            physical_table="h_lineitem",
            # the driver's synthetic lineitem has duplicate
            # (l_orderkey, l_linenumber) pairs; a PRIMARY KEY table would
            # upsert-collapse them (HBase put semantics), so a third
            # uniquifier key column keeps every physical row addressable —
            # the HBase timestamp-as-disambiguator analog
            key_columns=[
                KeyColumn("l_orderkey", "long", 0),
                KeyColumn("l_linenumber", "int", 1),
                KeyColumn("l_seq", "long", 2),
            ],
            nonkey_columns=[
                NonKeyColumn("l_quantity", "double", "f", "qty"),
                NonKeyColumn("l_extendedprice", "double", "f", "price"),
                NonKeyColumn("l_discount", "double", "f", "disc"),
                NonKeyColumn("l_returnflag", "string", "f", "rflag"),
            ],
            num_regions=16,
            declared_columns=_COLS[:2] + ["l_seq"] + _COLS[2:],
        )
        catalog.create_table(meta)
        rel = AstroRelation(catalog, meta, spark)
        src = (
            spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
            .select(*_COLS)
            .withColumn("l_seq", F.monotonically_increasing_id())
        )
        rel.write(src, align_prefix=1)
        return rel
    meta = catalog.get_table("astro_lineitem")
    return AstroRelation(catalog, meta, spark)


def _pruned(where: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        rel = _ensure_table(spark, sf_dir)
        df, _res = rel.scan_where(where)
        return df.select(*_COLS)

    return run


ASTRO: dict[str, Q] = {}

_ORACLE_PROJ = ", ".join(_COLS)

ASTRO["astro_point_lookup"] = Q(
    spark=_pruned("l_orderkey = 42 AND l_linenumber = 1"),
    oracle=f"SELECT {_ORACLE_PROJ} FROM lineitem WHERE l_orderkey = 42 AND l_linenumber = 1",
    doc="full-key point query through CPR file pruning (touches 1 region; "
    "reference point-Get path HBaseSQLReaderRDD.scala:270-315)",
)

ASTRO["astro_range_scan"] = Q(
    spark=_pruned("l_orderkey BETWEEN 500 AND 600"),
    oracle=f"SELECT {_ORACLE_PROJ} FROM lineitem WHERE l_orderkey BETWEEN 500 AND 600",
    doc="leading-key range scan with region pruning (reference range-Scan path)",
)

ASTRO["astro_in_pruned"] = Q(
    spark=_pruned("l_orderkey IN (7, 423, 981, 1771)"),
    oracle=f"SELECT {_ORACLE_PROJ} FROM lineitem WHERE l_orderkey IN (7, 423, 981, 1771)",
    doc="IN-list multi-point pruning (reference multi-Get)",
)

ASTRO["astro_mixed_residual"] = Q(
    spark=_pruned("l_orderkey > 1400 AND l_quantity > 30 AND l_returnflag = 'R'"),
    oracle=(
        f"SELECT {_ORACLE_PROJ} FROM lineitem "
        "WHERE l_orderkey > 1400 AND l_quantity > 30 AND l_returnflag = 'R'"
    ),
    doc="key-range pruning + non-key residual filter (ScanPredClassifier split)",
)


def _astro_full_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    rel = _ensure_table(spark, sf_dir)
    return (
        rel.scan()
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("rev"),
        )
    )


def _astro_prefix_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-phase (no Exchange) GROUP BY on the leading key column —
    the reference's shuffle-elimination strategy (HBaseStrategies.scala:42-60)."""
    from spark_sql_on_hbase_spark.plans.aggregate import AggSpec, agg_by_key_prefix

    rel = _ensure_table(spark, sf_dir)
    df, _used = agg_by_key_prefix(
        rel,
        ["l_orderkey"],
        [
            AggSpec("n_items", "count"),
            AggSpec("sum_qty", "sum", "l_quantity"),
            AggSpec("max_price", "max", "l_extendedprice"),
        ],
    )
    return df.select(
        "l_orderkey",
        "n_items",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("max_price", 2).alias("max_price"),
    )


ASTRO["astro_prefix_agg_noshuffle"] = Q(
    spark=_astro_prefix_agg,
    oracle="""
    SELECT l_orderkey, count(*) AS n_items,
           round(sum(l_quantity), 2) AS sum_qty,
           round(max(l_extendedprice), 2) AS max_price
    FROM lineitem GROUP BY l_orderkey
    """,
    doc="shuffle-free key-prefix aggregation (one partial agg per region, no Exchange)",
)

ASTRO["astro_table_agg"] = Q(
    spark=_astro_full_agg,
    oracle="""
    SELECT l_returnflag, count(*) AS n,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="aggregation over the Astro region-file scan (inherited surface above the storage layer)",
)


def _ensure_rf_table(spark: SparkSession, sf_dir: str) -> AstroRelation:
    """lineitem keyed (l_returnflag, l_orderkey, l_seq): the leading
    dimension is a 3-value flag, so a predicate on the SECOND dimension
    (l_orderkey) exercises the skip-scan path — per-file pruning is
    impossible (every region holds every flag's orderkey range is wide),
    but the bounded-page sorted layout lets the parquet column index
    seek inside each flag run (relation.py PAGE_ROW_LIMIT; reference
    HBaseCustomFilter.scala:43-647 SEEK_NEXT_USING_HINT /
    generateCPRs :504)."""
    tag = (os.path.basename(sf_dir.rstrip("/")) or "sf") + "_rf_v1"
    wh = os.path.join(_WAREHOUSE, tag)
    catalog = AstroCatalog(wh)
    if not catalog.table_exists("astro_lineitem_rf"):
        meta = TableMeta(
            name="astro_lineitem_rf",
            namespace="default",
            physical_table="h_lineitem_rf",
            key_columns=[
                KeyColumn("l_returnflag", "string", 0),
                KeyColumn("l_orderkey", "long", 1),
                KeyColumn("l_seq", "long", 2),
            ],
            nonkey_columns=[
                NonKeyColumn("l_linenumber", "int", "f", "ln"),
                NonKeyColumn("l_quantity", "double", "f", "qty"),
                NonKeyColumn("l_extendedprice", "double", "f", "price"),
                NonKeyColumn("l_discount", "double", "f", "disc"),
            ],
            num_regions=4,
            declared_columns=["l_returnflag", "l_orderkey", "l_seq"]
            + [c for c in _COLS if c not in ("l_returnflag", "l_orderkey")],
        )
        catalog.create_table(meta)
        rel = AstroRelation(catalog, meta, spark)
        src = (
            spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
            .select(*_COLS)
            .withColumn("l_seq", F.monotonically_increasing_id())
        )
        rel.write(src)
        return rel
    return AstroRelation(catalog, catalog.get_table("astro_lineitem_rf"), spark)


def _astro_skipscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    rel = _ensure_rf_table(spark, sf_dir)
    df, _res = rel.scan_where("l_orderkey BETWEEN 500 AND 600")
    return df.select(*_COLS)


ASTRO["astro_skipscan_dim2"] = Q(
    spark=_astro_skipscan,
    oracle=f"SELECT {_ORACLE_PROJ} FROM lineitem WHERE l_orderkey BETWEEN 500 AND 600",
    doc="skip-scan: range predicate on the 2nd key dim with the leading dim "
    "unconstrained — parquet column-index page seeks inside each leading-prefix "
    "run (tests/test_cf_skipscan.py::test_dim2_skipscan_io pins the IO win)",
)


def _ensure_upsert_table(spark: SparkSession, sf_dir: str) -> AstroRelation:
    """orders keyed by o_orderkey, then an UPDATE fragment for keys < 50:
    totalprice += 1000, orderstatus set to NULL (absent cell — must NOT
    erase the stored status).  Exercises LSM newest-cell-wins merge
    inside the graded battery."""
    tag = (os.path.basename(sf_dir.rstrip("/")) or "sf") + "_ups_v1"
    wh = os.path.join(_WAREHOUSE, tag)
    catalog = AstroCatalog(wh)
    if not catalog.table_exists("astro_orders"):
        meta = TableMeta(
            name="astro_orders",
            namespace="default",
            physical_table="h_orders",
            key_columns=[KeyColumn("o_orderkey", "long", 0)],
            nonkey_columns=[
                NonKeyColumn("o_totalprice", "double", "f", "tp"),
                NonKeyColumn("o_orderstatus", "string", "f", "st"),
            ],
            num_regions=8,
            declared_columns=["o_orderkey", "o_totalprice", "o_orderstatus"],
        )
        catalog.create_table(meta)
        rel = AstroRelation(catalog, meta, spark)
        src = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
            "o_orderkey", "o_totalprice", "o_orderstatus"
        )
        rel.write(src)
        update = src.filter(F.col("o_orderkey") < 50).select(
            "o_orderkey",
            (F.col("o_totalprice") + 1000).alias("o_totalprice"),
            F.lit(None).cast("string").alias("o_orderstatus"),
        )
        rel.append(update)
        return rel
    return AstroRelation(catalog, catalog.get_table("astro_orders"), spark)


def _astro_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    rel = _ensure_upsert_table(spark, sf_dir)
    return rel.scan().select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("totalprice"),
        "o_orderstatus",
    )


def _ensure_stringformat_table(spark: SparkSession, sf_dir: str) -> AstroRelation:
    """part stored IN STRINGFORMAT: every value a decimal/UTF-8 string,
    schema-on-read casts at scan (SURVEY §7 step 8;
    HBaseTpcStringFormatMiniTestSuite semantics)."""
    tag = (os.path.basename(sf_dir.rstrip("/")) or "sf") + "_sfmt_v1"
    wh = os.path.join(_WAREHOUSE, tag)
    catalog = AstroCatalog(wh)
    if not catalog.table_exists("astro_part_sf"):
        from spark_sql_on_hbase_spark.catalog import STRING_FORMAT

        meta = TableMeta(
            name="astro_part_sf",
            namespace="default",
            physical_table="h_part_sf",
            key_columns=[KeyColumn("p_partkey", "long", 0)],
            nonkey_columns=[
                NonKeyColumn("p_name", "string", "f", "n"),
                NonKeyColumn("p_size", "int", "f", "sz"),
                NonKeyColumn("p_retailprice", "double", "f", "rp"),
            ],
            encoding=STRING_FORMAT,
            num_regions=8,
            declared_columns=["p_partkey", "p_name", "p_size", "p_retailprice"],
        )
        catalog.create_table(meta)
        rel = AstroRelation(catalog, meta, spark)
        src = spark.read.parquet(os.path.join(sf_dir, "part.parquet")).select(
            "p_partkey", "p_name", "p_size", "p_retailprice"
        )
        rel.write(src)
        return rel
    return AstroRelation(catalog, catalog.get_table("astro_part_sf"), spark)


def _astro_stringformat_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    rel = _ensure_stringformat_table(spark, sf_dir)
    # the non-key conjunct rides scan_where so the string-space pushdown
    # (predicate.string_pushdown) reaches parquet on the stored strings
    df, _res = rel.scan_where("p_partkey > 100 AND p_partkey <= 300 AND p_size >= 25")
    return df.select(
        "p_partkey", "p_name", "p_size", F.round("p_retailprice", 2).alias("p_retailprice")
    )


ASTRO["astro_stringformat_scan"] = Q(
    spark=_astro_stringformat_scan,
    oracle="""
    SELECT p_partkey, p_name, p_size, round(p_retailprice, 2) AS p_retailprice
    FROM part WHERE p_partkey > 100 AND p_partkey <= 300 AND p_size >= 25
    """,
    doc="stringformat table: string-encoded storage, schema-on-read casts, key "
    "pruning + typed predicates on cast columns",
)


ASTRO["astro_upsert_merge"] = Q(
    spark=_astro_upsert_merge,
    oracle="""
    SELECT o_orderkey,
           round(CASE WHEN o_orderkey < 50 THEN o_totalprice + 1000
                      ELSE o_totalprice END, 2) AS totalprice,
           o_orderstatus
    FROM orders
    """,
    doc="LSM upsert resolution: newest cell wins per column; a NULL in the "
    "newer insert is an absent cell and preserves the older value "
    "(HBase Put/getColumnLatestCell semantics, HBaseRelation.scala:911-941)",
)


def _ensure_write_ops_table(spark: SparkSession, sf_dir: str):
    """Exercise the FULL r6 write surface through the SQL session —
    INSERT INTO → INSERT OVERWRITE (atomic swap) → UPDATE (upsert
    append) → DELETE (survivor rewrite) → MERGE (matched update +
    anti-join insert) — leaving a deterministic table the DuckDB oracle
    recomputes from the orders parquet.  Cached per sf_dir (the mutation
    sequence runs once; reruns scan the finished table)."""
    from spark_sql_on_hbase_spark.session import AstroSession
    from spark_sql_on_hbase_spark.tables import load_tables

    import json
    import time as _t

    tag = (os.path.basename(sf_dir.rstrip("/")) or "sf") + "_wo_v2"
    astro = AstroSession(spark, os.path.join(_WAREHOUSE, tag))
    done = os.path.join(_WAREHOUSE, tag, ".write_ops_done")
    if not os.path.exists(done):
        load_tables(spark, sf_dir)  # `orders` temp view for the sources
        astro.sql(
            "CREATE TABLE IF NOT EXISTS astro_wo (o_orderkey LONG, "
            "o_totalprice DOUBLE, o_orderstatus STRING, PRIMARY KEY (o_orderkey)) "
            "MAPPED BY (h_wo, COLS=[o_totalprice=f.tp, o_orderstatus=f.st])"
        )
        astro.sql(
            "INSERT INTO astro_wo SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders"
        )
        astro.sql(
            "INSERT OVERWRITE astro_wo SELECT o_orderkey, o_totalprice, o_orderstatus "
            "FROM orders WHERE o_orderkey <= 2000"
        )
        astro.sql(
            "UPDATE astro_wo SET o_totalprice = o_totalprice + 500 WHERE o_orderkey < 100"
        )
        astro.sql("DELETE FROM astro_wo WHERE o_orderkey % 10 = 0")
        astro.sql(
            "MERGE INTO astro_wo t USING (SELECT o_orderkey AS k, o_totalprice AS tp, "
            "o_orderstatus AS st FROM orders WHERE o_orderkey <= 2200) s "
            "ON t.o_orderkey = s.k "
            "WHEN MATCHED THEN UPDATE SET o_totalprice = t.o_totalprice + 1 "
            "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice, o_orderstatus) "
            "VALUES (s.k, s.tp, s.st)"
        )
        # r10 (VERDICT r9 #1): a second table under MVCC retention — a
        # NULL-routing UPDATE and a DELETE both take RETAINED rewrites
        # (replaced fragments retired at a new generation, floor
        # unchanged), so the pre-write TIMESTAMP AS OF snapshot below
        # still serves the original values.  The plan facts (history ==
        # "retained", strictly partial rewrite, floor still 0) fold into
        # the probe flag the oracle grades.
        astro.sql(
            "CREATE TABLE IF NOT EXISTS astro_rh (o_orderkey LONG, "
            "o_totalprice DOUBLE, o_orderstatus STRING, PRIMARY KEY (o_orderkey)) "
            "MAPPED BY (h_rh, COLS=[o_totalprice=f.tp, o_orderstatus=f.st]) "
            "OPTIONS (regions=4, retain_history=true)"
        )
        astro.sql(
            "INSERT INTO astro_rh SELECT o_orderkey, o_totalprice, o_orderstatus "
            "FROM orders WHERE o_orderkey <= 1200"
        )
        t_mid = _t.time()
        _t.sleep(0.05)

        def _retained_partial(st):
            return (
                st is not None
                and st.get("history") == "retained"
                and 0 < st["files_rewritten"] < st["files_total"]
            )

        flags = []
        astro.sql(
            "UPDATE astro_rh SET o_orderstatus = NULL "
            "WHERE o_orderkey BETWEEN 200 AND 260"
        )
        flags.append(_retained_partial(astro.last_write_stats))
        astro.sql("DELETE FROM astro_rh WHERE o_orderkey BETWEEN 400 AND 450")
        flags.append(_retained_partial(astro.last_write_stats))
        flags.append(astro.catalog.get_table("astro_rh").history_floor == 0)
        with open(done, "w") as f:
            json.dump({"t_mid": t_mid, "retained_ok": all(flags)}, f)
    with open(done) as f:
        d = json.load(f)
    return astro, float(d["t_mid"]), bool(d["retained_ok"])


def _ensure_bloom_table(spark: SparkSession, sf_dir: str) -> AstroRelation:
    """An LSM state where range pruning is helpless and ROW blooms are
    not (bloom.py — HBase BLOOMFILTER=ROW): generation 0 bulk-loads
    every order key below 1500 EXCEPT those ≡13 (mod 50); three trickle
    appends then each add one mod-150 residue class of the held-out
    keys, so every append fragment SPANS the whole key range.  Any point
    lookup therefore survives range pruning in 1 region + every append
    fragment; the sidecars prove the key absent from the generations
    that never wrote it.  Keys < 1500 exist at every sf, so the
    layout — and the bloom bitmaps — are sf-independent."""
    tag = (os.path.basename(sf_dir.rstrip("/")) or "sf") + "_bloom_v1"
    wh = os.path.join(_WAREHOUSE, tag)
    catalog = AstroCatalog(wh)
    if not catalog.table_exists("astro_bl"):
        meta = TableMeta(
            name="astro_bl",
            namespace="default",
            physical_table="h_bl",
            key_columns=[KeyColumn("o_orderkey", "long", 0)],
            nonkey_columns=[
                NonKeyColumn("o_totalprice", "double", "f", "tp"),
                NonKeyColumn("o_orderstatus", "string", "f", "st"),
            ],
            num_regions=4,
            declared_columns=["o_orderkey", "o_totalprice", "o_orderstatus"],
            bloomfilter="row",
        )
        catalog.create_table(meta)
        rel = AstroRelation(catalog, meta, spark)
        src = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
            "o_orderkey", "o_totalprice", "o_orderstatus"
        ).filter("o_orderkey < 1500")
        rel.write(src.filter("o_orderkey % 50 != 13"))
        for resid in (13, 63, 113):
            rel.append(src.filter(f"o_orderkey % 150 = {resid}"), fragments=1)
        return rel
    return AstroRelation(catalog, catalog.get_table("astro_bl"), spark)


def _bloom_lookup_frame(spark: SparkSession, sf_dir: str, offset: int) -> DataFrame:
    """(o_orderkey+offset, totalprice, o_orderstatus) for the two probe
    keys — 442 (gen 0 only) and 563 (gen 3 only) — plus one probe row
    (-10+offset marker-free; offset folds into the key) asserting the
    sidecars actually skipped fragments: each lookup must read at most
    1 file out of the ≥4 that survive range pruning."""
    from spark_sql_on_hbase_spark.pruning import prune_files

    rel = _ensure_bloom_table(spark, sf_dir)
    out = None
    skipped = 0
    surviving = 0
    for key in (442, 563):
        where = f"o_orderkey = {key}"
        df, res = rel.scan_where(where)
        range_only = len(prune_files(rel.meta, where).files)
        surviving += range_only
        skipped += range_only - len(res.files)
        part = df.select(
            (F.col("o_orderkey") + offset).alias("o_orderkey"),
            F.round("o_totalprice", 2).alias("totalprice"),
            F.col("o_orderstatus"),
        )
        out = part if out is None else out.unionAll(part)
    # ≥4 fragments survive range pruning per lookup (1 region + 3
    # spanning appends); blooms must cut each read set to ≤1 file
    ok = surviving >= 8 and skipped >= surviving - 2
    probe = local_rows_df(spark, 
        [(-10 + offset, 1.0 if ok else 0.0, "bloom_probe")],
        "o_orderkey bigint, totalprice double, o_orderstatus string",
    )
    return out.unionAll(probe)


_BLOOM_ORACLE = """
    SELECT o_orderkey{off} AS o_orderkey, round(o_totalprice, 2) AS totalprice,
           o_orderstatus
    FROM orders WHERE o_orderkey IN (442, 563)
    UNION ALL
    SELECT -10{off}, 1.0, 'bloom_probe'
"""

ASTRO["astro_bloom_lookup"] = Q(
    spark=lambda spark, sf_dir: _bloom_lookup_frame(spark, sf_dir, 0),
    oracle=_BLOOM_ORACLE.format(off=""),
    doc="ROW bloom-sidecar point lookup over a 4-generation LSM state "
    "whose appends all span the key range: range pruning keeps 1 region "
    "+ 3 append fragments, the per-fragment blooms (bloom.py — HBase "
    "BLOOMFILTER=ROW, HFile bloom chunk analog) prove the key absent "
    "from the generations that never wrote it, and the probe row grades "
    "the files-actually-read claim (values grade in-window through "
    "astro_write_ops' +8000000 block)",
)


def _ensure_index_table(spark: SparkSession, sf_dir: str):
    """Secondary-index lifecycle (r12): load orders, CREATE INDEX on the
    non-key o_custkey, then INSERT more rows so the superset maintenance
    path (entries appended before the main commit) is part of the graded
    state — not just the bulk build."""
    from spark_sql_on_hbase_spark.session import AstroSession
    from spark_sql_on_hbase_spark.tables import load_tables

    tag = (os.path.basename(sf_dir.rstrip("/")) or "sf") + "_six_v1"
    astro = AstroSession(spark, os.path.join(_WAREHOUSE, tag))
    done = os.path.join(_WAREHOUSE, tag, ".index_done")
    if not os.path.exists(done):
        load_tables(spark, sf_dir)
        astro.sql(
            "CREATE TABLE IF NOT EXISTS astro_six (o_orderkey LONG, "
            "o_custkey LONG, o_totalprice DOUBLE, PRIMARY KEY (o_orderkey)) "
            "MAPPED BY (h_six, COLS=[o_custkey=f.ck, o_totalprice=f.tp]) "
            "OPTIONS (regions=8)"
        )
        astro.sql(
            "INSERT INTO astro_six SELECT o_orderkey, o_custkey, o_totalprice FROM orders"
        )
        astro.sql("CREATE INDEX ON astro_six (o_custkey)")
        # post-index writes flow through the maintenance hook
        astro.sql(
            "INSERT INTO astro_six SELECT o_orderkey + 500000, o_custkey, "
            "o_totalprice FROM orders WHERE o_custkey = 7 AND o_orderkey < 1000"
        )
        with open(done, "w") as f:
            f.write("1")
    return astro


def _index_lookup_frame(spark: SparkSession, sf_dir: str, offset: int) -> DataFrame:
    """(o_orderkey+offset, o_custkey, totalprice) for the two probed
    customers plus a probe row asserting the scan actually routed
    through the index."""
    astro = _ensure_index_table(spark, sf_dir)
    rel = astro.relation("astro_six")
    df, res = rel.scan_where("o_custkey IN (42, 7)")
    # r13: pin the MODE too — a silent downgrade to semijoin/full here
    # would mean the candidate path stopped serving a ~150-key lookup
    ok = res.index_used == "o_custkey" and res.index_mode == "augment"
    if offset:
        # write_ops fold shape (o_orderkey, totalprice, o_orderstatus):
        # the customer id rides the price (exact integer multiple)
        out = df.select(
            (F.col("o_orderkey") + offset).alias("o_orderkey"),
            (F.round("o_totalprice", 2) + F.col("o_custkey") * 10000000)
            .alias("totalprice"),
            F.lit("index").alias("o_orderstatus"),
        )
        probe = local_rows_df(
            spark,
            [(-11 + offset, 1.0 if ok else 0.0, "index_probe")],
            "o_orderkey bigint, totalprice double, o_orderstatus string",
        )
        return out.unionAll(probe)
    out = df.select(
        "o_orderkey",
        F.col("o_custkey"),
        F.round("o_totalprice", 2).alias("totalprice"),
    )
    probe = local_rows_df(
        spark,
        [(-11, -1, 1.0 if ok else 0.0)],
        "o_orderkey bigint, o_custkey bigint, totalprice double",
    )
    return out.unionAll(probe)


_INDEX_ORACLE = """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
    FROM orders WHERE o_custkey IN (42, 7)
    UNION ALL
    SELECT o_orderkey + 500000, o_custkey, round(o_totalprice, 2)
    FROM orders WHERE o_custkey = 7 AND o_orderkey < 1000
    UNION ALL
    SELECT -11, -1, 1.0
"""

ASTRO["astro_index_lookup"] = Q(
    spark=lambda spark, sf_dir: _index_lookup_frame(spark, sf_dir, 0),
    oracle=_INDEX_ORACLE,
    doc="secondary-index lookup (r12 — Phoenix-global-index analog the "
    "reference lacks: it residual-filters a full scan for non-key "
    "predicates): CREATE INDEX ON astro_six (o_custkey) builds a derived "
    "astro table keyed (o_custkey, o_orderkey), superset-maintained on "
    "every write; the =/IN scan routes through a capped candidate-key "
    "lookup with the full predicate re-applied, and the probe row grades "
    "that the index actually engaged (values grade in-window through "
    "astro_write_ops' +10000000 block)",
)


def _index_range_frame(spark: SparkSession, sf_dir: str, offset: int) -> DataFrame:
    """r13 (VERDICT r12 #2) — the two NEW index paths over astro_six:

    - block A (``+offset``): a RANGE predicate on the indexed non-key
      o_custkey routes as an index-side range scan feeding the ≤cap
      candidate augment (r12 served only =/IN; a range got a full scan);
    - block B (``+offset+1000000``): an OVER-CAP range (cap lowered to
      128 so the path engages at every graded sf — ~310 candidates)
      becomes the DISTRIBUTED semi-join: min/max bounds fold into the
      pruning predicate, the distinct key frame leftsemi-joins the main
      scan, candidate keys never visit the driver.

    Each block carries a probe row grading that the intended mode
    actually engaged (index_used + index_mode from PruneResult)."""
    astro = _ensure_index_table(spark, sf_dir)
    rel = astro.relation("astro_six")
    df_a, res_a = rel.scan_where("o_custkey BETWEEN 40 AND 44")
    ok_a = res_a.index_used == "o_custkey" and res_a.index_mode == "augment"
    old = rel.INDEX_LOOKUP_CAP
    try:
        rel.INDEX_LOOKUP_CAP = 128
        df_b, res_b = rel.scan_where("o_custkey BETWEEN 10 AND 40")
        ok_b = res_b.index_used == "o_custkey" and res_b.index_mode == "semijoin"
    finally:
        rel.INDEX_LOOKUP_CAP = old
    if offset:
        # write_ops fold shape (o_orderkey, totalprice, o_orderstatus)
        a = df_a.select(
            (F.col("o_orderkey") + offset).alias("o_orderkey"),
            (F.round("o_totalprice", 2) + F.col("o_custkey") * 10000000)
            .alias("totalprice"),
            F.lit("ixrange").alias("o_orderstatus"),
        )
        b = df_b.select(
            (F.col("o_orderkey") + offset + 1000000).alias("o_orderkey"),
            (F.round("o_totalprice", 2) + F.col("o_custkey") * 10000000)
            .alias("totalprice"),
            F.lit("ixsemijoin").alias("o_orderstatus"),
        )
        probes = local_rows_df(
            spark,
            [
                (-12 + offset, 1.0 if ok_a else 0.0, "ixrange_probe"),
                (-13 + offset, 1.0 if ok_b else 0.0, "ixsj_probe"),
            ],
            "o_orderkey bigint, totalprice double, o_orderstatus string",
        )
        return a.unionAll(b).unionAll(probes)
    a = df_a.select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("totalprice")
    )
    b = df_b.select(
        (F.col("o_orderkey") + 20000000).alias("o_orderkey"),
        "o_custkey",
        F.round("o_totalprice", 2).alias("totalprice"),
    )
    probes = local_rows_df(
        spark,
        [(-12, -1, 1.0 if ok_a else 0.0), (-13, -1, 1.0 if ok_b else 0.0)],
        "o_orderkey bigint, o_custkey bigint, totalprice double",
    )
    return a.unionAll(b).unionAll(probes)


ASTRO["astro_index_range"] = Q(
    spark=lambda spark, sf_dir: _index_range_frame(spark, sf_dir, 0),
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
    FROM orders WHERE o_custkey BETWEEN 40 AND 44
    UNION ALL
    SELECT o_orderkey + 20000000, o_custkey, round(o_totalprice, 2)
    FROM orders WHERE o_custkey BETWEEN 10 AND 40
    UNION ALL
    SELECT -12, -1, 1.0
    UNION ALL
    SELECT -13, -1, 1.0
    """,
    doc="r13 distributed index paths (Phoenix global-index join analog; "
    "the reference residual-filters a full scan for every non-key "
    "predicate, HBaseRelation.scala:552-642): a range on the indexed "
    "o_custkey becomes an index range scan + candidate augment, and an "
    "over-cap range becomes bounds pruning + a distributed leftsemi join "
    "of the index key frame against the main scan — probes grade that "
    "each mode actually engaged (values also fold in-window through "
    "astro_write_ops' +11000000/+12000000 blocks)",
)


def _ensure_composite_index_table(spark: SparkSession, sf_dir: str):
    """r15 composite-index lifecycle (VERDICT r14 #8): orders loaded,
    CREATE INDEX ON t (o_custkey, o_orderstatus) — the index table is
    keyed (o_custkey, o_orderstatus, o_orderkey, _g)."""
    from spark_sql_on_hbase_spark.session import AstroSession
    from spark_sql_on_hbase_spark.tables import load_tables

    tag = (os.path.basename(sf_dir.rstrip("/")) or "sf") + "_cidx_v1"
    astro = AstroSession(spark, os.path.join(_WAREHOUSE, tag))
    done = os.path.join(_WAREHOUSE, tag, ".cidx_done")
    if not os.path.exists(done):
        load_tables(spark, sf_dir)
        astro.sql(
            "CREATE TABLE IF NOT EXISTS astro_cidx (o_orderkey LONG, "
            "o_custkey LONG, o_orderstatus STRING, o_totalprice DOUBLE, "
            "PRIMARY KEY (o_orderkey)) "
            "MAPPED BY (h_cidx, COLS=[o_custkey=f.ck, o_orderstatus=f.st, "
            "o_totalprice=f.tp]) OPTIONS (regions=8)"
        )
        astro.sql(
            "INSERT INTO astro_cidx SELECT o_orderkey, o_custkey, "
            "o_orderstatus, o_totalprice FROM orders"
        )
        astro.sql("CREATE INDEX ON astro_cidx (o_custkey, o_orderstatus)")
        # an append through the maintenance path (composite source frame)
        astro.sql(
            "INSERT INTO astro_cidx SELECT o_orderkey + 10000000, o_custkey, "
            "o_orderstatus, o_totalprice FROM orders "
            "WHERE o_custkey = 42 AND o_orderkey < 1000"
        )
        with open(done, "w") as f:
            f.write("1")
    return astro


def _composite_index_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite (a, b) conjuncts route through the two-column index;
    a b-only lookup is DECLINED with a recorded reason.  The probe row
    grades the engaged route (index_used + mode + fewer candidates than
    the leading column alone) and the decline (index_declined naming
    the non-leading column)."""
    astro = _ensure_composite_index_table(spark, sf_dir)
    rel = astro.relation("astro_cidx")
    df, res = rel.scan_where("o_custkey = 42 AND o_orderstatus = 'O'")
    _df_lead, res_lead = rel.scan_where("o_custkey = 42")
    _df_b, res_b = rel.scan_where("o_orderstatus = 'F'")
    ok = (
        res.index_used == "o_custkey"
        and res.index_mode in ("augment", "semijoin")
        and rel.meta.index_info["o_custkey"]["cols"]
        == ["o_custkey", "o_orderstatus"]
        and res.index_candidates is not None
        and res_lead.index_candidates is not None
        and res.index_candidates < res_lead.index_candidates
        and res_b.index_used is None
        and "non-leading" in (res_b.index_declined or "")
    )
    out = df.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("totalprice"),
    )
    probe = local_rows_df(
        spark,
        [(-16, -1, "probe", 1.0 if ok else 0.0)],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "totalprice double",
    )
    return out.unionAll(probe)


ASTRO["astro_index_composite"] = Q(
    spark=_composite_index_frame,
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           round(o_totalprice, 2) AS totalprice
    FROM orders WHERE o_custkey = 42 AND o_orderstatus = 'O'
    UNION ALL
    SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
           round(o_totalprice, 2)
    FROM orders
    WHERE o_custkey = 42 AND o_orderkey < 1000 AND o_orderstatus = 'O'
    UNION ALL
    SELECT -16, -1, 'probe', 1.0
    """,
    doc="r15 composite secondary index (VERDICT r14 #8 — Phoenix "
    "multi-column parity): CREATE INDEX ON astro_cidx (o_custkey, "
    "o_orderstatus) keys the index table (o_custkey, o_orderstatus, "
    "o_orderkey, _g); (a, b) conjuncts route with the deeper conjunct "
    "pruning the index scan's second rowkey dimension (probe grades "
    "strictly fewer candidates than the leading column alone), and an "
    "o_orderstatus-only lookup is declined with a recorded reason "
    "(EXPLAIN SCAN shows it); rows unindexable through a deeper column "
    "gate leading-only routes via the sticky deep_unindexed flag "
    "(tests/test_composite_index.py)",
)


def _ensure_covering_table(spark: SparkSession, sf_dir: str):
    """Covering-index lifecycle (r13): orders loaded, CREATE INDEX ...
    INCLUDE (o_totalprice), then an APPEND — pure appends preserve the
    index-only-read precondition (``clean``), so the graded scan runs
    against a post-write state, not just the bulk build."""
    from spark_sql_on_hbase_spark.session import AstroSession
    from spark_sql_on_hbase_spark.tables import load_tables

    tag = (os.path.basename(sf_dir.rstrip("/")) or "sf") + "_cov_v2"
    astro = AstroSession(spark, os.path.join(_WAREHOUSE, tag))
    done = os.path.join(_WAREHOUSE, tag, ".cov_done")
    if not os.path.exists(done):
        load_tables(spark, sf_dir)
        astro.sql(
            "CREATE TABLE IF NOT EXISTS astro_cov (o_orderkey LONG, "
            "o_custkey LONG, o_totalprice DOUBLE, PRIMARY KEY (o_orderkey)) "
            "MAPPED BY (h_cov, COLS=[o_custkey=f.ck, o_totalprice=f.tp]) "
            "OPTIONS (regions=8)"
        )
        astro.sql(
            "INSERT INTO astro_cov SELECT o_orderkey, o_custkey, o_totalprice FROM orders"
        )
        astro.sql("CREATE INDEX ON astro_cov (o_custkey) INCLUDE (o_totalprice)")
        # append keys ABOVE every sf's o_orderkey range — pure appends
        # preserve ``clean``
        astro.sql(
            "INSERT INTO astro_cov SELECT o_orderkey + 10000000, o_custkey, "
            "o_totalprice FROM orders WHERE o_custkey = 42 AND o_orderkey < 1000"
        )
        # r14 (VERDICT r13 #2): a SHADOWING upsert — every o_custkey=7
        # row gets a new version (needs_merge flips True); the covering
        # scan must stay INDEX-ONLY via merge-on-read and return these
        # post-upsert values.  o_orderkey + 0.25 is exact in doubles on
        # both engines, so the oracle reproduces it bit-identically.
        astro.sql(
            "UPDATE astro_cov SET o_totalprice = o_orderkey + 0.25 "
            "WHERE o_custkey = 7"
        )
        with open(done, "w") as f:
            f.write("1")
    return astro


def _covering_frame(spark: SparkSession, sf_dir: str, offset: int) -> DataFrame:
    """Covering scan over astro_cov: the probed customers' rows served
    from the INDEX TABLE ALONE — the probe row grades both the engaged
    mode and the physical claim (every input file is an index fragment,
    none from the main table)."""
    astro = _ensure_covering_table(spark, sf_dir)
    rel = astro.relation("astro_cov")
    df, res = rel.scan_covering(
        "o_custkey IN (42, 7)", ["o_orderkey", "o_custkey", "o_totalprice"]
    )
    files = df.inputFiles()
    ok = (
        res.index_mode == "covering"
        and res.index_used == "o_custkey"
        and len(files) > 0
        and all("idx_" in f for f in files)
        # r14: the lifecycle ends on a shadowing upsert, so the probe
        # additionally grades that the scan ran UNDER pending upserts
        # and took the index-side merge-on-read path
        and rel.needs_merge()
        and res.index_merge is True
    )
    if offset:
        out = df.select(
            (F.col("o_orderkey") + offset).alias("o_orderkey"),
            (F.round("o_totalprice", 2) + F.col("o_custkey") * 10000000)
            .alias("totalprice"),
            F.lit("covering").alias("o_orderstatus"),
        )
        probe = local_rows_df(
            spark,
            [(-14 + offset, 1.0 if ok else 0.0, "covering_probe")],
            "o_orderkey bigint, totalprice double, o_orderstatus string",
        )
        return out.unionAll(probe)
    out = df.select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("totalprice")
    )
    probe = local_rows_df(
        spark,
        [(-14, -1, 1.0 if ok else 0.0)],
        "o_orderkey bigint, o_custkey bigint, totalprice double",
    )
    return out.unionAll(probe)


ASTRO["astro_covering_index"] = Q(
    spark=lambda spark, sf_dir: _covering_frame(spark, sf_dir, 0),
    oracle="""
    SELECT o_orderkey, o_custkey,
           round(CASE WHEN o_custkey = 7 THEN o_orderkey + 0.25
                      ELSE o_totalprice END, 2) AS totalprice
    FROM orders WHERE o_custkey IN (42, 7)
    UNION ALL
    SELECT o_orderkey + 10000000, o_custkey, round(o_totalprice, 2)
    FROM orders WHERE o_custkey = 42 AND o_orderkey < 1000
    UNION ALL
    SELECT -14, -1, 1.0
    """,
    doc="covering index (r13 — Phoenix covered-column analog): CREATE "
    "INDEX ON astro_cov (o_custkey) INCLUDE (o_totalprice); a query "
    "projecting ⊆ (o_custkey ∪ keys ∪ include) answers from the index "
    "table alone — the probe row grades index_mode=covering AND that "
    "every input file is an index fragment (values also fold in-window "
    "through astro_write_ops' +13000000 block).  r14 (VERDICT r13 #2): "
    "the lifecycle ends on a SHADOWING UPSERT of every o_custkey=7 row; "
    "the scan must stay index-only by resolving newest-wins per main "
    "key on the index side (merge-on-read, index_info merge_exact) and "
    "return the post-upsert values — the probe additionally grades "
    "needs_merge AND index_merge",
)


def _covering_sql_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r15 (VERDICT r14 #6): the ENGINE'S OWN SQL entry point routes a
    plain SELECT through the covering index — no scan_covering call in
    sight.  The probe grades that hql() recorded a covering route AND
    that every input file of the returned frame is an index fragment
    (under the same pending-upsert state as astro_covering_index, so
    the routed plan is the merge-on-read one)."""
    astro = _ensure_covering_table(spark, sf_dir)
    rel = astro.relation("astro_cov")
    df = astro.sql(
        "SELECT o_orderkey, o_custkey, o_totalprice FROM astro_cov "
        "WHERE o_custkey IN (42, 7)"
    )
    res = astro.last_select_route
    files = df.inputFiles()
    ok = (
        res is not None
        and res.index_mode == "covering"
        and res.index_used == "o_custkey"
        and len(files) > 0
        and all("idx_" in f for f in files)
        and rel.needs_merge()
        and res.index_merge is True
    )
    out = df.select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("totalprice")
    )
    probe = local_rows_df(
        spark,
        [(-15, -1, 1.0 if ok else 0.0)],
        "o_orderkey bigint, o_custkey bigint, totalprice double",
    )
    return out.unionAll(probe)


ASTRO["astro_covering_sql"] = Q(
    spark=_covering_sql_frame,
    oracle="""
    SELECT o_orderkey, o_custkey,
           round(CASE WHEN o_custkey = 7 THEN o_orderkey + 0.25
                      ELSE o_totalprice END, 2) AS totalprice
    FROM orders WHERE o_custkey IN (42, 7)
    UNION ALL
    SELECT o_orderkey + 10000000, o_custkey, round(o_totalprice, 2)
    FROM orders WHERE o_custkey = 42 AND o_orderkey < 1000
    UNION ALL
    SELECT -15, -1, 1.0
    """,
    doc="r15 covering-index planner integration (VERDICT r14 #6): an "
    "ordinary hql() SELECT whose projection ∪ predicate ⊆ the covered "
    "set routes through AstroRelation.covering_plan and reads ONLY "
    "index fragments — the session records the decision in "
    "last_select_route, graded by the probe row together with the "
    "physical input-files claim and the pending-upsert (merge-on-read) "
    "state; ineligible shapes pass through spark.sql untouched "
    "(tests/test_covering_sql_routing.py pins seven of them)",
)


def _ensure_vector_index_table(spark: SparkSession, sf_dir: str):
    """r15 vector-index lifecycle (VERDICT r14 #2): a table with an
    embedding column, CREATE VECTOR INDEX ... USING IVF, then an APPEND
    whose maintenance runs the incremental ivf_index_append (drift
    guard recorded in the registration)."""
    from spark_sql_on_hbase_spark.session import AstroSession
    from spark_sql_on_hbase_spark.tables import load_tables

    tag = (os.path.basename(sf_dir.rstrip("/")) or "sf") + "_vidx_v1"
    astro = AstroSession(spark, os.path.join(_WAREHOUSE, tag))
    done = os.path.join(_WAREHOUSE, tag, ".vidx_done")
    if not os.path.exists(done):
        load_tables(spark, sf_dir)
        astro.sql(
            "CREATE TABLE IF NOT EXISTS astro_vec (vec_id LONG, "
            "embedding ARRAY<DOUBLE>, PRIMARY KEY (vec_id)) "
            "MAPPED BY (h_vec, COLS=[embedding=f.e]) OPTIONS (regions=4)"
        )
        astro.sql(
            "INSERT INTO astro_vec SELECT vec_id, embedding FROM embeddings "
            "WHERE vec_id % 10 <> 0"
        )
        astro.sql(
            "CREATE VECTOR INDEX ON astro_vec (embedding) USING IVF "
            "OPTIONS(ncentroids=16, trained=false)"
        )
        # the APPEND: maintenance must run ivf_index_append (encode only
        # the arriving vectors) and record the drift verdict
        astro.sql(
            "INSERT INTO astro_vec SELECT vec_id, embedding FROM embeddings "
            "WHERE vec_id % 10 = 0"
        )
        with open(done, "w") as f:
            f.write("1")
    return astro


def _vector_index_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 THROUGH the registered IVF index: nprobe=ncentroids
    probes every inverted list, so the result equals brute-force cosine
    over the full (base + appended) corpus — the DuckDB oracle — while
    the scan physically runs over the index's partitioned layout.  The
    probe row additionally grades: registration (kind=ivf, not stale),
    the append-maintenance evidence (drift recorded, appended = the
    batch size), and PARTITION PRUNING — a second nprobe=4 query must
    read exactly 4 of the 16 inverted-list directories."""
    from spark_sql_on_hbase_spark.plans.metrics import scan_partition_files

    astro = _ensure_vector_index_table(spark, sf_dir)
    rel = astro.relation("astro_vec")
    emb = rel.scan()
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = rel.vector_topk(queries, k=5, nprobe=16).select(
        "query_id", "neighbor_id", "cos_sim", F.col("rank").cast("long").alias("rank")
    )
    info = rel.meta.vector_indexes.get("embedding", {})
    drift = (info.get("drift") or {}).get("ivf") or {}
    n_appended = emb.filter(F.col("vec_id") % 10 == 0).count()
    pruned = rel.vector_topk(queries.limit(1), k=3, nprobe=4)
    pruned.write.mode("overwrite").format("noop").save()
    vidx = os.path.basename(rel.vector_index_path("embedding"))
    parts, _files = scan_partition_files(pruned, f"{vidx}/assign")
    ok = (
        info.get("kind") == "ivf"
        and info.get("stale") is False
        and drift.get("appended") == n_appended
        and drift.get("retrain_recommended") in (True, False)
        and parts == 4
    )
    probe = local_rows_df(
        spark,
        [(-1, -1, 1.0 if ok else 0.0, 0)],
        "query_id bigint, neighbor_id bigint, cos_sim double, rank bigint",
    )
    return out.unionAll(probe)


ASTRO["astro_vector_index"] = Q(
    spark=_vector_index_frame,
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]), 4) AS cos_sim
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5
    UNION ALL
    SELECT -1, -1, 1.0, 0
    """,
    doc="r15 catalog-managed vector index (VERDICT r14 #2): CREATE "
    "VECTOR INDEX ON astro_vec (embedding) USING IVF OPTIONS("
    "ncentroids=16, trained=false); an append then exercises the "
    "registered incremental maintenance (ivf_index_append drift guard "
    "recorded in TableMeta, surfaced by DESCRIBE EXTENDED).  The query "
    "serves THROUGH the index (vector_topk) with nprobe=ncentroids, so "
    "values equal brute-force cosine over the post-append corpus (the "
    "oracle), while the probe row grades registration, the recorded "
    "append-maintenance evidence, and static partition pruning (an "
    "nprobe=4 query reads exactly 4 of 16 inverted-list directories)",
)


def _astro_write_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    astro, t_mid, retained_ok = _ensure_write_ops_table(spark, sf_dir)
    # the retained-history branch keys are offset so the blocks stay
    # distinguishable inside one value-hashed result set: +1000000
    # = the retained table's PRESENT, +2000000 = its pre-write snapshot,
    # +3000000 = the change-data feed (r10; change type folded into the
    # status column, commit generation into the price), +4000000 = the
    # retained table's SQL change feed (r11), +5000000/+5500000 = the
    # RESTORE lifecycle present/pre-restore (r12 — the r11 tail oracle
    # folded into the driver window, VERDICT r11 #5), +6000000 = its
    # DESCRIBE HISTORY rows, +7000000 = the incremental consumer's
    # batched feed with window bounds folded into the price
    base = astro.sql(
        "SELECT o_orderkey, round(o_totalprice, 2) AS totalprice, o_orderstatus "
        "FROM astro_wo "
        "UNION ALL "
        "SELECT o_orderkey + 1000000, round(o_totalprice, 2), o_orderstatus "
        "FROM astro_rh "
        "UNION ALL "
        "SELECT o_orderkey + 2000000, round(o_totalprice, 2), o_orderstatus "
        f"FROM astro_rh TIMESTAMP AS OF {t_mid!r} "
        "UNION ALL "
        # r11 (VERDICT r10 #1/#2): the retained table's change feed via
        # the SQL surface — DELETE events carry pre-image values and the
        # retiring generation; NOOP FILTER drops the island rewrite's
        # unchanged survivors so the oracle is exact (+4000000 block,
        # commit generation folded into the price)
        "SELECT o_orderkey + 4000000, "
        "round(o_totalprice, 2) + CAST(_commit_seq AS DOUBLE) * 10000000, "
        "_change_type "
        "FROM astro_rh CHANGES FROM 0 WITH NOOP FILTER "
        "UNION ALL "
        f"SELECT -7, {'1.0' if retained_ok else '0.0'}, 'retained_probe'"
    )
    tt_astro, _ = _ensure_timetravel_table(spark, sf_dir)
    feed = tt_astro.relation("astro_tt").changes(0)
    out = base.unionAll(
        feed.select(
            (F.col("o_orderkey") + 3000000).alias("o_orderkey"),
            (F.round("o_totalprice", 2) + F.col("_commit_seq") * 10000000)
            .alias("totalprice"),
            F.col("_change_type").alias("o_orderstatus"),
        )
    )
    # r12 (VERDICT r11 #5): the RESTORE + DESCRIBE HISTORY values, judged
    # r11 in the tail, now hash in-window every round
    rs_astro, pre_seq, rs_ok = _ensure_restore_table(spark, sf_dir)
    rs = rs_astro.sql(
        "SELECT o_orderkey + 5000000, round(o_totalprice, 2) AS totalprice, "
        "'rs_present' AS o_orderstatus FROM astro_rs "
        "UNION ALL "
        "SELECT o_orderkey + 5500000, round(o_totalprice, 2), 'rs_prerestore' "
        f"FROM astro_rs VERSION AS OF {pre_seq} "
        "UNION ALL "
        f"SELECT -8, {'1.0' if rs_ok else '0.0'}, 'restore_probe'"
    )
    hist = rs_astro.sql("DESCRIBE HISTORY astro_rs").select(
        (F.col("generation").cast("long") + 6000000).alias("o_orderkey"),
        F.col("generation").cast("double").alias("totalprice"),
        F.concat_ws("/", "operation", "snapshot").alias("o_orderstatus"),
    )
    # r12 (VERDICT r11 #5): the incremental consumer (stream_changes) —
    # per-generation batches from a fresh durable offset, window bounds
    # folded into the price, drain/re-drain counts in the probe
    import shutil
    import tempfile

    from spark_sql_on_hbase_spark.streaming import stream_changes

    os.makedirs(_WAREHOUSE, exist_ok=True)
    ckpt_dir = tempfile.mkdtemp(prefix=".cdcw_", dir=_WAREHOUSE)
    ckpt = os.path.join(ckpt_dir, "offset.json")
    batches: list = []
    rel_tt = tt_astro.relation("astro_tt")
    n1 = stream_changes(
        rel_tt, lambda df, lo, hi: batches.append((df, lo, hi)), ckpt,
        batch_generations=1,
    )
    n2 = stream_changes(  # resumes at the committed offset: zero batches
        rel_tt, lambda df, lo, hi: batches.append((df, lo, hi)), ckpt,
        batch_generations=1,
    )
    cons = None
    for df, lo, hi in batches:
        part = df.select(
            (F.col("o_orderkey") + 7000000).alias("o_orderkey"),
            (
                F.round("o_totalprice", 2)
                + F.lit(lo) * 10000000
                + F.lit(hi) * 100000000
            ).alias("totalprice"),
            F.col("_change_type").alias("o_orderstatus"),
        )
        cons = part if cons is None else cons.unionAll(part)
    probe = local_rows_df(spark, 
        [(-9, float(n1) + 100.0 * float(n2), "consumer_probe")],
        "o_orderkey bigint, totalprice double, o_orderstatus string",
    )
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    out = out.unionAll(rs).unionAll(hist)
    if cons is not None:
        out = out.unionAll(cons)
    # r12: ROW bloom-sidecar lookup values + files-read probe (+8000000
    # block) — the tail entry astro_bloom_lookup folded in-window
    out = out.unionAll(_bloom_lookup_frame(spark, sf_dir, 8000000))
    # r12: secondary-index lookup values + index-engaged probe
    # (+10000000 block) — the tail entry astro_index_lookup folded
    # in-window; the index frame's 3 columns match by position
    out = out.unionAll(_index_lookup_frame(spark, sf_dir, 10000000))
    # r13: the range-augment (+11000000) and over-cap semi-join
    # (+12000000) index paths, each with a mode-engaged probe row — a
    # silently-disengaged accelerator now fails CORRECTNESS, not just a
    # bench gate (VERDICT r12 #7)
    out = out.unionAll(_index_range_frame(spark, sf_dir, 11000000))
    # r13: covering-index scan values + index-only probe (+13000000)
    out = out.unionAll(_covering_frame(spark, sf_dir, 13000000))
    return out.unionAll(probe)


def _ensure_delete_pruned_table(spark: SparkSession, sf_dir: str):
    """Exercise the r7 REGION-PRUNED write paths end-to-end: a sargable
    DELETE, an UPDATE whose SET nulls a non-null cell (routed through the
    pruned rewrite — the upsert append would silently keep the old
    value), and a delete-only MERGE pruned by the source's key bounds.
    Each must rewrite STRICTLY FEWER fragment files than the table holds
    (plus a no-op DELETE that must rewrite zero); the conjunction of
    those plan facts is persisted and surfaced as a probe row, so the
    oracle grades the physical claim alongside the row values
    (VERDICT r6 #1; session.py rewrite routing; relation.rewrite_pruned)."""
    import json

    from spark_sql_on_hbase_spark.session import AstroSession
    from spark_sql_on_hbase_spark.tables import load_tables

    tag = (os.path.basename(sf_dir.rstrip("/")) or "sf") + "_dp_v3"
    astro = AstroSession(spark, os.path.join(_WAREHOUSE, tag))
    done = os.path.join(_WAREHOUSE, tag, ".delete_pruned_done")
    if not os.path.exists(done):
        load_tables(spark, sf_dir)
        astro.sql(
            "CREATE TABLE IF NOT EXISTS astro_dp (o_orderkey LONG, "
            "o_totalprice DOUBLE, o_orderstatus STRING, PRIMARY KEY (o_orderkey)) "
            "MAPPED BY (h_dp, COLS=[o_totalprice=f.tp, o_orderstatus=f.st]) "
            "OPTIONS (regions=8)"
        )
        astro.sql(
            "INSERT INTO astro_dp SELECT o_orderkey, o_totalprice, o_orderstatus "
            "FROM orders WHERE o_orderkey <= 4000"
        )

        def _pruned(st):  # strictly partial rewrite
            return st is not None and 0 < st["files_rewritten"] < st["files_total"]

        flags = []
        astro.sql("DELETE FROM astro_dp WHERE o_orderkey BETWEEN 500 AND 700")
        flags.append(_pruned(astro.last_write_stats))
        astro.sql(
            "UPDATE astro_dp SET o_orderstatus = NULL "
            "WHERE o_orderkey BETWEEN 900 AND 950"
        )
        flags.append(_pruned(astro.last_write_stats))
        astro.sql(
            "MERGE INTO astro_dp t USING (SELECT o_orderkey AS k FROM orders "
            "WHERE o_orderkey BETWEEN 1200 AND 1300) s ON t.o_orderkey = s.k "
            "WHEN MATCHED THEN DELETE"
        )
        flags.append(_pruned(astro.last_write_stats))
        astro.sql("DELETE FROM astro_dp WHERE o_orderkey = 99999999")
        st = astro.last_write_stats
        flags.append(st is not None and st["files_rewritten"] == 0)
        with open(done, "w") as f:
            json.dump({"pruned_ok": all(flags)}, f)
    with open(done) as f:
        return astro, bool(json.load(f)["pruned_ok"])


def _astro_delete_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    astro, pruned_ok = _ensure_delete_pruned_table(spark, sf_dir)
    return astro.sql(
        "SELECT o_orderkey, round(o_totalprice, 2) AS totalprice, "
        "o_orderstatus AS status FROM astro_dp "
        f"UNION ALL SELECT -1, {'1.0' if pruned_ok else '0.0'}, 'probe'"
    )


ASTRO["astro_delete_pruned"] = Q(
    spark=_astro_delete_pruned,
    oracle="""
    SELECT o_orderkey,
           round(o_totalprice, 2) AS totalprice,
           CASE WHEN o_orderkey BETWEEN 900 AND 950 THEN NULL
                ELSE o_orderstatus END AS status
    FROM orders
    WHERE o_orderkey <= 4000
      AND o_orderkey NOT BETWEEN 500 AND 700
      AND o_orderkey NOT BETWEEN 1200 AND 1300
    UNION ALL SELECT -1, 1.0, 'probe'
    """,
    doc="r7 region-pruned write paths: sargable DELETE, NULL-assigning "
    "UPDATE (pruned rewrite — not the value-losing upsert append), "
    "delete-only MERGE pruned by source key bounds, and a no-op DELETE; "
    "the probe row pins the physical claim (strict partial rewrites, "
    "zero files for the no-op) alongside the surviving row values",
)


def _ensure_timetravel_table(spark: SparkSession, sf_dir: str):
    """r8 (VERDICT r7 #6): a 2-generation table for grading time travel
    end-to-end — bulk generation 0 from orders (keys <= 1500), then an
    upsert overlay generation 1 (+1000 on keys <= 300), with the
    inter-generation wall-clock persisted in the done marker so the
    TIMESTAMP AS OF resolution is reproducible across rounds.  The query
    joins the timestamp-resolved generation-0 snapshot to the CURRENT
    state, which itself requires merge-on-read resolution (gen-1
    fragments overlap gen-0 keys) — snapshot selection, timestamp →
    generation resolution, and newest-cell-wins merging all grade
    against one oracle recomputed from the raw orders parquet."""
    import json
    import time as _t

    from spark_sql_on_hbase_spark.session import AstroSession
    from spark_sql_on_hbase_spark.tables import load_tables

    tag = (os.path.basename(sf_dir.rstrip("/")) or "sf") + "_tt_v3"
    astro = AstroSession(spark, os.path.join(_WAREHOUSE, tag))
    done = os.path.join(_WAREHOUSE, tag, ".timetravel_done")
    if not os.path.exists(done):
        load_tables(spark, sf_dir)
        astro.sql(
            "CREATE TABLE IF NOT EXISTS astro_tt (o_orderkey LONG, "
            "o_totalprice DOUBLE, PRIMARY KEY (o_orderkey)) "
            "MAPPED BY (h_tt, COLS=[o_totalprice=f.tp]) OPTIONS (regions=4)"
        )
        astro.sql(
            "INSERT INTO astro_tt SELECT o_orderkey, o_totalprice "
            "FROM orders WHERE o_orderkey <= 1500"
        )
        t_mid = _t.time()
        _t.sleep(0.05)
        astro.sql(
            "INSERT INTO astro_tt SELECT o_orderkey, o_totalprice + 1000 "
            "FROM orders WHERE o_orderkey <= 300"
        )
        # r10: generation 2 = genuinely NEW keys, so the change feed has
        # both change types (update at gen 1, insert at gen 2); the
        # timetravel-diff query is unaffected (its join only reaches
        # keys present in BOTH the t_mid snapshot and the present)
        astro.sql(
            "INSERT INTO astro_tt SELECT o_orderkey, o_totalprice "
            "FROM orders WHERE o_orderkey > 1500 AND o_orderkey <= 1600"
        )
        with open(done, "w") as f:
            json.dump({"t_mid": t_mid}, f)
    with open(done) as f:
        return astro, float(json.load(f)["t_mid"])


def _astro_timetravel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    astro, t_mid = _ensure_timetravel_table(spark, sf_dir)
    return astro.sql(
        "SELECT cur.o_orderkey, round(cur.o_totalprice, 2) AS now_price, "
        "round(old.o_totalprice, 2) AS was_price "
        f"FROM astro_tt cur JOIN (SELECT * FROM astro_tt TIMESTAMP AS OF {t_mid!r}) old "
        "ON cur.o_orderkey = old.o_orderkey "
        "WHERE cur.o_totalprice <> old.o_totalprice"
    )


def _astro_changes_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10: generation-range CHANGE DATA FEED — rows whose newest version
    landed in generations (0, current], resolved at the current snapshot
    and tagged insert/update + commit generation.  The incremental-
    training-data primitive ("docs added or changed since my last run's
    snapshot") served from generation METADATA: delta fragments are
    metadata-selected and both snapshot probes prune to the delta's
    rowkey envelope (relation.changes; HBase Scan.setTimeRange parity,
    doc §23)."""
    astro, _t_mid = _ensure_timetravel_table(spark, sf_dir)
    # r11 (VERDICT r10 #2): routed through the SQL surface — the grammar
    # registers relation.changes(0) as a temp view (session._rewrite_changes)
    return astro.sql(
        "SELECT o_orderkey, round(o_totalprice, 2) AS totalprice, "
        "_change_type AS change_type, CAST(_commit_seq AS BIGINT) AS commit_seq "
        "FROM astro_tt CHANGES FROM 0"
    )


ASTRO["astro_changes_feed"] = Q(
    spark=_astro_changes_feed,
    oracle="""
    SELECT o_orderkey, round(o_totalprice + 1000, 2) AS totalprice,
           'update' AS change_type, CAST(1 AS BIGINT) AS commit_seq
    FROM orders WHERE o_orderkey <= 300
    UNION ALL
    SELECT o_orderkey, round(o_totalprice, 2),
           'insert', CAST(2 AS BIGINT)
    FROM orders WHERE o_orderkey > 1500 AND o_orderkey <= 1600
    """,
    doc="r10 change-data feed over LSM generations: newest-version-in-range "
    "keys resolved at the to-snapshot with insert/update tagging and the "
    "commit generation — both change types recomputed independently from "
    "orders (relation.changes; r11: routed through the SQL surface "
    "`FROM t CHANGES FROM n`, session._rewrite_changes)",
)


def _ensure_restore_table(spark: SparkSession, sf_dir: str):
    """r11: RESTORE end-to-end — a retained table damaged by an upsert
    UPDATE (gen 1) and a retained DELETE (gen 2), then rolled back to
    generation 0 via SQL RESTORE (gen 3).  The graded query checks BOTH
    directions of the time arrow: the present equals the original
    snapshot, and the pre-restore (damaged) state is still readable
    through the retired fragments."""
    import json

    from spark_sql_on_hbase_spark.session import AstroSession
    from spark_sql_on_hbase_spark.tables import load_tables

    tag = (os.path.basename(sf_dir.rstrip("/")) or "sf") + "_rs_v1"
    astro = AstroSession(spark, os.path.join(_WAREHOUSE, tag))
    done = os.path.join(_WAREHOUSE, tag, ".restore_done")
    if not os.path.exists(done):
        load_tables(spark, sf_dir)
        astro.sql(
            "CREATE TABLE IF NOT EXISTS astro_rs (o_orderkey LONG, "
            "o_totalprice DOUBLE, PRIMARY KEY (o_orderkey)) "
            "MAPPED BY (h_rs, COLS=[o_totalprice=f.tp]) "
            "OPTIONS (regions=4, retain_history=true)"
        )
        astro.sql(
            "INSERT INTO astro_rs SELECT o_orderkey, o_totalprice "
            "FROM orders WHERE o_orderkey <= 800"
        )
        astro.sql(
            "UPDATE astro_rs SET o_totalprice = o_totalprice + 100 "
            "WHERE o_orderkey < 50"
        )
        astro.sql("DELETE FROM astro_rs WHERE o_orderkey BETWEEN 100 AND 150")
        pre_seq = astro.relation("astro_rs").committed_seq()
        astro.sql("RESTORE TABLE astro_rs TO VERSION AS OF 0")
        st = astro.last_write_stats
        ok = (
            st is not None
            and st.get("restored_to") == 0
            and st.get("history") == "retained"
        )
        with open(done, "w") as f:
            json.dump({"pre_seq": pre_seq, "ok": bool(ok)}, f)
    with open(done) as f:
        d = json.load(f)
    return astro, int(d["pre_seq"]), bool(d["ok"])


def _astro_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    astro, pre_seq, ok = _ensure_restore_table(spark, sf_dir)
    return astro.sql(
        "SELECT o_orderkey, round(o_totalprice, 2) AS totalprice FROM astro_rs "
        "UNION ALL "
        "SELECT o_orderkey + 1000000, round(o_totalprice, 2) "
        f"FROM astro_rs VERSION AS OF {pre_seq} "
        "UNION ALL "
        f"SELECT -5, {'1.0' if ok else '0.0'}"
    )


def _astro_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11: DESCRIBE HISTORY graded over the restore table's known
    lifecycle — generation numbers, recorded statement operations, and
    snapshot readability are fully deterministic (commit wall-clocks
    are excluded; they are host facts, not recomputable)."""
    astro, _pre, _ok = _ensure_restore_table(spark, sf_dir)
    return astro.sql("DESCRIBE HISTORY astro_rs").select(
        "generation", "operation", "snapshot"
    )


ASTRO["astro_history"] = Q(
    spark=_astro_history,
    oracle="""
    SELECT 3 AS generation, 'RESTORE' AS operation, 'readable' AS snapshot
    UNION ALL SELECT 2, 'DELETE', 'readable'
    UNION ALL SELECT 1, 'UPDATE', 'readable'
    UNION ALL SELECT 0, 'INSERT', 'readable'
    """,
    doc="r11 DESCRIBE HISTORY: the generation log of the restore table's "
    "INSERT -> UPDATE -> DELETE -> RESTORE lifecycle — operations recorded "
    "per commit, every snapshot readable under retention "
    "(catalog.generation_ops, session._exec_DescribeHistory)",
)


ASTRO["astro_restore"] = Q(
    spark=_astro_restore,
    oracle="""
    -- present after RESTORE TO VERSION 0 = the original load
    SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
    FROM orders WHERE o_orderkey <= 800
    UNION ALL
    -- the pre-restore (damaged) snapshot stays readable: +100 below 50,
    -- the deleted range gone
    SELECT o_orderkey + 1000000,
           round(CASE WHEN o_orderkey < 50 THEN o_totalprice + 100
                      ELSE o_totalprice END, 2)
    FROM orders
    WHERE o_orderkey <= 800 AND o_orderkey NOT BETWEEN 100 AND 150
    UNION ALL
    SELECT -5, 1.0
    """,
    doc="r11 RESTORE TABLE ... TO VERSION AS OF (Delta RESTORE analog over "
    "retained history): present rolled back to the original snapshot AND "
    "the rolled-back damaged state still readable pre-restore, both "
    "recomputed independently from orders; the probe pins "
    "restored_to/history=retained (relation.restore, ddl RestoreTable)",
)


def _streaming_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11: INCREMENTAL change-feed consumption with durable offsets
    (streaming/changes_source.py — the Delta readChangeFeed +
    availableNow analog): drain the timetravel table's feed one
    GENERATION per batch from a fresh checkpoint, tag each batch with
    its window, and probe that a second drain from the committed offset
    sees zero batches (resumability).  Offsets are generation numbers
    committed only after the batch callback returns (at-least-once)."""
    import tempfile

    from spark_sql_on_hbase_spark.streaming import stream_changes

    astro, _t_mid = _ensure_timetravel_table(spark, sf_dir)
    rel = astro.relation("astro_tt")
    os.makedirs(_WAREHOUSE, exist_ok=True)
    ckpt = os.path.join(
        tempfile.mkdtemp(prefix=".cdc_", dir=_WAREHOUSE), "offset.json"
    )
    batches: list = []
    n1 = stream_changes(
        rel, lambda df, lo, hi: batches.append((df, lo, hi)), ckpt,
        batch_generations=1,
    )
    n2 = stream_changes(  # resumes at the committed offset: nothing new
        rel, lambda df, lo, hi: batches.append((df, lo, hi)), ckpt,
        batch_generations=1,
    )
    out = None
    for df, lo, hi in batches:
        part = df.select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            F.col("_change_type").alias("change_type"),
            F.col("_commit_seq").cast("bigint").alias("commit_seq"),
            F.lit(lo).cast("bigint").alias("batch_lo"),
            F.lit(hi).cast("bigint").alias("batch_hi"),
        )
        out = part if out is None else out.unionAll(part)
    probe = local_rows_df(spark, 
        [(-99, float(n1), "batches", n2, 0, 0)],
        "o_orderkey bigint, totalprice double, change_type string, "
        "commit_seq bigint, batch_lo bigint, batch_hi bigint",
    )
    import shutil

    shutil.rmtree(os.path.dirname(ckpt), ignore_errors=True)
    return out.unionAll(probe)


ASTRO["streaming_changes"] = Q(
    spark=_streaming_changes,
    oracle="""
    SELECT o_orderkey, round(o_totalprice + 1000, 2) AS totalprice,
           'update' AS change_type, CAST(1 AS BIGINT) AS commit_seq,
           CAST(0 AS BIGINT) AS batch_lo, CAST(1 AS BIGINT) AS batch_hi
    FROM orders WHERE o_orderkey <= 300
    UNION ALL
    SELECT o_orderkey, round(o_totalprice, 2), 'insert', CAST(2 AS BIGINT),
           CAST(1 AS BIGINT), CAST(2 AS BIGINT)
    FROM orders WHERE o_orderkey > 1500 AND o_orderkey <= 1600
    UNION ALL
    -- drain count is data-dependent: an sf whose orders carry no keys in
    -- a generation's window commits no generation at all (empty appends
    -- are not commits), so that batch never exists
    SELECT CAST(-99 AS BIGINT),
           (SELECT CASE WHEN count(*) > 0 THEN 1.0 ELSE 0.0 END
            FROM orders WHERE o_orderkey <= 300)
           + (SELECT CASE WHEN count(*) > 0 THEN 1.0 ELSE 0.0 END
              FROM orders WHERE o_orderkey > 1500 AND o_orderkey <= 1600),
           'batches', CAST(0 AS BIGINT),
           CAST(0 AS BIGINT), CAST(0 AS BIGINT)
    """,
    doc="r11 incremental change-feed consumer: per-generation batches from "
    "a fresh durable offset (checkpoint committed after each callback — "
    "at-least-once), each window recomputed independently by the oracle; "
    "the probe row pins drain count = 2 and a zero-batch re-drain from the "
    "committed offset (streaming/changes_source.py stream_changes)",
)


ASTRO["astro_timetravel_diff"] = Q(
    spark=_astro_timetravel_diff,
    oracle="""
    SELECT o_orderkey,
           round(o_totalprice + 1000, 2) AS now_price,
           round(o_totalprice, 2) AS was_price
    FROM orders WHERE o_orderkey <= 300
    """,
    doc="r8 TIMESTAMP AS OF end-to-end: the generation-0 snapshot resolved "
    "by commit wall-clock joined to the merge-on-read current state — the "
    "changed keys and both price versions recomputed independently from "
    "orders (session.py _rewrite_version_asof, relation.seq_for_timestamp, "
    "catalog generation_times)",
)


ASTRO["astro_write_ops"] = Q(
    spark=_astro_write_ops,
    oracle="""
    WITH base AS (
      -- OVERWRITE kept keys <= 2000; UPDATE added 500 below key 100;
      -- DELETE removed keys % 10 = 0; MERGE then +1 every survivor
      -- (all survivors <= 2000 <= the source's 2200 cutoff)
      SELECT o_orderkey,
             CASE WHEN o_orderkey < 100 THEN o_totalprice + 500
                  ELSE o_totalprice END AS tp,
             o_orderstatus
      FROM orders WHERE o_orderkey <= 2000 AND o_orderkey % 10 != 0
    ),
    ins AS (
      -- MERGE NOT MATCHED re-inserts the deleted keys and adds 2000<k<=2200
      SELECT o.o_orderkey, o.o_totalprice AS tp, o.o_orderstatus
      FROM orders o LEFT JOIN base b USING (o_orderkey)
      WHERE o.o_orderkey <= 2200 AND b.o_orderkey IS NULL
    )
    SELECT o_orderkey, round(tp + 1, 2) AS totalprice, o_orderstatus FROM base
    UNION ALL
    SELECT o_orderkey, round(tp, 2) AS totalprice, o_orderstatus FROM ins
    UNION ALL
    -- r10 retained-history branch: the PRESENT of the retention table
    -- (NULL-update applied, delete range gone) ...
    SELECT o_orderkey + 1000000,
           round(o_totalprice, 2) AS totalprice,
           CASE WHEN o_orderkey BETWEEN 200 AND 260 THEN NULL
                ELSE o_orderstatus END AS o_orderstatus
    FROM orders
    WHERE o_orderkey <= 1200 AND o_orderkey NOT BETWEEN 400 AND 450
    UNION ALL
    -- ... and its PRE-WRITE snapshot served from retired fragments:
    -- the original values, deleted rows included
    SELECT o_orderkey + 2000000, round(o_totalprice, 2), o_orderstatus
    FROM orders WHERE o_orderkey <= 1200
    UNION ALL
    SELECT -7, 1.0, 'retained_probe'
    UNION ALL
    -- r10 change-data-feed branch (astro_tt generations 1 and 2):
    -- commit generation folded into the price, change type into status
    SELECT o_orderkey + 3000000,
           round(o_totalprice + 1000, 2) + 10000000, 'update'
    FROM orders WHERE o_orderkey <= 300
    UNION ALL
    SELECT o_orderkey + 3000000,
           round(o_totalprice, 2) + 20000000, 'insert'
    FROM orders WHERE o_orderkey > 1500 AND o_orderkey <= 1600
    UNION ALL
    -- r11 change-feed branch over the RETAINED table via the SQL
    -- surface (CHANGES FROM 0 WITH NOOP FILTER): the NULL-status
    -- update (gen 1, price unchanged) and the DELETE's pre-image rows
    -- (gen 2, original values)
    SELECT o_orderkey + 4000000,
           round(o_totalprice, 2) + 10000000, 'update'
    FROM orders WHERE o_orderkey BETWEEN 200 AND 260 AND o_orderkey <= 1200
    UNION ALL
    SELECT o_orderkey + 4000000,
           round(o_totalprice, 2) + 20000000, 'delete'
    FROM orders WHERE o_orderkey BETWEEN 400 AND 450 AND o_orderkey <= 1200
    UNION ALL
    -- r12 (VERDICT r11 #5) RESTORE lifecycle folded in-window: the
    -- present after RESTORE TO VERSION 0 = the original load ...
    SELECT o_orderkey + 5000000, round(o_totalprice, 2), 'rs_present'
    FROM orders WHERE o_orderkey <= 800
    UNION ALL
    -- ... and the rolled-back damaged snapshot still readable
    SELECT o_orderkey + 5500000,
           round(CASE WHEN o_orderkey < 50 THEN o_totalprice + 100
                      ELSE o_totalprice END, 2),
           'rs_prerestore'
    FROM orders
    WHERE o_orderkey <= 800 AND o_orderkey NOT BETWEEN 100 AND 150
    UNION ALL
    SELECT -8, 1.0, 'restore_probe'
    UNION ALL
    -- r12 DESCRIBE HISTORY rows of that lifecycle (generation + op +
    -- readability; commit wall-clocks are host facts, excluded)
    SELECT 6000000, 0.0, 'INSERT/readable'
    UNION ALL SELECT 6000001, 1.0, 'UPDATE/readable'
    UNION ALL SELECT 6000002, 2.0, 'DELETE/readable'
    UNION ALL SELECT 6000003, 3.0, 'RESTORE/readable'
    UNION ALL
    -- r12 incremental consumer (stream_changes, one generation per
    -- batch): window bounds folded into the price — update batch
    -- (0,1], insert batch (1,2]
    SELECT o_orderkey + 7000000,
           round(o_totalprice + 1000, 2) + 0 * 10000000 + 1 * 100000000,
           'update'
    FROM orders WHERE o_orderkey <= 300
    UNION ALL
    SELECT o_orderkey + 7000000,
           round(o_totalprice, 2) + 1 * 10000000 + 2 * 100000000,
           'insert'
    FROM orders WHERE o_orderkey > 1500 AND o_orderkey <= 1600
    UNION ALL
    -- drain count is data-dependent (a window with no source keys
    -- commits no generation); the re-drain from the committed offset
    -- contributes 0 batches (the +100 term)
    SELECT -9,
           (SELECT CASE WHEN count(*) > 0 THEN 1.0 ELSE 0.0 END
            FROM orders WHERE o_orderkey <= 300)
           + (SELECT CASE WHEN count(*) > 0 THEN 1.0 ELSE 0.0 END
              FROM orders WHERE o_orderkey > 1500 AND o_orderkey <= 1600),
           'consumer_probe'
    UNION ALL
    -- r12 +8000000 block: ROW bloom-sidecar lookup (astro_bloom_lookup
    -- folded in-window); the -10+8000000 probe row grades files-read
    SELECT o_orderkey + 8000000, round(o_totalprice, 2), o_orderstatus
    FROM orders WHERE o_orderkey IN (442, 563)
    UNION ALL
    SELECT -10 + 8000000, 1.0, 'bloom_probe'
    UNION ALL
    -- r12 +10000000 block: secondary-index lookup (astro_index_lookup
    -- folded in-window); customer id rides the price, the probe row
    -- grades that the scan actually routed through the index
    SELECT o_orderkey + 10000000,
           round(o_totalprice, 2) + o_custkey * 10000000, 'index'
    FROM orders WHERE o_custkey IN (42, 7)
    UNION ALL
    SELECT o_orderkey + 500000 + 10000000,
           round(o_totalprice, 2) + o_custkey * 10000000, 'index'
    FROM orders WHERE o_custkey = 7 AND o_orderkey < 1000
    UNION ALL
    SELECT -11 + 10000000, 1.0, 'index_probe'
    UNION ALL
    -- r13 +11000000 block: range-index path (astro_index_range block A
    -- folded in-window); +12000000: over-cap distributed semi-join
    -- (block B); probe rows grade the engaged mode
    SELECT o_orderkey + 11000000,
           round(o_totalprice, 2) + o_custkey * 10000000, 'ixrange'
    FROM orders WHERE o_custkey BETWEEN 40 AND 44
    UNION ALL
    SELECT o_orderkey + 12000000,
           round(o_totalprice, 2) + o_custkey * 10000000, 'ixsemijoin'
    FROM orders WHERE o_custkey BETWEEN 10 AND 40
    UNION ALL
    SELECT -12 + 11000000, 1.0, 'ixrange_probe'
    UNION ALL
    SELECT -13 + 11000000, 1.0, 'ixsj_probe'
    UNION ALL
    -- r13 +13000000 block: covering-index scan (astro_covering_index
    -- folded in-window); the probe row grades index-only (every input
    -- file an index fragment); r14: o_custkey=7 rows carry the
    -- shadowing-upsert values resolved index-side (merge-on-read)
    SELECT o_orderkey + 13000000,
           round(CASE WHEN o_custkey = 7 THEN o_orderkey + 0.25
                      ELSE o_totalprice END, 2)
           + o_custkey * 10000000, 'covering'
    FROM orders WHERE o_custkey IN (42, 7)
    UNION ALL
    SELECT o_orderkey + 10000000 + 13000000,
           round(o_totalprice, 2) + o_custkey * 10000000, 'covering'
    FROM orders WHERE o_custkey = 42 AND o_orderkey < 1000
    UNION ALL
    SELECT -14 + 13000000, 1.0, 'covering_probe'
    """,
    doc="the r6 write surface end-to-end through the SQL session: INSERT "
    "OVERWRITE (atomic swap) -> UPDATE (upsert append) -> DELETE (survivor "
    "rewrite) -> MERGE (matched update + anti-join insert) — the final "
    "table contents recomputed independently by the oracle from orders "
    "(ddl.py/session.py; beyond-reference, HBaseRelation.scala:660-663). "
    "r10: plus the MVCC-retention branch — a retain_history table whose "
    "NULL-UPDATE and DELETE take RETAINED rewrites, graded on BOTH the "
    "post-write present and the pre-write TIMESTAMP AS OF snapshot the "
    "retired fragments serve, with the plan facts (history=retained, "
    "partial rewrite, floor unchanged) in the probe row "
    "(relation.rewrite_pruned retain branch, catalog retired_regions). "
    "r11: plus the retained table's change feed via the SQL surface "
    "(CHANGES FROM 0 WITH NOOP FILTER) — DELETE events with pre-image "
    "values + retiring generation, noop-filtered updates "
    "(relation.changes delete branch, session._rewrite_changes). "
    "r12 (VERDICT r11 #5): plus the RESTORE lifecycle (present + "
    "pre-restore snapshot + probe), its DESCRIBE HISTORY rows, and the "
    "incremental stream_changes consumer (per-generation batches, window "
    "bounds in the price, drain/re-drain probe) — the r11 tail oracles "
    "now hash inside the driver's graded window every round",
)


def _astro_retained_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 (VERDICT r9 #1): MVCC retention solo entry — the retained
    table's present and pre-write snapshot side by side with a tag
    column; values also grade in-window through astro_write_ops'
    retained branch (reference parity: HBase cell versions + Scan
    setTimeRange, doc §23 — updates never destroy prior versions until
    a major compaction, exactly retain_history + COMPACT here)."""
    astro, t_mid, retained_ok = _ensure_write_ops_table(spark, sf_dir)
    return astro.sql(
        "SELECT 'now' AS tag, o_orderkey, round(o_totalprice, 2) AS totalprice, "
        "o_orderstatus AS status FROM astro_rh "
        "UNION ALL "
        "SELECT 'was', o_orderkey, round(o_totalprice, 2), o_orderstatus "
        f"FROM astro_rh TIMESTAMP AS OF {t_mid!r} "
        "UNION ALL "
        f"SELECT 'probe', -7, {'1.0' if retained_ok else '0.0'}, 'plan'"
    )


ASTRO["astro_retained_history"] = Q(
    spark=_astro_retained_history,
    oracle="""
    SELECT 'now' AS tag, o_orderkey, round(o_totalprice, 2) AS totalprice,
           CASE WHEN o_orderkey BETWEEN 200 AND 260 THEN NULL
                ELSE o_orderstatus END AS status
    FROM orders WHERE o_orderkey <= 1200 AND o_orderkey NOT BETWEEN 400 AND 450
    UNION ALL
    SELECT 'was', o_orderkey, round(o_totalprice, 2), o_orderstatus
    FROM orders WHERE o_orderkey <= 1200
    UNION ALL
    SELECT 'probe', -7, 1.0, 'plan'
    """,
    doc="r10 MVCC retention (retain_history=true): resolved UPDATE/DELETE "
    "rewrites retire replaced fragments at a new generation instead of "
    "folding — the pre-write TIMESTAMP AS OF snapshot ('was') serves the "
    "original values from retired fragments while the present ('now') "
    "shows the writes; COMPACT reclaims (relation.rewrite_pruned, "
    "catalog.RegionFile.retired_at; HBase cell-version parity, doc §23)",
)
