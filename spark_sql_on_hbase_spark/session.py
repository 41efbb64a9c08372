"""AstroSession — the engine's user-facing entry point.

Parity target: ``HBaseSQLContext`` + the Python wrapper
(HBaseSQLContext.scala:28-56, python/pyspark_hbase/sql/context.py:26-48).
`sql()` routes Astro DDL/DML to eager commands (like the reference's
RunnableCommands) and everything else to Spark SQL with every Astro table
registered as a temp view — so joins between Astro tables, parquet temp
views and any other Spark source just work, exactly as the reference
inherits the whole relational surface above the scan.

Usage::

    astro = AstroSession(spark, warehouse_dir="/tmp/astro")
    astro.sql("CREATE TABLE t (k INT, v STRING, PRIMARY KEY(k)) MAPPED BY (ht)")
    astro.sql("LOAD DATA INPATH '/data/t.csv' INTO TABLE t")
    astro.sql("SELECT v, count(*) FROM t GROUP BY v").show()
"""

from __future__ import annotations

import re
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_sql_on_hbase_spark import codec as C
from spark_sql_on_hbase_spark import ddl
from spark_sql_on_hbase_spark import leases
from spark_sql_on_hbase_spark.functions.localdf import local_rows_df
from spark_sql_on_hbase_spark.catalog import (
    AstroCatalog,
    KeyColumn,
    NonKeyColumn,
    TableMeta,
)
from spark_sql_on_hbase_spark.relation import (
    AstroRelation,
    owns_view,
    publish_view,
    registered_fingerprint,
    table_schema,
    view_fingerprint,
)


def _iso_utc(epoch: float) -> str:
    from datetime import datetime, timezone

    return datetime.fromtimestamp(epoch, tz=timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S.%f"
    )


class AstroSession:
    def __init__(self, spark: SparkSession, warehouse_dir: str, *, strict_merge: bool = True):
        self.spark = spark
        self.catalog = AstroCatalog(warehouse_dir)
        # ANSI MERGE cardinality semantics: when True (default), a MERGE
        # whose source matches one target key with MULTIPLE rows raises
        # (SQL:2016 — the standard cardinality violation); False restores
        # the documented permissive HBase-style mode where upsert
        # resolution picks one winner nondeterministically (r6 verdict #4)
        self.strict_merge = strict_merge
        # stats of the most recent DELETE / MERGE / NULL-UPDATE rewrite:
        # {"files_total": N, "files_rewritten": M} when the region-pruned
        # partial rewrite ran, M == N for a full rewrite — bench reads
        # this for the delete_files_rewritten plan-shape gate
        self.last_write_stats: dict | None = None
        # PruneResult of the most recent hql() SELECT the covering
        # router served index-only (r15, VERDICT r14 #6); None when the
        # last SELECT passed through spark.sql
        self.last_select_route = None
        self._session_catalog = None  # the JVM SessionCatalog, on first use

    # -- helpers ------------------------------------------------------------
    def relation(self, table: str, namespace: str = "default") -> AstroRelation:
        meta = self.catalog.get_table(table, namespace)
        return AstroRelation(self.catalog, meta, self.spark)

    def table(
        self, table: str, namespace: str = "default", as_of_seq: int | None = None
    ) -> DataFrame:
        """Table as a DataFrame; ``as_of_seq`` reads the generation-N
        snapshot (HBase timestamp-range analog — see
        :meth:`AstroRelation.scan`)."""
        return self.relation(table, namespace).scan(as_of_seq=as_of_seq)

    def _register_all(self) -> None:
        """Expose every catalog table as a temp view, re-analyzing ONLY
        tables whose state changed since their last registration (r7:
        the unconditional re-registration was O(#tables) Spark analysis
        per STATEMENT — 1000 tables × ~20 ms would put ~20 s of driver
        work in front of every write).  The fingerprint
        (`relation.view_fingerprint`) is SparkSession-scoped and keyed
        by view name because temp views are: it pins the owning
        warehouse + namespace, so a same-named view registered by a
        sibling AstroSession (or another namespace) never satisfies this
        session's skip check; `register_view` itself records the
        fingerprint, so the DML paths that re-register after a write
        keep the cache current for free.  A view the user dropped is
        registered again: the session's temp-view names are read once
        per call (two py4j calls, whatever the table count)."""
        views = None
        for ns, name in self.catalog.list_tables():
            meta = self.catalog.get_table(name, ns)
            fp = view_fingerprint(self.catalog, meta)
            if registered_fingerprint(self.spark, name) == fp:
                if views is None:
                    views = self._temp_view_names()
                # the session catalog stores names lower-cased unless
                # spark.sql.caseSensitive is set
                if name in views or name.lower() in views:
                    continue
            # schema-on-read: another logical table may have populated the
            # shared physical store (many-to-one mapping, doc §16.1.1)
            if fp[2]:  # has_data
                AstroRelation(self.catalog, meta, self.spark).register_view(name)
            else:  # empty table → empty view with right schema
                empty = local_rows_df(self.spark, [], table_schema(meta))
                publish_view(self.spark, name, empty, fp)

    def _temp_view_names(self) -> set[str]:
        """Names of the SparkSession's temp views, in two py4j calls."""
        if self._session_catalog is None:
            self._session_catalog = self.spark._jsparkSession.sessionState().catalog()
        return set(self._session_catalog.getTempViewNames().mkString("\n").split("\n"))

    # -- entry point --------------------------------------------------------
    def sql(self, text: str) -> DataFrame:
        cmd = ddl.parse(text)
        handler = getattr(self, f"_exec_{type(cmd).__name__}", None)
        if handler is None:
            raise NotImplementedError(type(cmd).__name__)
        return handler(cmd)

    hql = sql  # reference CLI ergonomics (astro> prompt, HBaseSQLCliDriver.scala)

    # -- command executors ---------------------------------------------------
    def _exec_CreateTable(self, c: ddl.CreateTable) -> DataFrame:
        declared = [n for n, _ in c.columns]
        types = dict(c.columns)
        meta = TableMeta(
            name=c.table,
            namespace=c.namespace,
            physical_table=c.physical_table,
            key_columns=[
                KeyColumn(name=k, dtype=C.normalize_type(types[k]), order=i)
                for i, k in enumerate(c.key_columns)
            ],
            nonkey_columns=[
                NonKeyColumn(
                    name=n,
                    dtype=C.normalize_type(types[n]),
                    family=c.mappings[n][0],
                    qualifier=c.mappings[n][1],
                )
                for n in declared
                if n not in set(c.key_columns)
            ],
            encoding=c.encoding,
            num_regions=c.num_regions,
            declared_columns=declared,
            align_prefix=c.align_prefix,
            zorder=c.zorder,
            retain_history=c.retain_history,
            bloomfilter=c.bloomfilter,
            autocompact=c.autocompact,
        )
        if c.align_prefix and c.align_prefix > len(c.key_columns):
            raise ValueError("align= exceeds the number of key columns")
        # r15 vector columns: non-key, binaryformat-only (no rowkey
        # encoding, no string-space encoding exists for arrays)
        vec_keys = [k.name for k in meta.key_columns if k.dtype in C.VECTOR_TYPES]
        if vec_keys:
            raise ValueError(
                f"vector columns cannot be key columns: {vec_keys}"
            )
        if meta.encoding == "stringformat" and any(
            nk.dtype in C.VECTOR_TYPES for nk in meta.nonkey_columns
        ):
            raise ValueError(
                "vector columns require a binaryformat table "
                "(no order-preserving string encoding exists for arrays)"
            )
        if c.autocompact and c.retain_history:
            raise ValueError(
                "autocompact and retain_history are exclusive: compaction "
                "is the retention tier's reclaim point — an automatic "
                "trigger would silently purge the history retain_history "
                "promised to keep (use VACUUM ... RETAIN for bounded "
                "reclaim instead)"
            )
        if c.zorder:
            if c.align_prefix:
                raise ValueError("layout=zorder and align= are exclusive")
            from spark_sql_on_hbase_spark.relation import _Z_WIDTHS

            bad = [
                k.name
                for k in meta.key_columns
                if k.dtype not in _Z_WIDTHS
            ]
            if len(meta.key_columns) < 2 or bad:
                raise ValueError(
                    "layout=zorder needs a composite key of integer columns"
                    + (f"; unsupported: {bad}" if bad else "")
                )
        self.catalog.create_table(meta, if_not_exists=c.if_not_exists)
        import os

        # many-to-one mapping (doc §16.1.1): another logical table may
        # already have populated the shared physical store — surface it
        # immediately (schema-on-read)
        stored = self.catalog.get_table(c.table, c.namespace)
        rel = AstroRelation(self.catalog, stored, self.spark)
        if os.path.isdir(self.catalog.data_dir(stored)):
            rel._ensure_fresh_regions()
            rel.register_view(c.table)
        else:
            publish_view(
                self.spark,
                c.table,
                local_rows_df(self.spark, [], table_schema(stored)),
                view_fingerprint(self.catalog, stored),
            )
        return self._ok(f"created {c.namespace}.{c.table}")

    def _exec_DropTable(self, c: ddl.DropTable) -> DataFrame:
        # cascade: a secondary index is meaningless without its table.
        # Index tables drop FIRST (ADVICE r12): an index without its
        # table is harmless (nothing routes through an unregistered
        # index), but a crash after the main drop left orphaned
        # `t__idx_*` entries with no owning pointer that collided with
        # a later re-CREATE INDEX.
        try:
            idx_names = list(self.catalog.get_table(c.table, c.namespace).indexes.values())
        except KeyError:
            idx_names = []
        for n in idx_names:
            try:
                self.catalog.drop_table(n, c.namespace)
            except KeyError:
                pass
        # r15: vector-index data dirs cascade too (they are derived
        # state under the warehouse, unowned once the table drops)
        try:
            rel = self.relation(c.table, c.namespace)
            vidx_paths = [rel.vector_index_path(col) for col in rel.meta.vector_indexes]
        except KeyError:
            vidx_paths = []
        self.catalog.drop_table(c.table, c.namespace)
        import shutil

        for p in vidx_paths:
            shutil.rmtree(p, ignore_errors=True)
        self.spark.catalog.dropTempView(c.table)
        return self._ok(f"dropped {c.namespace}.{c.table}")

    def _exec_CreateIndex(self, c: ddl.CreateIndex) -> DataFrame:
        rel = self.relation(c.table, c.namespace)
        rel._ensure_fresh_regions()
        cols = c.cols or (c.col,)
        name = rel.create_index(
            cols, if_not_exists=c.if_not_exists, include=c.include
        )
        inc = f" INCLUDE ({', '.join(c.include)})" if c.include else ""
        return self._ok(
            f"created index {name} on {c.table}({', '.join(cols)}){inc}"
        )

    def _exec_DropIndex(self, c: ddl.DropIndex) -> DataFrame:
        rel = self.relation(c.table, c.namespace)
        rel.drop_index(c.col)
        return self._ok(f"dropped index on {c.table}({c.col})")

    def _exec_CreateVectorIndex(self, c: ddl.CreateVectorIndex) -> DataFrame:
        rel = self.relation(c.table, c.namespace)
        path = rel.create_vector_index(
            c.col, c.kind, options=c.options, if_not_exists=c.if_not_exists
        )
        return self._ok(
            f"created vector index on {c.table}({c.col}) USING "
            f"{c.kind.upper()} at {path}"
        )

    def _exec_DropVectorIndex(self, c: ddl.DropVectorIndex) -> DataFrame:
        rel = self.relation(c.table, c.namespace)
        rel.drop_vector_index(c.col)
        return self._ok(f"dropped vector index on {c.table}({c.col})")

    def _exec_ExplainScan(self, c: ddl.ExplainScan) -> DataFrame:
        from spark_sql_on_hbase_spark.predicate import Opaque, render

        rel = self.relation(c.table, c.namespace)
        covering_row = None
        res = None
        if c.columns:
            # COLUMNS projection: the route a SQL SELECT of these columns
            # takes — the SELECT router's own decision
            plan = rel.plan_select(c.where, list(c.columns))
            res, covering_row = plan.res, plan.why
        if res is None:
            _df, res = rel.scan_where(c.where)

        def _render(p):
            if p is None:
                return "(none)"
            if isinstance(p, Opaque):
                return f"(opaque) {p.text}"
            try:
                return render(p)
            except Exception:
                return repr(p)

        def _merge():
            n = len(res.files)
            if res.index_merge:
                return f"newest-cell-wins index-side over {n} index files"
            if res.merge is None:
                return "none (no files read)"
            if not res.merge:
                return "none (1 key-unique file)" if n == 1 else f"none ({n} key-disjoint files)"
            below = rel._merge_group_keys()
            return f"newest-cell-wins over {n} files, " + (
                f"key conjuncts on ({', '.join(below)}) below"
                if below
                else "grouped by rowkey only (key conjuncts above)"
            )

        def _index_mode():
            out = res.index_mode or "(none)"
            if res.index_candidates is not None:
                probe = ""
                if res.index_probe is not None:
                    read, total, ran = res.index_probe
                    ran = "on the driver" if ran == "driver" else "in Spark (over cap)"
                    probe = f"; probe read {read} of {total} index files {ran}, no merge"
                out += f" ({res.index_candidates} candidate keys{probe})"
            if res.index_declined:
                out += f" — declined: {res.index_declined}"
            return out

        def _bloom_outcome():
            if res.bloom_probed is None:
                return "(not consulted — no sidecars or non-point predicate)"
            keys = (
                f" with {res.bloom_index_keys} index candidate keys"
                if res.bloom_index_keys is not None
                else ""
            )
            return (
                f"probed {res.bloom_probed} range-surviving files{keys}, "
                f"skipped {res.bloom_skipped}"
            )

        def _delta_probe():
            if res.delta_probed is None:
                return (
                    "(not run — survivors key-disjoint, no key conjunct, "
                    "none within the cap, or stringformat)"
                )
            return (
                f"probed {res.delta_probed} overlapping files under the key conjuncts, "
                f"dropped {res.delta_dropped} with no match ({res.delta_rows} rows counted)"
            )

        meta = rel.meta
        rows = [
            ("table", f"{c.namespace}.{c.table}"),
            ("files_total", str(res.total)),
            ("files_read", str(len(res.files))),
            ("files_pruned", str(res.pruned)),
            ("index_used", res.index_used or "(none)"),
            ("index_mode", _index_mode()),
            ("bloomfilter", meta.bloomfilter or "none"),
            ("bloom_outcome", _bloom_outcome()),
            ("delta_probe", _delta_probe()),
            (
                "stringformat_pushdown",
                res.sf_pushdown
                or (
                    "(none)"
                    if meta.encoding == "stringformat"
                    else "(n/a — binaryformat table)"
                ),
            ),
            *(
                [("covering", covering_row)]
                if covering_row is not None
                else []
            ),
            ("key_pushed", _render(res.key_pushed)),
            ("residual", _render(res.residual)),
            (
                "residual_only",
                str(res.residual_only).lower()
                + " (key conjuncts proved TRUE over every surviving file)"
                if res.residual_only
                else "false",
            ),
            ("pending_merge", str(rel.needs_merge()).lower()),
            ("merge", _merge()),
            (
                "effective_predicate",
                _render(res.predicate),
            ),
        ]
        return local_rows_df(self.spark, rows, "property string, value string")

    def _exec_ReindexTable(self, c: ddl.ReindexTable) -> DataFrame:
        rel = self.relation(c.table, c.namespace)
        rel._ensure_fresh_regions()
        n = rel.reindex()
        nv = rel.reindex_vector()  # r15: vector registrations cascade
        extra = f" + {nv} vector" if nv else ""
        return self._ok(
            f"rebuilt {n} index(es){extra} on {c.namespace}.{c.table}"
        )

    def _exec_ShowTables(self, c: ddl.ShowTables) -> DataFrame:
        rows = [(ns, t) for ns, t in self.catalog.list_tables()]
        return local_rows_df(self.spark, rows or [], "namespace string, tableName string")

    def _exec_DescribeTable(self, c: ddl.DescribeTable) -> DataFrame:
        """Reference DESCRIBE output: col name, type, KEY COLUMN/NON KEY
        COLUMN + family.qualifier (hbaseCommands.scala:95-124)."""
        meta = self.catalog.get_table(c.table, c.namespace)
        key_order = {k.name: k.order for k in meta.key_columns}
        fq = {nk.name: f"{nk.family}.{nk.qualifier}" for nk in meta.nonkey_columns}
        rows = []
        for name, dtype in meta.all_columns:
            if name in key_order:
                rows.append((name, dtype, f"KEY COLUMN ({key_order[name]})"))
            else:
                rows.append((name, dtype, f"NON KEY COLUMN ({fq[name]})"))
        if c.extended:
            # physical-layout section (beyond-reference; Spark's own
            # DESCRIBE EXTENDED analog): lets an operator see from SQL
            # whether one-phase aggregation is currently eligible
            # (layout=bucketed + align_prefix + no pending merge) and how
            # the table is physically organized
            rel = self.relation(c.table, c.namespace)
            rows += [
                ("", "", ""),
                ("# Physical Layout", "", ""),
                ("physical_table", meta.physical_table, ""),
                ("encoding", meta.encoding, ""),
                ("layout", meta.layout or "range", "bucketed = one-phase-agg eligible; zorder = all-dim file pruning"),
                ("align_prefix", str(meta.align_prefix or 0), "region-aligned leading key columns"),
                ("num_regions", str(meta.num_regions), "declared region count"),
                ("bloomfilter", meta.bloomfilter or "none", "row = per-fragment ROW bloom sidecars prune point lookups"),
                (
                    "autocompact",
                    str(meta.autocompact or 0),
                    "K>0: fold to num_regions files past K×regions after appends (0 = manual COMPACT)",
                ),
                (
                    "indexes",
                    ", ".join(
                        "("
                        + ", ".join(
                            meta.index_info.get(c, {}).get("cols") or [c]
                        )
                        + f")->{n}"
                        + (
                            " INCLUDE("
                            + ",".join(meta.index_info[c]["include"])
                            + ")"
                            if meta.index_info.get(c, {}).get("include")
                            else ""
                        )
                        + (
                            " [covering-ready]"
                            if meta.index_info.get(c, {}).get("clean")
                            else ""
                        )
                        for c, n in sorted(meta.indexes.items())
                    )
                    or "none",
                    "secondary indexes: non-key =/IN/range scans route via "
                    "index table; covering-ready = index-only reads servable",
                ),
            ]
            # r15 vector indexes (VERDICT r14 #2): registration, kind,
            # staleness and the latest append's drift-guard verdicts
            for vcol, vinfo in sorted(meta.vector_indexes.items()):
                drift = vinfo.get("drift")
                if isinstance(drift, dict) and drift:
                    dparts = []
                    for dk, dv in sorted(drift.items()):
                        if isinstance(dv, dict):
                            dparts.append(
                                f"{dk}: batch={dv.get('batch')}, "
                                f"baseline={dv.get('baseline')}, "
                                f"retrain={dv.get('retrain_recommended')}"
                            )
                        else:
                            dparts.append(f"{dk}: {dv}")
                    drift_s = "; ".join(dparts)
                else:
                    drift_s = "none (no appends since build)"
                rows.append((
                    f"vector_index.{vcol}",
                    f"{vinfo['kind'].upper()}"
                    + (" [STALE — REINDEX to rebuild]" if vinfo.get("stale") else "")
                    + f" built_gen={vinfo.get('built_gen', 0)}",
                    f"drift: {drift_s}",
                ))
            rows += [
                ("region_files", str(len(meta.regions)), "current fragment/region files"),
                (
                    "pending_merge",
                    str(rel.needs_merge()).lower(),
                    "upserts unresolved until COMPACT",
                ),
                (
                    "max_generation",
                    str(max((r.seq for r in meta.regions), default=0)),
                    "generation-versioned reads: table(name, as_of_seq=0..N)",
                ),
                (
                    "generation_times",
                    ", ".join(
                        f"{s}: {_iso_utc(t)}"
                        for s, t in sorted(
                            meta.generation_times.items(), key=lambda kv: int(kv[0])
                        )
                    ),
                    "TIMESTAMP AS OF resolves to newest generation <= t (UTC)",
                ),
                (
                    "history_floor",
                    str(meta.history_floor),
                    "versioned reads and CHANGES FROM n refuse below this "
                    "generation",
                ),
                (
                    "delete_history_semantics",
                    "key-only WHERE: purged (all snapshots/stamps stay "
                    "readable minus the keys); residual WHERE: folded-purge "
                    "(floor raised; timestamps since the floor generation "
                    "resolve to the purged present, older ones refuse); "
                    "UPDATE/MERGE rewrites: folded (floor raised, all "
                    "stamps reset at rewrite time)"
                    if not meta.retain_history
                    else "retain_history=true: resolved rewrites RETIRE "
                    "replaced fragments at a new generation — every "
                    "pre-rewrite snapshot/timestamp stays readable; "
                    "VACUUM (retired only) / COMPACT / OVERWRITE reclaim",
                    "per-statement plan reported in last_write_stats.history",
                ),
                (
                    "retain_history",
                    str(meta.retain_history).lower(),
                    "MVCC retention for resolved rewrites (r10)",
                ),
                (
                    "retired_files",
                    str(len(meta.retired_regions)),
                    "fragments kept for pre-rewrite snapshots (reclaimed by COMPACT)",
                ),
                (
                    "meta_version",
                    str(meta.meta_version),
                    "optimistic-concurrency commit counter (r12 CAS): every "
                    "catalog commit compare-and-swaps on it",
                ),
                (
                    "gc_pending",
                    str(len(meta.gc_pending)),
                    "files replaced by the last rewrite commit, awaiting "
                    "post-commit reclaim (completed by the next touch)",
                ),
                (
                    "region_manifests",
                    str(len(meta.region_manifests)),
                    "content-addressed manifest shards behind the pointer "
                    "(r14): commits write O(delta) bytes, not the region "
                    "list",
                ),
                (
                    "reader_leases",
                    "{} (max remaining {:.0f}s)".format(
                        *leases.live_summary(self.catalog.data_dir(meta))
                    ),
                    "fragments under unexpired scan leases (r13): reclaim/"
                    "VACUUM defer them until expiry; r14 — the driver "
                    "refreshes leases while their query is still running",
                ),
                (
                    "pinned_generations",
                    ", ".join(str(g) for g in sorted(meta.pinned_gens)) or "none",
                    "fileless stamped commits kept alive: in-flight write "
                    "reservations + ALTER history rows",
                ),
            ]
        return local_rows_df(self.spark, rows, "col_name string, data_type string, comment string")

    def _exec_AlterAddCol(self, c: ddl.AlterAddCol) -> DataFrame:
        # freshness + optimistic retry (r12): the ALTER is itself a
        # commit (stamped generation + DESCRIBE HISTORY row) and must
        # base on the current metadata version
        rel = self.relation(c.table, c.namespace)
        rel._ensure_fresh_regions()
        rel._commit_retry(
            lambda: self.catalog.alter_add_column(
                c.table,
                NonKeyColumn(
                    name=c.col,
                    dtype=C.normalize_type(c.dtype),
                    family=c.family,
                    qualifier=c.qualifier,
                ),
                c.namespace,
            )
        )
        self._register_all()
        return self._ok(f"added column {c.col}")

    def _exec_AlterDropCol(self, c: ddl.AlterDropCol) -> DataFrame:
        rel = self.relation(c.table, c.namespace)
        if c.col in rel.meta.indexes:
            raise ValueError(
                f"column {c.col!r} is indexed — DROP INDEX ON "
                f"{c.table} ({c.col}) first"
            )
        # r13: covered columns are physically stored in the index table;
        # r15: so are the deeper columns of a composite key
        owners = [
            icol
            for icol, info in rel.meta.index_info.items()
            if c.col in info.get("include", [])
            or c.col in (info.get("cols") or [])
        ]
        if owners:
            raise ValueError(
                f"column {c.col!r} is part of the index on "
                f"{owners[0]!r} — DROP INDEX ON {c.table} ({owners[0]}) first"
            )
        # r15: vector-indexed columns cascade the same way
        if c.col in rel.meta.vector_indexes:
            raise ValueError(
                f"column {c.col!r} has a vector index — DROP VECTOR INDEX "
                f"ON {c.table} ({c.col}) first"
            )
        rel._ensure_fresh_regions()
        rel._commit_retry(
            lambda: self.catalog.alter_drop_column(c.table, c.col, c.namespace)
        )
        self._register_all()
        return self._ok(f"dropped column {c.col}")

    def _exec_BulkLoad(self, c: ddl.BulkLoad) -> DataFrame:
        rel = self.relation(c.table, c.namespace)
        rel.load_csv(c.path, delimiter=c.delimiter, op="LOAD")
        rel.register_view()
        return self._ok(f"loaded {c.path} into {c.table}")

    def _exec_InsertValues(self, c: ddl.InsertValues) -> DataFrame:
        rel = self.relation(c.table, c.namespace)
        schema = table_schema(rel.meta)
        coerced = []
        for row in c.values:
            coerced.append(
                [self._coerce(v, dt) for v, (_, dt) in zip(row, rel.meta.all_columns)]
            )
        df = local_rows_df(self.spark, coerced, schema)
        if c.overwrite:
            rel.overwrite(df, op="INSERT OVERWRITE")
        else:
            # literal VALUES: the row count is known — flush as few
            # fragments (r9; a handful of rows must not land as
            # num_regions slivers that bloat later island closures)
            rel.insert(df, fragments=max(1, -(-len(coerced) // 50_000)), op="INSERT")
        rel.register_view()
        return self._ok("overwrote 1 row" if c.overwrite else "inserted 1 row")

    @staticmethod
    def _coerce(v, dtype: str):
        if v is None:
            return None
        t = C.normalize_type(dtype)
        if t in C.VECTOR_TYPES:
            if isinstance(v, (list, tuple)):
                return [float(x) for x in v]
            raise ValueError(
                "vector column values cannot be written via INSERT VALUES "
                "literals — use INSERT ... SELECT or the write() API"
            )
        if t in (C.BYTE, C.SHORT, C.INT, C.LONG):
            return int(v)
        if t in (C.FLOAT, C.DOUBLE):
            return float(v)
        if t == C.DECIMAL and type(v) is int:
            return Decimal(v)
        if t == C.BOOLEAN:
            return bool(v)
        return v

    def _exec_InsertSelect(self, c: ddl.InsertSelect) -> DataFrame:
        self._register_all()
        src = self.spark.sql(c.select_sql)
        rel = self.relation(c.table, c.namespace)
        named = src.toDF(*[n for n, _ in rel.meta.all_columns])
        cast = named.select(
            *[named[n].cast(table_schema(rel.meta)[n].dataType) for n, _ in rel.meta.all_columns]
        )
        if c.overwrite:
            rel.overwrite(cast, op="INSERT OVERWRITE")
        else:
            rel.insert(cast, op="INSERT")
        rel.register_view()
        return self._ok(f"{'overwrote' if c.overwrite else 'inserted into'} {c.table}")

    @staticmethod
    def _update_projection(rel: AstroRelation, update_set: dict[str, str], cur_prefix: str) -> str:
        """Validated full-row SELECT list for an UPDATE-style write: SET
        expressions where assigned, the current value (``cur_prefix`` =
        alias qualifier or '') elsewhere.  One definition for UPDATE and
        MERGE so their semantics can't drift (r6 review)."""
        cols = [n for n, _ in rel.meta.all_columns]
        keyset = {k.name for k in rel.meta.key_columns}
        bad = set(update_set) - set(cols)
        if bad:
            raise ValueError(f"UPDATE SET on undeclared columns {sorted(bad)}")
        if set(update_set) & keyset:
            raise ValueError("UPDATE SET may not assign key columns")
        return ", ".join(
            f"{update_set.get(col, f'{cur_prefix}`{col}`')} AS `{col}`" for col in cols
        )

    # SET expressions that can never evaluate to NULL: plain numeric /
    # string / boolean literals (the overwhelmingly common UPDATE shape) —
    # these skip the NULL-assignment probe job entirely
    _NONNULL_LIT_RE = re.compile(
        r"^\s*(?:-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?|'(?:[^'\\]|\\.)*'|TRUE|FALSE)\s*$",
        re.IGNORECASE,
    )

    @classmethod
    def _strict_self_expr(cls, col: str, expr: str, owners: tuple[str, ...]) -> bool:
        """True when ``expr`` is a STRICT function of the assigned column
        itself (n+1, upper(v), …): it is NULL only when the column already
        was, so the probe conjunct ``expr IS NULL AND col IS NOT NULL`` is
        unsatisfiable and the probe job can be skipped (r7 review —
        division/modulo excluded: ``x / 0`` is NULL over non-null x)."""
        q = (
            r"(?:(?:" + "|".join(re.escape(o) for o in owners) + r")\.)?"
            if owners
            else ""
        )
        c = rf"{q}`?{re.escape(col)}`?"
        num = r"-?\d+(?:\.\d+)?"
        pats = (
            rf"^\s*{c}\s*$",
            rf"^\s*{c}\s*[-+*]\s*{num}\s*$",
            rf"^\s*{num}\s*[-+*]\s*{c}\s*$",
            rf"^\s*(?:upper|lower|trim|ltrim|rtrim|abs|reverse)\s*\(\s*{c}\s*\)\s*$",
        )
        return any(re.match(pat, expr, re.IGNORECASE) for pat in pats)

    @classmethod
    def _null_probe_terms(
        cls, update_set: dict[str, str], owners: tuple[str, ...]
    ) -> list[tuple[str, str]]:
        """SET assignments that could actually null a non-null cell —
        non-null literals and strict self-expressions are provably unable
        to, so they need no probe.  Empty list = skip the probe job."""
        return [
            (col, e)
            for col, e in update_set.items()
            if not cls._NONNULL_LIT_RE.match(e)
            and not cls._strict_self_expr(col, e, owners)
        ]

    def _exec_UpdateTable(self, c: ddl.UpdateTable) -> DataFrame:
        """UPDATE … SET … [WHERE]: matched rows re-land as full rows
        through the upsert append (newest-generation-wins), exactly the
        MERGE matched-UPDATE path — no table rewrite.  Non-astro tables
        fall through to Spark SQL VERBATIM (DSv2 sources may support it;
        a reconstruction would drop the namespace qualifier and
        re-normalize SET targets — r6 review).

        NULL-assignment routing (r6 advice, high): the upsert merge
        resolves newest NON-NULL cell wins, so an appended row with a
        NULL cell reads as "absent" and the OLD value would survive a
        `SET v = NULL`.  When any SET expression may produce NULL (not a
        plain literal) a probe checks whether it actually nulls a
        currently non-null cell on a matched row; if so the statement
        routes through the region-pruned rewrite instead of the append —
        same observable semantics as ANSI UPDATE, at rewrite cost only
        when genuinely required."""
        if not self.catalog.table_exists(c.table, c.namespace):
            return self.spark.sql(c.raw)
        self._register_all()
        rel = self.relation(c.table, c.namespace)
        cols = [n for n, _ in rel.meta.all_columns]
        schema = table_schema(rel.meta)
        proj = self._update_projection(rel, c.update_set, "")
        self.last_write_stats = None
        terms = self._null_probe_terms(c.update_set, (c.table,))
        if terms:
            nullprobe = " OR ".join(
                f"(({e}) IS NULL AND `{col}` IS NOT NULL)" for col, e in terms
            )
            probe = self.spark.sql(
                f"SELECT 1 FROM {c.table} WHERE ({nullprobe})"
                + (f" AND coalesce(({c.where}), false)" if c.where else "")
                + " LIMIT 1"
            )
            if probe.take(1):
                return self._update_via_rewrite(rel, c)
        df = self.spark.sql(
            f"SELECT {proj} FROM {c.table}" + (f" WHERE {c.where}" if c.where else "")
        )
        cast = df.select(*[df[n].cast(schema[n].dataType) for n in cols])
        rel.append(cast, op="UPDATE")
        rel.register_view()
        return self._ok(f"updated {c.table}")

    # a SET expression that is a plain literal: the same constant lands
    # on every version of a matched key, so the per-fragment key-only
    # rewrite is exact (relation.update_rows_keyonly)
    _SET_LIT_RE = re.compile(
        r"^\s*(NULL|TRUE|FALSE|-?\d+(\.\d+)?([eE][+-]?\d+)?|'(?:[^'\\]|\\.)*')\s*$",
        re.IGNORECASE,
    )

    def _update_via_rewrite(self, rel: AstroRelation, c: ddl.UpdateTable) -> DataFrame:
        """UPDATE routed through the rewrite pipeline
        (relation.rewrite_rows): matched rows get the SET expressions
        applied in place — NULL results land as real NULLs — and every
        other row/fragment is untouched.  A WHERE with all-literal SETs
        also qualifies for the per-fragment plans (r8 — one constant on
        every version of a matched key needs no resolution, so they work
        under pending upserts and on any layout)."""
        cols = [n for n, _ in rel.meta.all_columns]
        schema = table_schema(rel.meta)
        when = f"coalesce(({c.where}), false)" if c.where else "true"
        case_proj = [
            (
                f"CASE WHEN {when} THEN ({c.update_set[n]}) ELSE `{n}` END AS `{n}`"
                if n in c.update_set
                else f"`{n}`"
            )
            for n in cols
        ]

        def survivors_of(df: DataFrame) -> DataFrame:
            out = df.selectExpr(*case_proj)
            return out.select(*[out[n].cast(schema[n].dataType) for n in cols])

        def full_rows() -> DataFrame:
            df = self.spark.sql(f"SELECT {', '.join(case_proj)} FROM {c.table}")
            return df.select(*[df[n].cast(schema[n].dataType) for n in cols])

        literal = all(self._SET_LIT_RE.match(e) for e in c.update_set.values())
        self.last_write_stats = rel.rewrite_rows(
            c.where,
            survivors_of,
            full_rows,
            set_literals=c.update_set if literal else None,
            op="UPDATE",
        )
        rel.register_view()
        return self._ok(f"updated {c.table}")

    def _exec_DeleteFrom(self, c: ddl.DeleteFrom) -> DataFrame:
        """DELETE FROM … [AS a] [WHERE]: one rewrite pipeline
        (relation.rewrite_rows).  Plan selectors are tried in order,
        cheapest first — key-only per-fragment purge → island-closure
        rewrite of the resolved intersecting fragments → resolved-key-set
        purge → full atomic rewrite (non-sargable, unfiltered, or nothing
        prunes) — and the first that applies commits through the one
        compare-and-swap commit, which retires the replaced fragments on
        retain_history tables and folds history otherwise.
        Non-astro tables fall through to Spark SQL verbatim."""
        if not self.catalog.table_exists(c.table, c.namespace):
            return self.spark.sql(c.raw)
        self._register_all()
        rel = self.relation(c.table, c.namespace)
        self.last_write_stats = None

        def full_rows() -> DataFrame:
            a = c.alias or c.table
            cols = ", ".join(f"{a}.`{n}`" for n, _ in rel.meta.all_columns)
            return self.spark.sql(
                f"SELECT {cols} FROM {c.table} {a}"
                + (f" WHERE NOT coalesce({c.where}, false)" if c.where else " WHERE false")
            )

        self.last_write_stats = rel.rewrite_rows(
            c.where,
            lambda df: df.filter(F.expr(f"NOT coalesce(({c.where}), false)")),
            full_rows,
            delete=True,
            op="DELETE",
        )
        rel.register_view()
        return self._ok(f"deleted from {c.table}")

    _AND_RE = re.compile(r"AND\b", re.IGNORECASE)
    _OR_RE = re.compile(r"OR\b", re.IGNORECASE)
    _EQUI_RE = re.compile(
        r"^\(*\s*`?(\w+)`?\.`?(\w+)`?\s*=\s*`?(\w+)`?\.`?(\w+)`?\s*\)*\s*$"
    )

    def _source_key_bounds(self, c: ddl.MergeInto, rel: AstroRelation) -> str | None:
        """Range summary of the MERGE source's join values on target KEY
        columns → a sargable prune predicate for the partial rewrite.
        Extracts top-level equi-conjuncts ``t.key = s.col`` from the ON
        condition and runs ONE small aggregate over the source (min/max
        per key column — O(1) rows to the driver, never data).  A target
        fragment outside these bounds cannot hold a matched row, so it
        stays byte-identical.  Returns None when no key conjunct is
        extractable (prune not possible), the source is empty, or the ON
        condition has a top-level OR (r7 advice, high: an equi piece
        inside a disjunct is NOT a binding conjunct — ``ON a AND b OR c``
        can match rows outside the equi bounds via ``c``, so pruning on
        them would silently skip matched rows)."""
        from spark_sql_on_hbase_spark.ddl import _find_top_level

        if _find_top_level(c.on, self._OR_RE) >= 0:
            return None
        t_names = {c.target_alias.lower(), c.table.lower()}
        s_name = c.source_alias.lower()
        keyset = {k.name for k in rel.meta.key_columns}
        conjs, start, off = [], 0, 0
        while True:
            i = _find_top_level(c.on, self._AND_RE, off)
            if i < 0:
                break
            conjs.append(c.on[start:i])
            start = off = i + 3
        conjs.append(c.on[start:])
        pairs: dict[str, str] = {}
        for conj in conjs:
            m = self._EQUI_RE.match(conj.strip())
            if not m:
                continue
            a1, c1, a2, c2 = m.groups()
            # the opposite side must be SOURCE-qualified: a target-target
            # conjunct (t.k2 = t.k) would put a target column into the
            # source-only aggregate and abort the MERGE (r7 review)
            if a1.lower() in t_names and c1 in keyset and a2.lower() == s_name:
                pairs[c1] = f"`{a2}`.`{c2}`"
            elif a2.lower() in t_names and c2 in keyset and a1.lower() == s_name:
                pairs[c2] = f"`{a1}`.`{c1}`"
        if not pairs:
            return None
        aggs = ", ".join(
            f"min({e}) AS `mn_{k}`, max({e}) AS `mx_{k}`" for k, e in pairs.items()
        )
        row = self.spark.sql(f"SELECT {aggs} FROM {c.source_from}").collect()[0]

        def lit(v) -> str:
            import decimal

            if isinstance(v, bool):
                return "TRUE" if v else "FALSE"
            if isinstance(v, (int, float, decimal.Decimal)):
                return str(v)
            return "'" + str(v).replace("'", "''") + "'"

        conds = []
        for k in pairs:
            mn, mx = row[f"mn_{k}"], row[f"mx_{k}"]
            if mn is None or mx is None:
                return None  # empty source: caller's full path handles it
            conds.append(f"{k} >= {lit(mn)} AND {k} <= {lit(mx)}")
        return " AND ".join(conds)

    def _check_merge_cardinality(self, c: ddl.MergeInto, rel: AstroRelation) -> None:
        """ANSI MERGE cardinality rule (SQL:2016): raise when multiple
        source rows match ONE target key — one groupBy-count over the
        matched join keys (r6 verdict #4).  Disabled via
        ``strict_merge=False`` for the documented permissive HBase-style
        mode (upsert resolution picks one winner per key per column)."""
        t = c.target_alias
        keys = ", ".join(f"{t}.`{k.name}`" for k in rel.meta.key_columns)
        cond = c.update_cond if c.update_set is not None else c.delete_cond
        dup = self.spark.sql(
            f"SELECT {keys} FROM {c.table} {t} JOIN {c.source_from} ON {c.on}"
            + (f" WHERE coalesce(({cond}), false)" if cond else "")
            + f" GROUP BY {keys} HAVING count(*) > 1 LIMIT 1"
        )
        if dup.take(1):
            raise ValueError(
                "MERGE cardinality violation: multiple source rows match one "
                "target key (ANSI SQL:2016); pass strict_merge=False for the "
                "permissive newest-wins mode"
            )

    def _exec_MergeInto(self, c: ddl.MergeInto) -> DataFrame:
        """MERGE INTO over the LSM layout (beyond-reference; the reference
        appends only, HBaseRelation.scala:660-663).

        UPDATE compiles to full target rows with the SET expressions
        applied (unassigned columns carry the target's current values),
        and INSERT to anti-joined source rows — both land through the
        append/upsert path, where newest-generation-wins resolution gives
        exact MERGE semantics with NO table rewrite.  DELETE has no
        tombstone in the layout, so matched-delete merges rewrite the
        survivors — region-pruned by the source's key bounds when the
        merge is delete-only, atomically over the whole table otherwise
        (a delete+insert merge must evaluate NOT-MATCHED against the
        pre-delete snapshot, which the single overwrite guarantees).

        An UPDATE whose SET expression nulls a currently non-null cell
        cannot land through the append (the upsert merge reads NULL as an
        absent cell — r6 advice, high): a probe detects that case and
        routes the update through the pruned rewrite instead.

        Cardinality: strict_merge (default) raises on multiple source
        rows per target key, matching ANSI engines; strict_merge=False
        keeps the permissive upsert-burst resolution."""
        if not self.catalog.table_exists(c.table, c.namespace):
            return self.spark.sql(c.raw)
        self._register_all()
        rel = self.relation(c.table, c.namespace)
        cols = [n for n, _ in rel.meta.all_columns]
        keyset = {k.name for k in rel.meta.key_columns}
        t, s = c.target_alias, c.source_alias
        schema = table_schema(rel.meta)
        self.last_write_stats = None
        if self.strict_merge and (c.update_set is not None or c.delete_matched):
            self._check_merge_cardinality(c, rel)
        parts: list[DataFrame] = []

        def _cast(df: DataFrame) -> DataFrame:
            return df.select(*[df[n].cast(schema[n].dataType) for n in cols])

        update_via_rewrite = False
        mterms = (
            self._null_probe_terms(c.update_set, (t, c.table))
            if c.update_set is not None
            else []
        )
        if mterms:
            nullprobe = " OR ".join(
                f"(({e}) IS NULL AND {t}.`{col}` IS NOT NULL)" for col, e in mterms
            )
            probe = self.spark.sql(
                f"SELECT 1 FROM {c.table} {t} JOIN {c.source_from} ON {c.on} "
                f"WHERE ({nullprobe})"
                + (f" AND coalesce(({c.update_cond}), false)" if c.update_cond else "")
                + " LIMIT 1"
            )
            update_via_rewrite = bool(probe.take(1))
        if c.update_set is not None and not update_via_rewrite:
            proj = self._update_projection(rel, c.update_set, f"{t}.")
            parts.append(
                _cast(self.spark.sql(
                    f"SELECT {proj} FROM {c.table} {t} JOIN {c.source_from} ON {c.on}"
                    + (f" WHERE coalesce(({c.update_cond}), false)" if c.update_cond else "")
                ))
            )
        build_insert = None
        if c.has_insert:
            if c.insert_star:
                iproj = ", ".join(f"{s}.`{col}` AS `{col}`" for col in cols)
            else:
                assign = dict(zip(c.insert_cols or [], c.insert_exprs or []))
                missing = keyset - set(assign)
                if missing:
                    raise ValueError(f"INSERT must assign key columns {sorted(missing)}")
                undeclared = set(assign) - set(cols)
                if undeclared:
                    # a typo'd column must error, not silently insert NULL
                    # (r6 advice — mirrors _update_projection's check)
                    raise ValueError(
                        f"MERGE INSERT on undeclared columns {sorted(undeclared)}"
                    )
                iproj = ", ".join(
                    f"{assign.get(col, 'NULL')} AS `{col}`" for col in cols
                )

            def build_insert() -> DataFrame:
                return _cast(self.spark.sql(
                    f"SELECT {iproj} FROM {c.source_from} "
                    f"LEFT ANTI JOIN {c.table} {t} ON {c.on}"
                    + (f" WHERE coalesce(({c.insert_cond}), false)" if c.insert_cond else "")
                ))

        if update_via_rewrite:
            # full-row rewrite with the SET expressions applied in place:
            # NULL results land as real NULLs (matched rows only exist in
            # fragments intersecting the source's key bounds → pruned).
            # Update never changes keys, so NOT-MATCHED is unaffected — the
            # insert anti-join is rebuilt against the POST-rewrite view
            # (the pre-rewrite plan would hold stale file listings).
            self._merge_update_rewrite(rel, c)
            if build_insert is not None:
                rel.register_view()
                rel.insert(build_insert(), op="MERGE")
        elif c.delete_matched:
            if build_insert is not None:
                parts.append(build_insert())
            # matched-with-condition anti-join key: one definition for the
            # pruned and full paths so their delete semantics cannot drift
            don = (
                f"({c.on}) AND coalesce(({c.delete_cond}), false)"
                if c.delete_cond
                else c.on
            )
            # delete-only merge: region-pruned by the source's key bounds
            prune_where = None if parts else self._source_key_bounds(c, rel)

            def survivors_of(df: DataFrame) -> DataFrame:
                v = f"__astro_merge_target_{rel.meta.namespace}_{rel.meta.name}"
                df.createOrReplaceTempView(v)
                return _cast(self.spark.sql(
                    f"SELECT {', '.join(f'{t}.`{col}`' for col in cols)} "
                    f"FROM {v} {t} LEFT ANTI JOIN {c.source_from} ON {don}"
                ))

            def full_rows() -> DataFrame:
                # survivors = target rows with NO (condition-qualified)
                # source match, plus the inserts; atomic rewrite
                out = _cast(self.spark.sql(
                    f"SELECT {', '.join(f'{t}.`{col}`' for col in cols)} "
                    f"FROM {c.table} {t} LEFT ANTI JOIN {c.source_from} ON {don}"
                ))
                for p in parts:
                    out = out.unionByName(p)
                return out

            self.last_write_stats = rel.rewrite_rows(
                prune_where, survivors_of, full_rows, op="MERGE"
            )
        else:
            if build_insert is not None:
                parts.append(build_insert())
            merged = parts[0]
            for p in parts[1:]:
                merged = merged.unionByName(p)
            rel.insert(merged, op="MERGE")
        rel.register_view()
        return self._ok(f"merged into {c.table}")

    def _merge_update_rewrite(self, rel: AstroRelation, c: ddl.MergeInto) -> None:
        """MERGE matched-UPDATE routed through the (pruned) rewrite: the
        target LEFT-JOINs a marker-wrapped source, matched rows take the
        SET expressions (NULLs included), unmatched rows pass through."""
        cols = [n for n, _ in rel.meta.all_columns]
        schema = table_schema(rel.meta)
        t, s = c.target_alias, c.source_alias
        self._update_projection(rel, c.update_set, f"{t}.")  # validation only
        wrapped = f"(SELECT {s}.*, true AS __m FROM {c.source_from}) {s}"
        guard = f"{s}.__m" + (
            f" AND coalesce(({c.update_cond}), false)" if c.update_cond else ""
        )
        proj = ", ".join(
            (
                f"CASE WHEN {guard} THEN ({c.update_set[n]}) ELSE {t}.`{n}` END AS `{n}`"
                if n in c.update_set
                else f"{t}.`{n}` AS `{n}`"
            )
            for n in cols
        )

        def survivors_of(df: DataFrame) -> DataFrame:
            v = f"__astro_merge_target_{rel.meta.namespace}_{rel.meta.name}"
            df.createOrReplaceTempView(v)
            out = self.spark.sql(
                f"SELECT {proj} FROM {v} {t} LEFT JOIN {wrapped} ON {c.on}"
            )
            return out.select(*[out[n].cast(schema[n].dataType) for n in cols])

        def full_rows() -> DataFrame:
            out = self.spark.sql(
                f"SELECT {proj} FROM {c.table} {t} LEFT JOIN {wrapped} ON {c.on}"
            )
            return out.select(*[out[n].cast(schema[n].dataType) for n in cols])

        self.last_write_stats = rel.rewrite_rows(
            self._source_key_bounds(c, rel), survivors_of, full_rows, op="MERGE"
        )

    def _exec_DescribeHistory(self, c: ddl.DescribeHistory) -> DataFrame:
        """DESCRIBE HISTORY t (r11 — Delta analog): one row per stamped
        generation, newest first: commit wall-clock, the operation that
        committed it ('unknown' for generations predating op recording
        or discovered from sibling writers), live/retired file counts,
        and whether the snapshot is readable (at/above the history
        floor)."""
        rel = self.relation(c.table, c.namespace)
        rel._ensure_fresh_regions()
        meta = rel.meta
        live = {}
        for r in meta.regions:
            live[r.seq] = live.get(r.seq, 0) + 1
        retired = {}
        for r in meta.retired_regions:
            retired[r.seq] = retired.get(r.seq, 0) + 1
        rows = []
        for s, ts in sorted(meta.generation_times.items(), key=lambda kv: -int(kv[0])):
            g = int(s)
            rows.append(
                (
                    g,
                    _iso_utc(ts),
                    meta.generation_ops.get(s, "unknown"),
                    live.get(g, 0),
                    retired.get(g, 0),
                    "readable" if g >= meta.history_floor else "below-floor",
                )
            )
        return local_rows_df(
            self.spark,
            rows,
            "generation int, committed_at string, operation string, "
            "live_files int, retired_files int, snapshot string",
        )

    def _exec_RestoreTable(self, c: ddl.RestoreTable) -> DataFrame:
        rel = self.relation(c.table, c.namespace)
        seq = (
            c.version
            if c.version is not None
            else rel.seq_for_timestamp(self._parse_asof_timestamp(c.timestamp))
        )
        self.last_write_stats = rel.restore(seq, op="RESTORE")
        rel.register_view()
        return self._ok(f"restored {c.table} to generation {seq}")

    def _exec_VacuumTable(self, c: ddl.VacuumTable) -> DataFrame:
        rel = self.relation(c.table, c.namespace)
        stats = rel.vacuum(
            retain_generations=c.retain_generations,
            retain_hours=c.retain_hours,
            dry_run=c.dry_run,
        )
        self.last_write_stats = stats
        if c.dry_run:
            # DRY RUN (r12, VERDICT r11 #3): one row per reclaimable
            # fragment + the floor the real run would set; nothing
            # deleted, no metadata changed.  r13: fragments DEFERRED by
            # a live reader lease are reported as such (status column).
            rows = [
                (p, "reclaimable", stats["history_floor"])
                for p in stats["reclaimable_paths"]
            ] + [
                (p, "deferred (reader lease)", stats["history_floor"])
                for p in stats.get("deferred_leased_paths", [])
            ]
            return local_rows_df(
                self.spark,
                rows,
                "reclaimable_path string, status string, would_set_floor int",
            )
        rel.register_view()
        deferred = len(stats.get("deferred_leased_paths", []))
        return self._ok(
            f"vacuumed {c.table}: {stats['retired_files_removed']} retired "
            f"fragments reclaimed ({stats['retired_files_kept']} kept by "
            f"RETAIN"
            + (f", {deferred} deferred by reader leases" if deferred else "")
            + f"), history floor {stats['history_floor']}"
        )

    def _exec_CompactTable(self, c: ddl.CompactTable) -> DataFrame:
        rel = self.relation(c.table, c.namespace)
        n_before = len(rel.meta.regions)
        stats = self.last_write_stats = rel.compact()
        rel.register_view()
        if stats["compact_mode"] == "regions":
            how = f"{stats['regions_rewritten']} rewritten, {stats['regions_kept']} kept"
        else:
            how = f"whole table rebuilt: {stats['rebuild_reason']}"
        return self._ok(
            f"compacted {c.table}: {n_before} fragments -> {len(rel.meta.regions)} regions ({how})"
        )

    _VERSION_ASOF_RE = re.compile(
        r"([\w.`]+)\s+(VERSION|TIMESTAMP)\s+AS\s+OF\s+"
        r"('(?:[^'\\]|\\.)*'|\d+(?:\.\d+)?)",
        re.IGNORECASE,
    )

    @staticmethod
    def _parse_asof_timestamp(lit: str) -> float:
        """TIMESTAMP AS OF operand → epoch seconds.  Accepts a numeric
        epoch or a quoted ISO timestamp/date (naive values read as UTC —
        commit times are recorded as UTC epochs)."""
        from datetime import datetime, timezone

        s = lit.strip()
        if s.startswith("'"):
            s = s[1:-1].replace("\\'", "'")
        try:
            return float(s)
        except ValueError:
            dt = datetime.fromisoformat(s)
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            return dt.timestamp()

    @staticmethod
    def _quote_map(text: str) -> list[bool]:
        """Per-character inside-a-string-literal map, escape-aware (same
        rule as ddl._find_top_level: ``\\'`` inside a literal must not
        close it — r7 advice: a desynced quote map mis-skips later
        rewrite sites)."""
        in_quote = [False] * len(text)
        q = None
        i = 0
        while i < len(text):
            ch = text[i]
            if q:
                in_quote[i] = True
                if ch == "\\":
                    if i + 1 < len(text):
                        in_quote[i + 1] = True
                    i += 2
                    continue
                if ch == q:
                    q = None
            elif ch in "'\"":
                q = ch
                in_quote[i] = True
            i += 1
        return in_quote

    def _rewrite_version_asof(self, text: str) -> str:
        """SQL-level time travel: ``FROM t VERSION AS OF n`` resolves the
        generation-N snapshot and ``FROM t TIMESTAMP AS OF t`` (epoch or
        ISO literal, UTC) resolves the newest generation committed at or
        before t (r7 verdict #6) — both over an astro table become a
        registered snapshot view (the reference's doc §23
        timestamp-versioned queries were SQL-level; Spark reserves the
        same syntax for DSv2 time travel, so non-astro matches pass
        through untouched).  String literals are skipped."""
        in_quote = self._quote_map(text)
        out, last = [], 0
        for m in self._VERSION_ASOF_RE.finditer(text):
            if in_quote[m.start()]:
                continue
            ns, t = ddl._parse_table_name(m.group(1))
            if not self.catalog.table_exists(t, ns):
                continue  # Spark's own DSv2 time travel may handle it
            kind, operand = m.group(2).upper(), m.group(3)
            rel = self.relation(t, ns)
            if kind == "VERSION":
                if not operand.isdigit():
                    raise ValueError(
                        f"VERSION AS OF takes a generation number, got {operand}"
                    )
                n = int(operand)
            else:
                n = rel.seq_for_timestamp(self._parse_asof_timestamp(operand))
            view = f"{t}__asof_{n}"
            rel.scan(as_of_seq=n).createOrReplaceTempView(view)
            out.append(text[last:m.start()])
            out.append(view)
            last = m.end()
        out.append(text[last:])
        return "".join(out)

    _CHANGES_RE = re.compile(
        r"([\w.`]+)\s+CHANGES\s+FROM\s+(\d+|'(?:[^'\\]|\\.)*')"
        r"(?:\s+TO\s+(\d+|'(?:[^'\\]|\\.)*'))?"
        r"(\s+WITH\s+NOOP\s+FILTER)?",
        re.IGNORECASE,
    )

    def _rewrite_changes(self, text: str) -> str:
        """SQL surface of the change-data feed (r11, VERDICT r10 #2 —
        the r10 feed was Python-only): ``SELECT … FROM t CHANGES FROM n
        [TO m] [WITH NOOP FILTER]`` registers ``relation.changes(n, m)``
        as a temp view carrying the table's columns plus ``_change_type``
        ('insert'/'update'/'delete' — deletes on retain_history tables
        only, with pre-image values) and ``_commit_seq``.  ``TO``
        defaults to the newest committed generation; ``WITH NOOP
        FILTER`` maps to ``drop_noop=True`` (drops the retained
        rewrite's unchanged-survivor 'update' rows).  ``n`` must be
        at/above the history floor (DESCRIBE EXTENDED lists it).
        Mirrors the r7/r8 VERSION/TIMESTAMP AS OF rewrite; string
        literals and non-astro tables are skipped."""
        in_quote = self._quote_map(text)
        out, last = [], 0
        for m in self._CHANGES_RE.finditer(text):
            if in_quote[m.start()]:
                continue
            ns, t = ddl._parse_table_name(m.group(1))
            if not self.catalog.table_exists(t, ns):
                continue
            rel = self.relation(t, ns)

            def _bound(op: str | None) -> int | None:
                # generation number, or a quoted timestamp resolved via
                # the TIMESTAMP AS OF machinery (Delta CDF's
                # startingTimestamp analog, r11)
                if op is None:
                    return None
                if op[0] == "'":
                    return rel.seq_for_timestamp(self._parse_asof_timestamp(op))
                return int(op)

            from_seq = _bound(m.group(2))
            to_seq = _bound(m.group(3))
            drop_noop = m.group(4) is not None
            view = (
                f"{t}__changes_{from_seq}_"
                f"{'cur' if to_seq is None else to_seq}{'_nn' if drop_noop else ''}"
            )
            rel.changes(from_seq, to_seq, drop_noop=drop_noop).createOrReplaceTempView(
                view
            )
            out.append(text[last:m.start()])
            out.append(view)
            last = m.end()
        out.append(text[last:])
        return "".join(out)

    # conservative SELECT shape the router recognizes: bare-identifier
    # projection over ONE bare table with a WHERE tail.  Anything richer
    # (expressions, *, aliases, joins, qualified names) falls through to
    # spark.sql.  Structural keywords after WHERE are handled by the
    # predicate parser and the routed filter: GROUP/ORDER/LIMIT swallowed
    # into the where-text either fail parse_predicate (no servable
    # conjunct, so plan_select declines) or fail the routed frame's
    # filter expression, and the statement passes through untouched.
    _SELECT_RE = re.compile(
        r"^\s*SELECT\s+(?P<cols>[A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s+"
        r"FROM\s+(?P<tbl>[A-Za-z_]\w*)\s+WHERE\s+(?P<where>.+?)\s*;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )

    def _route_select(self, text: str) -> DataFrame | None:
        """The SELECT router: a plain ``SELECT cols FROM t WHERE …`` on a
        catalog table reads through the table's best access path — the
        decision of :meth:`AstroRelation.plan_select`, which EXPLAIN SCAN
        … COLUMNS shows too: an index-only read when a covering index
        serves it, a point read (critical-point pruning, the ROW-bloom
        probe, a merge decided over the surviving files) when the
        predicate pins the full row key, ``scan_where``'s index route
        when the index engaged or proved the result empty, else
        ``scan_where``'s key-range read (critical-point pruning, the
        delta probe, a merge only over overlapping survivors) when a
        conjunct is on key columns alone.  All apply the FULL predicate,
        so the rows are spark.sql's.  Returns None (pass through to
        spark.sql) for every other statement — those filtering on
        non-key columns alone among them; a routed read is recorded on
        ``last_select_route``."""
        m = self._SELECT_RE.match(text)
        if m is None:
            return None
        tbl = m.group("tbl")
        try:
            rel = self.relation(tbl)
        except KeyError:
            return None  # not a catalog table (user temp view etc.)
        cols = [c.strip() for c in m.group("cols").split(",")]
        declared = {n for n, _ in rel.meta.all_columns}
        if not all(c in declared for c in cols):
            return None  # unknown/differently-cased identifier → spark.sql
        try:
            plan = rel.plan_select(m.group("where"), cols)
        except Exception:
            return None  # router must never break a passthrough SELECT
        if not plan.routed:
            return None
        # ownership guard (r15 review): a user may have REPLACED the
        # registered temp view (createOrReplaceTempView with the same
        # name) — spark.sql would then read the user's view, so routing
        # to the catalog table would silently diverge.  Route only while
        # the session catalog still holds the view registered for this
        # table's current state; anything else passes through.
        if not owns_view(self.spark, tbl, view_fingerprint(self.catalog, rel.meta)):
            return None
        self.last_select_route = plan.res
        return plan.df

    def _exec_PassThrough(self, c: ddl.PassThrough) -> DataFrame:
        """Any statement the DDL parser does not own runs as spark.sql over
        the registered views, after the time-travel (``VERSION AS OF``)
        and change-feed rewrites; a plain SELECT that is neither is first
        offered to :meth:`_route_select`, which serves full-key point
        gets, index-servable lookups and key ranges (leading or deeper
        key columns) from the pruned read and passes everything else
        back to spark.sql."""
        self._register_all()
        self.last_select_route = None
        sql_text = c.sql
        rewritten = False
        if self._VERSION_ASOF_RE.search(sql_text):
            sql_text = self._rewrite_version_asof(sql_text)
            rewritten = True
        if self._CHANGES_RE.search(sql_text):
            sql_text = self._rewrite_changes(sql_text)
            rewritten = True
        if not rewritten:  # time-travel/changes reads never route
            routed = self._route_select(sql_text)
            if routed is not None:
                return routed
        return self.spark.sql(sql_text)

    def _ok(self, msg: str) -> DataFrame:
        return local_rows_df(self.spark, [(msg,)], "result string")
