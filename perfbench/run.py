"""Benchmark of the Astro engine's keyed SQL paths.

Run from the root of a checkout:

    python3 perfbench/run.py --workload kv_reads --seed 1 --seconds 14 --trace 0

One client thread drives the engine in a closed loop through its public
entry points (``AstroSession.sql`` and ``AstroRelation.scan_where`` +
``collect``), checks every read against an in-memory model of the table,
prints each metric with its unit and sample count, and ends with one JSON
line: ``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones (see
README.md in this directory).

Every warehouse, Spark scratch and temp file of a run lives in a fresh
directory under ``.perfbench_run/`` in the checkout and is removed at exit;
traced runs leave their spans and per-operation records in
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import bench_stats as S  # noqa: E402
import kv  # noqa: E402

ROOT = os.getcwd()
PKG_DIR = os.path.join(ROOT, "spark_sql_on_hbase_spark")

# table sizes: large enough that a range or index read touches a real
# slice of many regions, small enough that setup fits the run budget
N_K1 = {"kv_reads": 10_000, "kv_writes": 5_000}
TRICKLE_GENERATIONS = 4
TRICKLE_ROWS = 16
INSERT_ROWS = 10

WRITE_KINDS = ("insert", "update", "delete_prefix")

# Latencies are reported relative to a plain Spark SQL query over a
# parquet copy of the same rows, timed in the same run ("plain"): on a
# shared host, CPU steal swings run speed by up to 2x between runs, and
# the ratio cancels that while keeping every cost the engine adds.  The
# raw milliseconds are printed above the JSON line.
END_TO_END = {
    "setup_s": "s",
    "op_mean_rel": "ratio",
    "point_get_p50_rel": "ratio",
    "range_scan_p50_rel": "ratio",
    "index_lookup_p50_rel": "ratio",
    "write_p50_rel": "ratio",
    "space_amp": "ratio",
}
PLAIN = "plain_kv"

# per-layer metrics reported for the whole workload, then for two
# operation types: a 10-row INSERT and a full-key point get
LAYER = {
    "ddl.parse_ms": "ms",
    "predicate.parse_ms": "ms",
    "catalog.get_table_ms": "ms",
    "catalog.get_table_calls": "count",
    "catalog.commit_ms": "ms",
    "catalog.commits": "count",
    "catalog.commit_retries": "count",
    "pruning.prune_ms": "ms",
    "pruning.files_read_ratio": "ratio",
    "bloom.load_ms": "ms",
    "bloom.skip_ratio": "ratio",
    "index.candidates": "count",
    "index.mode.augment": "count",
    "index.mode.semijoin": "count",
    "index.mode.empty": "count",
    "relation.scan_where_ms": "ms",
    "relation.register_view_ms": "ms",
    "relation.register_view_calls": "count",
    "relation.append_ms": "ms",
    "relation.rewrite_ms": "ms",
    "relation.compact_ms": "ms",
    "relation.load_ms": "ms",
    "storage.rows_per_result_row": "ratio",
    "storage.live_fragments": "count",
    "storage.files_written_per_write": "count",
    "storage.files_retired_per_write": "count",
    "storage.bytes_written_per_user_byte": "ratio",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.task_ms_per_op": "ms",
    "spark.shuffle_bytes_per_op": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.execute_ms": "ms",
    "jvm.gc_ms": "ms",
    "py4j.calls_per_op": "count",
    "py4j.wait_ms_per_op": "ms",
    "driver.cpu_ms_per_op": "ms",
    "trace.op_mean_rel": "ratio",
}
PER_TYPE = {
    "insert": ("wall_ms", "spark.jobs_per_op", "py4j.calls_per_op", "py4j.wait_ms_per_op",
               "catalog.commit_ms", "catalog.commits", "relation.register_view_ms",
               "relation.append_ms", "spark.task_ms_per_op", "ddl.parse_ms",
               "catalog.get_table_ms", "storage.files_written_per_write"),
    "point_get": ("wall_ms", "spark.jobs_per_op", "py4j.calls_per_op", "py4j.wait_ms_per_op",
                  "pruning.prune_ms", "relation.scan_where_ms", "spark.execute_ms",
                  "bloom.load_ms", "catalog.get_table_ms", "storage.rows_per_result_row"),
}
# the span names whose per-op mean becomes a `<name>_ms` metric
SPAN_METRICS = ("ddl.parse", "predicate.parse", "catalog.get_table", "catalog.commit",
                "pruning.prune", "bloom.load", "relation.scan_where", "relation.register_view",
                "relation.append", "relation.rewrite", "relation.compact", "relation.load",
                "spark.execute")


def layer_metric_names() -> dict[str, str]:
    out = dict(LAYER)
    for kind, names in PER_TYPE.items():
        for n in names:
            out[f"{kind}.{n}"] = "ms" if n.endswith("_ms") else LAYER.get(n, "count")
    return out


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def start_spark(run_dir: str):
    """local[nproc] session whose scratch, temp and warehouse dirs all sit
    under ``run_dir``."""
    from pyspark.sql import SparkSession

    from spark_sql_on_hbase_spark.tuning import local_shuffle_confs

    n = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        # 3 GB of driver heap: the tables are a few MB, and the Python
        # workers need room beside it on a 15 GB host
        .config("spark.driver.memory", "3g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "spark-warehouse"))
        # -XX:-UsePerfData: the JVM would otherwise write its perf-data
        # file under /tmp whatever java.io.tmpdir says
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    )
    for k, v in local_shuffle_confs(scratch_root=run_dir).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(gateway) -> None:
    """End the JVM that PySpark launched and wait for it: spark.stop() only
    stops the context, and the JVM would otherwise exit on its own after
    this process does."""
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the launcher exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def dir_files(path: str) -> dict[str, int]:
    """path -> size of every file under ``path``."""
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass  # reclaimed between listing and stat
    return out


def dir_bytes(path: str) -> int:
    return sum(dir_files(path).values())


# ---------------------------------------------------------------------------
# client
# ---------------------------------------------------------------------------


class Client:
    """Issues operations one at a time and records each one's latency,
    outcome and (traced) layer counters."""

    def __init__(self, spark, astro, warehouse: str, tracer=None):
        self.spark = spark
        self.astro = astro
        self.warehouse = warehouse
        self.tracer = tracer
        self.phase = "setup"
        self.records: list[dict] = []
        self.failures: list[str] = []
        self._op_id = 0
        if tracer is not None:
            self._empty = spark.sparkContext._gateway.new_array(spark.sparkContext._jvm.double, 0)

    def span(self, name: str):
        return nullcontext() if self.tracer is None else self.tracer.span(name)

    # -- one operation ------------------------------------------------------
    def op(self, kind: str, fn, *, group: str = "", user_bytes: int = 0, label: str = ""):
        """Run fn() as one operation; returns (ok, result).  ``group`` splits
        one operation type for the balanced medians: the entry point and
        predicate shape of a read, the statement type of a write."""
        self._op_id += 1
        rec = {"id": self._op_id, "kind": kind, "group": group or kind, "phase": self.phase,
               "label": label}
        tr = self.tracer
        if tr is not None:
            sc = self.spark.sparkContext
            job_group = f"perfbench-{self._op_id}"
            sc.setJobGroup(job_group, kind)
            before = self._storage_snapshot() if kind in WRITE_KINDS + ("compact",) else None
            calls0, wait0 = tr.py4j_calls, tr.py4j_wait
            cpu0 = time.process_time()
            tr.op = self._op_id
        t0 = time.perf_counter()
        try:
            with self.span(f"op.{kind}"):
                out = fn()
            ok = True
        except Exception as ex:  # a failed statement is counted and reported, never dropped
            out, ok = None, False
            self.failures.append(f"{kind} {label}: {type(ex).__name__}: {str(ex).splitlines()[0][:300]}")
        rec["wall_ms"] = (time.perf_counter() - t0) * 1e3
        if tr is not None:
            tr.op = None
            rec["driver.cpu_ms"] = (time.process_time() - cpu0) * 1e3
            rec["py4j.calls"] = tr.py4j_calls - calls0
            rec["py4j.wait_ms"] = (tr.py4j_wait - wait0) * 1e3
            sc.setJobGroup("perfbench-idle", "idle")
            rec.update(self._spark_counters(job_group))
            if before is not None:
                rec.update(self._storage_delta(before, user_bytes))
        rec["ok"] = ok
        self.records.append(rec)
        return ok, out

    def timed(self) -> list[dict]:
        return [r for r in self.records if r["phase"] == "timed"]

    def failed_count(self) -> int:
        return sum(1 for r in self.timed() if not r["ok"])

    def fail(self, rec_kind: str, label: str, why: str) -> None:
        self.records[-1]["ok"] = False
        self.failures.append(f"{rec_kind} {label}: {why}")

    # -- reads and writes ---------------------------------------------------
    def read(self, r: kv.Read) -> bool:
        def run():
            if r.path == "sql":
                df = self.astro.sql(f"SELECT k1, k2, v1, v2 FROM kv WHERE {r.where}")
            else:
                df = self.astro.relation("kv").scan_where(r.where)[0].select(*kv.COLUMNS)
            with self.span("spark.execute"):
                return df, df.collect()

        group = f"{r.path}/{r.shape}" if r.shape else r.path
        ok, out = self.op(r.kind, run, group=group, label=f"[{r.path}] {r.where}")
        if not ok:
            return False
        df, rows = out
        if self.tracer is not None:
            self.records[-1]["result_rows"] = len(rows)
            self.records[-1]["scan_rows"] = self._scan_rows(df)
        if not kv.matches(rows, r.expected):
            self.fail(r.kind, f"[{r.path}] {r.where}",
                      f"got {len(rows)} rows, model has {len(r.expected)}")
            return False
        return True

    def plain(self, lo: int, hi: int) -> None:
        """The reference query: a leading-key range over the plain parquet
        copy of the base table, through spark.sql without the engine."""
        sql = f"SELECT k1, k2, v1, v2 FROM {PLAIN} WHERE k1 BETWEEN {lo} AND {hi}"
        self.op("plain", lambda: self.spark.sql(sql).collect(), label=sql)

    def write(self, kind: str, sql: str, user_bytes: int = 0) -> bool:
        ok, _ = self.op(kind, lambda: self.astro.sql(sql).collect(), user_bytes=user_bytes, label=sql[:200])
        return ok

    # -- traced counters (read with the tracer paused) ------------------------
    def _spark_counters(self, group: str) -> dict:
        sc = self.spark.sparkContext
        tr = self.tracer
        with tr.paused_section():
            jsc = sc._jsc.sc()
            jsc.listenerBus().waitUntilEmpty()
            store = jsc.statusStore()
            st = sc.statusTracker()
            out = defaultdict(float)
            for jid in st.getJobIdsForGroup(group):
                out["spark.jobs"] += 1
                info = st.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    attempts = store.stageData(sid, False, None, False, self._empty)
                    it = attempts.iterator()
                    while it.hasNext():
                        s = it.next()
                        out["spark.stages"] += 1
                        out["spark.tasks"] += s.numCompleteTasks()
                        out["spark.task_ms"] += s.executorRunTime()
                        out["spark.shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
                        out["spark.spill_bytes"] += s.diskBytesSpilled()
                        out["jvm.gc_ms"] += s.jvmGcTime()
        return dict(out)

    def _scan_rows(self, df) -> int:
        from spark_sql_on_hbase_spark.plans.metrics import _find_scans

        with self.tracer.paused_section():
            n = 0
            for s in _find_scans(df._jdf.queryExecution().executedPlan()):
                if s.metrics().contains("numOutputRows"):
                    n += s.metrics().apply("numOutputRows").value()
            return n

    def live_regions(self) -> list[str]:
        with self.tracer.paused_section():
            meta = self.astro.catalog.get_table("kv")
            return [rf.path for rf in meta.regions]

    def _storage_snapshot(self):
        return set(self.live_regions()), dir_files(self.warehouse)

    def _storage_delta(self, before, user_bytes: int) -> dict:
        live0, files0 = before
        live1, files1 = self._storage_snapshot()
        new = {p: n for p, n in files1.items() if p not in files0}
        return {
            "files_written": sum(1 for p in new if p.endswith(".parquet")),
            "files_retired": len(live0 - live1),
            "bytes_written": sum(new.values()),
            "user_bytes": user_bytes,
        }


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def build_table(client: Client, rng: random.Random, n_k1: int, run_dir: str):
    """CREATE TABLE + bulk load (AstroRelation.write) + CREATE INDEX.
    Returns (model, bytes right after the bulk load)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = kv.base_rows(rng, n_k1)
    src = os.path.join(run_dir, "base.parquet")
    cols = list(zip(*rows))
    pq.write_table(
        pa.table({
            "k1": pa.array(cols[0], pa.int64()),
            "k2": pa.array(cols[1], pa.int32()),
            "v1": pa.array(cols[2], pa.int64()),
            "v2": pa.array(cols[3], pa.string()),
        }),
        src,
    )
    astro, spark = client.astro, client.spark

    def load():
        astro.sql(kv.DDL)
        astro.relation("kv").write(spark.read.parquet(src))

    ok, _ = client.op("load", load, label="bulk load")
    if not ok:
        raise RuntimeError("bulk load failed: " + client.failures[-1])
    spark.read.parquet(src).createOrReplaceTempView(PLAIN)
    loaded_bytes = dir_bytes(client.warehouse)
    ok, _ = client.op("load", lambda: astro.sql("CREATE INDEX ON kv (v1)").collect(), label="CREATE INDEX")
    if not ok:
        raise RuntimeError("index build failed: " + client.failures[-1])
    return kv.TableModel(rows), loaded_bytes


def read_cycle(ks: kv.KeySpace) -> list[kv.Read]:
    """One kv_reads cycle: every read shape, each through SQL and through
    scan_where.  Index lookups are drawn twice per entry point, so no read
    type has fewer than four samples a cycle.  Whole cycles keep the mix
    the same in every run."""
    return [f(path) for path in ("sql", "scan_where")
            for f in (ks.point_eq, ks.point_miss, ks.point_in, ks.range_lead, ks.range_dim2,
                      ks.index_eq, ks.index_eq)]


def run_reads(client: Client, ks: kv.KeySpace, reads: list[kv.Read]) -> None:
    """Issue the reads in order, each followed by the plain query."""
    for r in reads:
        client.read(r)
        client.plain(*plain_range(ks))


def plain_range(ks: kv.KeySpace) -> tuple[int, int]:
    r = ks.range_lead("sql")
    return r.expected[0][0], r.expected[-1][0]


def kv_reads(client: Client, rng: random.Random, seconds: float, run_dir: str) -> dict:
    t_setup = time.perf_counter()
    model, loaded_bytes = build_table(client, rng, N_K1["kv_reads"], run_dir)
    ks = kv.KeySpace(rng, model, N_K1["kv_reads"])
    # a whole cycle of warm-up before the trickle generations: the first
    # read of each type through each entry point runs cold (an index
    # lookup through scan_where took 1.6x its warm time), and every
    # statement keeps getting faster for several seconds while the JVM
    # compiles the hot paths
    client.phase = "warmup"
    run_reads(client, ks, read_cycle(ks))
    for gen in range(TRICKLE_GENERATIONS):
        # the first INSERT of a run is cold (~20 % slower than the next):
        # it counts as warm-up, not in write_p50_rel
        client.phase = "warmup" if gen == 0 else "setup"
        sql, rows = ks.insert(TRICKLE_ROWS)
        client.write("insert", sql, sum(kv.row_bytes(r) for r in rows))
    # the first reads after a write run slow again (a point get through
    # SQL took twice its time), so each read type is warmed once more
    client.phase = "warmup"
    run_reads(client, ks, [f(path) for path in ("sql", "scan_where")
                           for f in (ks.point_eq, ks.range_lead, ks.index_eq)])
    setup_s = time.perf_counter() - t_setup

    client.phase = "timed"
    t0 = time.perf_counter()
    while True:
        run_reads(client, ks, read_cycle(ks))
        if time.perf_counter() - t0 >= seconds:
            break
    return {"setup_s": setup_s, "loaded_bytes": loaded_bytes}


def kv_writes(client: Client, rng: random.Random, seconds: float, run_dir: str) -> dict:
    t_setup = time.perf_counter()
    model, loaded_bytes = build_table(client, rng, N_K1["kv_writes"], run_dir)
    ks = kv.KeySpace(rng, model, N_K1["kv_writes"])

    def touched_reads(k1: int, k2: int, v1: int) -> list[kv.Read]:
        """A point get of the key, a leading-key range around it and an
        index lookup of its v1 value, each through SQL and scan_where."""
        return [f(path) for f in (lambda p: ks.point_at(p, k1, k2), lambda p: ks.range_near(p, k1),
                                  lambda p: ks.index_at(p, v1))
                for path in ("sql", "scan_where")]

    def statement(kind: str) -> None:
        """One write, then checked reads of what it touched through all
        three access paths and both entry points."""
        if kind == "insert":
            sql, rows = ks.insert(INSERT_ROWS)
            ub = sum(kv.row_bytes(r) for r in rows)
            touched = rows[rng.randrange(len(rows))]
        elif kind == "update":
            sql, _old, touched = ks.update()
            ub = kv.row_bytes(touched)
        else:
            sql, old = ks.delete_prefix()
            touched, ub = old[0], 0
        client.write(kind, sql, ub)
        run_reads(client, ks, touched_reads(*touched[:3]))

    # warm every read type through each entry point twice, as in kv_reads
    client.phase = "warmup"
    for _ in range(2):
        run_reads(client, ks, touched_reads(*model.row(*ks.present_key())[:3]))
    setup_s = time.perf_counter() - t_setup

    # whole rounds: every statement type once, then COMPACT, so each run
    # has the same mix and ends at the same point of the compaction cycle
    client.phase = "timed"
    t0 = time.perf_counter()
    while True:
        for kind in WRITE_KINDS:
            statement(kind)
        client.write("compact", "COMPACT TABLE kv")
        client.plain(*plain_range(ks))
        if time.perf_counter() - t0 >= seconds:
            break
    return {"setup_s": setup_s, "loaded_bytes": loaded_bytes}


WORKLOADS = {"kv_reads": kv_reads, "kv_writes": kv_writes}


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def latency_groups(records: list[dict], kinds) -> list[tuple[str, float]]:
    return [(r["group"], r["wall_ms"]) for r in records if r["kind"] in kinds and r["ok"]]


def end_to_end(client: Client, info: dict) -> tuple[dict, dict]:
    """({name: (value, samples)} for the JSON line, {name: (raw ms, samples)}
    printed beside it).

    A read latency is the mean of its medians per entry point and
    predicate shape, and a write latency the mean of its per-statement-type
    medians (``bench_stats.balanced_median``), so the SQL and scan_where
    paths, the predicate shapes of a point get or range, and each
    statement type weigh the same in every run.  Each ``_rel`` metric
    divides that by the run's median plain query."""
    timed = client.timed()
    engine = [r for r in timed if r["kind"] != "plain"]
    plain = S.balanced_median(latency_groups(timed, ("plain",)))
    raw = {"plain_p50_ms": (plain, sum(1 for r in timed if r["kind"] == "plain"))}
    raw["op_mean_ms"] = (S.ratio(sum(r["wall_ms"] for r in engine), len(engine)), len(engine))
    for kind in ("point_get", "range_scan", "index_lookup"):
        xs = latency_groups(timed, (kind,))
        raw[f"{kind}_p50_ms"] = (S.balanced_median(xs) if xs else float("nan"), len(xs))
    # kv_reads' timed phase is read-only: its writes are the setup's
    # trickle generations
    ws = (latency_groups(timed, WRITE_KINDS)
          or latency_groups([r for r in client.records if r["phase"] == "setup"], WRITE_KINDS))
    raw["write_p50_ms"] = (S.balanced_median(ws) if ws else float("nan"), len(ws))
    out = {"setup_s": (info["setup_s"], 1)}
    for name in ("op_mean", "point_get_p50", "range_scan_p50", "index_lookup_p50", "write_p50"):
        value, n = raw[f"{name}_ms"]
        out[f"{name}_rel"] = (S.ratio(value, plain), n)
    out["space_amp"] = (S.ratio(dir_bytes(client.warehouse), info["loaded_bytes"]), 1)
    return out, raw


def tails(client: Client) -> dict[str, tuple[float, float, int]]:
    """kind -> (tail percentile, its value, samples), where the sample count
    supports one."""
    timed = client.timed()
    out = {}
    for kind in ("point_get", "range_scan", "index_lookup", "write"):
        xs = [v for _g, v in latency_groups(timed, WRITE_KINDS if kind == "write" else (kind,))]
        q = S.supported_tail(len(xs))
        if q is not None:
            out[kind] = (q, S.percentile(xs, q), len(xs))
    return out


def layer_metrics(client: Client, tracer, e2e: dict) -> tuple[dict, dict]:
    """Per-layer metrics over every recorded setup and timed engine
    operation (warm-up and the plain reference query excluded): the
    workload-level set, and the same per op type.  ``trace.op_mean_rel`` is
    the traced run's op_mean_rel, whose excess over the untraced runs'
    is the tracing overhead."""
    from tracing import outermost_totals

    recs = [r for r in client.records if r["phase"] != "warmup" and r["kind"] != "plain"]
    span_tot = outermost_totals(tracer.spans)

    def compute(rs: list[dict]) -> dict[str, float]:
        n = len(rs)
        ids = {r["id"] for r in rs}
        m: dict[str, float] = {"wall_ms": sum(r["wall_ms"] for r in rs) / n}
        spans = defaultdict(float)
        for (op, name), sec in span_tot.items():
            if op in ids:
                spans[name] += sec
        for name in SPAN_METRICS:
            m[f"{name}_ms"] = spans[name] * 1e3 / n
        counts = defaultdict(float)
        for r in rs:
            for k, v in tracer.counts.get(r["id"], {}).items():
                counts[k] += v
        m["catalog.get_table_calls"] = counts["catalog.get_table_calls"] / n
        m["catalog.commits"] = counts["catalog.commits"] / n
        m["catalog.commit_retries"] = counts["catalog.commit_retries"]
        m["relation.register_view_calls"] = counts["relation.register_view_calls"] / n
        m["pruning.files_read_ratio"] = (
            S.ratio(counts["pruning.files_read"], counts["pruning.files_total"])
            if counts["pruning.files_total"] else 0.0)
        m["bloom.skip_ratio"] = (
            S.ratio(counts["bloom.skipped"], counts["bloom.probed"]) if counts["bloom.probed"] else 0.0)
        m["index.candidates"] = (
            S.ratio(counts["index.candidates"], counts["index.engaged"]) if counts["index.engaged"] else 0.0)
        for mode in ("augment", "semijoin", "empty"):
            m[f"index.mode.{mode}"] = counts[f"index.mode.{mode}"]
        reads = [r for r in rs if r.get("result_rows")]
        m["storage.rows_per_result_row"] = (
            S.ratio(sum(r["scan_rows"] for r in reads), sum(r["result_rows"] for r in reads))
            if reads else 0.0)
        writes = [r for r in rs if "files_written" in r and r["kind"] in WRITE_KINDS]
        m["storage.files_written_per_write"] = (
            sum(r["files_written"] for r in writes) / len(writes) if writes else 0.0)
        m["storage.files_retired_per_write"] = (
            sum(r["files_retired"] for r in writes) / len(writes) if writes else 0.0)
        ub = sum(r["user_bytes"] for r in writes)
        m["storage.bytes_written_per_user_byte"] = (
            S.ratio(sum(r["bytes_written"] for r in writes if r["user_bytes"]), ub) if ub else 0.0)
        for key, name in (("spark.jobs", "spark.jobs_per_op"), ("spark.stages", "spark.stages_per_op"),
                          ("spark.tasks", "spark.tasks_per_op"), ("spark.task_ms", "spark.task_ms_per_op"),
                          ("spark.shuffle_bytes", "spark.shuffle_bytes_per_op"),
                          ("spark.spill_bytes", "spark.spill_bytes"), ("jvm.gc_ms", "jvm.gc_ms"),
                          ("py4j.calls", "py4j.calls_per_op"), ("py4j.wait_ms", "py4j.wait_ms_per_op"),
                          ("driver.cpu_ms", "driver.cpu_ms_per_op")):
            m[name] = sum(r.get(key, 0.0) for r in rs) / n
        return m

    whole = compute(recs)
    whole["storage.live_fragments"] = float(len(client.live_regions()))
    whole["trace.op_mean_rel"] = e2e["op_mean_rel"][0]
    by_kind = {}
    for kind in sorted({r["kind"] for r in recs}):
        by_kind[kind] = compute([r for r in recs if r["kind"] == kind])
    out = {name: whole[name] for name in LAYER}
    for kind, names in PER_TYPE.items():
        for n in names:
            out[f"{kind}.{n}"] = by_kind.get(kind, {}).get(n, 0.0)
    return out, by_kind


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(PKG_DIR):
        print(f"error: no spark_sql_on_hbase_spark/ under {ROOT}; run from the root of a checkout",
              file=sys.stderr)
        return 2
    runs = os.path.join(ROOT, ".perfbench_run")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # Python workers import the package from the checkout; temp files of
    # the JVM and the workers stay inside the run directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the launcher JVM's, as above
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)

    spark = gateway = None
    try:
        spark = start_spark(run_dir)
        gateway = spark.sparkContext._gateway
        from spark_sql_on_hbase_spark.session import AstroSession

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer()
            tracer.install(spark)
        warehouse = os.path.join(run_dir, "warehouse")
        client = Client(spark, AstroSession(spark, warehouse), warehouse, tracer)
        info = WORKLOADS[args.workload](client, random.Random(args.seed), args.seconds, run_dir)
        e2e, raw = end_to_end(client, info)
        layers = by_kind = None
        if tracer is not None:
            layers, by_kind = layer_metrics(client, tracer, e2e)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            spark.stop()
            stop_jvm(gateway)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass  # another run's directory is still there

    for msg in client.failures:
        print(f"FAILED {msg}")
    for r in client.records:
        if r["phase"] == "setup" or (r["phase"] == "warmup" and r["kind"] in WRITE_KINDS):
            print(f"  {r['phase']:<6} {r['kind']:<8} {r['wall_ms'] / 1e3:8.3f} s  {r['label'][:60]}")
    attempted = len(client.timed())
    print(f"workload {args.workload} seed {args.seed}: {attempted} timed operations, "
          f"{client.failed_count()} failed")
    for name, (value, n) in e2e.items():
        print(f"  {name:<22} {value:12.4f} {END_TO_END[name]:<6} n={n}")
    for name, (value, n) in raw.items():
        print(f"  {name:<22} {value:12.4f} ms     n={n}")
    print(f"  error_rate             {S.ratio(client.failed_count(), attempted):12.4f} ratio  "
          f"n={attempted}")
    for kind, (q, v, n) in tails(client).items():
        print(f"  {kind}_p{q:g}_ms{'':<10} {v:12.4f} ms     n={n}")

    if tracer is not None:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        stem = f"{args.workload}-seed{args.seed}"
        tracer.dump(os.path.join(out_dir, f"{stem}-spans.jsonl"))
        with open(os.path.join(out_dir, f"{stem}-layers.json"), "w") as f:
            json.dump({"end_to_end": {k: v[0] for k, v in e2e.items()}, "layers": layers,
                       "by_kind": by_kind, "records": client.records}, f, indent=1)
        for name, value in layers.items():
            print(f"  {name:<44} {value:14.4f}")
        metrics = {name: {"value": layers[name], "unit": unit}
                   for name, unit in layer_metric_names().items()}
    else:
        metrics = {name: {"value": e2e[name][0], "unit": unit} for name, unit in END_TO_END.items()}
    correct = not client.failures and all(
        v["value"] == v["value"] for v in metrics.values())  # no NaN: every metric measured
    for name, m in metrics.items():
        S.check_metric(name, m["unit"])
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": client.failed_count(), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
