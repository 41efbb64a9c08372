import os
import sys
import uuid
from collections import Counter
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="also run tests marked slow (multi-minute soaks / "
        "differential codec sweeps / lease-TTL timing tests)",
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: long-running test (deselected by default so the driver's "
        "verify window fits the whole lane; run with --runslow or "
        "SPARK_GRAFT_SLOW=1, or by node id)",
    )


def pytest_collection_modifyitems(config, items):
    """Default lane excludes @pytest.mark.slow (r16, VERDICT r15 #1: the
    full suite outgrew the driver's verify window — an incomplete gate
    catches nothing).  The slow lane stays runnable three ways:
    ``--runslow``, ``SPARK_GRAFT_SLOW=1``, or naming a test FILE or
    node id directly (an explicit name is a request to run it)."""
    if config.getoption("--runslow") or os.environ.get("SPARK_GRAFT_SLOW") == "1":
        return
    # args that point BELOW the suite root name specific files/tests;
    # bare `tests/`, the repo root, or no path args = the broad lane
    # every path is compared in resolved form, so a symlinked checkout or
    # a relative invocation cannot misclassify the lane
    here = Path(__file__).resolve().parent
    broad = {str(here), str(here.parent)}
    explicit = set()
    for a in config.invocation_params.args:
        a = str(a)
        if a.startswith("-"):
            continue
        p = str(Path(config.invocation_params.dir, a.split("::")[0]).resolve())
        if p not in broad and (os.path.isfile(p) or os.path.isdir(p)):
            explicit.add(p)
    skip = pytest.mark.skip(reason="slow lane: --runslow / SPARK_GRAFT_SLOW=1")
    for item in items:
        if "slow" not in item.keywords:
            continue
        path = str(Path(item.path).resolve())
        if any(path == e or path.startswith(e + os.sep) for e in explicit):
            continue  # named explicitly — run it
        item.add_marker(skip)


def pytest_terminal_summary(terminalreporter):
    """Skip counts by reason after every run, so a lane that silently
    loses coverage (the reference-fixture ports skip when the fixture
    checkout is absent) shows in every summary."""
    counts = Counter()
    for rep in terminalreporter.stats.get("skipped", []):
        lr = rep.longrepr
        reason = lr[2] if isinstance(lr, tuple) else str(lr)
        counts[reason.removeprefix("Skipped: ")] += 1
    if counts:
        terminalreporter.section("skips by reason")
        for reason, n in counts.most_common():
            terminalreporter.write_line(f"{n:5d}  {reason}")


@pytest.fixture()
def no_reader_leases(monkeypatch):
    """Disable r13 reader-lease deferral (TTL=0 → every lease is born
    expired).  For tests that assert PROMPT physical reclaim — fold
    gc_pending, VACUUM floors, file-count lifecycles — where the
    deferral window is noise; the lease semantics themselves are
    exercised by tests/test_autocompact_leases.py."""
    from spark_sql_on_hbase_spark.relation import AstroRelation

    monkeypatch.setattr(AstroRelation, "LEASE_TTL_SEC", 0.0)


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from spark_sql_on_hbase_spark.tuning import local_shuffle_confs

    builder = (
        SparkSession.builder.master("local[4]")
        .appName("spark_sql_on_hbase_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for k, v in local_shuffle_confs().items():
        builder = builder.config(k, v)
    s = builder.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture()
def jobs_of(spark):
    """``jobs_of(action)`` → (result, ids of the Spark jobs ``action``
    ran), counted by a status-tracker job group."""
    sc = spark.sparkContext

    def run(action):
        group = f"count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job count")
        try:
            out = action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, sc.statusTracker().getJobIdsForGroup(group)

    return run


class Py4jCalls(int):
    """A py4j call count that names where the calls came from: ``sites``
    maps each engine function (the innermost frame in
    ``spark_sql_on_hbase_spark`` on the calling stack, else
    ``<outside>``) to its calls, and the repr lists the top ones, so a
    failed ceiling names its source."""

    def __new__(cls, n: int, sites: Counter):
        self = super().__new__(cls, n)
        self.sites = sites
        return self

    def __repr__(self) -> str:
        top = ", ".join(f"{site} {n}" for site, n in self.sites.most_common(8))
        return f"{int(self)} py4j calls ({top})"


_ENGINE_DIR = os.sep + "spark_sql_on_hbase_spark" + os.sep


def _engine_site(frame) -> str:
    while frame is not None:
        code = frame.f_code
        if _ENGINE_DIR in code.co_filename:
            module = os.path.basename(code.co_filename).removesuffix(".py")
            return f"{module}.{code.co_qualname}"
        frame = frame.f_back
    return "<outside>"


@pytest.fixture()
def py4j_calls(spark, monkeypatch):
    """``py4j_calls(action)`` → (result, :class:`Py4jCalls`: the number of
    calls from Python into the JVM that ``action`` made on this thread,
    with the engine function each came from), counted at
    ``ClientServerConnection.send_command``.  Other threads (the lease
    refresher) are not counted."""
    import threading

    from py4j.clientserver import ClientServerConnection

    real = ClientServerConnection.send_command
    me = threading.get_ident()
    sites = Counter()

    def counted(self, *args, **kwargs):
        if threading.get_ident() == me:
            sites[_engine_site(sys._getframe(1))] += 1
        return real(self, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)

    def run(action):
        before = Counter(sites)
        out = action()
        delta = sites - before
        return out, Py4jCalls(sum(delta.values()), delta)

    return run
