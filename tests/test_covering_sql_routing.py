"""The SQL SELECT router.

For the conservative shape ``SELECT <bare cols> FROM <bare table> WHERE
<pred>`` the session asks `AstroRelation.plan_select` for the table's best
access path: an index-only read when a covering index serves the
projection and predicate, else the pruned, bloom-probed point read when
the predicate pins the full row key, else ``scan_where``'s index route
when the predicate has a servable conjunct on a leading indexed column
and the index engages.  Everything else passes through spark.sql
untouched.
Reference analogs: the DDL-managed index surface
(HBaseSQLParser.scala:180-232) — an index you must query by hand is half
an index — and ``HBaseRelation.buildScan``, through which every SELECT
reaches a pruned scan.
"""

import pytest

from spark_sql_on_hbase_spark.session import AstroSession

DDL = (
    "CREATE TABLE csr (k1 INT, status STRING, amt INT, note STRING, "
    "PRIMARY KEY (k1)) "
    "MAPPED BY (csr_ht, COLS=[status=f.s, amt=f.a, note=f.n]) OPTIONS (regions=4)"
)


@pytest.fixture()
def astro(spark, tmp_path):
    a = AstroSession(spark, str(tmp_path / "csr_wh"))
    a.sql(DDL)
    csv = tmp_path / "csr.csv"
    rows = []
    for i in range(300):
        st = "E" if i in (7, 17, 27) else "ABCD"[i % 4]
        rows.append(f"{i},{st},{i * 10},n{i}\n")
    csv.write_text("".join(rows))
    a.sql(f"LOAD DATA INPATH '{csv}' INTO TABLE csr")
    a.sql("CREATE INDEX ON csr (status) INCLUDE (amt)")
    return a


def _index_only(df):
    files = df.inputFiles()
    return len(files) > 0 and all("idx_" in f for f in files)


def test_plain_select_routes_index_only(astro):
    df = astro.sql("SELECT k1, amt FROM csr WHERE status = 'E'")
    assert astro.last_select_route is not None
    assert astro.last_select_route.index_mode == "covering"
    assert _index_only(df), df.inputFiles()
    got = sorted((r.k1, r.amt) for r in df.collect())
    assert got == [(7, 70), (17, 170), (27, 270)]


def test_routed_result_matches_passthrough(astro):
    """Value parity: the routed frame must equal what spark.sql returns
    for the same statement (compound predicate, projection order)."""
    q = "SELECT amt, k1, status FROM csr WHERE status = 'E' AND amt > 100"
    routed = astro.sql(q)
    assert astro.last_select_route is not None
    via_spark = astro.spark.sql(q)
    assert routed.columns == via_spark.columns
    assert sorted(map(tuple, routed.collect())) == sorted(
        map(tuple, via_spark.collect())
    )


def test_routes_under_pending_upserts_via_merge(astro):
    astro.sql("UPDATE csr SET amt = 4242 WHERE k1 = 17")
    rel = astro.relation("csr")
    assert rel.needs_merge()
    df = astro.sql("SELECT k1, amt FROM csr WHERE status = 'E'")
    res = astro.last_select_route
    assert res is not None and res.index_mode == "covering" and res.index_merge
    assert _index_only(df)
    got = sorted((r.k1, r.amt) for r in df.collect())
    assert got == [(7, 70), (17, 4242), (27, 270)]


@pytest.mark.parametrize(
    "q",
    [
        # no servable conjunct on the indexed column
        "SELECT k1, amt FROM csr WHERE amt > 100",
        # structural tails must not be swallowed into the predicate
        "SELECT k1, amt FROM csr WHERE status = 'E' ORDER BY k1",
        "SELECT status, amt FROM csr WHERE status = 'E' GROUP BY status, amt",
        "SELECT k1, amt FROM csr WHERE status = 'E' LIMIT 2",
        # star/expressions/aliases/joins are out of shape
        "SELECT * FROM csr WHERE status = 'E'",
        "SELECT k1 + 1 FROM csr WHERE status = 'E'",
        "SELECT a.k1, a.amt FROM csr a WHERE a.status = 'E'",
    ],
)
def test_ineligible_selects_pass_through_with_correct_results(astro, q):
    df = astro.sql(q)
    assert astro.last_select_route is None
    want = astro.spark.sql(q)
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, want.collect()))


def test_uncovered_projection_routes_through_the_index(astro):
    """A projection outside the covered set reads the main table through
    scan_where's index route, with spark.sql's rows."""
    q = "SELECT k1, note FROM csr WHERE status = 'E'"
    df = astro.sql(q)
    res = astro.last_select_route
    assert res is not None and res.index_used == "status"
    assert res.index_mode == "augment"
    assert not any("idx_" in f for f in df.inputFiles())
    want = astro.spark.sql(q)
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, want.collect()))
    assert sorted(r.k1 for r in df.collect()) == [7, 17, 27]


def test_index_proven_empty_select_routes_without_a_job(astro, jobs_of):
    """When the index proves no row matches, the routed SELECT is an empty
    frame that runs no Spark job; spark.sql over the view runs some."""
    q = "SELECT k1, note FROM csr WHERE status = 'Z'"
    df = astro.sql(q)
    res = astro.last_select_route
    assert res is not None and res.index_mode == "empty" and res.files == []
    rows, jobs = jobs_of(df.collect)
    assert rows == [] and jobs == []
    want, view_jobs = jobs_of(astro.spark.sql(q).collect)
    assert want == [] and view_jobs
    assert df.schema == astro.spark.sql(q).schema


def test_index_proven_empty_select_still_resolves_the_predicate(astro):
    """The empty route applies the predicate too: a SELECT that spark.sql
    rejects passes through and fails as it would there."""
    with pytest.raises(Exception, match="nosuch"):
        astro.sql("SELECT k1 FROM csr WHERE status = 'Z' AND nosuch = 1").collect()
    assert astro.last_select_route is None


def test_unknown_table_and_temp_view_pass_through(astro):
    astro.spark.range(5).selectExpr("id AS k1", "id AS amt").createOrReplaceTempView(
        "notacat"
    )
    df = astro.sql("SELECT k1, amt FROM notacat WHERE k1 > 2")
    assert astro.last_select_route is None
    assert df.count() == 2


def _covering_row(astro, columns, where):
    out = astro.sql(f"EXPLAIN SCAN csr COLUMNS ({columns}) WHERE {where}")
    return {r.property: r.value for r in out.collect()}["covering"]


def test_explain_scan_shows_same_routing(astro):
    """EXPLAIN SCAN … COLUMNS names the route the SELECT router takes for
    that projection and predicate."""
    cases = [
        ("k1, amt", "status = 'E'", "index-only via status ("),
        ("k1, note", "status = 'E'", "main-table read routed through index status (augment)"),
        ("k1, amt", "amt > 100", "spark.sql over the full view — no servable conjunct "
                                 "on a leading indexed column"),
        ("k1, note", "status = 'Z'", "no read: index status proves no row matches"),
        ("k1, note, status", "k1 IN (7, 8, 400)",
         "main-table point read (key pruning and blooms)"),
    ]
    for columns, where, row in cases:
        assert _covering_row(astro, columns, where).startswith(row), (columns, where)
        astro.sql(f"SELECT {columns} FROM csr WHERE {where}").collect()
        routed = astro.last_select_route
        if row.startswith("spark.sql"):
            assert routed is None, (columns, where)
        elif row.startswith("main-table point read"):
            assert routed.index_used is None and len(routed.files) == 1, (columns, where)
            assert routed.index_declined == "full-key point predicate (index not consulted)"
        else:
            assert routed.index_used == "status", (columns, where)


def test_string_literal_with_keywords_still_routes(astro):
    """A predicate value containing 'order by' must not scare the
    router — the shape check is structural, the parser decides."""
    astro.sql("INSERT INTO csr VALUES (900, 'order by limit', 1, 'x')")
    df = astro.sql("SELECT k1, amt FROM csr WHERE status = 'order by limit'")
    assert astro.last_select_route is not None
    assert [(r.k1, r.amt) for r in df.collect()] == [(900, 1)]


def test_user_replaced_view_passes_through(astro):
    """r15 review: a user shadowing the catalog table's temp view must
    get spark.sql semantics — the router declines when the registered
    view no longer reads this table's physical store."""
    q = "SELECT k1, amt FROM csr WHERE status = 'E'"
    routed = astro.sql(q)
    assert astro.last_select_route is not None  # sanity: normally routes
    astro.spark.createDataFrame(
        [(1, 10, "E"), (2, 20, "F")], "k1 int, amt int, status string"
    ).createOrReplaceTempView("csr")
    df = astro.sql(q)
    assert astro.last_select_route is None  # declined → passthrough
    assert sorted((r.k1, r.amt) for r in df.collect()) == [(1, 10)]
    # restoring the catalog view resumes routing
    astro.relation("csr").register_view("csr")
    df = astro.sql(q)
    assert astro.last_select_route is not None
    assert sorted((r.k1, r.amt) for r in df.collect()) == sorted(
        (r.k1, r.amt) for r in routed.collect()
    )


def test_user_replaced_view_declines_the_index_route(astro):
    """The ownership guard covers the main-table index route too."""
    q = "SELECT k1, note FROM csr WHERE status = 'E'"
    astro.sql(q)
    assert astro.last_select_route.index_mode == "augment"  # sanity: routes
    astro.spark.createDataFrame(
        [(1, "x", "E"), (2, "y", "F")], "k1 int, note string, status string"
    ).createOrReplaceTempView("csr")
    df = astro.sql(q)
    assert astro.last_select_route is None
    assert [(r.k1, r.note) for r in df.collect()] == [(1, "x")]


def test_table_without_an_index_routes_point_gets(astro):
    astro.sql(
        "CREATE TABLE plain (k1 INT, v STRING, PRIMARY KEY (k1)) "
        "MAPPED BY (plain_ht, COLS=[v=f.v])"
    )
    astro.sql("INSERT INTO plain VALUES (1, 'a'), (2, 'b')")
    astro.sql("INSERT INTO plain VALUES (2, 'c')")
    df = astro.sql("SELECT k1, v FROM plain WHERE k1 = 2")
    assert astro.last_select_route is not None
    assert [tuple(r) for r in df.collect()] == [(2, "c")]
    # a key range routes too: the pruned read, one version per key
    df = astro.sql("SELECT k1, v FROM plain WHERE k1 > 1")
    assert astro.last_select_route is not None
    assert astro.last_select_route.key_pushed is not None
    assert [tuple(r) for r in df.collect()] == [(2, "c")]


def test_select_over_an_empty_table_runs_no_job(astro, jobs_of):
    """An empty catalog table's routed point and range reads are empty
    local relations: neither runs a job."""
    astro.sql(
        "CREATE TABLE nothing (k1 INT, v STRING, PRIMARY KEY (k1)) "
        "MAPPED BY (nothing_ht, COLS=[v=f.v])"
    )
    for q in (
        "SELECT k1, v FROM nothing WHERE k1 = 1",
        "SELECT k1, v FROM nothing WHERE k1 > 1",
    ):
        rows, jobs = jobs_of(lambda: astro.sql(q).collect())
        assert rows == [] and jobs == [], q
        assert astro.last_select_route is not None, q


def test_ownership_guard_is_a_few_py4j_calls(astro, py4j_calls):
    """The guard is a few py4j calls, and it declines the point route
    once the user replaces the view."""
    from spark_sql_on_hbase_spark.relation import owns_view, view_fingerprint

    q = "SELECT k1, note FROM csr WHERE k1 = 7"
    astro.sql(q)
    assert astro.last_select_route is not None  # sanity: routes
    fp = view_fingerprint(astro.catalog, astro.relation("csr").meta)
    owned, calls = py4j_calls(lambda: owns_view(astro.spark, "csr", fp))
    assert owned and calls <= 5, calls
    astro.spark.createDataFrame([(7, "mine")], "k1 int, note string").createOrReplaceTempView(
        "csr"
    )
    assert not owns_view(astro.spark, "csr", fp)
    df = astro.sql(q)
    assert astro.last_select_route is None
    assert [(r.k1, r.note) for r in df.collect()] == [(7, "mine")]
