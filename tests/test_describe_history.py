"""r11: DESCRIBE HISTORY — the generation log (Delta analog): commit
time, recording operation, file counts, snapshot readability.  The
operation is recorded by the commit that writes the generation: the
statement name for SQL statements (the session hands it to the
writer), the mechanism name (APPEND / WRITE / REWRITE …) for direct
relation writes.
"""

import io
import time

import pytest

# these tests assert PROMPT physical reclaim; r13 reader-lease
# deferral is exercised in test_autocompact_leases.py
pytestmark = pytest.mark.usefixtures("no_reader_leases")

from spark_sql_on_hbase_spark.session import AstroSession


@pytest.fixture()
def astro(spark, tmp_path):
    return AstroSession(spark, str(tmp_path / "warehouse"))


def _hist(astro, name):
    return [
        (r.generation, r.operation, r.live_files, r.retired_files, r.snapshot)
        for r in astro.sql(f"DESCRIBE HISTORY {name}").collect()
    ]


def test_history_records_statement_ops(astro, tmp_path):
    csv = tmp_path / "h1.csv"
    csv.write_text("".join(f"{k},v{k}\n" for k in range(1, 41)))
    astro.sql(
        "CREATE TABLE h1 (k INT, v STRING, PRIMARY KEY (k)) "
        "MAPPED BY (h1_ht) OPTIONS (regions=4, retain_history=true)"
    )
    astro.sql(f"LOAD DATA INPATH '{csv}' INTO TABLE h1")
    astro.sql("INSERT INTO h1 VALUES (100, 'x')")
    astro.sql("UPDATE h1 SET v = NULL WHERE k = 5 AND v = 'v5'")
    astro.sql("DELETE FROM h1 WHERE k BETWEEN 20 AND 25")
    astro.sql("RESTORE TABLE h1 TO VERSION AS OF 0")
    h = _hist(astro, "h1")
    # newest first; every generation readable under retention
    assert [g for g, *_ in h] == [4, 3, 2, 1, 0]
    ops = {g: op for g, op, *_ in h}
    assert ops[0] == "LOAD"
    assert ops[1] == "INSERT"
    assert ops[2] == "UPDATE"
    assert ops[3] == "DELETE"
    assert ops[4] == "RESTORE"
    assert all(st == "readable" for *_, st in h)
    # commit times monotone non-decreasing oldest -> newest
    times = [r.committed_at for r in astro.sql("DESCRIBE HISTORY h1").collect()]
    assert times == sorted(times, reverse=True)
    # the restore retired the pre-restore live set: some retired files
    assert sum(rf for *_, rf, _st in [(g, op, lf, rf, st) for g, op, lf, rf, st in h]) > 0


def test_history_fold_and_floor(astro, tmp_path):
    csv = tmp_path / "h2.csv"
    csv.write_text("".join(f"{k},v{k}\n" for k in range(1, 31)))
    astro.sql(
        "CREATE TABLE h2 (k INT, v STRING, PRIMARY KEY (k)) "
        "MAPPED BY (h2_ht) OPTIONS (regions=2, retain_history=true)"
    )
    astro.sql(f"LOAD DATA INPATH '{csv}' INTO TABLE h2")
    astro.sql("DELETE FROM h2 WHERE k <= 5")
    astro.sql("VACUUM TABLE h2")  # floor rises past the retired snapshot
    h = _hist(astro, "h2")
    status = {g: st for g, _op, _lf, _rf, st in h}
    assert status[1] == "readable"
    if 0 in status:  # gen-0 stamp may survive the vacuum as below-floor
        assert status[0] == "below-floor"
    astro.sql("COMPACT TABLE h2")  # fold: history collapses to gen 0
    h2 = _hist(astro, "h2")
    assert [g for g, *_ in h2] == [0]
    assert h2[0][1] == "COMPACT"


def test_history_overwrite_and_mechanism_default(astro, tmp_path, spark):
    astro.sql(
        "CREATE TABLE h3 (k INT, v STRING, PRIMARY KEY (k)) MAPPED BY (h3_ht)"
    )
    astro.sql("INSERT INTO h3 VALUES (1, 'a')")
    astro.sql("INSERT OVERWRITE h3 SELECT 2, 'b'")
    h = _hist(astro, "h3")
    assert h[0][0] == 0 and h[0][1] == "INSERT OVERWRITE"
    # a direct relation append (no SQL session) records the MECHANISM
    rel = astro.relation("h3")
    rel.append(spark.createDataFrame([(3, "c")], "k int, v string"))
    assert _hist(astro, "h3")[0][1] == "APPEND"


def test_history_help(astro):
    from spark_sql_on_hbase_spark.cli import repl

    out = io.StringIO()
    repl(astro, out=out, inp=io.StringIO("HELP DESCRIBE;\nexit\n"))
    assert "DESCRIBE HISTORY table_name" in out.getvalue()


# -- the label is written by the commit that writes the generation ----------

_ROWS = "".join(f"{k},{k}\n" for k in range(1, 21))
_MERGE_UPD_INS = (
    "MERGE INTO t USING (SELECT 3 AS kk UNION ALL SELECT 300 AS kk) s "
    "ON t.k = s.kk WHEN MATCHED THEN UPDATE SET v = NULL "
    "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.kk, 1)"
)

# statement sequence → DESCRIBE HISTORY (generation, operation), newest
# first, without / with retain_history.  "LOAD" loads k = 1..20 (two
# regions: k 1-10 and 11-20); "LOAD0" loads an empty CSV.
_PARITY = {
    "load_fresh": (["LOAD"], [(0, "LOAD")], [(0, "LOAD")]),
    "load_empty_csv": (["LOAD", "LOAD0"], [(0, "LOAD")], [(0, "LOAD")]),
    "insert_values": (
        ["LOAD", "INSERT INTO t VALUES (100, 100)"],
        [(1, "INSERT"), (0, "LOAD")],
        [(1, "INSERT"), (0, "LOAD")],
    ),
    "insert_select": (
        ["LOAD", "INSERT INTO t SELECT k + 100, v FROM t WHERE k <= 2"],
        [(1, "INSERT"), (0, "LOAD")],
        [(1, "INSERT"), (0, "LOAD")],
    ),
    "overwrite_fresh": (
        ["INSERT OVERWRITE t SELECT 1, 1"],
        [(0, "INSERT OVERWRITE")],
        [(0, "INSERT OVERWRITE")],
    ),
    "overwrite_written": (
        ["LOAD", "INSERT INTO t VALUES (100, 100)", "INSERT OVERWRITE t SELECT 1, 1"],
        [(0, "INSERT OVERWRITE")],
        [(0, "INSERT OVERWRITE")],
    ),
    "update_literal": (
        ["LOAD", "UPDATE t SET v = 9 WHERE k = 3"],
        [(1, "UPDATE"), (0, "LOAD")],
        [(1, "UPDATE"), (0, "LOAD")],
    ),
    # the key-only purge rewrites generation 0 in place: the lone
    # generation takes the statement's name
    "update_null": (
        ["LOAD", "UPDATE t SET v = NULL WHERE k = 3"],
        [(0, "UPDATE")],
        [(1, "UPDATE"), (0, "LOAD")],
    ),
    # … but never relabels generations other statements committed
    "update_null_multigen": (
        ["LOAD", "INSERT INTO t VALUES (100, 100)", "UPDATE t SET v = NULL WHERE k = 3"],
        [(1, "INSERT"), (0, "LOAD")],
        [(2, "UPDATE"), (1, "INSERT"), (0, "LOAD")],
    ),
    "delete_key": (
        ["LOAD", "DELETE FROM t WHERE k = 3"],
        [(0, "DELETE")],
        [(1, "DELETE"), (0, "LOAD")],
    ),
    "delete_residual": (
        ["LOAD", "INSERT INTO t VALUES (100, 100)", "DELETE FROM t WHERE k <= 5 AND v = 4"],
        [(1, "INSERT"), (0, "LOAD")],
        [(2, "DELETE"), (1, "INSERT"), (0, "LOAD")],
    ),
    "delete_nothing": (
        ["LOAD", "DELETE FROM t WHERE k = 999"],
        [(0, "LOAD")],
        [(0, "LOAD")],
    ),
    "delete_unfiltered": (
        ["LOAD", "INSERT INTO t VALUES (100, 100)", "DELETE FROM t"],
        [],
        [(2, "DELETE"), (1, "INSERT"), (0, "LOAD")],
    ),
    "merge_delete": (
        [
            "LOAD",
            "MERGE INTO t USING (SELECT 3 AS kk) s ON t.k = s.kk WHEN MATCHED THEN DELETE",
        ],
        [(0, "MERGE")],
        [(1, "MERGE"), (0, "LOAD")],
    ),
    "merge_insert": (
        [
            "LOAD",
            "MERGE INTO t USING (SELECT 300 AS kk, 7 AS vv) s ON t.k = s.kk "
            "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.kk, s.vv)",
        ],
        [(1, "MERGE"), (0, "LOAD")],
        [(1, "MERGE"), (0, "LOAD")],
    ),
    "restore": (
        ["LOAD", "INSERT INTO t VALUES (100, 100)", "RESTORE TABLE t TO VERSION AS OF 0"],
        [(0, "RESTORE")],
        [(2, "RESTORE"), (1, "INSERT"), (0, "LOAD")],
    ),
    # both generations of a MERGE whose matched UPDATE takes the full
    # rewrite and that also inserts are the MERGE's own
    "merge_update_rewrite_insert": (
        ["LOAD", _MERGE_UPD_INS],
        [(1, "MERGE"), (0, "MERGE")],
        [(2, "MERGE"), (1, "MERGE"), (0, "LOAD")],
    ),
}


@pytest.mark.parametrize("retain", [False, True], ids=["folding", "retained"])
@pytest.mark.parametrize("case", list(_PARITY))
def test_statement_label_parity(astro, tmp_path, case, retain):
    stmts, folding, retained = _PARITY[case]
    full, empty = tmp_path / "full.csv", tmp_path / "empty.csv"
    full.write_text(_ROWS)
    empty.write_text("")
    astro.sql(
        "CREATE TABLE t (k INT, v INT, PRIMARY KEY (k)) MAPPED BY (t_ht) "
        f"OPTIONS (regions=2{', retain_history=true' if retain else ''})"
    )
    for s in stmts:
        path = {"LOAD": full, "LOAD0": empty}.get(s)
        astro.sql(f"LOAD DATA INPATH '{path}' INTO TABLE t" if path else s)
    assert [(g, op) for g, op, *_ in _hist(astro, "t")] == (retained if retain else folding)


def test_sibling_commit_keeps_both_labels(astro, spark, tmp_path, monkeypatch):
    """A sibling session commits between a statement's append and the
    statement's end: each generation keeps the name of the statement
    that wrote it."""
    from spark_sql_on_hbase_spark.relation import AstroRelation

    csv = tmp_path / "t.csv"
    csv.write_text(_ROWS)
    astro.sql("CREATE TABLE t (k INT, v INT, PRIMARY KEY (k)) MAPPED BY (t_ht)")
    astro.sql(f"LOAD DATA INPATH '{csv}' INTO TABLE t")
    sibling = AstroSession(spark, astro.catalog.root)
    orig, fired = AstroRelation.append, []

    def append(self, *a, **kw):
        orig(self, *a, **kw)
        if not fired:
            fired.append(True)
            sibling.sql("UPDATE t SET v = 9 WHERE k = 3")

    monkeypatch.setattr(AstroRelation, "append", append)
    astro.sql("INSERT INTO t VALUES (10, 10)")
    monkeypatch.undo()
    assert fired
    ops = {g: op for g, op, *_ in _hist(astro, "t")}
    assert {g: ops[g] for g in (1, 2)} == {1: "INSERT", 2: "UPDATE"}
    assert ops[0] == "LOAD"


def test_write_statements_commit_counts(spark, tmp_path, monkeypatch):
    """Catalog pointer writes per statement on a small indexed ROW-bloom
    table: the generation's label rides its own commit, so no statement
    pays a second labelling write."""
    from spark_sql_on_hbase_spark.catalog import AstroCatalog

    a = AstroSession(spark, str(tmp_path / "wc"))
    a.sql(
        "CREATE TABLE cw (k INT, v1 INT, v2 STRING, PRIMARY KEY (k)) "
        "MAPPED BY (cw_h, COLS=[v1=f.v1, v2=f.v2]) OPTIONS (regions=4, bloomfilter=row)"
    )
    a.relation("cw").write(
        spark.range(0, 40).selectExpr(
            "CAST(id AS INT) AS k", "CAST(id % 5 AS INT) AS v1", "CONCAT('w', id) AS v2"
        )
    )
    a.sql("CREATE INDEX ON cw (v1)")
    orig, n = AstroCatalog._write, [0]

    def counted(self, meta):
        n[0] += 1
        return orig(self, meta)

    monkeypatch.setattr(AstroCatalog, "_write", counted)
    counts = {}
    for name, stmt in (
        ("insert", "INSERT INTO cw VALUES (100, 3, 'x')"),
        ("delete", "DELETE FROM cw WHERE k = 7"),
        ("update", "UPDATE cw SET v2 = 'y' WHERE k = 8"),
    ):
        n[0] = 0
        a.sql(stmt)
        counts[name] = n[0]
    # insert: two reservations (main + index table), two finalizes
    assert counts == {"insert": 4, "delete": 4, "update": 4}
