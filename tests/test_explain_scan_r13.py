"""r13 — EXPLAIN SCAN covers every accelerator decision (VERDICT r12
#8): bloom sidecar probe/skip counts, index candidate counts + decline
reasons, and the stringformat pushdown superset — the first surface an
operator debugging a slow 100 TB scan reaches for.
"""

import pytest

from spark_sql_on_hbase_spark.session import AstroSession


@pytest.fixture()
def astro(spark, tmp_path):
    a = AstroSession(spark, str(tmp_path / "ex_wh"))
    a.sql(
        "CREATE TABLE ex (k INT, v DOUBLE, s STRING, PRIMARY KEY (k)) "
        "MAPPED BY (ex_ht, COLS=[v=f.v, s=f.s]) "
        "OPTIONS (regions=4, bloomfilter=row)"
    )
    csv = tmp_path / "ex.csv"
    # 20k rows so an unselective predicate overshoots both the 4096-key
    # cap AND the 25% semi-join fraction → the DECLINE path is reachable
    csv.write_text("".join(f"{i},{float(i)},s{i}\n" for i in range(20000)))
    a.sql(f"LOAD DATA INPATH '{csv}' INTO TABLE ex")
    # spanning appends: every point lookup range-survives into them and
    # the blooms must skip the generations that never wrote the key
    for g in (1, 2, 3):
        a.sql(f"INSERT INTO ex VALUES ({g}, {g}.5, 'g{g}'), (1999, {g}.0, 'z')")
    a.sql("CREATE INDEX ON ex (v)")
    return a


def _explain(astro, where):
    return {
        r.property: r.value
        for r in astro.sql(f"EXPLAIN SCAN ex WHERE {where}").collect()
    }


def test_bloom_counts_reported(astro):
    out = _explain(astro, "k = 500")  # gen-0-only key
    assert out["bloomfilter"] == "row"
    assert out["bloom_outcome"].startswith("probed ")
    assert "skipped" in out["bloom_outcome"]
    # 4 spanning fragments survive range pruning; blooms skip ≥2
    probed = int(out["bloom_outcome"].split()[1])
    skipped = int(out["bloom_outcome"].split("skipped ")[1])
    assert probed >= 3 and skipped >= 2
    # non-point predicate: blooms not consulted, and EXPLAIN says so
    out = _explain(astro, "k BETWEEN 10 AND 20")
    assert out["bloom_outcome"].startswith("(not consulted")


def test_delta_probe_reported(astro):
    # the spanning appends hold keys 1, 2, 3 and 1999: a range none of
    # them matches drops all three and reads one file without a merge
    out = _explain(astro, "k BETWEEN 10 AND 20")
    assert out["delta_probe"] == (
        "probed 3 overlapping files under the key conjuncts, "
        "dropped 3 with no match (0 rows counted)"
    )
    assert out["files_read"] == "1"
    assert out["merge"] == "none (1 key-unique file)"
    # a range every append matches keeps them all, and merges
    out = _explain(astro, "k BETWEEN 1 AND 20")
    assert out["delta_probe"] == (
        "probed 3 overlapping files under the key conjuncts, "
        "dropped 0 with no match (3 rows counted)"
    )
    assert out["merge"].startswith("newest-cell-wins over 4 files")
    # a point get the blooms leave key-disjoint runs no probe
    assert _explain(astro, "k = 500")["delta_probe"].startswith("(not run")


def test_index_engaged_with_counts(astro):
    out = _explain(astro, "v = 500.0")
    assert out["index_used"] == "v"
    assert out["index_mode"].startswith("augment (")
    assert "candidate keys" in out["index_mode"]


def test_index_declined_named_with_reason(astro):
    # v >= 0 matches every key → unselective → declined, reason named
    out = _explain(astro, "v >= 0.0")
    assert out["index_used"] == "(none)"
    assert "declined: unselective" in out["index_mode"]


def test_explain_columns_reports_covering(spark, tmp_path):
    a = AstroSession(spark, str(tmp_path / "exc_wh"))
    a.sql(
        "CREATE TABLE exc (k INT, st STRING, amt INT, PRIMARY KEY (k)) "
        "MAPPED BY (exc_ht, COLS=[st=f.s, amt=f.a]) OPTIONS (regions=2)"
    )
    csv = tmp_path / "exc.csv"
    csv.write_text("".join(f"{i},{'AB'[i % 2]},{i}\n" for i in range(100)))
    a.sql(f"LOAD DATA INPATH '{csv}' INTO TABLE exc")
    a.sql("CREATE INDEX ON exc (st) INCLUDE (amt)")
    out = {
        r.property: r.value
        for r in a.sql(
            "EXPLAIN SCAN exc COLUMNS (k, amt) WHERE st = 'A'"
        ).collect()
    }
    assert out["covering"].startswith("index-only via st")
    # no servable index conjunct: the view, with the reason
    out = {
        r.property: r.value
        for r in a.sql(
            "EXPLAIN SCAN exc COLUMNS (k, st, amt) WHERE amt > 5"
        ).collect()
    }
    assert out["covering"] == (
        "spark.sql over the full view — no servable conjunct on a leading "
        "indexed column"
    )
    # no COLUMNS clause → no covering row (unchanged r12 shape)
    out = {
        r.property: r.value
        for r in a.sql("EXPLAIN SCAN exc WHERE st = 'A'").collect()
    }
    assert "covering" not in out


def test_stringformat_pushdown_reported(spark, tmp_path):
    a = AstroSession(spark, str(tmp_path / "sf_wh"))
    a.sql(
        "CREATE TABLE sfex (k INT, v INT, PRIMARY KEY (k)) "
        "MAPPED BY (sfex_ht, COLS=[v=f.v]) IN stringformat "
        "OPTIONS (regions=2)"
    )
    csv = tmp_path / "sfex.csv"
    csv.write_text("".join(f"{i},{i*2}\n" for i in range(500)))
    a.sql(f"LOAD DATA INPATH '{csv}' INTO TABLE sfex")
    out = {
        r.property: r.value
        for r in a.sql("EXPLAIN SCAN sfex WHERE v >= 100 AND v < 140").collect()
    }
    assert out["stringformat_pushdown"] not in ("(none)", "(n/a — binaryformat table)")
    # binaryformat tables say n/a
    a2 = AstroSession(spark, str(tmp_path / "sf_wh2"))
    a2.sql(
        "CREATE TABLE bfex (k INT, v INT, PRIMARY KEY (k)) "
        "MAPPED BY (bfex_ht, COLS=[v=f.v]) OPTIONS (regions=2)"
    )
    csv2 = tmp_path / "bfex.csv"
    csv2.write_text("1,2\n")
    a2.sql(f"LOAD DATA INPATH '{csv2}' INTO TABLE bfex")
    out2 = {
        r.property: r.value
        for r in a2.sql("EXPLAIN SCAN bfex WHERE v = 2").collect()
    }
    assert out2["stringformat_pushdown"].startswith("(n/a")
