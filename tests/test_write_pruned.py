"""Round-7 write-surface tests: region-pruned DELETE / MERGE-delete
(VERDICT r6 #1 — non-intersecting fragments must stay byte-identical),
NULL-assignment UPDATE routing (r6 ADVICE high — `SET v = NULL` must not
silently keep the old value), ANSI MERGE cardinality guard, and the
write-grammar hardening items (dangling WHERE, undeclared INSERT columns,
MERGE fall-through for non-astro tables).
"""

import os

import pytest

# these tests assert PROMPT physical reclaim; r13 reader-lease
# deferral is exercised in test_autocompact_leases.py
pytestmark = pytest.mark.usefixtures("no_reader_leases")

from spark_sql_on_hbase_spark.session import AstroSession


@pytest.fixture()
def astro(spark, tmp_path):
    return AstroSession(spark, str(tmp_path / "warehouse"))


def _load_pt(astro, tmp_path, name="pt", n=200, regions=8):
    csv = tmp_path / f"{name}.csv"
    csv.write_text("".join(f"{k},v{k},{k * 10}\n" for k in range(1, n + 1)))
    astro.sql(
        f"CREATE TABLE {name} (k INT, v STRING, n INT, PRIMARY KEY (k)) "
        f"MAPPED BY ({name}_ht) OPTIONS (regions={regions})"
    )
    astro.sql(f"LOAD DATA INPATH '{csv}' INTO TABLE {name}")
    return astro.relation(name)


def _file_idents(astro, rel):
    """name → (inode, size) for every fragment file — inode equality
    proves a kept fragment was hard-linked, not rewritten."""
    d = astro.catalog.data_dir(rel.meta)
    out = {}
    for f in os.listdir(d):
        if f.endswith(".parquet"):
            st = os.stat(os.path.join(d, f))
            out[f] = (st.st_ino, st.st_size)
    return out


def test_delete_pruned_leaves_other_fragments_untouched(astro, tmp_path):
    rel = _load_pt(astro, tmp_path)
    before = _file_idents(astro, rel)
    assert len(before) == 8 and not rel.needs_merge()

    astro.sql("DELETE FROM pt WHERE k = 42")
    stats = astro.last_write_stats
    assert stats == {"files_total": 8, "files_rewritten": 1, "history": "purged"}

    after = _file_idents(astro, astro.relation("pt"))
    untouched = set(before) & set(after)
    # 7 kept fragments: same basename, same inode, same size
    assert len(untouched) == 7
    for f in untouched:
        assert before[f] == after[f]
    rows = astro.sql("SELECT k FROM pt ORDER BY k").collect()
    assert [r.k for r in rows] == [k for k in range(1, 201) if k != 42]
    # the shuffle-free scan path survives the partial rewrite
    assert not astro.relation("pt").needs_merge()


def test_delete_pruned_non_adjacent_hits_no_sandwich(astro, tmp_path):
    """Two hit fragments at opposite ends of the key space: survivors are
    written one-file-per-source-fragment, so no new file range spans a
    kept fragment (which would poison the needs_merge metadata check)."""
    rel = _load_pt(astro, tmp_path)
    before = _file_idents(astro, rel)
    astro.sql("DELETE FROM pt WHERE k IN (5, 190)")
    stats = astro.last_write_stats
    assert stats["files_total"] == 8 and 1 <= stats["files_rewritten"] <= 2
    after = _file_idents(astro, astro.relation("pt"))
    kept = set(before) & set(after)
    assert len(kept) == 8 - stats["files_rewritten"]
    for f in kept:
        assert before[f] == after[f]
    assert astro.sql("SELECT count(*) AS c FROM pt").collect()[0].c == 198
    assert not astro.relation("pt").needs_merge()


def test_delete_pruned_noop_touches_nothing(astro, tmp_path):
    rel = _load_pt(astro, tmp_path)
    before = _file_idents(astro, rel)
    astro.sql("DELETE FROM pt WHERE k = 99999")
    assert astro.last_write_stats == {
        "files_total": 8,
        "files_rewritten": 0,
        "history": "purged",
    }
    assert _file_idents(astro, astro.relation("pt")) == before
    assert astro.sql("SELECT count(*) AS c FROM pt").collect()[0].c == 200


def test_delete_residual_predicate_still_prunes_by_key_part(astro, tmp_path):
    """Key-range conjunct prunes; the non-key residual is evaluated on
    the surviving fragments only."""
    rel = _load_pt(astro, tmp_path)
    before = _file_idents(astro, rel)
    astro.sql("DELETE FROM pt WHERE k <= 25 AND v LIKE 'v2%'")
    stats = astro.last_write_stats
    assert stats["files_rewritten"] < stats["files_total"]
    after = _file_idents(astro, astro.relation("pt"))
    for f in set(before) & set(after):
        assert before[f] == after[f]
    # v2, v20..v25 deleted (k<=25 ∧ v LIKE v2%)
    gone = {2, 20, 21, 22, 23, 24, 25}
    rows = astro.sql("SELECT k FROM pt ORDER BY k").collect()
    assert [r.k for r in rows] == [k for k in range(1, 201) if k not in gone]


def test_delete_full_rewrite_fallbacks(astro, tmp_path):
    """Non-sargable predicates and unfiltered DELETE keep the full atomic
    rewrite (files_rewritten == files_total)."""
    _load_pt(astro, tmp_path)
    astro.sql("DELETE FROM pt WHERE k + 0 = 3")  # arith-on-key: non-sargable
    assert astro.last_write_stats["files_rewritten"] == astro.last_write_stats["files_total"]
    assert astro.sql("SELECT count(*) AS c FROM pt").collect()[0].c == 199
    astro.sql("DELETE FROM pt")
    assert astro.sql("SELECT count(*) AS c FROM pt").collect()[0].c == 0


def test_full_fallback_stats_count_pre_statement_live_files(astro, tmp_path):
    """Every full-rewrite fallback reports the live fragment count BEFORE
    the rewrite: an UPDATE falling back to the whole-table fold must not
    report the compacted post-rewrite count."""
    rel = _load_pt(astro, tmp_path)
    astro.sql("INSERT INTO pt VALUES (500, 'x', 5000)")
    rel._ensure_fresh_regions()
    live = len(rel.meta.regions)
    assert live == 9
    astro.sql("UPDATE pt SET v = NULL WHERE k + 0 = 3")  # non-sargable
    assert astro.last_write_stats == {
        "files_total": live,
        "files_rewritten": live,
        "history": "folded",
    }
    assert astro.sql("SELECT v FROM pt WHERE k = 3").collect()[0].v is None


def test_merge_delete_only_pruned_by_source_bounds(astro, tmp_path):
    rel = _load_pt(astro, tmp_path)
    before = _file_idents(astro, rel)
    astro.sql(
        "MERGE INTO pt t USING (SELECT 11 AS kk UNION ALL SELECT 13 AS kk) s "
        "ON t.k = s.kk WHEN MATCHED THEN DELETE"
    )
    stats = astro.last_write_stats
    assert stats["files_total"] == 8 and stats["files_rewritten"] < 8
    after = _file_idents(astro, astro.relation("pt"))
    for f in set(before) & set(after):
        assert before[f] == after[f]
    rows = astro.sql("SELECT k FROM pt WHERE k BETWEEN 10 AND 14 ORDER BY k").collect()
    assert [r.k for r in rows] == [10, 12, 14]
    assert not astro.relation("pt").needs_merge()


def test_update_set_null_lands_as_null(astro, tmp_path):
    """r6 ADVICE (high): `UPDATE … SET v = NULL` must read back NULL —
    the plain upsert append would resolve newest NON-NULL cell wins and
    silently keep the old value.  The statement routes through the
    region-pruned rewrite instead."""
    rel = _load_pt(astro, tmp_path)
    before = _file_idents(astro, rel)
    astro.sql("UPDATE pt SET v = NULL WHERE k = 7")
    stats = astro.last_write_stats
    assert stats is not None and stats["files_rewritten"] < stats["files_total"]
    after = _file_idents(astro, astro.relation("pt"))
    for f in set(before) & set(after):
        assert before[f] == after[f]
    rows = astro.sql("SELECT k, v, n FROM pt WHERE k IN (6, 7, 8) ORDER BY k").collect()
    assert [(r.k, r.v, r.n) for r in rows] == [(6, "v6", 60), (7, None, 70), (8, "v8", 80)]
    # survives COMPACT (the append-path bug made compaction permanent)
    astro.sql("COMPACT TABLE pt")
    assert astro.sql("SELECT v FROM pt WHERE k = 7").collect()[0].v is None


def test_update_nullable_expr_without_null_result_stays_append(astro, tmp_path):
    """A nullable SET expression that produces no actual NULL-over-non-null
    keeps the cheap append path (probe finds nothing → no rewrite)."""
    _load_pt(astro, tmp_path)
    astro.sql("UPDATE pt SET v = upper(v) WHERE k <= 3")
    assert astro.last_write_stats is None  # append path, no rewrite
    rows = astro.sql("SELECT v FROM pt WHERE k <= 3 ORDER BY k").collect()
    assert [r.v for r in rows] == ["V1", "V2", "V3"]


def test_merge_update_null_source_value_lands(astro, tmp_path):
    _load_pt(astro, tmp_path)
    astro.sql(
        "MERGE INTO pt t USING (SELECT 9 AS kk, CAST(NULL AS STRING) AS vv) s "
        "ON t.k = s.kk WHEN MATCHED THEN UPDATE SET v = s.vv, n = t.n + 1"
    )
    r = astro.sql("SELECT v, n FROM pt WHERE k = 9").collect()[0]
    assert (r.v, r.n) == (None, 91)
    stats = astro.last_write_stats
    assert stats is not None and stats["files_rewritten"] < stats["files_total"]
    # neighbors untouched
    r8 = astro.sql("SELECT v, n FROM pt WHERE k = 8").collect()[0]
    assert (r8.v, r8.n) == ("v8", 80)


def test_merge_update_null_rewrite_with_insert(astro, tmp_path):
    """NULL-routing rewrite composes with WHEN NOT MATCHED INSERT (the
    insert anti-join is rebuilt against the post-rewrite view)."""
    _load_pt(astro, tmp_path)
    astro.sql(
        "MERGE INTO pt t USING (SELECT 3 AS kk, CAST(NULL AS STRING) AS vv "
        "UNION ALL SELECT 999 AS kk, 'new' AS vv) s ON t.k = s.kk "
        "WHEN MATCHED THEN UPDATE SET v = s.vv "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.kk, s.vv)"
    )
    rows = astro.sql("SELECT k, v FROM pt WHERE k IN (3, 999) ORDER BY k").collect()
    assert [(r.k, r.v) for r in rows] == [(3, None), (999, "new")]


def test_merge_cardinality_strict_raises_permissive_resolves(spark, tmp_path):
    strict = AstroSession(spark, str(tmp_path / "w1"))
    strict.sql("CREATE TABLE ct (k INT, v STRING, PRIMARY KEY (k)) MAPPED BY (ct_ht)")
    strict.sql("INSERT INTO ct VALUES (1, 'a')")
    dup_src = "(SELECT 1 AS kk, 'x' AS vv UNION ALL SELECT 1 AS kk, 'y' AS vv)"
    with pytest.raises(ValueError, match="cardinality"):
        strict.sql(
            f"MERGE INTO ct t USING {dup_src} s ON t.k = s.kk "
            "WHEN MATCHED THEN UPDATE SET v = s.vv"
        )
    # unchanged after the rejected merge
    assert strict.sql("SELECT v FROM ct WHERE k = 1").collect()[0].v == "a"

    permissive = AstroSession(spark, str(tmp_path / "w2"), strict_merge=False)
    permissive.sql("CREATE TABLE ct2 (k INT, v STRING, PRIMARY KEY (k)) MAPPED BY (ct2_ht)")
    permissive.sql("INSERT INTO ct2 VALUES (1, 'a')")
    permissive.sql(
        f"MERGE INTO ct2 t USING {dup_src} s ON t.k = s.kk "
        "WHEN MATCHED THEN UPDATE SET v = s.vv"
    )
    v = permissive.sql("SELECT v FROM ct2 WHERE k = 1").collect()[0].v
    assert v in ("x", "y")  # documented permissive nondeterminism


def test_merge_insert_undeclared_column_raises(astro):
    astro.sql("CREATE TABLE ic (k INT, v STRING, PRIMARY KEY (k)) MAPPED BY (ic_ht)")
    astro.sql("INSERT INTO ic VALUES (1, 'a')")
    with pytest.raises(ValueError, match="undeclared"):
        astro.sql(
            "MERGE INTO ic t USING (SELECT 2 AS kk, 'b' AS vv) s ON t.k = s.kk "
            "WHEN NOT MATCHED THEN INSERT (k, nosuch) VALUES (s.kk, s.vv)"
        )
    assert astro.sql("SELECT count(*) AS c FROM ic").collect()[0].c == 1


def test_dangling_where_is_not_destructive(astro, tmp_path):
    """`UPDATE t SET a=1 WHERE` / `DELETE FROM t WHERE` (dangling WHERE,
    no predicate) must error via Spark, not silently hit every row."""
    _load_pt(astro, tmp_path)
    with pytest.raises(Exception):
        astro.sql("UPDATE pt SET n = 0 WHERE")
    with pytest.raises(Exception):
        astro.sql("DELETE FROM pt WHERE")
    rows = astro.sql("SELECT count(*) AS c, sum(n) AS s FROM pt").collect()[0]
    assert (rows.c, rows.s) == (200, sum(k * 10 for k in range(1, 201)))


def test_merge_non_astro_falls_through_to_spark(astro, spark):
    """MERGE INTO a table outside the astro catalog passes through to
    Spark verbatim (r6 advice — DSv2 sources may support it), mirroring
    UPDATE/DELETE; it must not raise from the astro catalog lookup."""
    import pyspark.errors as PE

    spark.range(3).createOrReplaceTempView("plainview")
    with pytest.raises(PE.PySparkException):
        astro.sql(
            "MERGE INTO plainview t USING (SELECT 1 AS id) s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET id = s.id"
        )


def test_delete_pruned_on_stringformat_table(astro, tmp_path):
    """The pruned DELETE path works over stringformat storage too (the
    rewrite re-encodes through the same physical layout)."""
    csv = tmp_path / "sf.csv"
    csv.write_text("".join(f"{k},w{k}\n" for k in range(1, 51)))
    astro.sql(
        "CREATE TABLE sft (k INT, v STRING, PRIMARY KEY (k)) "
        "MAPPED BY (sft_ht) IN stringformat OPTIONS (regions=4)"
    )
    astro.sql(f"LOAD DATA INPATH '{csv}' INTO TABLE sft")
    before = _file_idents(astro, astro.relation("sft"))
    astro.sql("DELETE FROM sft WHERE k = 10")
    stats = astro.last_write_stats
    assert stats["files_total"] == 4 and stats["files_rewritten"] == 1
    after = _file_idents(astro, astro.relation("sft"))
    for f in set(before) & set(after):
        assert before[f] == after[f]
    assert astro.sql("SELECT count(*) AS c FROM sft").collect()[0].c == 49


def test_merge_conditional_clauses(astro, tmp_path):
    """r7: ANSI conditional WHEN clauses — `WHEN [NOT] MATCHED AND cond
    THEN …`.  The condition narrows each action (update/delete/insert)
    and the strict cardinality check counts only condition-qualified
    matches."""
    _load_pt(astro, tmp_path, name="mc", n=20, regions=2)

    # conditional matched UPDATE: only the qualifying source row applies
    astro.sql(
        "MERGE INTO mc t USING (SELECT 1 AS kk, 5 AS d UNION ALL "
        "SELECT 2 AS kk, 50 AS d) s ON t.k = s.kk "
        "WHEN MATCHED AND s.d > 10 THEN UPDATE SET n = s.d"
    )
    rows = astro.sql("SELECT k, n FROM mc WHERE k IN (1, 2) ORDER BY k").collect()
    assert [(r.k, r.n) for r in rows] == [(1, 10), (2, 50)]

    # conditional matched DELETE referencing TARGET columns
    astro.sql(
        "MERGE INTO mc t USING (SELECT 3 AS kk UNION ALL SELECT 4 AS kk) s "
        "ON t.k = s.kk WHEN MATCHED AND t.n >= 40 THEN DELETE"
    )
    rows = astro.sql("SELECT k FROM mc WHERE k IN (3, 4)").collect()
    assert [r.k for r in rows] == [3]  # n=30 survives, n=40 deleted

    # conditional NOT MATCHED INSERT: non-qualifying source rows skipped
    astro.sql(
        "MERGE INTO mc t USING (SELECT 100 AS kk, 'x' AS vv UNION ALL "
        "SELECT 200 AS kk, 'skip' AS vv) s ON t.k = s.kk "
        "WHEN NOT MATCHED AND s.vv != 'skip' THEN INSERT (k, v) VALUES (s.kk, s.vv)"
    )
    rows = astro.sql("SELECT k, v FROM mc WHERE k >= 100 ORDER BY k").collect()
    assert [(r.k, r.v) for r in rows] == [(100, "x")]

    # strict cardinality counts only condition-qualified matches: two
    # source rows hit key 5 but exactly one passes the condition
    astro.sql(
        "MERGE INTO mc t USING (SELECT 5 AS kk, 1 AS d UNION ALL "
        "SELECT 5 AS kk, 99 AS d) s ON t.k = s.kk "
        "WHEN MATCHED AND s.d > 50 THEN UPDATE SET n = s.d"
    )
    assert astro.sql("SELECT n FROM mc WHERE k = 5").collect()[0].n == 99
    with pytest.raises(ValueError, match="cardinality"):
        astro.sql(
            "MERGE INTO mc t USING (SELECT 5 AS kk, 60 AS d UNION ALL "
            "SELECT 5 AS kk, 99 AS d) s ON t.k = s.kk "
            "WHEN MATCHED AND s.d > 50 THEN UPDATE SET n = s.d"
        )

    # conditional update whose SET nulls a non-null cell still routes
    # through the rewrite (probe respects the condition)
    astro.sql(
        "MERGE INTO mc t USING (SELECT 6 AS kk, CAST(NULL AS STRING) AS vv, 1 AS f "
        "UNION ALL SELECT 7 AS kk, CAST(NULL AS STRING) AS vv, 0 AS f) s "
        "ON t.k = s.kk WHEN MATCHED AND s.f = 1 THEN UPDATE SET v = s.vv"
    )
    rows = astro.sql("SELECT k, v FROM mc WHERE k IN (6, 7) ORDER BY k").collect()
    assert [(r.k, r.v) for r in rows] == [(6, None), (7, "v7")]

    # a CASE WHEN … THEN inside the clause condition parses (the
    # THEN-action anchor must not split at the CASE's own THEN):
    # first with the condition false (n=80 ≯ 999 — unchanged), then true
    astro.sql(
        "MERGE INTO mc t USING (SELECT 8 AS kk, 2 AS m) s ON t.k = s.kk "
        "WHEN MATCHED AND t.n > CASE WHEN s.m = 2 THEN 999 ELSE 0 END "
        "THEN UPDATE SET n = 0"
    )
    assert astro.sql("SELECT n FROM mc WHERE k = 8").collect()[0].n == 80
    astro.sql(
        "MERGE INTO mc t USING (SELECT 8 AS kk, 2 AS m) s ON t.k = s.kk "
        "WHEN MATCHED AND t.n > CASE WHEN s.m = 2 THEN 75 ELSE 999 END "
        "THEN UPDATE SET n = 0"
    )
    assert astro.sql("SELECT n FROM mc WHERE k = 8").collect()[0].n == 0


def test_r7_review_regressions(astro, tmp_path, spark):
    """r7 self-review repros: silent clause shadowing, mangled opaque
    operators, target-target ON conjuncts, history coherence after a
    pruned rewrite, probe skipping for strict self-expressions."""
    from spark_sql_on_hbase_spark import ddl

    # 1. duplicate same-kind WHEN clauses raise instead of shadowing
    for stmt, msg in [
        (
            "MERGE INTO t USING s ON t.k = s.k "
            "WHEN MATCHED AND s.d < 50 THEN UPDATE SET v = 'low' "
            "WHEN MATCHED AND s.d >= 50 THEN UPDATE SET v = 'high'",
            "multiple WHEN MATCHED UPDATE",
        ),
        (
            "MERGE INTO t USING s ON t.k = s.k "
            "WHEN NOT MATCHED AND s.a = 1 THEN INSERT * "
            "WHEN NOT MATCHED AND s.a = 2 THEN INSERT *",
            "multiple WHEN NOT MATCHED INSERT",
        ),
    ]:
        with pytest.raises(ValueError, match=msg):
            ddl.parse(stmt)

    # 2. opaque leaves preserve source text (tokenizer-split operators)
    _load_pt(astro, tmp_path)
    rel = astro.relation("pt")
    df, _res = rel.scan_where("k >= 0 AND v <=> 'v3'")
    assert [r.k for r in df.collect()] == [3]
    df, _res = rel.scan_where("k <= 5 AND v || 'x' = 'v3x'")
    assert [r.k for r in df.collect()] == [3]

    # 3. target-target ON conjunct: bounds extraction skips it, the
    # delete still executes via whichever path applies
    astro.sql(
        "MERGE INTO pt t USING (SELECT 4 AS kk) s "
        "ON t.k = s.kk AND t.n = t.k * 10 WHEN MATCHED THEN DELETE"
    )
    assert astro.sql("SELECT count(*) AS c FROM pt WHERE k = 4").collect()[0].c == 0

    # 4a. r8: a KEY-ONLY delete is a retroactive per-fragment purge —
    # generation history stays readable, each snapshot minus the key
    astro.sql("INSERT INTO pt VALUES (500, 'new', 0)")  # gen 1, disjoint key
    rel = astro.relation("pt")
    assert rel.current_seq() == 1 and not rel.needs_merge()
    astro.sql("DELETE FROM pt WHERE k = 10")  # key-only → purge path
    assert astro.last_write_stats["files_rewritten"] < astro.last_write_stats["files_total"]
    rel = astro.relation("pt")
    g0 = rel.scan(as_of_seq=0)
    assert g0.filter("k = 10").count() == 0  # purged from history too
    assert g0.filter("k = 500").count() == 0  # gen-1 key absent from gen 0
    assert rel.scan(as_of_seq=1).count() == rel.scan().count()
    # 4b. a RESIDUAL delete takes the resolved rewrite, which folds
    # history: snapshots below the surviving max generation refuse
    astro.sql("DELETE FROM pt WHERE k = 12 AND v = 'v12'")
    assert astro.last_write_stats["files_rewritten"] < astro.last_write_stats["files_total"]
    rel = astro.relation("pt")
    with pytest.raises(ValueError, match="history floor"):
        rel.scan(as_of_seq=0).collect()
    assert rel.scan(as_of_seq=1).count() == rel.scan().count()
    # COMPACT resets generations AND the floor
    astro.sql("COMPACT TABLE pt")
    assert astro.relation("pt").scan(as_of_seq=0).count() > 0

    # 5. strict self-expressions skip the probe job AND stay on the
    # append path (no rewrite stats)
    astro.sql("UPDATE pt SET n = n + 1 WHERE k = 2")
    assert astro.last_write_stats is None
    assert astro.sql("SELECT n FROM pt WHERE k = 2").collect()[0].n == 21


def test_append_fragments_hint_bounds_island_growth(astro, tmp_path):
    """r9: a small batch appended with a flush-size hint lands as ~1
    fragment instead of num_regions slivers, so a later DELETE's island
    closure stays local — the sf1 soak measured a 1k-key delete
    rewriting 33 files of which ~31 were one unhinted batch's slivers."""
    rel = _load_pt(astro, tmp_path)
    n_before = len(rel.meta.regions)
    batch = rel.spark.createDataFrame(
        [(20000 + i, f"u{i}", i) for i in range(50)], "k int, v string, n int"
    )
    rel.append(batch, fragments=1)
    regs = astro.catalog.get_table("pt").regions
    assert len(regs) == n_before + 1  # one fragment, not num_regions slivers
    # the hint is clamped and optional — default behavior unchanged
    rel.append(batch.selectExpr("k + 100000 AS k", "v", "n"), fragments=999999)
    regs2 = astro.catalog.get_table("pt").regions
    assert len(regs2) <= len(regs) + rel.meta.num_regions
