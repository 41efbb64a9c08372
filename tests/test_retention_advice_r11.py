"""r11 regressions for the three ADVICE r10 retention bugs: (1) a
retained rewrite's RETIREMENT-generation stamp must survive later
appends even when the rewrite emitted zero files (else TIMESTAMP AS OF
inside the delete->append window resurrects deleted rows); (2)/(3) an
emptied-but-retained table (empty live set, non-empty retired set) must
never take the bulk-overwrite write path — INSERT INTO and the full
retained rewrite both append, preserving retired fragments and stamps.
"""

import os
import time

import pytest

# these tests assert PROMPT physical reclaim; r13 reader-lease
# deferral is exercised in test_autocompact_leases.py
pytestmark = pytest.mark.usefixtures("no_reader_leases")

from spark_sql_on_hbase_spark.session import AstroSession


@pytest.fixture()
def astro(spark, tmp_path):
    return AstroSession(spark, str(tmp_path / "warehouse"))


def _load_retained(astro, tmp_path, name, n=100):
    csv = tmp_path / f"{name}.csv"
    csv.write_text("".join(f"{k},v{k}\n" for k in range(1, n + 1)))
    astro.sql(
        f"CREATE TABLE {name} (k INT, v STRING, PRIMARY KEY (k)) "
        f"MAPPED BY ({name}_ht) OPTIONS (regions=4, retain_history=true)"
    )
    astro.sql(f"LOAD DATA INPATH '{csv}' INTO TABLE {name}")


def test_emptied_island_delete_stamp_survives_next_append(astro, tmp_path):
    """ADVICE r10 high #1: a retained DELETE that empties whole islands
    commits a generation with NO surviving files.  Its stamp must stay
    as long as its retired fragments do — a later append previously
    dropped it (no longer trailing), and TIMESTAMP AS OF a moment
    between the delete and the append resolved to a PRE-delete
    generation, serving the retired fragments: deleted rows came back."""
    _load_retained(astro, tmp_path, "tsa")
    rel = astro.relation("tsa")
    # empty the first region's whole island (keys are range-partitioned,
    # so some file covers the low quartile entirely)
    astro.sql("DELETE FROM tsa WHERE k <= 25")
    assert astro.last_write_stats["history"] == "retained"
    n_after_delete = astro.sql("SELECT * FROM tsa").count()
    assert n_after_delete < 100
    time.sleep(0.05)
    t_mid = time.time()  # between the delete and the next append
    time.sleep(0.05)
    astro.sql("INSERT INTO tsa VALUES (500, 'late')")  # later append
    # the delete generation's stamp survived the append's refresh …
    seq_mid = rel.seq_for_timestamp(t_mid)
    meta = astro.catalog.get_table("tsa")
    assert seq_mid == max(r.retired_at for r in meta.retired_regions)
    # … so the mid-window snapshot is the POST-delete state
    snap = rel.scan(as_of_seq=seq_mid)
    assert snap.count() == n_after_delete
    assert snap.filter("k <= 25").count() == 0  # no resurrection
    # SQL path agrees
    assert (
        astro.sql(f"SELECT * FROM tsa TIMESTAMP AS OF {t_mid} WHERE k <= 25").count()
        == 0
    )
    # pre-delete history still readable through the retired fragments
    assert rel.scan(as_of_seq=0).count() == 100


def test_insert_into_emptied_retained_table_appends(astro, tmp_path):
    """ADVICE r10 high #2: INSERT INTO a retain_history table whose live
    set is empty (after a retained delete-everything) must APPEND — the
    bulk-write fallback clobbered the data dir, destroying every
    retained snapshot."""
    _load_retained(astro, tmp_path, "tie")
    rel = astro.relation("tie")
    t_pre = time.time()
    time.sleep(0.05)
    astro.sql("DELETE FROM tie")  # full retained delete — live set empties
    meta = astro.catalog.get_table("tie")
    assert meta.regions == [] and meta.retired_regions
    retired_paths = [r.path for r in meta.retired_regions]
    astro.sql("INSERT INTO tie VALUES (7, 'fresh')")  # must append, not write
    # retained history intact: files on disk, pre-delete snapshot readable
    for p in retired_paths:
        assert os.path.exists(rel._local_path(p))
    assert rel.scan(as_of_seq=rel.seq_for_timestamp(t_pre)).count() == 100
    # the present is just the new row, at a fresh generation
    rows = astro.sql("SELECT * FROM tie").collect()
    assert [(r.k, r.v) for r in rows] == [(7, "fresh")]
    meta = astro.catalog.get_table("tie")
    assert max(r.seq for r in meta.regions) > max(
        r.retired_at for r in meta.retired_regions
    ) - 1  # new generation at/after the retirement epoch


def test_insert_select_into_emptied_retained_table_appends(astro, tmp_path):
    _load_retained(astro, tmp_path, "tis")
    rel = astro.relation("tis")
    t_pre = time.time()
    time.sleep(0.05)
    astro.sql("DELETE FROM tis")
    retired_paths = [r.path for r in astro.catalog.get_table("tis").retired_regions]
    astro.sql("INSERT INTO tis SELECT 9, 'sel'")
    for p in retired_paths:
        assert os.path.exists(rel._local_path(p))
    assert rel.scan(as_of_seq=rel.seq_for_timestamp(t_pre)).count() == 100
    assert [r.k for r in astro.sql("SELECT * FROM tis").collect()] == [9]


def _emptied_retained(astro, tmp_path, name):
    """A retained table emptied by DELETE: (relation, retired fragment
    paths, a timestamp before the delete)."""
    _load_retained(astro, tmp_path, name)
    rel = astro.relation(name)
    t_pre = time.time()
    time.sleep(0.05)
    astro.sql(f"DELETE FROM {name}")
    retired_paths = [r.path for r in astro.catalog.get_table(name).retired_regions]
    assert retired_paths
    return rel, retired_paths, t_pre


def _assert_history_kept(astro, rel, name, retired_paths, t_pre):
    for p in retired_paths:
        assert os.path.exists(rel._local_path(p))
    meta = astro.catalog.get_table(name)
    assert {r.path for r in meta.retired_regions} == set(retired_paths)
    assert rel.scan(as_of_seq=rel.seq_for_timestamp(t_pre)).count() == 100
    assert astro.sql(f"SELECT * FROM {name} TIMESTAMP AS OF {t_pre}").count() == 100


def test_merge_insert_into_emptied_retained_table_appends(astro, tmp_path):
    """MERGE's NOT MATCHED INSERT takes the same append-or-load decision
    as INSERT INTO: on an emptied retained table it appends, keeping
    every retired fragment and the pre-delete snapshot."""
    rel, retired_paths, t_pre = _emptied_retained(astro, tmp_path, "tmi")
    astro.sql(
        "MERGE INTO tmi t USING (SELECT 7 AS kk, 'm' AS vv) s ON t.k = s.kk "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.kk, s.vv)"
    )
    _assert_history_kept(astro, rel, "tmi", retired_paths, t_pre)
    assert [(r.k, r.v) for r in astro.sql("SELECT * FROM tmi").collect()] == [(7, "m")]


def test_stream_batch_into_emptied_retained_table_appends(astro, tmp_path, monkeypatch):
    """A streaming micro-batch (astro_table_sink) into an emptied
    retained table appends too."""
    from pyspark.sql.streaming import DataStreamWriter

    from spark_sql_on_hbase_spark.streaming.ingest import astro_table_sink

    rel, retired_paths, t_pre = _emptied_retained(astro, tmp_path, "tsb")
    holder = {}
    orig = DataStreamWriter.foreachBatch

    def capture(self, fn):
        holder["fn"] = fn
        return orig(self, fn)

    monkeypatch.setattr(DataStreamWriter, "foreachBatch", capture)
    src = str(tmp_path / "src")
    astro.spark.createDataFrame([(3, "s")], "k int, v string").write.parquet(src)
    stream = astro.spark.readStream.schema("k int, v string").parquet(src)
    astro_table_sink(stream, astro, "tsb", str(tmp_path / "ckpt"))
    holder["fn"](astro.spark.createDataFrame([(3, "s")], "k int, v string"), 0)
    _assert_history_kept(astro, rel, "tsb", retired_paths, t_pre)
    assert [(r.k, r.v) for r in astro.sql("SELECT * FROM tsb").collect()] == [(3, "s")]


def test_full_retained_rewrite_on_emptied_table_preserves_history(astro, tmp_path):
    """ADVICE r10 medium: rewrite_full_retained with an empty live set
    used to call write(overwrite), deleting retired fragments — the
    exact history its docstring promises to keep."""
    _load_retained(astro, tmp_path, "tfe")
    rel = astro.relation("tfe")
    t_pre = time.time()
    time.sleep(0.05)
    astro.sql("DELETE FROM tfe")
    retired_paths = [r.path for r in astro.catalog.get_table("tfe").retired_regions]
    # the full retained rewrite with zero live regions (the fallback a
    # non-sargable UPDATE/MERGE would take) must not clobber the dir
    repl = astro.spark.createDataFrame([(1, "z")], "k int, v string")
    stats = rel.rewrite_full_retained(repl)
    assert stats["history"] == "retained"
    for p in retired_paths:
        assert os.path.exists(rel._local_path(p))
    assert rel.scan(as_of_seq=rel.seq_for_timestamp(t_pre)).count() == 100
    assert [(r.k, r.v) for r in astro.sql("SELECT * FROM tfe").collect()] == [(1, "z")]


def test_keyset_refusal_under_retention_warns_and_discriminates(astro, spark):
    """r11 (VERDICT r10 #4): when retain_history refuses the resolved-
    key-set plan for a predicate that WOULD have pruned, the silent
    upgrade to a full-table retained rewrite now WARNs and
    last_write_stats records the refused prunability."""
    import warnings

    astro.sql(
        "CREATE TABLE kw (k1 INT, k2 INT, v DOUBLE, PRIMARY KEY (k1, k2)) "
        "MAPPED BY (kw_ht, COLS=[v=f.v]) "
        "OPTIONS(regions=8, layout=zorder, retain_history=true)"
    )
    rel = astro.relation("kw")
    df = spark.range(4_000).selectExpr(
        "CAST(pmod(id * 77, 200) AS INT) k1",
        "CAST(floor(id / 200) AS INT) k2",
        "CAST(id AS DOUBLE) v",
    )
    rel.write(df)
    rel.register_view("kw")
    # multi-generation z-order: the z fast path and island closure both
    # degenerate; without retention the keyset purge would prune
    astro.sql("INSERT INTO kw VALUES (60, 5, 111.0)")
    astro.sql("INSERT INTO kw VALUES (60, 9999, 222.0)")
    # r12 UPDATE: the DELETE no longer hits the cliff at all — the
    # retained keyset PURGE prunes it (value-identical survivors at
    # original generations, hit originals retired; see
    # tests/test_retained_purge_r12.py) — so no WARN and a strict
    # partial rewrite:
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        astro.sql("DELETE FROM kw WHERE k1 <= 60 AND v < 1000")
        hits = [x for x in w if "retain_history refuses" in str(x.message)]
    assert not hits
    stats = astro.last_write_stats
    assert stats["history"] == "retained"
    assert 0 < stats["files_rewritten"] < stats["files_total"]  # cliff gone
    assert "keyset_refused_prunable" not in stats
    # correctness unaffected: rows gone from the present, kept in history
    assert astro.sql("SELECT count(*) AS c FROM kw WHERE k1 <= 60 AND v < 1000").collect()[0].c == 0
    assert rel.scan(as_of_seq=0).filter("k1 <= 60 AND v < 1000").count() > 0
    # the WARN + discrimination key REMAIN for the UPDATE shape (old and
    # new values would collide at one generation — unsound to retire)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        astro.sql("UPDATE kw SET v = NULL WHERE k1 <= 30")
        hits = [x for x in w if "retain_history refuses" in str(x.message)]
    assert len(hits) == 1 and issubclass(hits[0].category, RuntimeWarning)
    stats = astro.last_write_stats
    assert stats["history"] == "retained"
    assert stats["files_rewritten"] == stats["files_total"] > 0  # the cliff
    a, b = stats["keyset_refused_prunable"].split("/")
    assert 0 < int(a) < int(b)  # what a non-retained table would have paid


def test_island_pruned_retained_delete_does_not_warn(astro, tmp_path):
    """The island path retains soundly — no cliff, no warning, no
    discrimination key."""
    import warnings

    _load_retained(astro, tmp_path, "kq")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        astro.sql("DELETE FROM kq WHERE k BETWEEN 10 AND 20")
        hits = [x for x in w if "retain_history refuses" in str(x.message)]
    assert not hits
    stats = astro.last_write_stats
    assert stats["history"] == "retained"
    assert 0 < stats["files_rewritten"] < stats["files_total"]
    assert "keyset_refused_prunable" not in stats


def test_post_vacuum_insert_keeps_timestamp_now_resolvable(astro, tmp_path):
    """The append-path routing also covers the post-VACUUM emptied table
    (stamps + floor, no retired files): a gen-0 bulk write would land
    below the history floor and brick TIMESTAMP AS OF now."""
    _load_retained(astro, tmp_path, "tpv")
    rel = astro.relation("tpv")
    astro.sql("DELETE FROM tpv")
    astro.sql("VACUUM TABLE tpv")
    meta = astro.catalog.get_table("tpv")
    assert meta.regions == [] and meta.retired_regions == []
    assert meta.history_floor > 0
    astro.sql("INSERT INTO tpv VALUES (3, 'post')")
    # the new generation sits at/above the floor — "now" resolves
    assert rel.scan(as_of_seq=rel.seq_for_timestamp(time.time())).count() == 1
    assert astro.sql("SELECT * FROM tpv").count() == 1
