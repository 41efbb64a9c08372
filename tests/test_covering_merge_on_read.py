"""r14 — covering-index merge-on-read (VERDICT r13 #2).

r13's covering path required a merge-free main table, so one shadowing
upsert disabled index-only reads until COMPACT/REINDEX — exactly when
tables are being written, which is always at 100 TB.  r14 resolves
newest-wins per MAIN key at index-scan time: index entries carry ``_g``
(the main table's generation), so per-column newest-non-null resolution
grouped by main keys reproduces `_merge_latest`'s cell semantics
restricted to the covered columns.

The exactness precondition is the new ``merge_exact`` flag in
index_info: True while no indexed fragment row was DROPPED from the
entry stream (NULL indexed value / NUL-carrying string) while carrying
shadowing or covered information.  Maintained per append batch (free
for numeric no-INCLUDE indexes), re-attested by REINDEX.

Phoenix analog: covered columns staying live under writes
(SURVEY §2.1 row 10's index discussion).
"""

import pytest

from spark_sql_on_hbase_spark.session import AstroSession

DDL = (
    "CREATE TABLE cmr (k1 INT, status STRING, amt INT, note STRING, "
    "PRIMARY KEY (k1)) "
    "MAPPED BY (cmr_ht, COLS=[status=f.s, amt=f.a, note=f.n]) OPTIONS (regions=4)"
)


@pytest.fixture()
def astro(spark, tmp_path):
    a = AstroSession(spark, str(tmp_path / "cmr_wh"))
    a.sql(DDL)
    csv = tmp_path / "cmr.csv"
    rows = []
    for i in range(200):
        st = "E" if i in (7, 17, 27) else "ABCD"[i % 4]
        rows.append(f"{i},{st},{i * 10},n{i}\n")
    csv.write_text("".join(rows))
    a.sql(f"LOAD DATA INPATH '{csv}' INTO TABLE cmr")
    a.sql("CREATE INDEX ON cmr (status) INCLUDE (amt)")
    return a


def _is_index_only(df):
    files = df.inputFiles()
    return len(files) > 0 and all("idx_" in f for f in files)


def _cov(astro, where, cols):
    rel = astro.relation("cmr")
    return rel.scan_covering(where, cols)


def test_value_moves_into_predicate_set(astro):
    """An upsert that moves a key INTO the queried value must surface it
    with its freshest include cell — the newest entry wins both ways."""
    astro.sql("UPDATE cmr SET status = 'E', amt = 4242 WHERE k1 = 50")
    df, res = _cov(astro, "status = 'E'", ["k1", "status", "amt"])
    assert res.index_mode == "covering" and res.index_merge
    assert _is_index_only(df)
    got = sorted((r.k1, r.amt) for r in df.collect())
    assert got == [(7, 70), (17, 170), (27, 270), (50, 4242)]


def test_include_only_update_resolves_newest(astro):
    """UPDATE writes full rows, so an amt-only SET still produces a
    complete entry; the covering read must return the NEW amt."""
    astro.sql("UPDATE cmr SET amt = 999 WHERE k1 = 17")
    df, res = _cov(astro, "status = 'E'", ["k1", "amt"])
    assert res.index_mode == "covering" and res.index_merge
    got = sorted((r.k1, r.amt) for r in df.collect())
    assert got == [(7, 70), (17, 999), (27, 270)]


def test_repeated_upserts_newest_generation_wins(astro):
    for v in (111, 222, 333):
        astro.sql(f"UPDATE cmr SET amt = {v} WHERE k1 = 27")
    df, res = _cov(astro, "status = 'E' AND amt > 100", ["k1", "amt"])
    assert res.index_mode == "covering" and res.index_merge
    got = sorted((r.k1, r.amt) for r in df.collect())
    assert got == [(17, 170), (27, 333)]


def test_merge_result_matches_main_scan(astro):
    """Cross-check: index-side resolution == main-table resolution for
    the covered projection over a mixed batch of upserts."""
    astro.sql("UPDATE cmr SET status = 'E' WHERE k1 IN (100, 101)")
    astro.sql("UPDATE cmr SET amt = 1, status = 'Q' WHERE k1 = 7")
    astro.sql("INSERT INTO cmr VALUES (900, 'E', 9000, 'new')")
    rel = astro.relation("cmr")
    df, res = rel.scan_covering("status = 'E'", ["k1", "status", "amt"])
    assert res.index_mode == "covering" and res.index_merge
    main = rel.scan().filter("status = 'E'").select("k1", "status", "amt")
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, main.collect()))


def test_null_indexed_value_with_include_downgrades(astro):
    """A row the entry stream drops (NULL status) while carrying a
    non-null covered cell makes index-side resolution inexact —
    merge_exact goes False and covering falls back under merge, still
    returning correct values; REINDEX re-attests... but only once the
    offending cells are folded away."""
    astro.sql("INSERT INTO cmr VALUES (901, NULL, 5, 'x')")
    rel = astro.relation("cmr")
    assert rel.meta.index_info["status"]["merge_exact"] is False
    # force a merge state so the gate matters
    astro.sql("UPDATE cmr SET amt = 71 WHERE k1 = 7")
    rel = astro.relation("cmr")
    assert rel.needs_merge()
    df, res = rel.scan_covering("status = 'E'", ["k1", "amt"])
    assert res.index_mode != "covering"
    got = sorted((r.k1, r.amt) for r in df.collect())
    assert got == [(7, 71), (17, 170), (27, 270)]


def test_nul_string_value_downgrades(astro):
    astro.sql("INSERT INTO cmr VALUES (902, 'a\x00b', 5, 'x')")
    rel = astro.relation("cmr")
    assert rel.meta.index_info["status"]["merge_exact"] is False


def test_numeric_index_without_include_never_downgrades(astro):
    """The unviolable class (non-string col, no INCLUDE): no probe runs
    and merge_exact stays True through NULL-valued appends."""
    astro.sql("CREATE INDEX ON cmr (amt)")
    astro.sql("INSERT INTO cmr VALUES (903, 'B', NULL, 'x')")
    rel = astro.relation("cmr")
    assert rel.meta.index_info["amt"]["merge_exact"] is True
    astro.sql("UPDATE cmr SET note = 'upd' WHERE k1 = 3")
    rel = astro.relation("cmr")
    assert rel.needs_merge()
    df, res = rel.scan_covering("amt = 30", ["k1", "amt"])
    assert res.index_mode == "covering" and res.index_merge
    assert [(r.k1, r.amt) for r in df.collect()] == [(3, 30)]


def test_reindex_reattests_merge_exact(astro):
    astro.sql("INSERT INTO cmr VALUES (901, NULL, 5, 'x')")
    rel = astro.relation("cmr")
    assert rel.meta.index_info["status"]["merge_exact"] is False
    # the NULL-status row still exists, so REINDEX must NOT re-attest
    astro.sql("REINDEX TABLE cmr")
    rel = astro.relation("cmr")
    assert rel.meta.index_info["status"]["merge_exact"] is False
    # delete it, compact the history away, REINDEX → exact again
    astro.sql("DELETE FROM cmr WHERE k1 = 901")
    astro.sql("COMPACT TABLE cmr")
    astro.sql("REINDEX TABLE cmr")
    rel = astro.relation("cmr")
    assert rel.meta.index_info["status"]["merge_exact"] is True
    assert rel.meta.index_info["status"]["clean"] is True


def test_reindex_folded_entries_resolve_by_main_generation(astro):
    """REINDEX folds entries from DIFFERENT main generations into ONE
    index generation; the merge path must resolve by `_g` (main
    generation) — not the index table's own seq collapse, whose tie
    between same-(col, key) rows is nondeterministic.  r14 regression:
    phase 2 reads RAW index fragments ordered by struct(_g, _seq)."""
    astro.sql("UPDATE cmr SET amt = 9999 WHERE k1 = 17")  # include-only
    astro.sql("REINDEX TABLE cmr")
    rel = astro.relation("cmr")
    assert rel.needs_merge()
    info = rel.meta.index_info["status"]
    assert info["clean"] and info["merge_exact"]
    # several plans: the pre-fix collapse tie was partial-agg-order
    # dependent, so one lucky pass proves nothing
    for _ in range(3):
        df, res = rel.scan_covering("status = 'E'", ["k1", "amt"])
        assert res.index_mode == "covering" and res.index_merge
        got = sorted((r.k1, r.amt) for r in df.collect())
        assert got == [(7, 70), (17, 9999), (27, 270)], got


def test_index_compaction_preserves_generation_pairing(astro):
    """r15 regression (ADVICE r14 high): the index table's own
    compaction fold used to collapse same-(col value, main keys)
    entries across main generations, pairing an old INCLUDE cell with
    the newest ``_g`` — a covering merge read then resolved a STALE
    covered value while clean/merge_exact stayed True (no fallback).
    ``_g`` is now part of the index rowkey, so per-generation entries
    survive any compaction.  History: (E, amt=5) → (B, amt=777) →
    (E, amt=NULL); main resolves amt=777 and so must the index."""
    astro.sql("INSERT INTO cmr VALUES (955, 'E', 5, 'a')")
    astro.sql("INSERT INTO cmr VALUES (955, 'B', 777, 'b')")
    astro.sql("INSERT INTO cmr VALUES (955, 'E', NULL, 'c')")
    rel = astro.relation("cmr")
    assert rel.needs_merge()
    info = rel.meta.index_info["status"]
    assert info["clean"] and info["merge_exact"]
    main = rel.scan().filter("k1 = 955").select("status", "amt").collect()
    assert [(r.status, r.amt) for r in main] == [("E", 777)]

    def check():
        df, res = rel.scan_covering("status = 'E'", ["k1", "amt"])
        assert res.index_mode == "covering" and res.index_merge
        assert _is_index_only(df)
        got = dict((r.k1, r.amt) for r in df.collect())
        assert got[955] == 777, got

    check()  # pre-compaction: raw fragments already resolved correctly
    idx = rel._index_relation("status")
    assert idx.needs_merge()
    idx.compact()  # the fold that used to create the stale pairing
    rel = astro.relation("cmr")
    info = rel.meta.index_info["status"]
    assert info["clean"] and info["merge_exact"]  # no downgrade needed
    check()  # post-compaction: per-generation rows survived the fold


@pytest.mark.slow  # r16 (VERDICT r15 #1): soak/fuzz sweep — --runslow lane
def test_index_auto_compaction_under_trickle_ingest(astro):
    """The in-situ trigger (relation.py _maintain_indexes 4× policy):
    enough single-row appends to trip the index auto-compact, with a
    shadowing history inside the batch — resolution must match the
    main table afterwards."""
    astro.sql("INSERT INTO cmr VALUES (970, 'E', 1, 'a')")
    astro.sql("INSERT INTO cmr VALUES (970, 'B', 31337, 'b')")
    astro.sql("INSERT INTO cmr VALUES (970, 'E', NULL, 'c')")
    rel = astro.relation("cmr")
    idx = rel._index_relation("status")
    limit = 4 * max(1, idx.meta.num_regions)
    i = 0
    while len(rel._index_relation("status").meta.regions) > 1 and i < 2 * limit:
        astro.sql(f"INSERT INTO cmr VALUES ({1000 + i}, 'Z', {i}, 'f')")
        i += 1
    assert len(rel._index_relation("status").meta.regions) <= limit
    rel = astro.relation("cmr")
    df, res = rel.scan_covering("status = 'E'", ["k1", "amt"])
    assert res.index_mode == "covering" and res.index_merge
    got = dict((r.k1, r.amt) for r in df.collect())
    main = dict(
        (r.k1, r.amt)
        for r in rel.scan().filter("status = 'E'").select("k1", "amt").collect()
    )
    assert got == main and got[970] == 31337


def test_compact_rebases_generations_then_upsert_not_stale(astro):
    """r15 latent-bug regression: COMPACT rebases every generation to 0,
    so index entries written BEFORE the compact carry ``_g`` values that
    are incomparable with post-compact generations — a pre-compact entry
    at _g=2 would shadow a fresh upsert at (new) _g=1 in the covering
    merge resolution.  The rebase must clear merge_exact (covering
    merge-on-read waits for REINDEX) while the merge-free index-only
    path keeps serving; REINDEX restores the merge path with consistent
    generations."""
    # build up multiple generations of DISTINCT keys (stays merge-free)
    astro.sql("INSERT INTO cmr VALUES (980, 'E', 11, 'a')")
    astro.sql("INSERT INTO cmr VALUES (981, 'E', 22, 'b')")
    rel = astro.relation("cmr")
    assert not rel.needs_merge()
    astro.sql("COMPACT TABLE cmr")
    rel = astro.relation("cmr")
    info = rel.meta.index_info["status"]
    assert info["clean"] is True  # merge-free compact preserves liveness
    assert info["merge_exact"] is False  # rebase kills _g comparability
    # merge-free index-only reads still serve, without duplicates
    df, res = rel.scan_covering("status = 'E'", ["k1", "amt"])
    assert res.index_mode == "covering" and not res.index_merge
    assert _is_index_only(df)
    got = sorted((r.k1, r.amt) for r in df.collect())
    assert got == [(7, 70), (17, 170), (27, 270), (980, 11), (981, 22)]
    # the poison sequence: post-rebase upsert must never lose to a
    # stale pre-rebase entry — merge_exact=False forces the main path
    astro.sql("UPDATE cmr SET status = 'B', amt = 5555 WHERE k1 = 981")
    rel = astro.relation("cmr")
    assert rel.needs_merge()
    df, res = rel.scan_covering("status = 'E'", ["k1", "amt"])
    assert res.index_mode != "covering"
    got = sorted((r.k1, r.amt) for r in df.collect())
    assert got == [(7, 70), (17, 170), (27, 270), (980, 11)]
    # REINDEX rebuilds entries at post-rebase generations → merge path
    astro.sql("REINDEX TABLE cmr")
    rel = astro.relation("cmr")
    info = rel.meta.index_info["status"]
    assert info["clean"] and info["merge_exact"]
    df, res = rel.scan_covering("status = 'E'", ["k1", "amt"])
    assert res.index_mode == "covering" and res.index_merge
    got = sorted((r.k1, r.amt) for r in df.collect())
    assert got == [(7, 70), (17, 170), (27, 270), (980, 11)]
    df, res = rel.scan_covering("status = 'B' AND amt > 5000", ["k1", "amt"])
    assert res.index_mode == "covering" and res.index_merge
    assert [(r.k1, r.amt) for r in df.collect()] == [(981, 5555)]


def test_phase2_prunes_index_fragments_by_candidate_boxes(astro):
    """r15 (VERDICT r14 #1 — the one `weak` mark): phase 2 of the
    covering merge used to read EVERY live index fragment; it must now
    prune by intersecting the candidate keys' per-dim min/max with the
    index fragments' per-dim file boxes.  A selective probe under
    pending upserts reads a strict subset of index fragments."""
    # widen the index with disjoint-key append batches
    for i in range(1, 6):
        vals = ", ".join(
            f"({1000 * i + j}, 'Z{i}', {j}, 'b{i}')" for j in range(25)
        )
        astro.sql(f"INSERT INTO cmr VALUES {vals}")
    vals = ", ".join(f"({7000 + j}, 'W', {j}, 'w')" for j in range(25))
    astro.sql(f"INSERT INTO cmr VALUES {vals}")
    # a shadowing upsert → needs_merge, merge_exact stays True
    astro.sql("UPDATE cmr SET amt = 123456 WHERE k1 = 7003")
    rel = astro.relation("cmr")
    assert rel.needs_merge()
    n_idx_frags = len(rel._index_relation("status").meta.regions)
    assert n_idx_frags >= 5
    df, res = rel.scan_covering("status = 'W'", ["k1", "amt"])
    assert res.index_mode == "covering" and res.index_merge
    assert res.total == n_idx_frags
    assert 0 < len(res.files) < n_idx_frags, (len(res.files), n_idx_frags)
    got = dict((r.k1, r.amt) for r in df.collect())
    assert len(got) == 25 and got[7003] == 123456
    # cross-check the full resolution against the main table
    main = dict(
        (r.k1, r.amt)
        for r in rel.scan().filter("status = 'W'").select("k1", "amt").collect()
    )
    assert got == main


def test_explain_scan_reports_merge_on_read(astro):
    astro.sql("UPDATE cmr SET amt = 999 WHERE k1 = 17")
    out = astro.sql("EXPLAIN SCAN cmr COLUMNS (k1, amt) WHERE status = 'E'")
    text = "\n".join(" ".join(str(c) for c in r) for r in out.collect())
    assert "merge-on-read" in text, text
    assert "merge newest-cell-wins index-side over " in text, text
