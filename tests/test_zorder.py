"""Z-order layout: file-level pruning on non-leading key dims.

The lexicographic layout cannot prune files for a predicate on k2 alone
(every file spans the full k2 range); the z-order layout bounds every
dim in every file (recorded as dim_min/dim_max boxes), so the same
predicate prunes most files.  Soundness: scan_where results must equal
the plain filtered scan for BOTH layouts under a predicate fuzz.
"""

from __future__ import annotations

import random

import pytest

from spark_sql_on_hbase_spark.session import AstroSession


@pytest.fixture()
def astro(spark, tmp_path):
    return AstroSession(spark, str(tmp_path / "wh"))


def _mk(spark, n=20_000):
    # two independent uniform dims: the adversarial case for
    # lexicographic layout (dim2 uncorrelated with dim1)
    return spark.range(n).selectExpr(
        "CAST(pmod(id * 2654435761, 1000) AS INT) k1",
        "CAST(pmod(id * 40503, 1000) AS INT) k2",
        "CAST(id AS DOUBLE) v",
    )


def _create(astro, name, layout_opt):
    astro.sql(
        f"CREATE TABLE {name} (k1 INT, k2 INT, v DOUBLE, PRIMARY KEY (k1, k2)) "
        f"MAPPED BY ({name}_ht, COLS=[v=f.v]) OPTIONS(regions=16{layout_opt})"
    )
    return astro.relation(name)


def test_zorder_prunes_nonleading_dim(spark, astro):
    df = _mk(spark)
    zrel = _create(astro, "tz", ", layout=zorder")
    zrel.write(df)
    rrel = _create(astro, "tr", "")
    rrel.write(df)

    _, zres = zrel.scan_where("k2 BETWEEN 100 AND 120")
    _, rres = rrel.scan_where("k2 BETWEEN 100 AND 120")
    assert zres.total == 16 and rres.total == 16
    # lexicographic: every file's key range spans all of k2 → key
    # pruning keeps every file; only the delta probe may drop one (each
    # (k1, k2) repeats 20 times, and a file holds ~62 of the k2 values)
    assert len(rres.files) + (rres.delta_dropped or 0) == 16
    # z-order: k2 is boxed per file → most files pruned
    assert len(zres.files) <= 8

    # leading-dim predicates must still prune under z-order too
    _, zk1 = zrel.scan_where("k1 BETWEEN 100 AND 120")
    assert len(zk1.files) <= 8


@pytest.mark.parametrize(
    "seed",
    # r16: one seed stays in the default lane as zorder-soundness
    # coverage; the rest of the sweep is the --runslow lane
    [1] + [pytest.param(i, marks=pytest.mark.slow) for i in (2, 3, 4, 5)],
)
def test_zorder_scan_soundness_fuzz(spark, astro, seed):
    df = _mk(spark, n=5_000)
    zrel = _create(astro, f"tf{seed}", ", layout=zorder")
    zrel.write(df)
    rng = random.Random(seed)
    preds = []
    for _ in range(6):
        lo1, lo2 = rng.randrange(0, 900), rng.randrange(0, 900)
        preds += [
            f"k1 = {rng.randrange(1000)}",
            f"k2 = {rng.randrange(1000)}",
            f"k1 BETWEEN {lo1} AND {lo1 + rng.randrange(1, 100)}",
            f"k2 BETWEEN {lo2} AND {lo2 + rng.randrange(1, 100)} AND k1 >= {rng.randrange(500)}",
            f"k1 IN ({rng.randrange(1000)}, {rng.randrange(1000)}) OR k2 < {rng.randrange(100)}",
        ]
    base = zrel.scan()
    for p in preds:
        got, _ = zrel.scan_where(p)
        exp = base.filter(p)
        assert got.count() == exp.count(), p
        assert got.exceptAll(exp).count() == 0, p


def test_zorder_upsert_lifecycle(spark, astro):
    # unique composite keys (collisions would legitimately flag upserts)
    df = spark.range(2_000).selectExpr(
        "CAST(id % 50 AS INT) k1", "CAST(id DIV 50 AS INT) k2", "CAST(id AS DOUBLE) v"
    )
    rel = _create(astro, "tu", ", layout=zorder")
    rel.write(df)
    assert not rel.needs_merge()  # single generation: no false merge

    astro.sql("INSERT INTO tu VALUES (1, 1, 99.5)")
    assert rel.needs_merge()  # cross-generation overlap → merge path
    row = astro.sql("SELECT v FROM tu WHERE k1 = 1 AND k2 = 1").collect()
    assert [r.v for r in row] == [99.5]

    rel.compact()
    meta = astro.catalog.get_table("tu")
    assert meta.layout == "zorder"  # compact restores the declared layout
    assert not rel.needs_merge()
    row = astro.sql("SELECT v FROM tu WHERE k1 = 1 AND k2 = 1").collect()
    assert [r.v for r in row] == [99.5]
    # boxes survive the compaction rewrite
    assert all(r.dim_min is not None for r in meta.regions)


def test_zorder_ddl_validation(astro):
    with pytest.raises(ValueError, match="composite key of integer"):
        astro.sql(
            "CREATE TABLE bad1 (k1 STRING, k2 INT, v DOUBLE, PRIMARY KEY (k1, k2)) "
            "MAPPED BY (bad1_ht, COLS=[v=f.v]) OPTIONS(layout=zorder)"
        )
    with pytest.raises(ValueError, match="composite key of integer"):
        astro.sql(
            "CREATE TABLE bad2 (k1 INT, v DOUBLE, PRIMARY KEY (k1)) "
            "MAPPED BY (bad2_ht, COLS=[v=f.v]) OPTIONS(layout=zorder)"
        )
    with pytest.raises(ValueError, match="exclusive"):
        astro.sql(
            "CREATE TABLE bad3 (k1 INT, k2 INT, v DOUBLE, PRIMARY KEY (k1, k2)) "
            "MAPPED BY (bad3_ht, COLS=[v=f.v]) OPTIONS(layout=zorder, align=1)"
        )


def test_range_layout_also_gains_boxes(spark, astro):
    # per-dim boxes are recorded for every binaryformat write, so even
    # the lexicographic layout prunes dim-2 when data happens to cluster
    df = spark.range(8_000).selectExpr(
        "CAST(id AS INT) k1", "CAST(id AS INT) k2", "CAST(id AS DOUBLE) v"
    )  # k2 perfectly correlated with k1
    rel = _create(astro, "tc", "")
    rel.write(df)
    _, res = rel.scan_where("k2 BETWEEN 100 AND 120")
    assert len(res.files) <= 2  # boxes prune despite non-leading dim
