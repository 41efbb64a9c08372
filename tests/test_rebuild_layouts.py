"""Whole-table rebuilds (COMPACT, INSERT OVERWRITE) keep the declared
layout on range, z-order and bucketed (``align=1``) tables.

Each rebuild lands ``num_regions`` files in the declared layout, reclaims
every replaced and retired fragment, leaves no rewrite temp dir and no
uncommitted ``rw-`` file, folds DESCRIBE HISTORY to one generation-0 row
labelled with the statement, and reads back exactly an in-memory model.
"""

import os

import pytest

from spark_sql_on_hbase_spark.plans.aggregate import AggSpec, agg_by_key_prefix, executed_plan
from spark_sql_on_hbase_spark.session import AstroSession

# prompt physical reclaim is asserted; lease deferral is covered in
# test_autocompact_leases.py
pytestmark = pytest.mark.usefixtures("no_reader_leases")

LAYOUTS = {"range": "", "zorder": ", layout=zorder", "bucketed": ", align=1"}


def _state(astro, name, model):
    rel = astro.relation(name)
    rel._ensure_fresh_regions()
    meta = rel.meta
    data_dir = astro.catalog.data_dir(meta).rstrip("/")
    live = {os.path.basename(rel._local_path(r.path)) for r in meta.regions}
    on_disk = {f for f in os.listdir(data_dir) if f.endswith(".parquet")}
    assert on_disk == live  # replaced, retired and uncommitted files all gone
    assert not os.path.exists(data_dir + ".rewrite.tmp")
    assert meta.retired_regions == [] and meta.gc_pending == []
    assert meta.history_floor == 0
    rows = {(r.k1, r.k2): r.v for r in astro.sql(f"SELECT * FROM {name}").collect()}
    assert rows == model
    return meta


@pytest.mark.parametrize("layout", list(LAYOUTS))
def test_compact_and_overwrite_keep_declared_layout(spark, tmp_path, layout):
    astro = AstroSession(spark, str(tmp_path / "wh"))
    name = f"rl_{layout}"
    csv = tmp_path / "rl.csv"
    model = {(k // 10, k % 10): f"v{k}" for k in range(200)}
    csv.write_text("".join(f"{a},{b},{v}\n" for (a, b), v in model.items()))
    astro.sql(
        f"CREATE TABLE {name} (k1 INT, k2 INT, v STRING, PRIMARY KEY (k1, k2)) "
        f"MAPPED BY ({name}_ht, COLS=[v=f.v]) "
        f"OPTIONS (regions=4, retain_history=true{LAYOUTS[layout]})"
    )
    astro.sql(f"LOAD DATA INPATH '{csv}' INTO TABLE {name}")
    assert astro.relation(name).meta.layout == layout
    # an upsert append (demotes a bucketed table) and a retained delete
    astro.sql(f"INSERT INTO {name} VALUES (3, 4, 'up'), (50, 0, 'new')")
    model.update({(3, 4): "up", (50, 0): "new"})
    astro.sql(f"DELETE FROM {name} WHERE k1 = 7")
    model = {k: v for k, v in model.items() if k[0] != 7}
    assert astro.catalog.get_table(name).retired_regions

    astro.sql(f"COMPACT TABLE {name}")
    meta = _state(astro, name, model)
    assert len(meta.regions) == 4 and meta.layout == layout
    hist = [tuple(r)[:1] + tuple(r)[2:] for r in astro.sql(f"DESCRIBE HISTORY {name}").collect()]
    assert hist == [(0, "COMPACT", 4, 0, "readable")]

    model = {(k // 10, k % 10): f"o{k}" for k in range(0, 300, 3)}
    src = spark.createDataFrame(
        [(a, b, v) for (a, b), v in model.items()], "k1 int, k2 int, v string"
    )
    src.createOrReplaceTempView("rl_src")
    astro.sql(f"INSERT OVERWRITE {name} SELECT * FROM rl_src")
    meta = _state(astro, name, model)
    assert len(meta.regions) == 4 and meta.layout == layout
    hist = [tuple(r)[:1] + tuple(r)[2:] for r in astro.sql(f"DESCRIBE HISTORY {name}").collect()]
    assert hist == [(0, "INSERT OVERWRITE", 4, 0, "readable")]
    if layout == "bucketed":
        # re-registered from the catalog, and one-phase again
        rel = astro.relation(name)
        tbl = rel.ensure_spark_table()
        assert spark.table(tbl).count() == len(model)
        df, used = agg_by_key_prefix(rel, ["k1"], [AggSpec("n", "count")])
        assert used and "Exchange" not in executed_plan(df)
        assert sum(r.n for r in df.collect()) == len(model)
