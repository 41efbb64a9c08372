"""The delta probe: ``scan_where`` counts, on the driver, the rows of the
small overlapping fragments that match the key conjuncts, and drops the
ones with no match before it decides the merge.

Differential: every read returns the same rows with the probe on and
with it off (``INDEX_LOOKUP_CAP`` = 0, so no fragment fits the probe), and
the same rows as ``spark.sql`` over the view, on DATE keys and TIMESTAMP
keys under a non-UTC session zone, NaN and ±0.0 DOUBLE keys and DECIMAL
keys, with upserted and deleted keys, NULL cells and an ALTER-ADDed
column.  A stringformat table and a fragment that vanishes under the
probe keep every survivor.
"""

import os
from datetime import date, datetime, timedelta, timezone
from decimal import Decimal

import pytest

from spark_sql_on_hbase_spark.relation import AstroRelation, table_schema
from spark_sql_on_hbase_spark.session import AstroSession

UTC = timezone.utc
NAN = float("nan")

# key type → (sorted stored values, predicates over the leading key k)
_TS0 = datetime(2020, 1, 5, 18, 0, tzinfo=UTC)  # 10:00 in Los Angeles
_KEYS = {
    "date": (
        [date(2020, 1, d) for d in range(1, 13)],
        [
            "k BETWEEN '2020-01-05' AND '2020-01-07'",
            "k >= '2020-01-11'",
            "k < '2020-01-02'",
            "k = '2020-1-4'",  # Spark's lenient form: not probed, still exact
            "k IN ('2020-01-03', '2020-01-12')",
        ],
    ),
    "timestamp": (
        [_TS0 + timedelta(hours=h) for h in range(12)],
        [
            # in the session zone: 09:00-11:00 LA is 17:00-19:00 UTC
            "k BETWEEN '2020-01-05 09:00:00' AND '2020-01-05 11:00:00'",
            "k > '2020-01-05 20:00:00'",
            "k <= '2020-01-05 10:00:00'",
            "k BETWEEN '2020-01-05 13:00:00' AND '2020-01-05 14:30:00'",
        ],
    ),
    "double": (
        [float("-inf"), -2.5, -0.0, 0.0, 0.5, 1.5, 2.5, 3.5, 4.5, 5.5, float("inf"), NAN],
        [
            "k BETWEEN 0.5 AND 2.5",
            "k = 0.0",
            "k = -0.0",
            "k >= 4.5",  # NaN sorts above every number
            "k < -1",
            "k = 'NaN'",
            "k > 'Infinity'",
        ],
    ),
    "decimal(10,2)": (
        [Decimal(x) / 100 for x in (-250, -1, 0, 1, 5, 99, 100, 101, 250, 999, 1000, 12345)],
        [
            "k BETWEEN 0.05 AND 1.00",
            "k > 1.005",
            "k <= -0.01",
            "k IN (2.5, 123.45)",
        ],
    ),
}
# the same reads on the second key column and with a non-key conjunct
_MORE = ["i BETWEEN 5 AND 9", "i = 0", "v > 30 AND i < 3"]


def _write(astro, name, rows, fragments=None):
    rel = astro.relation(name)
    df = astro.spark.createDataFrame(rows, table_schema(rel.meta))
    if fragments is None:
        rel.write(df)
    else:
        rel.append(df, fragments=fragments)


@pytest.fixture()
def la_time_zone(spark):
    key = "spark.sql.session.timeZone"
    before = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try:
        yield
    finally:
        spark.conf.set(key, before)


def _table(astro, name, ktype, vals):
    """``name (k ktype, i INT, v INT, s STRING)`` over ``vals``: a bulk
    load, then small deltas spanning the key range that upsert keys (a
    NULL cell keeps the older one), add keys, follow an ALTER ADD and a
    DELETE."""
    astro.sql(
        f"CREATE TABLE {name} (k {ktype}, i INT, v INT, s STRING, PRIMARY KEY (k, i)) "
        f"MAPPED BY ({name}_h, COLS=[v=f.v, s=f.s]) OPTIONS (regions=2, bloomfilter=row)"
    )
    n = len(vals)
    _write(astro, name, [(k, i, j * 10 + i, f"b{j}") for j, k in enumerate(vals) for i in range(3)])
    _write(astro, name, [(vals[0], 0, None, "u1"), (vals[-1], 5, 1, "n1")], fragments=1)
    astro.sql(f"ALTER TABLE {name} ADD w INT MAPPED BY (f.w)")
    _write(astro, name, [(vals[1], 1, 100, "u2", 7), (vals[n - 2], 6, None, "n2", None)], 1)
    astro.sql(f"DELETE FROM {name} WHERE i = 2 AND v = {3 * 10 + 2}")
    _write(astro, name, [(vals[2], 9, 9, "n3", 9), (vals[-1], 0, 5, None, 1)], 1)
    assert astro.relation(name).needs_merge()


def _rows(df):
    return sorted(tuple(repr(v) for v in r) for r in df.collect())  # repr: NaN == NaN


@pytest.mark.parametrize("ktype", sorted(_KEYS))
def test_reads_match_with_the_probe_on_and_off(spark, tmp_path, la_time_zone, monkeypatch, ktype):
    astro = AstroSession(spark, str(tmp_path / "dp_wh"))
    vals, wheres = _KEYS[ktype]
    _table(astro, "dp", ktype, vals)
    rel = astro.relation("dp")
    dropped = 0
    for where in wheres + _MORE:
        df, res = rel.scan_where(where)
        got = _rows(df)
        q = f"SELECT k, i, v, s, w FROM dp WHERE {where}"
        assert _rows(astro.sql(q)) == _rows(spark.sql(q)) == got, where
        assert astro.last_select_route is not None, where
        with monkeypatch.context() as m:
            m.setattr(AstroRelation, "INDEX_LOOKUP_CAP", 0)
            off_df, off = rel.scan_where(where)
            assert off.delta_probed is None, where
            assert _rows(off_df) == got, where
        kept = {r.path for r in res.files}
        assert kept <= {r.path for r in off.files}, where
        dropped += res.delta_dropped or 0
    assert dropped > 0  # the probe did drop fragments


def test_stringformat_keeps_every_survivor(spark, tmp_path):
    astro = AstroSession(spark, str(tmp_path / "sfp_wh"))
    astro.sql(
        "CREATE TABLE sfp (k STRING, i INT, v INT, s STRING, PRIMARY KEY (k, i)) "
        "MAPPED BY (sfp_h, COLS=[v=f.v, s=f.s]) IN stringformat OPTIONS (regions=2)"
    )
    astro.sql(
        "INSERT INTO sfp VALUES "
        + ", ".join(f"('k{k:02}', {i}, {k}, 'b')" for k in range(20) for i in range(2))
    )
    astro.sql("INSERT INTO sfp VALUES ('k00', 5, 1, 'n'), ('k19', 5, 2, 'n')")
    rel = astro.relation("sfp")
    df, res = rel.scan_where("k BETWEEN 'k05' AND 'k07'")
    assert res.delta_probed is None and res.merge is True
    delta = max(rel.meta.regions, key=lambda r: r.seq)
    assert delta.path in {r.path for r in res.files}  # holds no k in range
    assert sorted(tuple(r) for r in df.select("k", "i").collect()) == [
        (f"k{k:02}", i) for k in range(5, 8) for i in range(2)
    ]


def test_fragment_vanishing_under_the_probe_keeps_every_survivor(spark, tmp_path, monkeypatch):
    """A fragment missing when the probe opens it fails the probe's read:
    every survivor is kept and merged, and the rows are the view's."""
    astro = AstroSession(spark, str(tmp_path / "vp_wh"))
    vals, _wheres = _KEYS["double"]
    _table(astro, "vp", "double", vals)
    rel = astro.relation("vp")
    real = AstroRelation._driver_dataset
    moved = []

    def vanish_then_open(self, files):
        path = self._local_path(files[0].path)
        os.rename(path, path + ".away")
        moved.append(path)
        try:
            return real(self, files)
        finally:
            os.rename(path + ".away", path)

    where = "k BETWEEN 0.5 AND 2.5"
    _df, probed = rel.scan_where(where)
    assert probed.delta_dropped > 0
    monkeypatch.setattr(AstroRelation, "_driver_dataset", vanish_then_open)
    df, res = rel.scan_where(where)
    assert len(moved) == 1 and res.delta_probed is None
    assert len(res.files) > len(probed.files) and res.merge is True
    q = f"SELECT k, i, v, s, w FROM vp WHERE {where}"
    assert _rows(df) == _rows(spark.sql(q))
