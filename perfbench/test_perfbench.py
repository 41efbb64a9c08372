"""Tests of the benchmark's own helpers (no Spark needed).

Run from the root of a checkout:  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import bench_stats as S  # noqa: E402
import kv  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


# -- percentiles and the sample-count rule -----------------------------------


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert S.percentile(xs, 0) == 1.0
    assert S.percentile(xs, 50) == 3.0
    assert S.percentile(xs, 100) == 5.0
    assert S.percentile(xs, 90) == pytest.approx(4.6)
    assert S.percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        S.percentile([], 50)
    with pytest.raises(ValueError):
        S.percentile(xs, 101)


def test_tail_needs_ten_samples_beyond_it():
    assert S.beyond(100, 90) == 10
    assert S.beyond(99, 90) == 9
    assert S.supported_tail(1000) == 99.0
    assert S.supported_tail(200) == 95.0
    assert S.supported_tail(100) == 90.0
    assert S.supported_tail(40) == 75.0
    assert S.supported_tail(39) is None


def test_balanced_median_weighs_groups_equally():
    sql = [("sql", 100.0)] * 3
    scan = [("scan_where", 300.0), ("scan_where", 500.0)]
    assert S.balanced_median(sql + scan) == pytest.approx((100 + 400) / 2)
    # one more sample of one group does not move it to that group's median
    assert S.balanced_median(sql + scan + [("sql", 100.0)]) == pytest.approx(250)
    with pytest.raises(ValueError):
        S.balanced_median([])


def test_ratio_has_a_base():
    assert S.ratio(3, 4) == 0.75
    with pytest.raises(ZeroDivisionError):
        S.ratio(1, 0)


# -- metric names --------------------------------------------------------------


def _benchmark_json():
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_are_valid():
    for name, unit in {**run.END_TO_END, **run.layer_metric_names()}.items():
        S.check_metric(name, unit)
    with pytest.raises(ValueError):
        S.check_metric("_starts_badly", "ms")
    with pytest.raises(ValueError):
        S.check_metric("x" * 65, "ms")
    with pytest.raises(ValueError):
        S.check_metric("ok", "way/too/long/unit!")


def test_benchmark_json_lists_exactly_what_run_reports():
    b = _benchmark_json()
    e2e = {m["name"]: m["unit"] for m in b["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in b["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.layer_metric_names()
    assert {w["name"] for w in b["workloads"]} == set(run.WORKLOADS)
    for m in b["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    assert max(m["bound"] for m in b["end_to_end"]) == next(
        m["bound"] for m in b["end_to_end"] if m["name"] == "setup_s")


# -- the table model -------------------------------------------------------------


def test_model_upsert_delete_and_reads():
    m = kv.TableModel([(1, 10, 5, "a"), (1, 20, 6, "b"), (3, 10, 5, "c")])
    assert len(m) == 3
    m.upsert((1, 10, 7, "z"))  # upsert replaces, and moves the v1 entry
    assert m.row(1, 10) == (1, 10, 7, "z")
    assert m.v1_eq(5) == [(3, 10, 5, "c")]
    assert m.v1_eq(7) == [(1, 10, 7, "z")]
    assert m.k2_range(10, 10) == [(1, 10, 7, "z"), (3, 10, 5, "c")]
    assert m.k1_range(0, 2) == [(1, 10, 7, "z"), (1, 20, 6, "b")]
    m.delete(3, 10)
    assert m.k1_values() == [1]
    m.delete_prefix(1)
    assert len(m) == 0 and m.k1_values() == [] and m.v1_eq(6) == []


def test_matches_is_order_insensitive_and_exact():
    exp = [(1, 2, 3, "a"), (4, 5, 6, "b")]
    assert kv.matches([(4, 5, 6, "b"), (1, 2, 3, "a")], exp)
    assert not kv.matches([(1, 2, 3, "a")], exp)
    assert not kv.matches([(1, 2, 3, "a"), (4, 5, 6, "c")], exp)
    assert not kv.matches([(1, 2, 3, "a"), (1, 2, 3, "a"), (4, 5, 6, "b")], exp)


def test_same_seed_same_table_and_statements():
    def draw(seed):
        rng = random.Random(seed)
        rows = kv.base_rows(rng, 50)
        ks = kv.KeySpace(rng, kv.TableModel(rows), 50)
        return rows, [ks.insert(10)[0], ks.update()[0], ks.delete_prefix()[0],
                      ks.point_in("sql").where, ks.range_dim2("sql").where]

    assert draw(7) == draw(7)
    assert draw(7) != draw(8)


def test_writes_apply_to_the_model_like_the_engine():
    rng = random.Random(3)
    rows = kv.base_rows(rng, 40)
    model = kv.TableModel(rows)
    ks = kv.KeySpace(rng, model, 40)
    n0 = len(model)
    _sql, ins = ks.insert(10)
    assert len({(r[0], r[1]) for r in ins}) == 10
    for r in ins:
        assert model.row(r[0], r[1]) == r
    _sql, old, new = ks.update()
    assert model.row(new[0], new[1]) == new and old[:2] == new[:2]
    _sql, prefix = ks.delete_prefix()
    assert prefix and model.k1_range(prefix[0][0], prefix[0][0]) == []
    assert len(model) < n0 + 10


def test_reads_carry_the_model_answer():
    rng = random.Random(5)
    model = kv.TableModel(kv.base_rows(rng, 200))
    ks = kv.KeySpace(rng, model, 200)
    r = ks.range_lead("sql")
    assert r.kind == "range_scan"
    assert len({row[0] for row in r.expected}) == kv.RANGE_K1_VALUES
    i = ks.index_eq("scan_where")
    assert i.expected and all(row[2] == int(i.where.split("=")[1]) for row in i.expected)
    p = ks.point_in("sql")
    assert p.where.count(",") <= kv.IN_K1 + kv.IN_K2 - 2
    assert p.shape == "in"
    e = ks.point_eq("sql")
    assert len(e.expected) == 1 and e.shape == ""
    for _ in range(20):  # absent keys are its own shape, and always absent
        m = ks.point_miss("scan_where")
        k1, k2 = (int(x.split("=")[1]) for x in m.where.split(" AND "))
        assert m.shape == "miss" and m.expected == [] and model.row(k1, k2) is None
    assert kv.row_bytes((1, 2, 3, "abcd")) == 24


# -- tracing ---------------------------------------------------------------------


def _span(name, start, end, parent, op=1):
    return {"name": name, "start": start, "end": end, "parent": parent, "op": op}


def test_self_time_subtracts_merged_children():
    spans = [
        _span("op", 0.0, 10.0, None),
        _span("a", 1.0, 4.0, 0),
        _span("b", 3.0, 6.0, 0),  # overlaps a: covered part of op is 1..6
        _span("c", 2.0, 3.0, 1),
    ]
    assert tracing.self_times(spans) == pytest.approx([5.0, 2.0, 3.0, 1.0])


def test_outermost_totals_skip_reentrant_spans():
    spans = [
        _span("catalog.get_table", 0.0, 2.0, None),
        _span("catalog.get_table", 0.5, 1.0, 0),
        _span("pruning.prune", 3.0, 4.0, None, op=2),
    ]
    tot = tracing.outermost_totals(spans)
    assert tot[(1, "catalog.get_table")] == pytest.approx(2.0)
    assert tot[(2, "pruning.prune")] == pytest.approx(1.0)


class _FakeTracer:
    def __init__(self):
        self.spans = [_span("pruning.prune", 0.0, 0.002, None, op=1),
                      _span("catalog.commit", 0.0, 0.5, None, op=2)]
        self.counts = {
            1: {"pruning.files_read": 2, "pruning.files_total": 16, "bloom.probed": 2,
                "bloom.skipped": 1, "index.engaged": 1, "index.candidates": 12,
                "index.mode.augment": 1},
            2: {"catalog.commits": 1, "pruning.files_read": 6, "pruning.files_total": 16},
        }


class _FakeClient:
    def __init__(self):
        self.records = [
            {"id": 1, "kind": "point_get", "phase": "timed", "ok": True, "wall_ms": 200.0,
             "result_rows": 4, "scan_rows": 400, "spark.jobs": 1, "py4j.calls": 50},
            {"id": 2, "kind": "insert", "phase": "timed", "ok": True, "wall_ms": 4000.0,
             "files_written": 3, "files_retired": 1, "bytes_written": 3000, "user_bytes": 100,
             "spark.jobs": 9, "py4j.calls": 2000},
            {"id": 3, "kind": "point_get", "phase": "warmup", "ok": True, "wall_ms": 900.0},
        ]

    def live_regions(self):
        return ["f"] * 17


def test_layer_ratios_use_their_stated_bases():
    layers, by_kind = run.layer_metrics(_FakeClient(), _FakeTracer(), {"op_mean_rel": (2.5, 2)})
    assert layers["pruning.files_read_ratio"] == pytest.approx(8 / 32)  # files read / files total
    assert layers["bloom.skip_ratio"] == pytest.approx(1 / 2)  # skipped / probed
    assert layers["index.candidates"] == 12  # per engaged index probe
    assert layers["storage.rows_per_result_row"] == pytest.approx(100)  # scan rows / rows returned
    assert layers["storage.bytes_written_per_user_byte"] == pytest.approx(30)
    assert layers["storage.files_written_per_write"] == 3
    assert layers["storage.live_fragments"] == 17
    assert layers["spark.jobs_per_op"] == pytest.approx(5)  # warm-up excluded: (1 + 9) / 2
    assert layers["trace.op_mean_rel"] == 2.5
    assert layers["insert.py4j.calls_per_op"] == 2000
    assert layers["insert.catalog.commit_ms"] == pytest.approx(500)
    assert layers["point_get.pruning.prune_ms"] == pytest.approx(2)
    assert set(layers) == set(run.layer_metric_names())
    assert set(by_kind) == {"point_get", "insert"}
