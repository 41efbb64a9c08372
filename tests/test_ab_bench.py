"""The summary code of ``tools/ab_bench.py`` (no Spark, no benchmark run)."""

import importlib.util
from pathlib import Path

import pytest

_PATH = Path(__file__).resolve().parent.parent / "tools" / "ab_bench.py"
_spec = importlib.util.spec_from_file_location("ab_bench", _PATH)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def _rec(**values):
    return {"correct": True, "attempted": 41, "failed": 0,
            "metrics": {k: {"value": v, "unit": "ratio"} for k, v in values.items()}}


def test_quartiles_interpolate():
    assert ab.quartiles([5.0]) == (5.0, 5.0, 5.0)
    assert ab.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]) == (2.0, 3.0, 4.0)
    assert ab.quartiles([4.0, 1.0, 3.0, 2.0]) == (1.75, 2.5, 3.25)


def test_summary_medians_iqr_wins_and_claim():
    parent = [3.0, 3.2, 3.4, 3.6, 3.8, 3.1, 3.3, 3.5, 3.7, 3.9]
    change = [2.5, 2.4, 2.6, 2.5, 3.9, 2.5, 2.4, 2.6, 2.5, 2.7]
    pairs = [(_rec(index_lookup_p50_rel=a, bloom_skip=0.5),
              _rec(index_lookup_p50_rel=b, bloom_skip=0.5 + (i % 2) * 0.1))
             for i, (a, b) in enumerate(zip(parent, change))]
    rows = {r["metric"]: r for r in ab.summarize(pairs, {"bloom_skip": "higher"})}
    r = rows["index_lookup_p50_rel"]
    assert r["parent_median"] == pytest.approx(3.45)
    assert r["parent_iqr"] == pytest.approx(3.675 - 3.225)
    assert r["change_median"] == pytest.approx(2.5)
    assert r["wins"] == 9 and r["pairs"] == 10 and r["claim"]
    assert r["rel_change"] == pytest.approx(2.5 / 3.45 - 1)
    # "higher" is better: five raised, five tied; a tie is no win
    s = rows["bloom_skip"]
    assert s["wins"] == 5 and not s["claim"]
    assert "index_lookup_p50_rel" in ab.format_rows(list(rows.values()))


def test_claim_needs_a_gain_beyond_the_parent_spread():
    parent = [1.0, 3.0] * 5  # IQR 2.0
    pairs = [(_rec(m=a), _rec(m=a - 0.5)) for a in parent]
    [r] = ab.summarize(pairs, {})
    assert r["wins"] == 10 and not r["claim"]


def test_only_metrics_every_run_has_are_summarized():
    pairs = [(_rec(a=1.0, b=2.0), _rec(a=1.0))]
    assert [r["metric"] for r in ab.summarize(pairs, {})] == ["a"]


def test_unequal_checkout_path_lengths_are_refused(tmp_path, capsys):
    (tmp_path / "a").mkdir()
    (tmp_path / "bb").mkdir()
    code = ab.main([str(tmp_path / "a"), str(tmp_path / "bb"), "--workload", "kv_reads",
                    "--seed", "1"])
    assert code == 2 and "differ in length" in capsys.readouterr().err


def test_directions_read_from_the_benchmark_file(tmp_path):
    spec = tmp_path / "BENCHMARK.json"
    spec.write_text('{"end_to_end": [{"name": "x", "better": "lower"}],'
                    ' "per_layer": [{"name": "y", "better": "higher"}]}')
    assert ab.directions(str(spec)) == {"x": "lower", "y": "higher"}
    assert ab.directions(str(tmp_path / "missing.json")) == {}
