"""A/B runs of the repository benchmark: N alternating pairs of
``perfbench/run.py`` from a parent checkout and a change checkout.

Usage:

    python tools/ab_bench.py PARENT_DIR CHANGE_DIR --workload kv_reads \\
        --pairs 10 --seconds 14 --seed 5101 [--trace 0] [--out ab.json]

Pair i runs seed ``--seed + i`` in both checkouts, the parent first on
even pairs and the change first on odd ones, so drift of the host's speed
over the session falls on both sides.  Each run is
``python3 perfbench/run.py`` started in its checkout; its last stdout line
is the benchmark's JSON record.

The two checkout paths must have the same length: ``space_amp`` counts
catalog and lease files that store absolute paths, so it moves with the
path length.

Prints, per metric: the parent's and the change's median and
interquartile range (IQR), the change of the medians, and in how many
pairs the change was better (direction from BENCHMARK.json; lower when
the metric is not listed).  ``claim`` is "yes" when the change won at
least 9 of 10 pairs and its median beats the parent's by more than the
parent's IQR.  Every run's ``attempted`` operation count is printed too:
kv_writes times whole rounds, so a count change means a round moved in
or out of the window.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), linear interpolation between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: list[tuple[dict, dict]], better: dict[str, str]) -> list[dict]:
    """One row per metric present in every run of ``pairs`` — a list of
    (parent record, change record), each the benchmark's JSON record."""
    runs = [r for pair in pairs for r in pair]
    names = sorted(set.intersection(*(set(r["metrics"]) for r in runs)))
    rows = []
    for name in names:
        lower = better.get(name, "lower") == "lower"
        a = [p["metrics"][name]["value"] for p, _c in pairs]
        b = [c["metrics"][name]["value"] for _p, c in pairs]
        a1, am, a3 = quartiles(a)
        b1, bm, b3 = quartiles(b)
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        gain = (am - bm) if lower else (bm - am)
        rows.append({
            "metric": name,
            "parent_median": am,
            "parent_iqr": a3 - a1,
            "change_median": bm,
            "change_iqr": b3 - b1,
            "rel_change": (bm - am) / am if am else float("nan"),
            "wins": wins,
            "pairs": len(pairs),
            "claim": wins * 10 >= 9 * len(pairs) and gain > a3 - a1,
        })
    return rows


def format_rows(rows: list[dict]) -> str:
    head = (f"{'metric':<28} {'parent':>10} {'iqr':>8} {'change':>10} {'iqr':>8} "
            f"{'rel':>8} {'wins':>6}  claim")
    lines = [head]
    for r in rows:
        lines.append(
            f"{r['metric']:<28} {r['parent_median']:10.4f} {r['parent_iqr']:8.4f} "
            f"{r['change_median']:10.4f} {r['change_iqr']:8.4f} {r['rel_change']:+8.1%} "
            f"{r['wins']:>3}/{r['pairs']:<2}  {'yes' if r['claim'] else 'no'}")
    return "\n".join(lines)


def directions(benchmark_json: str) -> dict[str, str]:
    """metric → "lower"/"higher" from a BENCHMARK.json ({} if absent)."""
    try:
        with open(benchmark_json) as f:
            spec = json.load(f)
    except OSError:
        return {}
    return {m["name"]: m["better"]
            for key in ("end_to_end", "per_layer") for m in spec.get(key, [])}


def run_once(checkout: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{checkout}: {' '.join(cmd)} exited {out.returncode}\n{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seconds", type=float, default=14)
    p.add_argument("--seed", type=int, required=True, help="seed of pair 0")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", help="also write every run's record here (JSON)")
    args = p.parse_args(argv)
    parent, change = os.path.abspath(args.parent), os.path.abspath(args.change)
    if len(parent) != len(change):
        print(f"error: checkout paths differ in length ({len(parent)} vs {len(change)}); "
              "space_amp moves with path length", file=sys.stderr)
        return 2
    for d in (parent, change):
        if not os.path.isfile(os.path.join(d, "perfbench", "run.py")):
            print(f"error: no perfbench/run.py under {d}", file=sys.stderr)
            return 2

    pairs = []
    for i in range(args.pairs):
        seed = args.seed + i
        order = [("parent", parent), ("change", change)]
        if i % 2:
            order.reverse()
        rec = {}
        for side, d in order:
            rec[side] = run_once(d, args.workload, seed, args.seconds, args.trace)
            print(f"pair {i} seed {seed} {side}: attempted {rec[side]['attempted']} "
                  f"failed {rec[side]['failed']} correct {rec[side]['correct']}", flush=True)
        pairs.append((rec["parent"], rec["change"]))
        if args.out:
            with open(args.out, "w") as f:
                json.dump([{"parent": a, "change": b} for a, b in pairs], f, indent=1)

    print(format_rows(summarize(pairs, directions(os.path.join(change, "BENCHMARK.json")))))
    print("attempted parent:", [a["attempted"] for a, _b in pairs])
    print("attempted change:", [b["attempted"] for _a, b in pairs])
    return 0


if __name__ == "__main__":
    sys.exit(main())
