"""Per-operation-group medians from a traced benchmark run.

Usage:

    python tools/perf_groups.py .perfbench_out/kv_reads-seed5150-layers.json [MORE.json ...]
        [--phase timed|setup|warmup|all]

A traced run (``python3 perfbench/run.py --workload W --trace 1``) writes
``.perfbench_out/<workload>-seed<seed>-layers.json``, whose ``records`` list
holds one record per operation.  This prints, per (kind, group) — the
operation type and, for reads, the entry point and predicate shape
(``sql``, ``scan_where``, ``sql/in``, …) — the operation count and the
median of each of ``wall_ms``, ``spark.jobs``, ``py4j.calls``,
``scan_rows`` and ``spark.shuffle_bytes``, and of the storage deltas of
writes and COMPACT: ``files_written``, ``files_retired`` and
``bytes_written``.  A metric a record lacks (writes have no ``scan_rows``,
reads no storage delta) is left out of that group's median; ``-`` means no
record of the group has it.  With several files, one table per file.
"""

from __future__ import annotations

import argparse
import json
import statistics

COLUMNS = ("wall_ms", "spark.jobs", "py4j.calls", "scan_rows", "spark.shuffle_bytes",
           "files_written", "files_retired", "bytes_written")


def group_medians(records: list[dict], phase: str = "timed") -> list[dict]:
    """One row per (kind, group) of ``records`` in ``phase`` ("all" for
    every phase), sorted by kind then group: ``n`` and each COLUMNS
    median (None when no record of the group has the metric)."""
    groups: dict[tuple[str, str], list[dict]] = {}
    for r in records:
        if phase == "all" or r.get("phase") == phase:
            groups.setdefault((r["kind"], r.get("group", r["kind"])), []).append(r)
    rows = []
    for (kind, group), recs in sorted(groups.items()):
        row = {"kind": kind, "group": group, "n": len(recs)}
        for c in COLUMNS:
            xs = [r[c] for r in recs if r.get(c) is not None]
            row[c] = statistics.median(xs) if xs else None
        rows.append(row)
    return rows


def format_rows(rows: list[dict]) -> str:
    head = f"{'kind':<14} {'group':<16} {'n':>4}" + "".join(f" {c:>20}" for c in COLUMNS)
    lines = [head]
    for r in rows:
        cells = "".join(
            f" {'-':>20}" if r[c] is None else f" {r[c]:>20.1f}" for c in COLUMNS
        )
        lines.append(f"{r['kind']:<14} {r['group']:<16} {r['n']:>4}{cells}")
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("files", nargs="+", help="traced *-layers.json files")
    ap.add_argument("--phase", default="timed", help="timed (default), setup, warmup or all")
    args = ap.parse_args(argv)
    for path in args.files:
        with open(path) as f:
            records = json.load(f)["records"]
        print(f"== {path} ({args.phase})")
        print(format_rows(group_medians(records, args.phase)))


if __name__ == "__main__":
    main()
