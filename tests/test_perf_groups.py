"""``tools/perf_groups.py``: per-group medians of a traced run's records
(no Spark, no benchmark run)."""

import importlib.util
import json
from pathlib import Path

_PATH = Path(__file__).resolve().parent.parent / "tools" / "perf_groups.py"
_spec = importlib.util.spec_from_file_location("perf_groups", _PATH)
pg = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(pg)


def _read(group, wall, jobs, calls, rows, shuffle, phase="timed"):
    return {"kind": "index_lookup", "group": group, "phase": phase, "wall_ms": wall,
            "spark.jobs": jobs, "py4j.calls": calls, "scan_rows": rows,
            "spark.shuffle_bytes": shuffle}


RECORDS = [
    _read("sql", 300.0, 2, 14, 40064, 2.6e6),
    _read("sql", 280.0, 2, 14, 40064, 2.5e6),
    _read("sql", 310.0, 2, 16, 40064, 2.7e6),
    _read("scan_where", 150.0, 1, 140, 22000, 0),
    _read("scan_where", 140.0, 1, 145, 21000, 0),
    _read("sql", 9999.0, 9, 999, 1, 1, phase="setup"),
    {"kind": "insert", "group": "insert", "phase": "timed", "wall_ms": 1500.0,
     "spark.jobs": 12, "py4j.calls": 1378, "spark.shuffle_bytes": 10.0},
]


def test_medians_per_kind_and_group_of_the_timed_phase():
    rows = {(r["kind"], r["group"]): r for r in pg.group_medians(RECORDS)}
    assert list(rows) == [("index_lookup", "scan_where"), ("index_lookup", "sql"),
                          ("insert", "insert")]
    sql = rows[("index_lookup", "sql")]
    assert sql["n"] == 3 and sql["wall_ms"] == 300.0 and sql["spark.jobs"] == 2
    assert sql["py4j.calls"] == 14 and sql["scan_rows"] == 40064
    assert sql["spark.shuffle_bytes"] == 2.6e6
    sw = rows[("index_lookup", "scan_where")]
    assert sw["wall_ms"] == 145.0 and sw["scan_rows"] == 21500 and sw["spark.shuffle_bytes"] == 0
    # a metric no record of the group carries has no median
    assert rows[("insert", "insert")]["scan_rows"] is None


def test_phase_all_counts_setup_records():
    rows = {(r["kind"], r["group"]): r for r in pg.group_medians(RECORDS, phase="all")}
    assert rows[("index_lookup", "sql")]["n"] == 4


def test_main_prints_one_table_per_file(tmp_path, capsys):
    path = tmp_path / "kv_reads-seed1-layers.json"
    path.write_text(json.dumps({"records": RECORDS}))
    pg.main([str(path)])
    out = capsys.readouterr().out.splitlines()
    assert out[0] == f"== {path} (timed)"
    assert out[1].split()[:3] == ["kind", "group", "n"]
    sql = next(line for line in out if line.split()[:2] == ["index_lookup", "sql"])
    assert sql.split()[2:] == ["3", "300.0", "2.0", "14.0", "40064.0", "2600000.0"]
    insert = next(line for line in out if line.startswith("insert"))
    assert insert.split()[-2:] == ["-", "10.0"]
