"""Spans and per-operation counters for the traced run.

The benchmark never edits the package: ``Tracer.install`` wraps public
functions and methods of the package modules, and the py4j client's
``send_command``, from here.  Spans live in memory (name, start, end,
parent, operation id) and are written out when the run ends.

Only the thread that drives the workload is traced.  Spans and py4j calls
are counted only while an operation is open and the tracer is not paused;
the benchmark pauses it while it reads Spark's status store, the catalog
or the warehouse for its own counters, so those reads are not charged to
the operation.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "spark_sql_on_hbase_spark"

# (module, attribute) -> span name, for module-level functions; every
# package module that imported the function by name is patched as well
FUNCTIONS = {
    ("ddl", "parse"): "ddl.parse",
    ("predicate", "parse_predicate"): "predicate.parse",
    ("pruning", "prune_files"): "pruning.prune",
    ("bloom", "load_sidecar"): "bloom.load",
}

# (module, class, method) -> span name
METHODS = {
    ("catalog", "AstroCatalog", "get_table"): "catalog.get_table",
    ("catalog", "AstroCatalog", "update_regions"): "catalog.commit",
    ("relation", "AstroRelation", "scan_where"): "relation.scan_where",
    ("relation", "AstroRelation", "register_view"): "relation.register_view",
    ("relation", "AstroRelation", "append"): "relation.append",
    ("relation", "AstroRelation", "delete_rows_keyonly"): "relation.rewrite",
    ("relation", "AstroRelation", "delete_rows_resolved_keys"): "relation.rewrite",
    ("relation", "AstroRelation", "update_rows_keyonly"): "relation.rewrite",
    ("relation", "AstroRelation", "update_rows_keyset"): "relation.rewrite",
    ("relation", "AstroRelation", "rewrite_pruned"): "relation.rewrite",
    ("relation", "AstroRelation", "rewrite_full_retained"): "relation.rewrite",
    ("relation", "AstroRelation", "compact"): "relation.compact",
    ("relation", "AstroRelation", "write"): "relation.load",
    ("relation", "AstroRelation", "create_index"): "relation.load",
}


def self_times(spans: list[dict]) -> list[float]:
    """Self time of each span: its duration minus the part of its interval
    that its direct children cover (children are merged first, so
    overlapping children are not subtracted twice)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(i, [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s["end"] - s["start"]) - covered)
    return out


def outermost_totals(spans: list[dict]) -> dict[tuple, float]:
    """Inclusive seconds per (operation id, span name), counting a span only
    when no ancestor has the same name — a recursive or re-entrant call is
    not counted twice."""
    tot: dict[tuple, float] = defaultdict(float)
    for s in spans:
        p = s["parent"]
        nested = False
        while p is not None:
            if spans[p]["name"] == s["name"]:
                nested = True
                break
            p = spans[p]["parent"]
        if not nested:
            tot[(s["op"], s["name"])] += s["end"] - s["start"]
    return tot


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._thread = threading.get_ident()
        self.op: int | None = None
        self.paused = False
        self.py4j_calls = 0
        self.py4j_wait = 0.0
        # per-operation counters filled by the result hooks
        self.counts: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    # -- spans --------------------------------------------------------------
    def _active(self) -> bool:
        return self.op is not None and not self.paused and threading.get_ident() == self._thread

    @contextmanager
    def span(self, name: str):
        if not self._active():
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "start": time.perf_counter(), "end": None,
                           "parent": parent, "op": self.op})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    @contextmanager
    def paused_section(self):
        was, self.paused = self.paused, True
        try:
            yield
        finally:
            self.paused = was

    def count(self, key: str, value: float = 1.0) -> None:
        if self._active():
            self.counts[self.op][key] += value

    # -- patching -----------------------------------------------------------
    def _wrapped(self, fn, name: str, on_result=None, on_error=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer._active():
                return fn(*args, **kwargs)
            with tracer.span(name):
                try:
                    out = fn(*args, **kwargs)
                except Exception as ex:
                    if on_error is not None:
                        on_error(ex)
                    raise
            if on_result is not None:
                on_result(out)
            return out

        return wrapper

    def install(self, spark) -> None:
        import importlib

        from spark_sql_on_hbase_spark.catalog import ConcurrentWriteError

        hooks = {
            "pruning.prune": (self._on_prune, None),
            "relation.scan_where": (self._on_scan_where, None),
            "catalog.commit": (
                lambda _out: self.count("catalog.commits"),
                lambda ex: self.count("catalog.commit_retries")
                if isinstance(ex, ConcurrentWriteError) else None,
            ),
            "catalog.get_table": (lambda _out: self.count("catalog.get_table_calls"), None),
            "relation.register_view": (lambda _out: self.count("relation.register_view_calls"), None),
        }
        for (mod, attr), name in FUNCTIONS.items():
            m = importlib.import_module(f"{PKG}.{mod}")
            orig = getattr(m, attr)
            on_result, on_error = hooks.get(name, (None, None))
            wrapped = self._wrapped(orig, name, on_result, on_error)
            for other in list(sys.modules.values()):
                if getattr(other, "__name__", "").startswith(PKG) and getattr(other, attr, None) is orig:
                    setattr(other, attr, wrapped)
        for (mod, cls, attr), name in METHODS.items():
            klass = getattr(importlib.import_module(f"{PKG}.{mod}"), cls)
            on_result, on_error = hooks.get(name, (None, None))
            setattr(klass, attr, self._wrapped(klass.__dict__[attr], name, on_result, on_error))
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        @functools.wraps(send)
        def counted_send(*args, **kwargs):
            if not self._active():
                return send(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return send(*args, **kwargs)
            finally:
                self.py4j_calls += 1
                self.py4j_wait += time.perf_counter() - t0

        client.send_command = counted_send

    # -- result hooks -------------------------------------------------------
    def _on_prune(self, res) -> None:
        self.count("pruning.calls")
        self.count("pruning.files_read", len(res.files))
        self.count("pruning.files_total", res.total)

    def _on_scan_where(self, out) -> None:
        res = out[1]
        if res.bloom_probed:
            self.count("bloom.probed", res.bloom_probed)
            self.count("bloom.skipped", res.bloom_skipped or 0)
        if res.index_mode is not None:
            self.count(f"index.mode.{res.index_mode}")
            self.count("index.engaged")
            self.count("index.candidates", res.index_candidates or 0)

    # -- output -------------------------------------------------------------
    def dump(self, path: str) -> None:
        """Write every span with its self time, one JSON object a line."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s, st in zip(self.spans, selfs):
                f.write(json.dumps({**s, "self": st}) + "\n")
