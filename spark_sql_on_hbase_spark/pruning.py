"""Multi-dimensional region-file pruning over composite-key bounds.

Parity target: ``RangeCriticalPoint.generatePrunedPartitions``
(HBaseCriticalPoint.scala:213-734) — the reference's multi-dimensional
"critical point" partition pruning.  The reference enumerates predicate
critical points per key dimension, partially evaluates the predicate over
each candidate range, recurses into deeper dimensions for point ranges,
and finally binary-searches surviving ranges against region boundaries
(algorithm comment at HBaseCriticalPoint.scala:696-714).

This implementation reaches the same pruning decisions through the dual
formulation: instead of intersecting predicate-derived ranges with region
bounds, it computes each region file's per-dimension interval envelope
and 3-valued-evaluates the predicate against it (predicate.evaluate):

- dimension 0's envelope is [min_key[0], max_key[0]];
- dimension i>0 is constrained iff all shallower dimensions are constant
  across the file (min_key[:i] == max_key[:i]) — exactly the condition
  under which the reference's recursion descends into dimension i with a
  point prefix (HBaseCriticalPoint.scala:432-482);
- a file is pruned iff the predicate evaluates to definite FALSE.

Both formulations prune a file iff the predicate is unsatisfiable over
the file's key envelope, so the decisions coincide on conjunctions,
disjunctions, IN-lists, and the reference's test matrix
(CriticalPointsTestSuite) — see tests/test_pruning.py.

The point-get fast path (HBaseSQLReaderRDD.scala:270-315: all-point
ranges over the full key → batched Get) falls out: an equality/IN
predicate over every key column evaluates every non-matching file to
FALSE, so only files whose envelope contains a requested point survive.

Scale: O(#files × predicate size) driver-side with zero I/O — the same
asymptotics as the reference's driver-side pruning, and the surviving
files' parquet row-group stats re-prune *inside* each file at read time.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date, datetime
from decimal import Decimal

from spark_sql_on_hbase_spark.catalog import RegionFile, TableMeta
from spark_sql_on_hbase_spark.predicate import (
    FALSE,
    And,
    Comparison,
    InList,
    Interval,
    Not,
    Opaque,
    Or,
    Pred,
    classify,
    evaluate,
    parse_predicate,
    render,
    temporal_value,
)
from spark_sql_on_hbase_spark import codec as C


@dataclass
class PruneResult:
    files: list[RegionFile]
    total: int
    predicate: Pred
    key_pushed: Pred | None
    residual: Pred | None
    # set by scan_where when the key-pushed part proved definitely TRUE
    # over every surviving file, so only the residual was applied
    residual_only: bool = False
    # name of the secondary-index column whose candidate key set
    # augmented the pruning predicate (r12), None when no index engaged
    index_used: str | None = None
    # HOW the index engaged (r13): "augment" (≤cap candidate keys folded
    # into the pruning predicate), "semijoin" (over-cap — index-side
    # scan semi-joined distributed, min/max bounds folded for pruning),
    # or "empty" (the index proved zero matching keys); None otherwise
    index_mode: str | None = None
    # candidate main-key count behind the decision (augment: exact;
    # semijoin: exact distinct count; None when no index engaged)
    index_candidates: int | None = None
    # why an APPLICABLE index was declined (r13 EXPLAIN SCAN): e.g.
    # "unselective (12000 of 20000 keys)" — None when engaged or when
    # no index matched a servable conjunct at all
    index_declined: str | None = None
    # ROW-bloom sidecar outcome (r13 EXPLAIN SCAN): files the blooms
    # removed from the range-surviving set / the surviving count they
    # were probed against; None when blooms were not consulted (no
    # sidecars, non-point predicate, or bloomfilter=none)
    bloom_skipped: int | None = None
    bloom_probed: int | None = None
    # the string-space pushdown superset applied to the raw stored
    # columns before the schema-on-read cast (stringformat tables);
    # None when not applicable (r13 EXPLAIN SCAN)
    sf_pushdown: str | None = None
    # r14: covering read served via index-side merge-on-read (newest-
    # wins per main key over the index entries — the main table had
    # pending upserts but the index stayed merge_exact); None/False on
    # the plain covering fast path
    index_merge: bool = False
    # the per-read merge decision: needs_merge() over the files that
    # survived key-range and bloom pruning; None when no file is read
    merge: bool | None = None
    # the index probe behind index_mode: (index files read, index files
    # total, "driver" or "spark" — where it ran); the probe never
    # merges.  None when no index engaged
    index_probe: tuple[int, int, str] | None = None
    # how many exact index candidate rowkeys the blooms were probed
    # with (instead of the predicate's point set); None otherwise
    bloom_index_keys: int | None = None
    # the delta probe (AstroRelation._drop_unmatched_deltas): overlapping
    # files whose rows were counted under the key conjuncts on the
    # driver, how many of them held no match and were dropped, and the
    # matching rows counted; None when no probe ran
    delta_probed: int | None = None
    delta_dropped: int | None = None
    delta_rows: int | None = None

    @property
    def pruned(self) -> int:
        return self.total - len(self.files)


def _coerce_bound(v, dtype: str):
    """Catalog JSON stores DATE and TIMESTAMP bounds as text
    (``'1960-03-04'``, ``'1950-01-02 03:04:05.123456+00:00'``): parse them
    back so they compare by value with the literals :func:`by_value`
    casts; None (unbounded) when the text does not parse.  Other values
    pass through."""
    if isinstance(v, str):
        try:
            if dtype == C.DATE:
                return date.fromisoformat(v)
            if dtype == C.TIMESTAMP:
                return datetime.fromisoformat(v)
        except ValueError:
            return None
    return v


def _temporal_keys(meta: TableMeta) -> dict[str, str]:
    return {
        k: t
        for k, t in zip(meta.key_names, map(C.normalize_type, meta.key_dtypes))
        if t in (C.DATE, C.TIMESTAMP)
    }


def by_value(p: Pred | None, meta: TableMeta, tz: str | None = None) -> Pred | None:
    """``p`` made comparable with :func:`file_envelope`: a string literal
    compared with a DATE or TIMESTAMP key column becomes the value Spark
    casts it to (``predicate.temporal_value``, TIMESTAMP in the session
    time zone ``tz``), and a comparison whose literal that cast does not
    reproduce exactly becomes Opaque, which never prunes.  For
    evaluation only: the result is not rendered back to SQL."""
    temporal = _temporal_keys(meta)
    if p is None or not temporal:
        return p

    def cast(q):
        if isinstance(q, (And, Or)):
            return type(q)(tuple(cast(c) for c in q.children))
        if isinstance(q, Not):
            return Not(cast(q.child))
        if isinstance(q, (Comparison, InList)) and q.col in temporal:
            vals = [q.value] if isinstance(q, Comparison) else list(q.values)
            out = [v if v is None else temporal_value(v, temporal[q.col], tz) for v in vals]
            if any(o is None and v is not None for o, v in zip(out, vals)):
                return Opaque(render(q))
            if isinstance(q, Comparison):
                return Comparison(q.op, q.col, out[0])
            return InList(q.col, tuple(out))
        return q

    return cast(p)


def file_envelope(rf: RegionFile, meta: TableMeta) -> dict[str, Interval]:
    """Per-key-column interval envelope of one region file."""
    names = meta.key_names
    dtypes = meta.key_dtypes
    env: dict[str, Interval] = {}
    mins = [_coerce_bound(v, d) for v, d in zip(rf.min_key, dtypes)]
    maxs = [_coerce_bound(v, d) for v, d in zip(rf.max_key, dtypes)]
    boxes = rf.dim_min is not None and rf.dim_max is not None
    for i, name in enumerate(names):
        if boxes and rf.dim_min[i] is not None and rf.dim_max[i] is not None:
            # true per-dim box recorded at write time — always at least
            # as tight as the lexicographic envelope, and the only sound
            # bound under non-lexicographic (z-order) layouts where the
            # rowkey min/max tuple brackets nothing beyond dim 0
            env[name] = Interval(
                _coerce_bound(rf.dim_min[i], dtypes[i]),
                _coerce_bound(rf.dim_max[i], dtypes[i]),
            )
        elif i == 0:
            env[name] = Interval(mins[0], maxs[0])
        elif rf.min_key[:i] == rf.max_key[:i]:
            # shallower dims constant across the file → dim i is tightly
            # bounded (the reference's point-prefix recursion condition)
            env[name] = Interval(mins[i], maxs[i])
        else:
            # dim i wraps around within the file → unconstrained
            env[name] = Interval()
    return env


# most rowkeys one read probes the ROW-bloom sidecars with (the
# batched-Get point set); a larger set reads the range survivors as-is
POINT_PROBE_CAP = 256


def point_rowkeys(
    pred: Pred | None, meta: TableMeta, cap: int = POINT_PROBE_CAP
) -> list[bytes] | None:
    """Explicit full-rowkey point set of a predicate, or None.

    Returns the encoded rowkeys the predicate restricts the scan to when
    every key column is pinned to a finite value set by a TOP-LEVEL
    conjunct (``=`` or ``IN``) — the same all-point detection behind the
    reference's batched-Get path (HBaseSQLReaderRDD.scala:270-315).
    Conjuncts of any other shape are ignored: they only narrow the
    result further, so probing the cross product of the pinned sets
    stays sound (a fragment lacking every pinned key cannot hold a row
    satisfying the full conjunction).  None = not a point scan (some key
    column unpinned, a non-conjunctive structure pins it, the cross
    product exceeds ``cap``, or a literal does not encode under the key
    schema).
    """
    from spark_sql_on_hbase_spark.predicate import And, Comparison, InList

    if pred is None:
        return None
    conjuncts: list[Pred] = []

    def flatten(p: Pred) -> None:
        if isinstance(p, And):
            for c in p.children:
                flatten(c)
        else:
            conjuncts.append(p)

    flatten(pred)
    names = meta.key_names
    pinned: dict[str, set] = {}

    def narrow(col: str, vals: set) -> None:
        pinned[col] = pinned[col] & vals if col in pinned else vals

    for c in conjuncts:
        if isinstance(c, Comparison) and c.op == "=" and c.col in names:
            narrow(c.col, {c.value})
        elif isinstance(c, InList) and c.col in names:
            narrow(c.col, set(c.values))
    if set(names) - set(pinned):
        return None
    total = 1
    for col in names:
        total *= len(pinned[col])
        if total > cap or total == 0:
            return None if total else []
    import itertools

    dtypes = meta.key_dtypes
    out = []
    try:
        pinned_values = [
            _probe_values(pinned[c], C.normalize_type(t)) for c, t in zip(names, dtypes)
        ]
        for combo in itertools.product(*pinned_values):
            out.append(C.encode_key(list(combo), dtypes))
    except (ValueError, TypeError, AttributeError):
        # literal/type mismatch (e.g. a string bound for a timestamp
        # key) — not a probe-able point set; fall back to maybe-present
        return None
    return out


# Python types of the literals a key column of each type is compared
# with as they are: Spark casts any other literal by its own rules
_LITERAL_TYPES = {
    C.STRING: str,
    C.BOOLEAN: bool,
    **dict.fromkeys((C.BYTE, C.SHORT, C.INT, C.LONG), int),
    C.FLOAT: (int, float),
    C.DOUBLE: (int, float),
    C.DECIMAL: (int, Decimal),
    C.DATE: date,
    C.TIMESTAMP: datetime,
}


def _probe_values(values: set, dtype: str) -> list:
    """The stored key values Spark's ``=`` matches for ``values`` of a key
    column of type ``dtype``.  A zero of a FLOAT/DOUBLE key also matches
    the other zero, which encodes to other bytes.  A literal of another
    type than the key's is cast by Spark (``'05' = 5`` and
    ``b = 'false'`` hold), so it has no point set: ValueError."""
    want = _LITERAL_TYPES[dtype]
    if not all(isinstance(v, want) and (dtype == C.BOOLEAN or not isinstance(v, bool))
               for v in values):
        raise ValueError(f"a {dtype} key compared with a literal of another type")
    out = sorted(values)
    if dtype in (C.FLOAT, C.DOUBLE):
        nonzero = [v for v in out if v != 0]
        if len(nonzero) < len(out):
            out = nonzero + [0.0, -0.0]
    return out


# two-level pruning engages above this fragment count: below it the
# per-manifest pre-pass costs more bookkeeping than it saves
MANIFEST_PRUNE_MIN_FILES = 256


def _manifest_env(ref: dict, meta: TableMeta) -> dict[str, Interval]:
    """Per-key-column interval envelope of one manifest ref (the
    aggregated union `catalog._manifest_ref_stats` stored on the CAS
    pointer); None bounds → unconstrained."""
    names = meta.key_names
    dtypes = meta.key_dtypes
    lo, hi = ref["env_lo"], ref["env_hi"]
    env: dict[str, Interval] = {}
    for i, name in enumerate(names):
        if i < len(lo) and lo[i] is not None and hi[i] is not None:
            env[name] = Interval(
                _coerce_bound(lo[i], dtypes[i]), _coerce_bound(hi[i], dtypes[i])
            )
        else:
            env[name] = Interval()
    return env


def manifest_groups(meta: TableMeta):
    """[(manifest_env | None, [RegionFile, ...]), ...] — live fragments
    grouped by the manifest whose pointer ref carries their aggregated
    envelope (r15, VERDICT r14 #3).  Membership resolves by fragment
    seq against the refs' recorded [seq_lo, seq_hi] ranges (manifest
    groups partition seq space contiguously); a fragment matching zero
    or several refs lands in the None-envelope group and is walked
    individually — soundness never depends on the mapping being exact.
    Returns None when the pointer carries no envelope-bearing refs
    (pre-r15 pointer or unsharded table)."""
    cache = getattr(meta, "_mgroups_cache", None)
    key = (meta.meta_version, id(meta.regions), len(meta.regions))
    if cache is not None and cache[0] == key:
        return cache[1]
    refs = [
        r
        for r in (meta.region_manifests or [])
        if isinstance(r, dict) and "env_lo" in r and "seq_lo" in r
    ]
    if not refs:
        return None
    import bisect

    refs.sort(key=lambda r: r["seq_lo"])
    # overlapping seq ranges would make membership ambiguous — the
    # partition invariant says they never overlap; if a pointer ever
    # violates it, fall back to the flat walk rather than guess
    for a, b in zip(refs, refs[1:]):
        if a["seq_hi"] >= b["seq_lo"]:
            return None
    seq_los = [r["seq_lo"] for r in refs]
    by_ref: list[list[RegionFile]] = [[] for _ in refs]
    loose: list[RegionFile] = []
    for rf in meta.regions:
        s = int(rf.seq)
        i = bisect.bisect_right(seq_los, s) - 1
        if 0 <= i < len(refs) and refs[i]["seq_lo"] <= s <= refs[i]["seq_hi"]:
            by_ref[i].append(rf)
        else:
            loose.append(rf)
    groups = [
        (_manifest_env(refs[i], meta), frags)
        for i, frags in enumerate(by_ref)
        if frags
    ]
    if loose:
        groups.append((None, loose))
    # memoized per metadata version (the grouping pass is O(#fragments)
    # — amortize it over every query against this snapshot; the id/len
    # guards catch in-window region-list rebinding before the version
    # bump)
    meta._mgroups_cache = (key, groups)
    return groups


def column_types(meta: TableMeta) -> dict[str, str]:
    """Normalized type of every column: the ``coltypes`` that
    ``parse_predicate`` coerces literals by."""
    return {c: C.normalize_type(dt) for c, dt in meta.all_columns}


def prune_files(meta: TableMeta, where: str | Pred, tz: str | None = None) -> PruneResult:
    """The fragments of ``meta`` whose key envelope may satisfy
    ``where``.  ``tz`` is the session time zone TIMESTAMP key literals
    are cast in (:func:`by_value`); without it they do not prune."""
    pred = parse_predicate(where, column_types(meta)) if isinstance(where, str) else where
    key_pushed, residual = classify(pred, set(meta.key_names))
    test = by_value(pred, meta, tz)
    survivors = []
    groups = (
        manifest_groups(meta)
        if len(meta.regions) >= MANIFEST_PRUNE_MIN_FILES
        else None
    )
    if groups is None:
        for rf in meta.regions:
            env = file_envelope(rf, meta)
            if evaluate(test, env) != FALSE:
                survivors.append(rf)
    else:
        # r15 two-level walk (VERDICT r14 #3): evaluate once per
        # MANIFEST envelope, descend into fragments only when the
        # manifest might match — the per-query driver cost at 10⁵-10⁶
        # fragments drops from O(#fragments) to O(#manifests +
        # fragments of surviving manifests).  Sound because each
        # fragment's envelope ⊆ its manifest's union and 3-valued
        # evaluation is monotone.
        for genv, frags in groups:
            if genv is not None and evaluate(test, genv) == FALSE:
                continue
            for rf in frags:
                env = file_envelope(rf, meta)
                if evaluate(test, env) != FALSE:
                    survivors.append(rf)
        survivors.sort(key=lambda r: r.min_rowkey_hex)
    return PruneResult(
        files=survivors,
        total=len(meta.regions),
        predicate=pred,
        key_pushed=key_pushed,
        residual=residual,
    )
