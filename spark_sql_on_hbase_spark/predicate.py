"""Predicate IR, parser, and 3-valued interval evaluation.

Parity targets:
- ``ScanPredClassifier`` (ScanPredClassifier.scala:27-143) — split a
  predicate into (pushdownable, residual) under AND/OR algebra;
- ``PartialPredicateOperations.partialReduce``
  (catalyst/expressions/PartialPredicateOperations.scala:41-333) — evaluate
  a predicate over *ranges* instead of points with TRUE/FALSE/UNKNOWN
  outcomes — re-expressed as interval arithmetic over decoded key values
  (``types/RangeType.scala`` models the same thing over raw bytes).

The evaluator is deliberately conservative: UNKNOWN whenever a sound
answer isn't provable, and the full original predicate is always
re-applied after the scan (SURVEY §7 "known-hard" #2 mitigation) — so
pruning can only be an optimization, never a correctness hazard.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass
from decimal import Decimal
from typing import Optional, Union

TRUE, FALSE, UNKNOWN = 1, 0, -1


# ---------------------------------------------------------------------------
# IR
# ---------------------------------------------------------------------------
@dataclass(frozen=True)
class Comparison:
    op: str  # = != < <= > >=
    col: str
    value: object


@dataclass(frozen=True)
class InList:
    col: str
    values: tuple


@dataclass(frozen=True)
class IsNull:
    col: str


@dataclass(frozen=True)
class IsNotNull:
    col: str


@dataclass(frozen=True)
class And:
    children: tuple


@dataclass(frozen=True)
class Or:
    children: tuple


@dataclass(frozen=True)
class Not:
    child: object


@dataclass(frozen=True)
class Opaque:
    """Unparseable / non-sargable fragment — always UNKNOWN (residual)."""

    text: str


Pred = Union[Comparison, InList, IsNull, IsNotNull, And, Or, Not, Opaque]


# ---------------------------------------------------------------------------
# parser: WHERE-style boolean expressions over col-vs-literal comparisons
# ---------------------------------------------------------------------------
_TOKEN_RE = re.compile(
    r"""\s*(?:
      (?P<lpar>\() | (?P<rpar>\)) | (?P<comma>,)
    | (?P<op><=|>=|<>|!=|=|<|>)
    | (?P<str>'(?:[^']|'')*')
    | (?P<num>-?\d+\.\d+(?:[eE][-+]?\d+)?|-?\d+)
    | (?P<word>[A-Za-z_]\w*)
    | (?P<bword>`[^`]+`)
    | (?P<other>\S)
    )""",
    re.VERBOSE,
)


class _Tokens:
    def __init__(self, text: str, coltypes: dict[str, str] | None = None):
        self.text = text
        self.coltypes = coltypes or {}
        self.toks: list[tuple[str, str]] = []
        # source span of each token, so opaque-leaf recovery can return
        # the ORIGINAL text slice — re-joining token values would mangle
        # multi-char operators the tokenizer reads as pieces
        # ('<=>' → '<= >', '||' → '| |'; r7 review)
        self.spans: list[tuple[int, int]] = []
        pos = 0
        while pos < len(text):
            m = _TOKEN_RE.match(text, pos)
            if not m:
                if text[pos:].strip():
                    raise ValueError(f"cannot tokenize predicate at: {text[pos:pos+30]!r}")
                break
            for k, v in m.groupdict().items():
                if v is not None:
                    if k == "bword":  # backticked identifier ≡ bare word
                        k, v = "word", v.strip("`")
                    self.toks.append((k, v))
                    self.spans.append((m.end() - len(m.group(0).lstrip()), m.end()))
                    break
            pos = m.end()
        self.i = 0

    def peek(self, kind: str | None = None, value: str | None = None):
        if self.i >= len(self.toks):
            return None
        k, v = self.toks[self.i]
        if kind and k != kind:
            return None
        if value and v.upper() != value.upper():
            return None
        return v

    def next(self):
        tok = self.toks[self.i]
        self.i += 1
        return tok

    def expect(self, kind: str, value: str | None = None):
        if self.i >= len(self.toks):
            raise ValueError(f"unexpected end of predicate (wanted {value or kind})")
        k, v = self.next()
        if k != kind or (value and v.upper() != value.upper()):
            raise ValueError(f"expected {value or kind}, got {v!r}")
        return v


def _literal(kind: str, raw: str, dtype: str | None = None):
    """Python value of one literal token.  ``dtype`` is the normalized
    type of the column it is compared with: a number compared with a
    DECIMAL column keeps its exact text (``1.23`` as float never equals
    the stored ``Decimal('1.23')``, so pruning would drop every file)."""
    if kind == "str":
        return raw[1:-1].replace("''", "'")
    if kind == "num":
        if dtype == "decimal":
            return Decimal(raw)
        return float(raw) if ("." in raw or "e" in raw or "E" in raw) else int(raw)
    if kind == "word":
        up = raw.upper()
        if up == "TRUE":
            return True
        if up == "FALSE":
            return False
        if up == "NULL":
            return None
    raise ValueError(f"bad literal {raw!r}")


def parse_predicate(text: str, coltypes: dict[str, str] | None = None) -> Pred:
    """Parse a WHERE-style expression.  Grammar:

    expr   := term (OR term)*
    term   := factor (AND factor)*
    factor := NOT factor | '(' expr ')' | atom
    atom   := col op literal | literal op col | col [NOT] BETWEEN a AND b
            | col [NOT] IN (lit, ...) | col IS [NOT] NULL

    ``coltypes`` (column → normalized type, ``pruning.column_types``)
    coerces each literal by the type of the column it is compared with.
    """
    t = _Tokens(text, coltypes)
    p = _parse_or(t)
    if t.i != len(t.toks):
        raise ValueError(f"trailing tokens in predicate: {t.toks[t.i:]}")
    return p


def _parse_or(t: _Tokens) -> Pred:
    parts = [_parse_and(t)]
    while t.peek("word", "OR"):
        t.next()
        parts.append(_parse_and(t))
    return parts[0] if len(parts) == 1 else Or(tuple(parts))


def _parse_and(t: _Tokens) -> Pred:
    parts = [_parse_factor(t)]
    while t.peek("word", "AND"):
        t.next()
        parts.append(_parse_factor(t))
    return parts[0] if len(parts) == 1 else And(tuple(parts))


_FLIP = {"<": ">", ">": "<", "<=": ">=", ">=": "<="}


def _consume_opaque(t: _Tokens) -> Pred:
    """Leaf recovery: swallow one unsupported atom — everything up to the
    next TOP-LEVEL AND/OR or unmatched ')' — as an Opaque leaf.  Opaque
    evaluates to UNKNOWN (never prunes a file), so an unparseable leaf
    like `v LIKE 'x%'` or `length(v) = 3` no longer voids pruning for the
    sargable conjuncts around it (`k <= 25 AND v LIKE 'x%'` still prunes
    on k — the reference reaches the same via partialReduce over
    unconvertible sub-trees, HBaseCriticalPoint.scala:648-694)."""
    depth = 0
    start = t.i
    while t.i < len(t.toks):
        k, v = t.toks[t.i]
        if k == "lpar":
            depth += 1
        elif k == "rpar":
            if depth == 0:
                break
            depth -= 1
        elif k == "word" and depth == 0 and v.upper() in ("AND", "OR"):
            break
        t.i += 1
    if t.i == start:
        raise ValueError("empty predicate leaf")
    # the ORIGINAL text slice, not re-joined token values: the tokenizer
    # reads '<=>' as '<=' + '>' and '||' as two chars — rendering a
    # re-join would hand Spark invalid SQL in the residual_only path
    return Opaque(t.text[t.spans[start][0]:t.spans[t.i - 1][1]].strip())


def _parse_factor(t: _Tokens) -> Pred:
    start = t.i
    try:
        return _parse_factor_strict(t)
    except ValueError:
        t.i = start
        return _consume_opaque(t)


def _parse_factor_strict(t: _Tokens) -> Pred:
    if t.peek("word", "NOT"):
        t.next()
        return Not(_parse_factor(t))
    if t.peek("lpar"):
        t.next()
        p = _parse_or(t)
        t.expect("rpar")
        return p
    # atom
    kind, raw = t.next()
    if kind in ("str", "num"):
        # literal op col
        op = t.expect("op")
        col = t.expect("word")
        lit = _literal(kind, raw, t.coltypes.get(col))
        op = _FLIP.get(op, op)
        if op in ("<>", "!="):
            op = "!="
        return Comparison(op=op, col=col, value=lit)
    if kind != "word":
        raise ValueError(f"unexpected token {raw!r}")
    col = raw
    dtype = t.coltypes.get(col)
    if t.peek("word", "IS"):
        t.next()
        if t.peek("word", "NOT"):
            t.next()
            t.expect("word", "NULL")
            return IsNotNull(col)
        t.expect("word", "NULL")
        return IsNull(col)
    negate = False
    if t.peek("word", "NOT"):
        t.next()
        negate = True
    if t.peek("word", "BETWEEN"):
        t.next()
        k1, r1 = t.next()
        lo = _literal(k1, r1, dtype)
        t.expect("word", "AND")
        k2, r2 = t.next()
        hi = _literal(k2, r2, dtype)
        rng = And((Comparison(">=", col, lo), Comparison("<=", col, hi)))
        return Not(rng) if negate else rng
    if t.peek("word", "IN"):
        t.next()
        t.expect("lpar")
        vals = []
        while True:
            k, r = t.next()
            vals.append(_literal(k, r, dtype))
            if t.peek("comma"):
                t.next()
                continue
            break
        t.expect("rpar")
        inl = InList(col, tuple(vals))
        return Not(inl) if negate else inl
    if negate:
        raise ValueError("dangling NOT")
    op = t.expect("op")
    k, r = t.next()
    lit = _literal(k, r, dtype)
    if op in ("<>", "!="):
        op = "!="
    return Comparison(op=op, col=col, value=lit)


# ---------------------------------------------------------------------------
# classifier (ScanPredClassifier parity): which columns does each leaf touch
# ---------------------------------------------------------------------------
def referenced_columns(p: Pred) -> set[str]:
    if isinstance(p, (Comparison, InList, IsNull, IsNotNull)):
        return {p.col}
    if isinstance(p, (And, Or)):
        out: set[str] = set()
        for c in p.children:
            out |= referenced_columns(c)
        return out
    if isinstance(p, Not):
        return referenced_columns(p.child)
    return set()


def classify(p: Pred, key_cols: set[str]) -> tuple[Optional[Pred], Optional[Pred]]:
    """Split an AND-tree into (key-only part, residual part).

    Mirrors ScanPredClassifier's AND decomposition: each top-level
    conjunct goes to the pushable side iff it references only key columns.
    OR nodes are pushable only when *every* leaf is key-only (the
    reference additionally distributes OR to extract more — we keep the
    conservative split; correctness is unaffected because the full
    predicate is re-applied).
    """
    conjuncts = list(p.children) if isinstance(p, And) else [p]
    push, resid = [], []
    for c in conjuncts:
        (push if referenced_columns(c) and referenced_columns(c) <= key_cols else resid).append(c)
    mk = lambda xs: xs[0] if len(xs) == 1 else (And(tuple(xs)) if xs else None)
    return mk(push), mk(resid)


# ---------------------------------------------------------------------------
# 3-valued interval evaluation (partialReduce parity)
# ---------------------------------------------------------------------------
@dataclass(frozen=True)
class Interval:
    """Closed/open interval over python-comparable values; None = unbounded."""

    lo: object = None
    hi: object = None
    lo_incl: bool = True
    hi_incl: bool = True

    @staticmethod
    def point(v) -> "Interval":
        return Interval(v, v, True, True)

    @property
    def is_point(self) -> bool:
        return self.lo is not None and self.lo == self.hi and self.lo_incl and self.hi_incl


def _cmp_interval(iv: Interval, op: str, v) -> int:
    """Evaluate `col op v` where col ∈ iv → TRUE/FALSE/UNKNOWN."""
    lo, hi = iv.lo, iv.hi
    try:
        if op == "=":
            if lo is not None and (v < lo or (v == lo and not iv.lo_incl)):
                return FALSE
            if hi is not None and (v > hi or (v == hi and not iv.hi_incl)):
                return FALSE
            return TRUE if iv.is_point and lo == v else UNKNOWN
        if op == "!=":
            r = _cmp_interval(iv, "=", v)
            return {TRUE: FALSE, FALSE: TRUE, UNKNOWN: UNKNOWN}[r]
        if op == "<":
            # definitely true iff every x in iv is < v
            if hi is not None and (hi < v or (hi == v and not iv.hi_incl)):
                return TRUE
            # definitely false iff every x in iv is >= v
            if lo is not None and lo >= v:
                return FALSE
            return UNKNOWN
        if op == "<=":
            if hi is not None and hi <= v:
                return TRUE
            if lo is not None and (lo > v or (lo == v and not iv.lo_incl)):
                return FALSE
            return UNKNOWN
        if op == ">":
            if lo is not None and (lo > v or (lo == v and not iv.lo_incl)):
                return TRUE
            if hi is not None and hi <= v:
                return FALSE
            return UNKNOWN
        if op == ">=":
            if lo is not None and lo >= v:
                return TRUE
            if hi is not None and (hi < v or (hi == v and not iv.hi_incl)):
                return FALSE
            return UNKNOWN
    except TypeError:
        return UNKNOWN
    raise ValueError(f"bad op {op}")


def _is_empty(iv: Interval) -> bool:
    if iv.lo is None or iv.hi is None:
        return False
    try:
        if iv.lo > iv.hi:
            return True
        if iv.lo == iv.hi and not (iv.lo_incl and iv.hi_incl):
            return True
    except TypeError:
        return False
    return False


def _intersect(iv: Interval, op: str, v) -> Interval | None:
    """iv ∩ {x | x op v}; None if empty."""
    lo, hi, li, hi_i = iv.lo, iv.hi, iv.lo_incl, iv.hi_incl
    try:
        if op == "=":
            out = Interval(v, v, True, True)
            if _cmp_interval(iv, "=", v) == FALSE:
                return None
            return out
        if op in ("<", "<="):
            incl = op == "<="
            if hi is None or v < hi:
                hi, hi_i = v, incl
            elif v == hi:
                hi_i = hi_i and incl
        elif op in (">", ">="):
            incl = op == ">="
            if lo is None or v > lo:
                lo, li = v, incl
            elif v == lo:
                li = li and incl
        else:  # != — no refinement unless iv is the excluded point
            if iv.is_point and iv.lo == v:
                return None
            return iv
    except TypeError:
        return iv
    out = Interval(lo, hi, li, hi_i)
    return None if _is_empty(out) else out


def _refine(children: tuple, env: dict[str, Interval]) -> dict[str, Interval] | None:
    """Constraint propagation over an AND's comparison children → tightened
    env, or None when jointly unsatisfiable (the cross-conjunct
    contradiction case, e.g. k<2 AND k>5 — reference
    HBasePartitionerSuite contradiction tests)."""
    refined = dict(env)
    for c in children:
        if isinstance(c, Comparison) and c.col in refined and c.value is not None:
            iv2 = _intersect(refined[c.col], c.op, c.value)
            if iv2 is None:
                return None
            refined[c.col] = iv2
        elif isinstance(c, InList) and c.col in refined:
            vals = [v for v in c.values if v is not None and _cmp_interval(refined[c.col], "=", v) != FALSE]
            if not vals:
                return None
            try:
                refined[c.col] = Interval(min(vals), max(vals))
            except TypeError:
                pass
        elif isinstance(c, And):
            sub = _refine(c.children, refined)
            if sub is None:
                return None
            refined = sub
    return refined


def evaluate(p: Pred, env: dict[str, Interval]) -> int:
    """3-valued evaluation of p under per-column interval bounds.

    Columns absent from env are unconstrained (UNKNOWN leaves).  NULL
    handling: key columns are non-nullable, so IS NULL → FALSE and IS NOT
    NULL → TRUE for key columns in env; anything else UNKNOWN.
    """
    if isinstance(p, Opaque):
        return UNKNOWN
    if isinstance(p, Comparison):
        iv = env.get(p.col)
        if iv is None or p.value is None:
            return UNKNOWN
        return _cmp_interval(iv, p.op, p.value)
    if isinstance(p, InList):
        iv = env.get(p.col)
        if iv is None:
            return UNKNOWN
        results = [_cmp_interval(iv, "=", v) for v in p.values if v is not None]
        if any(r == TRUE for r in results):
            return TRUE
        if all(r == FALSE for r in results):
            return FALSE
        return UNKNOWN
    if isinstance(p, IsNull):
        return FALSE if p.col in env else UNKNOWN  # key cols non-nullable
    if isinstance(p, IsNotNull):
        return TRUE if p.col in env else UNKNOWN
    if isinstance(p, And):
        # FALSE iff jointly unsatisfiable: constraint propagation catches
        # cross-conjunct contradictions individual evaluation misses
        refined = _refine(p.children, env)
        if refined is None:
            return FALSE
        rs = [evaluate(c, env) for c in p.children]
        if any(r == FALSE for r in rs):
            return FALSE
        if all(r == TRUE for r in rs):
            return TRUE
        # OR children must stay satisfiable under the tightened bounds
        for c in p.children:
            if isinstance(c, Or) and all(evaluate(b, refined) == FALSE for b in c.children):
                return FALSE
        return UNKNOWN
    if isinstance(p, Or):
        rs = [evaluate(c, env) for c in p.children]
        if any(r == TRUE for r in rs):
            return TRUE
        if all(r == FALSE for r in rs):
            return FALSE
        return UNKNOWN
    if isinstance(p, Not):
        r = evaluate(p.child, env)
        return {TRUE: FALSE, FALSE: TRUE, UNKNOWN: UNKNOWN}[r]
    raise TypeError(type(p))


# ---------------------------------------------------------------------------
# stringformat pushdown: typed predicate → string-space predicate
# ---------------------------------------------------------------------------
_SF_INTS = {"byte", "short", "int", "long"}
_SF_INT_BOUNDS = {
    "byte": (-128, 127),
    "short": (-32768, 32767),
    "int": (-2147483648, 2147483647),
    "long": (-9223372036854775808, 9223372036854775807),
}
_SF_DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")


def _sf_int_range(col: str, lo: int, hi: int) -> str | None:
    """Tight SOUND-SUPERSET string-space predicate for integer
    ``col ∈ [lo, hi]`` over canonical decimal storage (reference
    typed-comparator parity surface, util/comparators.scala:47-243).

    WITHIN one sign and one digit count, string order ≡ numeric order
    and there are no leading zeros, so the interval splits into ≤ ~40
    per-digit-count string ranges (19 positive + 19 negative widths for
    LONG + the single '0'), pushed as Or(And(GtEq, LtEq)).

    Why a superset and not exact: ANY nondegenerate lexicographic
    interval over unpadded decimals admits strings of OTHER lengths —
    '3' sorts inside ['25','99'] and '-5' inside ['-101','-999']
    (hypothesis found both) — and parquet filters can't express the
    length pin that would exclude them.  The reference achieves
    exactness only because HBase lets it run custom TYPED byte
    comparators server-side; parquet's filter language is plain string
    ranges, so the engine pushes the tightest sound lex union and
    re-applies the typed predicate after the schema-on-read cast
    (scan_where always does).  Versus the pre-r7 single bound
    ('>= 10…0' / '<= 9…9'): same-digit-count values outside [lo, hi]
    are now excluded, and NEGATIVE bounds push at all (they previously
    disabled pushdown entirely)."""
    if lo > hi:
        return "(false)"
    parts: list[str] = []

    def ranges(ma: int, mb: int, neg: bool) -> None:
        # magnitudes in [ma, mb] (1 ≤ ma ≤ mb), one range per digit count
        for m in range(len(str(ma)), len(str(mb)) + 1):
            a = max(ma, 10 ** (m - 1))
            b = min(mb, 10**m - 1)
            if a <= b:
                s = "-" if neg else ""
                parts.append(f"({col} >= '{s}{a}' AND {col} <= '{s}{b}')")

    if lo <= -1:
        ranges(max(1, -min(hi, -1)), -lo, neg=True)
    if lo <= 0 <= hi:
        parts.append(f"({col} = '0')")
    if hi >= 1:
        ranges(max(lo, 1), hi, neg=False)
    return "(" + " OR ".join(parts) + ")" if parts else "(false)"


_SF_FLOATS = {"float", "double"}
# plain-notation regime of Java/Spark shortest-repr float formatting:
# |x| in [1e-3, 1e7) prints as a plain decimal with a '.', everything
# else switches to E-notation ("1.0E7", "1.0E-4") whose strings
# interleave lexicographically with plain decimals and defeat range
# reasoning — ranges touching that regime do not convert.
_SF_FLOAT_LO, _SF_FLOAT_HI = 1e-3, 1e7


def _sf_plain_repr(x: float) -> str | None:
    """Shortest round-trip decimal of ``x`` — identical digits to Spark's
    Ryu formatting inside the plain regime (both emit the unique shortest
    repr; Python only switches to exponent notation outside [1e-4, 1e16),
    which the regime guard already excludes)."""
    s = repr(float(x))
    return None if ("e" in s or "E" in s or "n" in s) else s


def _sf_float_range(col: str, lo: float, hi: float) -> str | None:
    """Sound-superset string-space predicate for float/double
    ``col ∈ [lo, hi]`` over canonical shortest-repr decimal storage —
    the float/double rows of the reference's typed-comparator table
    (util/comparators.scala:47-243; r7 verdict #5, the last precision
    gap).

    Same per-sign per-width union as :func:`_sf_int_range`, with width =
    integer-digit count and fractional tails ordered lexicographically
    within a width ('.' < '0', so "10.5" < "10.50" < "10.6" matches
    numeric order for canonical shortest reprs).  Only intervals wholly
    inside the plain-notation regime (1e-3 ≤ |x| < 1e7, one sign)
    convert: a satisfying value outside it would be STORED in E-notation
    and silently escape any plain-decimal range (unsound) — those
    predicates simply don't push, as before.  Bounds are used closed
    regardless of strictness (superset; also absorbs float-vs-double
    literal rounding).  The typed re-filter after the schema-on-read
    cast keeps everything exact."""
    if lo > hi:
        return "(false)"
    parts: list[str] = []

    def mag_ranges(a: float, b: float, neg: bool) -> bool:
        # magnitudes 1e-3 <= a <= b < 1e7; one range per integer-digit
        # count m ("0.001".."9.999…" is the m=1 group).  Fully-covered
        # width ends use sentinels ("10", "99:") — cheaper than reprs and
        # exact at width boundaries; interior ends use the bound's repr.
        wa = 1 if a < 1 else len(str(int(a)))
        wb = 1 if b < 1 else len(str(int(b)))
        sgn = "-" if neg else ""
        for m in range(wa, wb + 1):
            lo_m = _SF_FLOAT_LO if m == 1 else float(10 ** (m - 1))
            hi_m = float(10**m)
            if a <= lo_m:
                lbs = "0." if m == 1 else str(10 ** (m - 1))
            else:
                lbs = _sf_plain_repr(a)
                if lbs is None:
                    return False
            if b >= hi_m:
                ubs = "9" * m + ":"
            else:
                ubs = _sf_plain_repr(b)
                if ubs is None:
                    return False
            parts.append(f"({col} >= '{sgn}{lbs}' AND {col} <= '{sgn}{ubs}')")
        return True

    if hi < 0:
        ok = -hi >= _SF_FLOAT_LO and -lo < _SF_FLOAT_HI and mag_ranges(-hi, -lo, True)
    elif lo > 0:
        ok = lo >= _SF_FLOAT_LO and hi < _SF_FLOAT_HI and mag_ranges(lo, hi, False)
    else:
        return None  # interval touches zero/tiny → E-notation storage possible
    return "(" + " OR ".join(parts) + ")" if ok and parts else None


# every positive E-notation shortest repr is "d.…E…" and sorts inside
# ('d.0E', 'd.:'): plain "d.0xx" strings sort BELOW 'd.0E' ('0'-'9' <
# 'E') and no string reaches 'd.:' (':' > '9'); the block also admits
# plain "d.1".."d.9…" strings — a coarse SUPERSET that stays confined to
# single-digit-magnitude pages, so multi-digit plain pages still skip.
_SF_POS_E_BLOCKS = " OR ".join(
    f"({{col}} >= '{d}.0E' AND {{col}} <= '{d}.:')" for d in range(1, 10)
)
_SF_NEG_E_BLOCKS = " OR ".join(
    f"({{col}} >= '-{d}.0E' AND {{col}} <= '-{d}.:')" for d in range(1, 10)
)


def _sf_float_onesided(col: str, lo: float, hi: float) -> str | None:
    """Sound-superset string-space predicate when exactly ONE bound is
    finite (r9, VERDICT r8 #4: one-sided float predicates previously
    never pushed because the unbounded side reaches E-notation storage).
    The finite side converts to the tight per-width plain ranges of
    :func:`_sf_float_range` closed at the regime boundary; the unbounded
    side is covered by coarse-but-sound blocks — all-negatives
    (``'-' ≤ s < '.'``), all-nonnegatives (``'0' ≤ s < ':'``), the
    per-digit E-notation blocks, and the ``Infinity``/``NaN`` literals
    (Spark orders NaN above every value, so ``x > v`` admits NaN).
    Correctness rides the typed re-filter as always.

    Page-skip effectiveness caveat (measured r9): a union that spans
    integer-digit widths includes sentinel ranges like
    ``['100000', '999999:']`` whose lex interval ADMITS most
    shorter-width strings (``'11999.0' > '100000'``) — inherent to
    lexicographic order over variable-width decimals, the same
    cross-length leak documented for ``_sf_int_range``.  So pages skip
    when the finite bound sits at the TOP width of the regime (no
    higher-width sentinel exists) or when the column's data is
    width-homogeneous above the bound; intermediate-width bounds over
    mixed-width data stay sound but scan-neutral.  The reference's
    typed byte comparators (util/comparators.scala:47-243) don't have
    this limit — unreachable in parquet's string-stats filter language."""
    import math

    top = math.nextafter(_SF_FLOAT_HI, 0.0)  # largest double < 1e7
    parts: list[str] = []
    if math.isinf(lo) and math.isinf(hi):
        return None
    if not math.isinf(lo) and math.isinf(hi):  # x >= lo
        if lo > 0:
            plain = _sf_float_range(col, min(lo, top), top)
            if plain is None:
                return None
            parts = [plain, _SF_POS_E_BLOCKS.format(col=col)]
        else:
            # lo <= 0: every nonnegative string (plain, E, "0.0") …
            parts = [f"({col} >= '0' AND {col} < ':')", f"({col} = '-0.0')"]
            if lo < 0:
                # … plus negatives of magnitude <= |lo| (closed superset)
                neg = _sf_float_range(col, max(lo, -top), -_SF_FLOAT_LO)
                if neg is None and -lo >= _SF_FLOAT_LO:
                    return None
                if neg is not None:
                    parts.append(neg)
                parts.append(_SF_NEG_E_BLOCKS.format(col=col))
        parts.append(f"({col} = 'Infinity')")
        parts.append(f"({col} = 'NaN')")  # Spark: NaN > every value
        return "(" + " OR ".join(parts) + ")"
    if not math.isinf(hi) and math.isinf(lo):  # x <= hi
        if hi < 0:
            plain = _sf_float_range(col, -top, max(hi, -top))
            if plain is None:
                return None
            parts = [plain, _SF_NEG_E_BLOCKS.format(col=col)]
            parts.append(f"({col} = '-Infinity')")
        else:
            # hi >= 0: every negative string ("-…" incl. -Infinity/-0.0,
            # '-' < '.' < digits) …
            parts = [f"({col} >= '-' AND {col} < '.')", f"({col} = '0.0')"]
            if hi > 0:
                # … plus positives of magnitude <= hi (tiny ones are
                # E-notation — the blocks)
                if hi >= _SF_FLOAT_LO:
                    pos = _sf_float_range(col, _SF_FLOAT_LO, min(hi, top))
                    if pos is None:
                        return None
                    parts.append(pos)
                parts.append(_SF_POS_E_BLOCKS.format(col=col))
        return "(" + " OR ".join(parts) + ")"
    return None


def _sf_float_conjuncts(children, coltypes: dict[str, str]) -> list[str]:
    """Per-column [lo, hi] intervals from float/double comparison
    conjuncts of one AND.  Two-sided in-regime intervals take the tight
    per-width ranges (:func:`_sf_float_range`); single-sided intervals
    take the regime-boundary closure (:func:`_sf_float_onesided`, r9)."""
    import math

    bounds: dict[str, tuple[float, float]] = {}
    for c in children:
        if not isinstance(c, Comparison):
            continue
        if coltypes.get(c.col) not in _SF_FLOATS:
            continue
        v = c.value
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            continue
        v = float(v)
        lo, hi = bounds.get(c.col, (-math.inf, math.inf))
        if c.op in (">", ">="):
            lo = max(lo, v)
        elif c.op in ("<", "<="):
            hi = min(hi, v)
        elif c.op == "=":
            lo, hi = max(lo, v), min(hi, v)
        else:
            continue
        bounds[c.col] = (lo, hi)
    out = []
    for col, (lo, hi) in bounds.items():
        if coltypes.get(col) == "float":
            # FLOAT columns store float32 shortest reprs: the decimal a
            # stored string denotes sits within one float32 ulp
            # (~1.2e-7 relative) of the binary value the typed predicate
            # compares — widen by a safely-larger relative margin so a
            # satisfying value's string can't fall just outside the lex
            # range (doubles need no margin: distinct shortest reprs are
            # order-preserving at full precision)
            if not math.isinf(lo):
                lo -= abs(lo) * 1e-6
            if not math.isinf(hi):
                hi += abs(hi) * 1e-6
        if math.isinf(lo) or math.isinf(hi):
            sql = _sf_float_onesided(col, lo, hi)
        else:
            sql = _sf_float_range(col, lo, hi)
        if sql is not None:
            out.append(sql)
    return out


def _sf_leaf(p: Pred, coltypes: dict[str, str]) -> tuple[str, bool] | None:
    """Convert one leaf to (sql-over-string-columns, exact).  None = not
    convertible.  `exact` means the string predicate selects EXACTLY the
    typed predicate's rows; non-exact results are sound SUPERSETS."""
    from_str = lambda v: "'" + str(v).replace("'", "''") + "'"
    if isinstance(p, (IsNull, IsNotNull)):
        t = coltypes.get(p.col)
        if t is None:
            return None
        # we wrote every stored string from a typed value, so the
        # cast-back never fails: nullness is preserved 1:1
        return (f"({p.col} IS {'NOT ' if isinstance(p, IsNotNull) else ''}NULL)", True)
    if isinstance(p, InList):
        parts = [_sf_leaf(Comparison("=", p.col, v), coltypes) for v in p.values]
        if any(x is None for x in parts):
            return None
        return ("(" + " OR ".join(s for s, _ in parts) + ")", all(e for _, e in parts))
    if not isinstance(p, Comparison):
        return None
    t, v = coltypes.get(p.col), p.value
    if t is None or v is None:
        return None
    if t == "string" and isinstance(v, str):
        return (f"({p.col} {p.op} {from_str(v)})", True)
    if t in _SF_INTS and isinstance(v, int) and not isinstance(v, bool):
        if p.op in ("=", "!="):
            # canonical decimal form is unique per value → exact
            return (f"({p.col} {p.op} {from_str(v)})", True)
        tmin, tmax = _SF_INT_BOUNDS[t]
        lo, hi = {
            ">": (v + 1, tmax),
            ">=": (v, tmax),
            "<": (tmin, v - 1),
            "<=": (tmin, v),
        }[p.op]
        # tight per-digit-count range union — sound superset, see
        # _sf_int_range for why exact is unreachable in parquet's filter
        # language (hence NOT-of-range stays unconvertible)
        sql = _sf_int_range(p.col, max(lo, tmin), min(hi, tmax))
        return (sql, False) if sql is not None else None
    if t == "boolean" and isinstance(v, bool) and p.op in ("=", "!="):
        return (f"({p.col} {p.op} '{str(v).lower()}')", True)
    if t == "date" and isinstance(v, str) and _SF_DATE_RE.match(v):
        # canonical 'YYYY-MM-DD' is lexicographically monotone
        return (f"({p.col} {p.op} {from_str(v)})", True)
    return None


def string_pushdown(p: Pred, coltypes: dict[str, str]) -> str | None:
    """Rewrite a typed predicate into a predicate over the stringformat
    physical layout (every column stored as its plain decimal/UTF-8
    string) that can reach the parquet scan as a pushed filter.

    The reference keeps pushdown on stringformat tables via custom typed
    byte comparators evaluated server-side (util/comparators.scala:47-243,
    chosen at util/DataTypeUtils.scala:154-181); the Spark-native
    equivalent is a *string-space* predicate on the raw stored columns,
    applied BEFORE the schema-on-read cast so Catalyst pushes it to
    parquet (min/max page + row-group skipping, dictionary filtering).

    Soundness: the caller always re-applies the full typed predicate
    after the cast, so any SUPERSET is safe.  AND may drop unconvertible
    conjuncts (widens); OR requires every branch (union of supersets is a
    superset); NOT requires an EXACT child (negating a superset would
    narrow).  Returns SQL text or None when nothing useful converts.
    """

    def conv(q: Pred) -> tuple[str, bool] | None:
        if isinstance(q, And):
            parts = [conv(c) for c in q.children]
            kept = [x for x in parts if x is not None]
            # r8 (verdict #5): float/double BETWEEN-style conjunct pairs
            # convert jointly (each leaf is unconvertible alone); the
            # added ranges are supersets, so `exact` stays governed by
            # the dropped leaves
            kept.extend((s, False) for s in _sf_float_conjuncts(q.children, coltypes))
            if not kept:
                return None
            exact = all(x is not None for x in parts) and all(e for _, e in kept)
            return ("(" + " AND ".join(s for s, _ in kept) + ")", exact)
        if isinstance(q, Or):
            # r9: a lone float comparison inside an OR converts via the
            # one-sided/equality interval path (superset — fine for OR:
            # union of supersets is a superset); NOT still requires
            # exact, so these never leak under a negation
            parts = [_conv_leaf_or_float(c) for c in q.children]
            if any(x is None for x in parts):
                return None
            return ("(" + " OR ".join(s for s, _ in parts) + ")", all(e for _, e in parts))
        if isinstance(q, Not):
            child = conv(q.child)
            if child is None or not child[1]:
                return None
            return (f"(NOT {child[0]})", True)
        if isinstance(q, Opaque):
            return None
        return _sf_leaf(q, coltypes)

    def _conv_leaf_or_float(c: Pred) -> tuple[str, bool] | None:
        r = conv(c)
        if r is None and isinstance(c, Comparison):
            fls = _sf_float_conjuncts([c], coltypes)
            if fls:
                return (fls[0], False)
        return r

    out = _conv_leaf_or_float(p)
    return out[0] if out else None


def to_column(p: Pred, col_of):
    """Compile a parsed predicate into a PySpark ``Column``; ``col_of``
    maps a column name to the Column to evaluate against (the hook that
    lets stringformat callers substitute a cast).  Returns None when the
    tree contains an Opaque leaf (caller falls back).  Used by the
    key-only per-fragment DELETE path, which must evaluate the predicate
    over RAW fragment rows without the view-level schema-on-read."""
    from pyspark.sql import functions as F

    if isinstance(p, Comparison):
        c, v = col_of(p.col), F.lit(p.value)
        return {
            "=": c == v,
            "!=": c != v,
            "<": c < v,
            "<=": c <= v,
            ">": c > v,
            ">=": c >= v,
        }[p.op]
    if isinstance(p, InList):
        return col_of(p.col).isin(*p.values)
    if isinstance(p, IsNull):
        return col_of(p.col).isNull()
    if isinstance(p, IsNotNull):
        return col_of(p.col).isNotNull()
    if isinstance(p, (And, Or)):
        parts = [to_column(c, col_of) for c in p.children]
        if any(x is None for x in parts):
            return None
        out = parts[0]
        for x in parts[1:]:
            out = (out & x) if isinstance(p, And) else (out | x)
        return out
    if isinstance(p, Not):
        child = to_column(p.child, col_of)
        return None if child is None else ~child
    return None  # Opaque


_ISO_TS_RE = re.compile(
    r"(\d{4})-(\d{2})-(\d{2})(?:[ T](\d{2}):(\d{2}):(\d{2})(?:\.(\d{1,6}))?)?"
)


def temporal_value(v, dtype: str | None, tz: str | None):
    """The value Spark casts the string ``v`` to when it is compared with
    a DATE (a ``date``) or TIMESTAMP column (an aware ``datetime`` in the
    session time zone ``tz``), or None when that cast is not reproduced
    exactly here: only strict ISO strings from 1900 on (older values may
    be calendar-rebased in storage), no time part for a DATE, and no
    TIMESTAMP without ``tz``."""
    import datetime
    import zoneinfo

    if dtype not in ("date", "timestamp") or (dtype == "timestamp" and tz is None):
        return None
    m = isinstance(v, str) and _ISO_TS_RE.fullmatch(v)
    if not m or (dtype == "date" and m.group(4)):
        return None
    try:
        zone = zoneinfo.ZoneInfo(tz) if dtype == "timestamp" else None
        d = datetime.datetime(
            *(int(g or 0) for g in m.groups()[:6]),
            int((m.group(7) or "0").ljust(6, "0")),
            tzinfo=zone,
        )
    except (ValueError, zoneinfo.ZoneInfoNotFoundError):
        return None  # an invalid date or time zone
    if d.year < 1900:
        return None
    return d.date() if dtype == "date" else d


def _arrow_operand(col: str, dtype: str | None, values: list, tz: str | None):
    """(column expression, literal array) comparing ``col`` with
    ``values`` the way Spark's type coercion does, or None when a value's
    coercion is not reproduced exactly here.  Numbers compare as Spark
    widens them (a FLOAT column with a DOUBLE; an integral column only
    with integers); a DATE/TIMESTAMP column with a strict ISO string cast
    in the session time zone ``tz`` (:func:`temporal_value`)."""
    import datetime

    import pyarrow as pa
    import pyarrow.compute as pc

    f = pc.field(col)
    nums = [v for v in values if isinstance(v, (int, float)) and not isinstance(v, bool)]
    if dtype in ("byte", "short", "int", "long"):
        if len(nums) == len(values) and all(
            isinstance(v, int) and -(2**63) <= v < 2**63 for v in nums
        ):
            return f, pa.array(values, pa.int64())
        return None
    if dtype in ("float", "double"):
        # non-ANSI Spark compares a FLOAT column with an INT literal in
        # FLOAT, ANSI in DOUBLE: the same rows while the int is exact in both
        if len(nums) != len(values) or any(
            isinstance(v, int) and abs(v) > (2**24 if dtype == "float" else 2**53)
            for v in nums
        ):
            return None
        xs = [float(v) for v in nums]
        if not all(math.isfinite(x) for x in xs):
            return None
        return f.cast(pa.float64()), pa.array(xs, pa.float64())
    if dtype == "decimal":
        if not all(isinstance(v, (int, Decimal)) and not isinstance(v, bool) for v in values):
            return None
        decs = [Decimal(v) for v in values]
        if not all(d.is_finite() for d in decs):
            return None
        scale = max([2] + [-d.as_tuple().exponent for d in decs])
        if scale > 20:  # decimal(38, scale) must hold the stored decimal(20,2)
            return None
        t = pa.decimal128(38, scale)
        try:
            return f.cast(t), pa.array(decs, t)
        except (pa.ArrowInvalid, OverflowError):
            return None
    if dtype == "boolean":
        if all(isinstance(v, bool) for v in values):
            return f, pa.array(values, pa.bool_())
        return None
    if dtype == "string":
        if all(isinstance(v, str) for v in values):
            return f, pa.array(values, pa.string())
        return None
    if dtype in ("date", "timestamp"):
        dts = [temporal_value(v, dtype, tz) for v in values]
        if any(d is None for d in dts):
            return None
        if dtype == "date":
            return f, pa.array(dts, pa.date32())
        epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        us = [(d - epoch) // datetime.timedelta(microseconds=1) for d in dts]
        return f, pa.array(us, pa.timestamp("us", tz="UTC"))
    return None


def to_arrow(p: Pred, coltypes: dict[str, str], tz: str | None = None):
    """Compile a parsed predicate into a pyarrow compute ``Expression``
    that keeps every row Spark's ``filter`` keeps — the sibling of
    :func:`to_column` for a read done on the driver with pyarrow.
    ``coltypes`` maps a column to its normalized type, ``tz`` is the
    Spark session time zone (TIMESTAMP literals are dropped without it).

    Spark's semantics are kept where arrow's differ: NaN equals NaN and
    sorts above every number, and -0.0 equals 0.0.  Only =, !=, <, <=,
    >, >= comparisons, IN lists and their ANDs are translated.  An AND
    conjunct that cannot be expressed exactly is dropped, which only
    widens the result; None means no filter.  So the result is exact or
    a superset, and a caller must re-apply the full predicate when it
    needs exact rows."""
    import functools
    import operator

    import pyarrow.compute as pc

    if isinstance(p, And):
        parts = [x for x in (to_arrow(c, coltypes, tz) for c in p.children) if x is not None]
        return functools.reduce(operator.and_, parts) if parts else None
    if isinstance(p, (Comparison, InList)):
        values = [p.value] if isinstance(p, Comparison) else [v for v in p.values if v is not None]
        dtype = coltypes.get(p.col)
        if not values or values[0] is None:
            return None  # `x = NULL` keeps no row: dropping it only widens
        operand = _arrow_operand(p.col, dtype, values, tz)
        if operand is None:
            return None
        f, arr = operand
        floats = dtype in ("float", "double")
        if isinstance(p, InList):
            if floats and any(x == 0 for x in values):
                arr = arr.to_pylist() + [0.0, -0.0]  # is_in hashes -0.0 apart from 0.0
            return f.isin(arr)
        op = {
            "=": operator.eq, "!=": operator.ne, "<": operator.lt,
            "<=": operator.le, ">": operator.gt, ">=": operator.ge,
        }[p.op]
        out = op(f, arr[0])
        if floats and p.op in (">", ">="):
            out = out | pc.is_nan(f)  # NaN sorts above every number
        return out
    return None


# ---------------------------------------------------------------------------
# rendering (Pred → SQL text) — for per-partition residual simplification
# ---------------------------------------------------------------------------
def _lit_sql(v) -> str:
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, Decimal):
        return str(v)  # Spark reads 1.23 as a DECIMAL literal
    if isinstance(v, float) and not math.isfinite(v):
        # repr gives nan / inf, which Spark parses as column names
        name = "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
        return f"CAST('{name}' AS DOUBLE)"
    return repr(v)


def render(p: Pred) -> str:
    """SQL text for a parsed predicate (the subset the parser accepts
    round-trips).  Used when the key-pushed part is definitely TRUE over
    every surviving file so only the residual needs evaluating — the
    reference's per-partition predicate reduction
    (HBasePartition.scala:50-79, HBaseCriticalPoint.scala:648-694)."""
    if isinstance(p, Comparison):
        return f"({p.col} {p.op} {_lit_sql(p.value)})"
    if isinstance(p, InList):
        return f"({p.col} IN ({', '.join(_lit_sql(v) for v in p.values)}))"
    if isinstance(p, IsNull):
        return f"({p.col} IS NULL)"
    if isinstance(p, IsNotNull):
        return f"({p.col} IS NOT NULL)"
    if isinstance(p, And):
        return "(" + " AND ".join(render(c) for c in p.children) + ")"
    if isinstance(p, Or):
        return "(" + " OR ".join(render(c) for c in p.children) + ")"
    if isinstance(p, Not):
        return f"(NOT {render(p.child)})"
    if isinstance(p, Opaque):
        return f"({p.text})"
    raise TypeError(type(p))
