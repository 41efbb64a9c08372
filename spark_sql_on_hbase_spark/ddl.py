"""Astro DDL/DML grammar — the reference's SQL extensions re-parsed in
Python and compiled to commands the session executes eagerly.

Parity target: ``HBaseSQLParser`` (HBaseSQLParser.scala:62-232).
Covered statements (reference citation per command class):

  CREATE TABLE [IF NOT EXISTS] [ns.]t (c TYPE, ..., PRIMARY KEY(a,b))
      MAPPED BY (physTable [, COLS=[c=cf.q, ...]]) [IN format]
      [OPTIONS (regions=N[, align=K])]             :67-109 (align= is ours)
  DROP TABLE t                                     :180-188
  SHOW TABLES                                      :190-196
  DESCRIBE t                                       :198-209
  ALTER TABLE t ADD c TYPE MAPPED BY (cf.q)        :224-232
  ALTER TABLE t DROP c
  LOAD [PARALL] DATA [LOCAL] INPATH 'p' [OVERWRITE] INTO TABLE t
      [FIELDS TERMINATED BY 'x']                   :211-222
  INSERT INTO [TABLE] t VALUES (...)[, (...)]*     :67-75 (multi-row is ours)
  INSERT INTO [TABLE] t SELECT ...                 (InsertableRelation path)
  INSERT OVERWRITE [TABLE] t VALUES (...)|SELECT … (ours — atomic replace;
      the reference appends only, HBaseRelation.scala:660-663)
  MERGE INTO t [AS a] USING (src|(SELECT …)) [AS b] ON cond
      [WHEN MATCHED [AND cond] THEN UPDATE SET c=e, … | DELETE]
      [WHEN NOT MATCHED [AND cond] THEN INSERT * | (cols) VALUES (exprs)]
      (ours; r7 adds the ANSI per-clause search conditions)
  UPDATE t SET c=e, … [WHERE cond]                 (ours — upsert append)
  DELETE FROM t [WHERE cond]                       (ours — atomic rewrite)

Everything else falls through to Spark SQL, exactly as the reference
falls through to the stock Spark 1.4 parser (HBaseSQLParser.scala:39).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from decimal import Decimal, InvalidOperation


@dataclass
class CreateTable:
    table: str
    namespace: str
    columns: list[tuple[str, str]]  # declaration order
    key_columns: list[str]
    physical_table: str
    mappings: dict[str, tuple[str, str]]  # nonkey col → (family, qualifier)
    encoding: str
    num_regions: int = 8
    if_not_exists: bool = False
    # regions aligned so no group of the first K key columns spans two
    # regions — enables zero-Exchange one-phase aggregation (our
    # extension; the reference relies on manual HBase pre-splitting)
    align_prefix: int = 0
    # OPTIONS(layout=zorder): bulk writes cluster on the bit-interleaved
    # key so every key dimension prunes at file level (our extension)
    zorder: bool = False
    # OPTIONS(retain_history=true): resolved UPDATE/MERGE/DELETE rewrites
    # RETIRE replaced fragments instead of deleting them — every
    # pre-rewrite VERSION/TIMESTAMP AS OF snapshot stays readable until
    # COMPACT/OVERWRITE reclaims (r10; the HBase cell-version model)
    retain_history: bool = False
    # OPTIONS(bloomfilter=row): per-fragment ROW bloom sidecars so
    # full-key point/IN lookups skip range-surviving fragments that
    # definitely lack the key (HBase's BLOOMFILTER=ROW attribute —
    # the LSM Get path; see bloom.py)
    bloomfilter: str = "none"
    # OPTIONS(autocompact=K): after an append commit, fold the LSM state
    # back to num_regions clean files whenever live fragments exceed
    # K x num_regions (r13 — bounded write amplification under trickle
    # ingest without manual COMPACT; index tables already did this at
    # 4x).  0 = off (the default: auto-compaction FOLDS history, so a
    # table relying on TIMESTAMP AS OF between appends must opt in
    # knowingly or use retain_history).
    autocompact: int = 0


@dataclass
class DropTable:
    table: str
    namespace: str = "default"


@dataclass
class ShowTables:
    pass


@dataclass
class DescribeTable:
    table: str
    namespace: str = "default"
    extended: bool = False


@dataclass
class DescribeHistory:
    """r11: the table's generation log (Delta DESCRIBE HISTORY analog) —
    one row per stamped generation: commit time, recording operation,
    live/retired file counts, snapshot status."""

    table: str
    namespace: str = "default"


@dataclass
class AlterAddCol:
    table: str
    col: str
    dtype: str
    family: str
    qualifier: str
    namespace: str = "default"


@dataclass
class AlterDropCol:
    table: str
    col: str
    namespace: str = "default"


@dataclass
class BulkLoad:
    table: str
    path: str
    parall: bool = False
    local: bool = False
    overwrite: bool = False
    delimiter: str = ","
    namespace: str = "default"


@dataclass
class InsertValues:
    table: str
    values: list[list]
    namespace: str = "default"
    # INSERT OVERWRITE: atomically replace the table contents
    # (beyond-reference — HBaseRelation.scala:660-663 appends only)
    overwrite: bool = False


@dataclass
class InsertSelect:
    table: str
    select_sql: str
    namespace: str = "default"
    overwrite: bool = False


@dataclass
class UpdateTable:
    """UPDATE t SET col = expr[, …] [WHERE cond] — sugar over the MERGE
    machinery: matched rows re-land as full rows through the upsert
    append (no rewrite)."""

    table: str
    update_set: dict[str, str]
    where: str | None = None
    namespace: str = "default"
    # the original statement text: non-astro tables fall through to
    # Spark SQL VERBATIM (a reconstruction would drop the namespace
    # qualifier and re-normalize SET targets — r6 review)
    raw: str = ""


@dataclass
class DeleteFrom:
    """DELETE FROM t [AS a] [WHERE cond] — survivors rewritten atomically
    (the LSM layout has no tombstones; same path as MERGE's
    matched-DELETE)."""

    table: str
    where: str | None = None
    alias: str | None = None
    namespace: str = "default"
    raw: str = ""


@dataclass
class MergeInto:
    """MERGE INTO target USING source ON cond WHEN [NOT] MATCHED …
    (beyond-reference write op; SURVEY §2.2 left the decision to us —
    the LSM upsert layout makes UPDATE/INSERT a plain append and DELETE
    an atomic rewrite).  ``source_from`` is a ready FROM-clause fragment
    (``(SELECT …) alias`` or ``table alias``)."""

    table: str
    target_alias: str
    source_from: str
    source_alias: str
    on: str
    update_set: dict[str, str] | None  # col → expr; None = no UPDATE clause
    insert_cols: list[str] | None  # None with insert_star → INSERT *
    insert_exprs: list[str] | None
    insert_star: bool = False
    has_insert: bool = False
    delete_matched: bool = False
    # r7: optional per-clause conditions (`WHEN [NOT] MATCHED AND cond
    # THEN …`, ANSI <merge when clause> search conditions); None = the
    # clause applies to every (non-)matched row
    update_cond: str | None = None
    delete_cond: str | None = None
    insert_cond: str | None = None
    namespace: str = "default"
    # the original statement text: non-astro tables fall through to
    # Spark SQL verbatim, matching UPDATE/DELETE (r6 advice — DSv2
    # sources may support MERGE natively)
    raw: str = ""


@dataclass
class CreateIndex:
    """CREATE INDEX [IF NOT EXISTS] ON t (col) [INCLUDE (c1, ...)] — a
    Phoenix-global-index analog (ours; the reference full-scans non-key
    predicates): a derived astro table keyed (col, *main_key_cols),
    bulk-built from the current table and maintained superset-style on
    every write, so non-key =/IN scans become an index range scan +
    verified point gets.  INCLUDE (r13, Phoenix covered columns) stores
    the listed non-key columns in the index table too, enabling
    index-only scans for queries projecting ⊆ (col ∪ keys ∪ include).
    binaryformat tables, non-key codec-typed columns only."""

    table: str
    col: str
    namespace: str = "default"
    if_not_exists: bool = False
    include: tuple = ()
    # r15 composite (VERDICT r14 #8): the FULL indexed column list —
    # (col,) for single-column indexes; ``col`` stays the leading
    # column (the registration key)
    cols: tuple = ()


@dataclass
class DropIndex:
    table: str
    col: str
    namespace: str = "default"


@dataclass
class CreateVectorIndex:
    """CREATE VECTOR INDEX [IF NOT EXISTS] ON t (col) USING {IVF|PQ|
    IVFPQ} [OPTIONS(k=v, ...)] — r15 (VERDICT r14 #2): promotes the
    path-addressed ANN index builders (ivf_build_index /
    pq_build_index) to catalog-registered table indexes with the same
    lifecycle treatment as the scalar index surface — TableMeta
    registration, append-triggered incremental maintenance with drift
    guards, staleness + drift in DESCRIBE EXTENDED, DROP/REINDEX
    cascade.  Reference analog: the DDL-managed index surface itself
    (HBaseSQLParser.scala:180-232), extended to the vector ops."""

    table: str
    col: str
    kind: str  # "ivf" | "pq" | "ivfpq"
    namespace: str = "default"
    if_not_exists: bool = False
    options: dict = None  # type: ignore[assignment]


@dataclass
class DropVectorIndex:
    table: str
    col: str
    namespace: str = "default"


@dataclass
class ExplainScan:
    """EXPLAIN SCAN t [COLUMNS (c1, ...)] WHERE cond — the engine-side
    scan plan: files pruned by CPR ranges / bloom sidecars / secondary
    indexes, the pushed-vs-residual predicate split, and which
    accelerators engaged (with counts and decline reasons, r13).  With a
    COLUMNS projection the report additionally covers the
    covering-index decision (index-only scan vs why not).
    (Plain Spark ``EXPLAIN SELECT …`` still falls through to Spark SQL —
    this statement reports the decisions made ABOVE Catalyst.)"""

    table: str
    where: str
    namespace: str = "default"
    columns: tuple = ()


@dataclass
class ReindexTable:
    """REINDEX TABLE t — rebuild every secondary index from the current
    fragments.  Superset maintenance never loses entries, but
    history-folding writes (INSERT OVERWRITE, purge DELETEs) leave
    indexes stale-heavy; a rebuild restores minimality."""

    table: str
    namespace: str = "default"


@dataclass
class CompactTable:
    """Engine extension (no reference analog — HBase compaction is a
    server-side background process): rewrite all LSM fragments into
    clean sorted regions, restoring the shuffle-free scan path."""

    table: str
    namespace: str = "default"


@dataclass
class VacuumTable:
    """r10: reclaim MVCC-retained fragments WITHOUT rewriting live data
    (the cheap reclaim point next to COMPACT — the HBase analog is a
    major compaction discarding old cell versions, doc §23): delete
    retired fragments, raise the history floor past the snapshots they
    served, leave every live fragment byte-identical.

    r12 (VERDICT r11 #3 — the Delta ``VACUUM … RETAIN n HOURS`` analog):
    ``RETAIN n GENERATIONS`` reclaims only fragments retired at/below
    ``committed - n`` (the newest n retirement epochs keep their
    snapshots readable); ``RETAIN n HOURS`` keeps every fragment whose
    retiring generation committed within the last n hours — the grace
    window a change-feed consumer mid-catch-up needs.  ``DRY RUN``
    lists the reclaimable fragments without deleting anything."""

    table: str
    namespace: str = "default"
    retain_generations: int | None = None
    retain_hours: float | None = None
    dry_run: bool = False


@dataclass
class RestoreTable:
    """r11: roll a table back to a past snapshot (Delta RESTORE analog,
    natural over the engine's retained history): the snapshot's contents
    land as a NEW commit.  On retain_history tables the restore itself
    is versioned — every pre-restore snapshot (including the state being
    rolled back) stays readable; without retention the table is simply
    rebuilt with the snapshot (history folds).  ``version`` is a
    generation number or None with ``timestamp`` set (epoch/ISO, UTC)."""

    table: str
    namespace: str = "default"
    version: int | None = None
    timestamp: str | None = None


@dataclass
class PassThrough:
    sql: str


Command = object


def _split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on sep, respecting parens/brackets/quotes."""
    parts, depth, buf, quote = [], 0, [], None
    for ch in s:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in "'\"":
            quote = ch
            buf.append(ch)
        elif ch in "([":
            depth += 1
            buf.append(ch)
        elif ch in ")]":
            depth -= 1
            buf.append(ch)
        elif ch == sep and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    if buf:
        parts.append("".join(buf).strip())
    return [p for p in parts if p]


def _parse_table_name(name: str) -> tuple[str, str]:
    name = name.strip().strip("`")
    if "." in name:
        ns, t = name.split(".", 1)
        return ns, t
    return "default", name


_CREATE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<name>[\w.`]+)\s*"
    r"\((?P<cols>.*)\)\s*"
    r"MAPPED\s+BY\s*\((?P<mapped>.*?)\)\s*"
    r"(?:IN\s+(?P<fmt>\w+)\s*)?"
    r"(?:OPTIONS\s*\((?P<opts>.*?)\)\s*)?;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_LOAD_RE = re.compile(
    r"^\s*LOAD\s+(?:(?P<parall>PARALL)\s+)?DATA\s+(?P<local>LOCAL\s+)?INPATH\s+"
    r"'(?P<path>[^']+)'\s+(?P<over>OVERWRITE\s+)?INTO\s+TABLE\s+(?P<name>[\w.`]+)"
    r"(?:\s+FIELDS\s+TERMINATED\s+BY\s+'(?P<delim>[^']+)')?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_INSERT_VALUES_RE = re.compile(
    # one or more parenthesized row tuples: VALUES (…) [, (…)]* —
    # multi-row is standard SQL; the reference grammar
    # (HBaseSQLParser.scala:67-75) is single-row, ours is a superset
    r"^\s*INSERT\s+(?P<over>INTO|OVERWRITE)\s+(?:TABLE\s+)?(?P<name>[\w.`]+)\s+VALUES\s*(?P<vals>\(.*\))\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_INSERT_SELECT_RE = re.compile(
    r"^\s*INSERT\s+(?P<over>INTO|OVERWRITE)\s+(?:TABLE\s+)?(?P<name>[\w.`]+)\s+(?P<select>SELECT\s+.*)$",
    re.IGNORECASE | re.DOTALL,
)

_MERGE_RE = re.compile(
    # src: GREEDY paren match — a non-greedy `\(.*?\)` truncates a
    # subquery at its first inner `)` (WHERE f(x)=1, inner JOIN … ON);
    # greedy + backtracking anchors on the mandatory ` ON ` tail.  The
    # ON-condition / WHEN-clause boundary is NOT split here: a lazy
    # `(?P<on>.+?)\s+WHEN` truncates `ON k = CASE WHEN …` at the CASE's
    # WHEN — _parse_merge splits on the first top-level `WHEN [NOT]
    # MATCHED` instead (quote/paren-aware).
    r"^\s*MERGE\s+INTO\s+(?P<name>[\w.`]+)(?:\s+(?:AS\s+)?(?P<talias>\w+))?\s+"
    r"USING\s+(?P<src>\(.*\)|[\w.`]+)(?:\s+(?:AS\s+)?(?P<salias>\w+))?\s+"
    r"ON\s+(?P<tail>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_WHEN_MATCHED_RE = re.compile(r"WHEN\s+(NOT\s+)?MATCHED\b", re.IGNORECASE)
_THEN_ACTION_RE = re.compile(
    r"THEN\s+(?=UPDATE\s+SET\b|DELETE\b|INSERT\b)", re.IGNORECASE
)


def _find_top_level(s: str, pattern: re.Pattern, start: int = 0) -> int:
    """Index of the first ``pattern`` match at paren depth 0 outside
    quoted regions, or -1.  The boundary finder for statement parts that
    lazy regexes get wrong (WHERE inside a literal/subquery, CASE WHEN
    inside a MERGE ON condition).  Quote-aware for '…', "…", AND
    backtick identifiers (a column named `where` is not a clause
    boundary), with backslash escapes honored inside string quotes
    (Spark literals support \\' by default)."""
    depth, quote = 0, None
    i = start
    while i < len(s):
        ch = s[i]
        if quote:
            if ch == "\\" and quote != "`":
                i += 2
                continue
            if ch == quote:
                quote = None
        elif ch in "'\"`":
            quote = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif (
            depth == 0
            and (i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_"))
            and pattern.match(s, i)
        ):
            return i
        i += 1
    return -1


def _norm_set_target(col: str, owners: tuple[str, ...]) -> str:
    """Normalize an UPDATE/MERGE SET target: strip backticks per path
    segment, and drop a single leading qualifier ONLY when it names the
    statement's own table/alias — `addr.city` (a struct path or a wrong
    qualifier) must NOT silently collapse to `city` (r6 review)."""
    segs = [p.strip().strip("`") for p in col.strip().split(".")]
    if len(segs) == 2 and segs[0].lower() in {o.lower() for o in owners}:
        return segs[1]
    return ".".join(segs)


_TOP_WHERE_RE = re.compile(r"WHERE\b", re.IGNORECASE)


def _split_top_level_where(s: str) -> tuple[str, str | None]:
    """Split ``s`` at the first top-level WHERE keyword (outside quotes
    and parens) → (head, where).  ``where`` is None when no WHERE is
    present and the EMPTY STRING when a WHERE keyword dangles with no
    predicate — callers must treat the latter as a parse error, not as
    "no filter" (a malformed `UPDATE t SET a=1 WHERE` must not silently
    update every row — r6 advice)."""
    i = _find_top_level(s, _TOP_WHERE_RE)
    if i < 0:
        return s.strip(), None
    return s[:i].strip(), s[i + len("WHERE"):].strip()

_ALTER_ADD_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>[\w.`]+)\s+ADD\s+(?P<col>\w+)\s+(?P<dtype>\w+(?:\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)\s+"
    r"MAPPED\s+BY\s*\(\s*(?P<fam>\w+)\.(?P<qual>\w+)\s*\)\s*;?\s*$",
    re.IGNORECASE,
)

_ALTER_DROP_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>[\w.`]+)\s+DROP\s+(?P<col>\w+)\s*;?\s*$", re.IGNORECASE
)


def _parse_literal(tok: str):
    """One VALUES literal.  A non-integer number is kept as its exact
    ``Decimal`` text; the insert coerces it by the column's type
    (``AstroSession._coerce``), so a DECIMAL column gets ``1.23``, not
    the float nearest to it."""
    tok = tok.strip()
    if tok.upper() == "NULL":
        return None
    if tok.upper() in ("TRUE", "FALSE"):
        return tok.upper() == "TRUE"
    if (tok.startswith("'") and tok.endswith("'")) or (tok.startswith('"') and tok.endswith('"')):
        return tok[1:-1]
    try:
        return int(tok)
    except ValueError:
        pass
    try:
        return Decimal(tok)
    except InvalidOperation:
        pass
    raise ValueError(f"cannot parse literal {tok!r}")


def parse(sql: str) -> Command:
    s = sql.strip()
    up = s.upper()

    if up.startswith("CREATE TABLE") and "MAPPED BY" in up:
        m = _CREATE_RE.match(s)
        if not m:
            raise ValueError(f"malformed CREATE TABLE ... MAPPED BY: {sql!r}")
        ns, table = _parse_table_name(m.group("name"))
        col_defs: list[tuple[str, str]] = []
        key_cols: list[str] = []
        for part in _split_top_level(m.group("cols")):
            pk = re.match(r"^PRIMARY\s+KEY\s*\((.*)\)$", part, re.IGNORECASE | re.DOTALL)
            if pk:
                key_cols = [c.strip().strip("`") for c in pk.group(1).split(",")]
                continue
            toks = part.split(None, 1)
            if len(toks) != 2:
                raise ValueError(f"bad column def {part!r}")
            col_defs.append((toks[0].strip("`"), toks[1].strip()))
        if not key_cols:
            raise ValueError("PRIMARY KEY clause required")

        mapped_parts = _split_top_level(m.group("mapped"))
        if not mapped_parts:
            raise ValueError("MAPPED BY requires a physical table name")
        physical = mapped_parts[0].strip()
        mappings: dict[str, tuple[str, str]] = {}
        for part in mapped_parts[1:]:
            cm = re.match(r"^COLS\s*=\s*\[(.*)\]$", part, re.IGNORECASE | re.DOTALL)
            if not cm:
                raise ValueError(f"bad MAPPED BY clause {part!r}")
            for pair in _split_top_level(cm.group(1)):
                col, fq = pair.split("=", 1)
                fam, qual = fq.strip().split(".", 1)
                mappings[col.strip()] = (fam.strip(), qual.strip())

        # validation exactly as HBaseSQLParser.scala:99-109: keys ∪ mapped
        # = all, disjoint
        declared = {c for c, _ in col_defs}
        keyset, mapset = set(key_cols), set(mappings)
        if not keyset <= declared:
            raise ValueError(f"key columns {keyset - declared} not declared")
        if keyset & mapset:
            raise ValueError(f"columns both key and mapped: {keyset & mapset}")
        missing = declared - keyset - mapset
        # unmapped non-key columns default to family 'cf', qualifier = name
        for c in sorted(missing):
            mappings[c] = ("cf", c)

        fmt = (m.group("fmt") or "binaryformat").lower()
        if fmt not in ("binaryformat", "stringformat"):
            raise ValueError(f"unknown format {fmt!r} (binaryformat|stringformat)")
        num_regions = 8
        align_prefix = 0
        zorder = False
        retain_history = False
        bloomfilter = "none"
        autocompact = 0
        if m.group("opts"):
            for opt in _split_top_level(m.group("opts")):
                k, v = opt.split("=", 1)
                key = k.strip().strip("'\"").lower()
                if key in ("regions", "num_regions"):
                    num_regions = int(v.strip().strip("'\""))
                elif key in ("align", "align_prefix"):
                    align_prefix = int(v.strip().strip("'\""))
                elif key == "layout":
                    val = v.strip().strip("'\"").lower()
                    if val not in ("zorder", "range"):
                        raise ValueError(f"unknown layout {val!r} (zorder|range)")
                    zorder = val == "zorder"
                elif key == "retain_history":
                    val = v.strip().strip("'\"").lower()
                    if val not in ("true", "false"):
                        raise ValueError(
                            f"retain_history must be true|false, got {val!r}"
                        )
                    retain_history = val == "true"
                elif key == "bloomfilter":
                    val = v.strip().strip("'\"").lower()
                    if val not in ("row", "none"):
                        raise ValueError(
                            f"bloomfilter must be row|none, got {val!r}"
                        )
                    bloomfilter = val
                elif key == "autocompact":
                    autocompact = int(v.strip().strip("'\""))
                    if autocompact < 0:
                        raise ValueError("autocompact must be >= 0 (0 = off)")
        return CreateTable(
            table=table,
            namespace=ns,
            columns=col_defs,
            key_columns=key_cols,
            physical_table=physical,
            mappings=mappings,
            encoding=fmt,
            num_regions=num_regions,
            if_not_exists=bool(m.group("ine")),
            align_prefix=align_prefix,
            zorder=zorder,
            retain_history=retain_history,
            bloomfilter=bloomfilter,
            autocompact=autocompact,
        )

    if up.startswith("DROP TABLE"):
        name = re.match(r"^\s*DROP\s+TABLE\s+([\w.`]+)\s*;?\s*$", s, re.IGNORECASE).group(1)
        ns, t = _parse_table_name(name)
        return DropTable(table=t, namespace=ns)

    if re.match(r"^\s*SHOW\s+TABLES\s*;?\s*$", s, re.IGNORECASE):
        return ShowTables()

    hm = re.match(
        r"^\s*DESC(?:RIBE)?\s+HISTORY\s+([\w.`]+)\s*;?\s*$", s, re.IGNORECASE
    )
    if hm:
        ns, t = _parse_table_name(hm.group(1))
        return DescribeHistory(table=t, namespace=ns)

    dm = re.match(
        r"^\s*DESC(?:RIBE)?\s+(?:(?P<ext>EXTENDED|FORMATTED)\s+)?([\w.`]+)\s*;?\s*$",
        s,
        re.IGNORECASE,
    )
    if dm:
        ns, t = _parse_table_name(dm.group(2))
        return DescribeTable(table=t, namespace=ns, extended=bool(dm.group("ext")))

    if up.startswith("ALTER TABLE"):
        am = _ALTER_ADD_RE.match(s)
        if am:
            ns, t = _parse_table_name(am.group("name"))
            return AlterAddCol(
                table=t, namespace=ns, col=am.group("col"), dtype=am.group("dtype"),
                family=am.group("fam"), qualifier=am.group("qual"),
            )
        am = _ALTER_DROP_RE.match(s)
        if am:
            ns, t = _parse_table_name(am.group("name"))
            return AlterDropCol(table=t, namespace=ns, col=am.group("col"))
        raise ValueError(f"malformed ALTER TABLE: {sql!r}")

    if up.startswith("LOAD "):
        m = _LOAD_RE.match(s)
        if not m:
            raise ValueError(f"malformed LOAD: {sql!r}")
        ns, t = _parse_table_name(m.group("name"))
        return BulkLoad(
            table=t,
            namespace=ns,
            path=m.group("path"),
            parall=m.group("parall") is not None,
            local=bool(m.group("local")),
            overwrite=bool(m.group("over")),
            delimiter=m.group("delim") or ",",
        )

    vm = re.match(
        r"^\s*VACUUM\s+TABLE\s+([\w.`]+)"
        r"(?:\s+RETAIN\s+(\d+(?:\.\d+)?)\s+(GENERATIONS?|HOURS?))?"
        r"(\s+DRY\s+RUN)?\s*;?\s*$",
        s,
        re.IGNORECASE,
    )
    if vm:
        ns, t = _parse_table_name(vm.group(1))
        gens = hours = None
        if vm.group(2) is not None:
            if vm.group(3).upper().startswith("GENERATION"):
                if "." in vm.group(2):
                    raise ValueError("RETAIN n GENERATIONS takes an integer")
                gens = int(vm.group(2))
            else:
                hours = float(vm.group(2))
        return VacuumTable(
            table=t,
            namespace=ns,
            retain_generations=gens,
            retain_hours=hours,
            dry_run=vm.group(4) is not None,
        )

    rm = re.match(
        r"^\s*RESTORE\s+TABLE\s+([\w.`]+)\s+TO\s+(VERSION|TIMESTAMP)\s+AS\s+OF\s+"
        r"(\d+(?:\.\d+)?|'(?:[^'\\]|\\.)*')\s*;?\s*$",
        s,
        re.IGNORECASE,
    )
    if rm:
        ns, t = _parse_table_name(rm.group(1))
        kind, op = rm.group(2).upper(), rm.group(3)
        if kind == "VERSION":
            if not op.isdigit():
                raise ValueError(f"RESTORE ... VERSION AS OF takes a generation, got {op}")
            return RestoreTable(table=t, namespace=ns, version=int(op))
        return RestoreTable(table=t, namespace=ns, timestamp=op)

    cm = re.match(r"^\s*COMPACT\s+TABLE\s+([\w.`]+)\s*;?\s*$", s, re.IGNORECASE)
    if cm:
        ns, t = _parse_table_name(cm.group(1))
        return CompactTable(table=t, namespace=ns)

    im = re.match(
        r"^\s*CREATE\s+VECTOR\s+INDEX\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
        r"ON\s+(?P<name>[\w.`]+)\s*\(\s*(?P<col>\w+)\s*\)"
        r"\s+USING\s+(?P<kind>IVF|PQ|IVFPQ)"
        r"(?:\s+OPTIONS\s*\(\s*(?P<opts>[^)]*)\s*\))?\s*;?\s*$",
        s,
        re.IGNORECASE,
    )
    if im:
        ns, t = _parse_table_name(im.group("name"))
        opts: dict = {}
        for part in (im.group("opts") or "").split(","):
            part = part.strip()
            if not part:
                continue
            if "=" not in part:
                raise ValueError(f"bad vector-index option {part!r} (k=v)")
            k, v = part.split("=", 1)
            k = k.strip().strip("'\"").lower()
            v = v.strip().strip("'\"")
            if v.lower() in ("true", "false"):
                opts[k] = v.lower() == "true"
            else:
                try:
                    opts[k] = int(v)
                except ValueError:
                    try:
                        opts[k] = float(v)
                    except ValueError:
                        opts[k] = v
        return CreateVectorIndex(
            table=t, col=im.group("col"), kind=im.group("kind").lower(),
            namespace=ns, if_not_exists=bool(im.group("ine")), options=opts,
        )
    im = re.match(
        r"^\s*DROP\s+VECTOR\s+INDEX\s+ON\s+(?P<name>[\w.`]+)"
        r"\s*\(\s*(?P<col>\w+)\s*\)\s*;?\s*$",
        s,
        re.IGNORECASE,
    )
    if im:
        ns, t = _parse_table_name(im.group("name"))
        return DropVectorIndex(table=t, col=im.group("col"), namespace=ns)
    im = re.match(
        r"^\s*CREATE\s+INDEX\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?ON\s+(?P<name>[\w.`]+)"
        r"\s*\(\s*(?P<cols>\w+(?:\s*,\s*\w+)*)\s*\)"
        r"(?:\s+INCLUDE\s*\(\s*(?P<inc>\w+(?:\s*,\s*\w+)*)\s*\))?\s*;?\s*$",
        s,
        re.IGNORECASE,
    )
    if im:
        ns, t = _parse_table_name(im.group("name"))
        inc = tuple(
            c.strip() for c in (im.group("inc") or "").split(",") if c.strip()
        )
        cols = tuple(c.strip() for c in im.group("cols").split(",") if c.strip())
        return CreateIndex(
            table=t, col=cols[0], cols=cols, namespace=ns,
            if_not_exists=bool(im.group("ine")), include=inc,
        )
    im = re.match(
        r"^\s*DROP\s+INDEX\s+ON\s+(?P<name>[\w.`]+)\s*\(\s*(?P<col>\w+)\s*\)\s*;?\s*$",
        s,
        re.IGNORECASE,
    )
    if im:
        ns, t = _parse_table_name(im.group("name"))
        return DropIndex(table=t, col=im.group("col"), namespace=ns)
    im = re.match(r"^\s*REINDEX\s+TABLE\s+([\w.`]+)\s*;?\s*$", s, re.IGNORECASE)
    if im:
        ns, t = _parse_table_name(im.group(1))
        return ReindexTable(table=t, namespace=ns)

    im = re.match(
        r"^\s*EXPLAIN\s+SCAN\s+(?P<name>[\w.`]+)"
        r"(?:\s+COLUMNS\s*\(\s*(?P<cols>\w+(?:\s*,\s*\w+)*)\s*\))?"
        r"\s+WHERE\s+(?P<where>.+?)\s*;?\s*$",
        s,
        re.IGNORECASE | re.DOTALL,
    )
    if im:
        ns, t = _parse_table_name(im.group("name"))
        cols = tuple(
            c.strip() for c in (im.group("cols") or "").split(",") if c.strip()
        )
        return ExplainScan(
            table=t, where=im.group("where"), namespace=ns, columns=cols
        )

    if up.startswith("INSERT"):
        m = _INSERT_VALUES_RE.match(s)
        if m:
            ns, t = _parse_table_name(m.group("name"))
            rows = []
            for tup in _split_top_level(m.group("vals")):
                if not (tup.startswith("(") and tup.endswith(")")):
                    raise ValueError(f"malformed VALUES row tuple: {tup!r}")
                rows.append(
                    [_parse_literal(v) for v in _split_top_level(tup[1:-1])]
                )
            if len({len(r) for r in rows}) > 1:
                raise ValueError("VALUES rows have differing arity")
            return InsertValues(
                table=t, namespace=ns, values=rows,
                overwrite=m.group("over").upper() == "OVERWRITE",
            )
        m = _INSERT_SELECT_RE.match(s)
        if m:
            ns, t = _parse_table_name(m.group("name"))
            return InsertSelect(
                table=t, namespace=ns, select_sql=m.group("select"),
                overwrite=m.group("over").upper() == "OVERWRITE",
            )
        raise ValueError(f"malformed INSERT: {sql!r}")

    if up.startswith("MERGE"):
        return _parse_merge(s)

    um = re.match(
        r"^\s*UPDATE\s+(?P<name>[\w.`]+)\s+SET\s+(?P<rest>.+?)\s*;?\s*$",
        s,
        re.IGNORECASE | re.DOTALL,
    )
    if um:
        ns, t = _parse_table_name(um.group("name"))
        # split SET exprs from WHERE at the first TOP-LEVEL keyword —
        # a lazy regex splits at a WHERE inside a string literal or a
        # subquery in the SET expression
        sets_text, where = _split_top_level_where(um.group("rest"))
        if where == "":
            # dangling WHERE with no predicate: fall through to Spark,
            # which rejects it — silently updating every row would be a
            # destructive misparse (r6 advice)
            return PassThrough(sql=sql)
        sets: dict[str, str] = {}
        for pair in _split_top_level(sets_text):
            if "=" not in pair:
                return PassThrough(sql=sql)  # not our UPDATE shape
            col, expr = pair.split("=", 1)
            sets[_norm_set_target(col, (t,))] = expr.strip()
        return UpdateTable(table=t, namespace=ns, update_set=sets, where=where, raw=s)

    dm = re.match(
        r"^\s*DELETE\s+FROM\s+(?P<name>[\w.`]+)(?P<rest>\s+.+?)?\s*;?\s*$",
        s,
        re.IGNORECASE | re.DOTALL,
    )
    if dm:
        ns, t = _parse_table_name(dm.group("name"))
        rest = (dm.group("rest") or "").strip()
        alias = None
        am = re.match(r"^(?:AS\s+)?(?!WHERE\b)(`?\w+`?)\b\s*(.*)$", rest, re.IGNORECASE | re.DOTALL)
        if am:
            alias, rest = am.group(1).strip("`"), am.group(2).strip()
        where = None
        if rest:
            head, where = _split_top_level_where(rest)
            if head or not where:
                # DELETE shapes we don't model (DELETE … USING, dangling
                # WHERE with no predicate): fall through verbatim — Spark
                # may support/reject them on DSv2 sources, and pre-r6
                # behavior was pass-through
                return PassThrough(sql=sql)
        return DeleteFrom(table=t, namespace=ns, where=where, alias=alias, raw=s)

    return PassThrough(sql=sql)


def _parse_merge(s: str) -> MergeInto:
    m = _MERGE_RE.match(s)
    if not m:
        raise ValueError(f"malformed MERGE INTO: {s!r}")
    ns, table = _parse_table_name(m.group("name"))
    talias = (m.group("talias") or table).strip("`")
    src = m.group("src").strip()
    salias = m.group("salias")
    if src.startswith("("):
        if not salias:
            raise ValueError("MERGE USING (subquery) requires an alias")
        source_from = f"{src} {salias}"
    else:
        salias = salias or src.strip("`")
        source_from = f"{src} {salias}"
    # split the ON condition from the WHEN clauses at the first
    # TOP-LEVEL `WHEN [NOT] MATCHED` (quote/paren-aware): a lazy regex
    # truncates `ON t.k = CASE WHEN … END` at the CASE's own WHEN
    tail = m.group("tail")
    w = _find_top_level(tail, _WHEN_MATCHED_RE)
    if w < 0:
        raise ValueError("MERGE needs at least one WHEN clause")
    on, clauses = tail[:w].strip(), tail[w:].strip()
    update_set: dict[str, str] | None = None
    insert_cols: list[str] | None = None
    insert_exprs: list[str] | None = None
    insert_star = False
    has_insert = False
    delete_matched = False
    update_cond: str | None = None
    delete_cond: str | None = None
    insert_cond: str | None = None
    # segment the clause text at TOP-LEVEL `WHEN [NOT] MATCHED`
    # boundaries (the same quote/paren-aware scanner the ON split uses —
    # a string literal containing 'WHEN MATCHED' must not split a
    # clause), then require every segment to be a supported variant:
    # silently dropping e.g. `WHEN MATCHED AND cond THEN DELETE`
    # (conditional clauses are unsupported) and executing the rest would
    # report success while skipping requested work
    bounds = [0]
    off = len("WHEN")
    while True:
        i = _find_top_level(clauses, _WHEN_MATCHED_RE, off)
        if i < 0:
            break
        bounds.append(i)
        off = i + len("WHEN")
    segments = [
        clauses[a:b].strip() for a, b in zip(bounds, bounds[1:] + [len(clauses)])
    ]
    for seg in segments:
        cm = re.match(
            r"^WHEN\s+(?P<not>NOT\s+)?MATCHED\b(?P<rest>.*)$",
            seg,
            re.IGNORECASE | re.DOTALL,
        )
        if not cm:
            raise ValueError(
                f"unsupported MERGE clause {seg!r} "
                "(WHEN NOT MATCHED BY SOURCE is not supported)"
            )
        # split the optional AND-condition from the action at the first
        # top-level `THEN <action-keyword>` (plain lazy `.+?THEN` would
        # truncate a CASE WHEN … THEN inside the condition; anchoring on
        # the action keyword disambiguates — a CASE branch value is an
        # expression, never a bare UPDATE SET/DELETE/INSERT)
        rest = cm.group("rest")
        ti = _find_top_level(rest, _THEN_ACTION_RE)
        if ti < 0:
            raise ValueError(f"MERGE clause has no THEN action: {seg!r}")
        head = rest[:ti].strip()
        cond: str | None = None
        if head:
            am = re.match(r"^AND\s+(?P<cond>.+)$", head, re.IGNORECASE | re.DOTALL)
            if not am:
                raise ValueError(f"unsupported MERGE clause qualifier {head!r}")
            cond = am.group("cond").strip()
        action = rest[ti + len("THEN"):].strip()
        if cm.group("not"):
            im = re.match(
                r"^INSERT\s*(?:\*|(?:\((?P<cols>.*?)\)\s*VALUES\s*\((?P<exprs>.*)\)))\s*$",
                action,
                re.IGNORECASE | re.DOTALL,
            )
            if not im:
                raise ValueError(f"unsupported WHEN NOT MATCHED action {action!r}")
            if has_insert:
                # a second NOT-MATCHED clause would silently shadow the
                # first (r7 review) — refuse instead of dropping work
                raise ValueError(
                    "multiple WHEN NOT MATCHED INSERT clauses are not supported"
                )
            has_insert = True
            insert_cond = cond
            if im.group("cols") is None:
                insert_star = True
            else:
                insert_cols = [c.strip().strip("`") for c in _split_top_level(im.group("cols"))]
                insert_exprs = _split_top_level(im.group("exprs"))
                if len(insert_cols) != len(insert_exprs):
                    raise ValueError("INSERT column/value count mismatch")
        elif re.match(r"^DELETE\s*$", action, re.IGNORECASE):
            if delete_matched:
                raise ValueError("multiple WHEN MATCHED DELETE clauses are not supported")
            delete_matched = True
            delete_cond = cond
        else:
            um = re.match(r"^UPDATE\s+SET\s+(?P<sets>.*)$", action, re.IGNORECASE | re.DOTALL)
            if not um:
                raise ValueError(f"unsupported WHEN MATCHED action {action!r}")
            if update_set is not None:
                raise ValueError(
                    "multiple WHEN MATCHED UPDATE clauses are not supported "
                    "(fold the conditions into CASE expressions in one SET)"
                )
            update_set = {}
            update_cond = cond
            for pair in _split_top_level(um.group("sets")):
                col, expr = pair.split("=", 1)
                update_set[_norm_set_target(col, (talias, table))] = expr.strip()
    if update_set is not None and delete_matched:
        raise ValueError("MERGE supports one WHEN MATCHED action (UPDATE or DELETE)")
    if update_set is None and not delete_matched and not has_insert:
        raise ValueError("MERGE needs at least one WHEN clause")
    return MergeInto(
        table=table,
        namespace=ns,
        target_alias=talias,
        source_from=source_from,
        source_alias=salias,
        on=on,
        update_set=update_set,
        insert_cols=insert_cols,
        insert_exprs=insert_exprs,
        insert_star=insert_star,
        has_insert=has_insert,
        delete_matched=delete_matched,
        update_cond=update_cond,
        delete_cond=delete_cond,
        insert_cond=insert_cond,
        raw=s,
    )
