"""Line counts per module of a Python package: total lines and code-only
lines (no blank lines, no comment-only lines, no docstrings — a statement
that is nothing but a string literal).

Usage: python tools/loc.py [package_dir]   (default: spark_sql_on_hbase_spark)

Prints one ``total code path`` row per module, largest code count first,
then the package sum.  Stdlib ``tokenize`` only, so it runs on any
checkout, e.g. a second copy of an older commit, to compare counts.
"""

from __future__ import annotations

import os
import sys
import tokenize

_LAYOUT = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def count(path: str) -> tuple[int, int]:
    """(total lines, code-only lines) of one source file."""
    with open(path, "rb") as f:
        total = sum(1 for _ in f)
    with open(path, "rb") as f:
        toks = list(tokenize.tokenize(f.readline))
    code: set[int] = set()
    stmt: list[tokenize.TokenInfo] = []
    for tok in toks:
        if tok.type == tokenize.NEWLINE or tok.type == tokenize.ENDMARKER:
            # one logical line: a docstring if every token is a string
            if stmt and not all(t.type == tokenize.STRING for t in stmt):
                for t in stmt:
                    code.update(range(t.start[0], t.end[0] + 1))
            stmt = []
        elif tok.type not in _LAYOUT:
            stmt.append(tok)
    return total, len(code)


def main(root: str) -> None:
    rows = []
    for d, _dirs, files in os.walk(root):
        for fn in files:
            if fn.endswith(".py"):
                p = os.path.join(d, fn)
                rows.append((*count(p), os.path.relpath(p, os.path.dirname(root.rstrip("/")))))
    rows.sort(key=lambda r: (-r[1], r[2]))
    for total, code, p in rows:
        print(f"{total:7d} {code:7d}  {p}")
    print(f"{sum(r[0] for r in rows):7d} {sum(r[1] for r in rows):7d}  total ({len(rows)} modules)")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "spark_sql_on_hbase_spark")
