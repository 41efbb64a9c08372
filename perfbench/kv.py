"""Key space, in-memory table model and statement generators of the kv
workloads.  Pure Python: no Spark, so the model is testable on its own.

The table is ``kv (k1 LONG, k2 INT, v1 LONG, v2 STRING, PRIMARY KEY (k1, k2))``.
Every leading key k1 holds ``K2_PER_K1`` rows whose k2 values are distinct
draws from ``[0, K2_DOMAIN)``, so a second-dimension range with the
leading key free returns a small slice of the table, and v1 (the indexed
non-key column) repeats about ``V1_REPEAT`` times.  Everything is drawn
from one ``random.Random(seed)``: the same seed gives the same table, the
same statements and the same keys.
"""

from __future__ import annotations

import bisect
import random
from dataclasses import dataclass

K2_PER_K1 = 4
K2_DOMAIN = 1000
K1_SPREAD = 4  # k1 values are drawn from [0, K1_SPREAD * n_k1): about 1 in 4 is present
V1_REPEAT = 16
RANGE_K1_VALUES = 100  # leading-key BETWEEN spans this many present k1 values
RANGE_K2_WIDTH = 4  # second-dimension BETWEEN width
IN_K1, IN_K2 = 4, 2  # IN lists: 4 x 2 = 8 full keys

DDL = (
    "CREATE TABLE kv (k1 LONG, k2 INT, v1 LONG, v2 STRING, PRIMARY KEY (k1, k2)) "
    "MAPPED BY (kv_h, COLS=[v1=f.v1, v2=f.v2]) "
    "OPTIONS (regions=16, bloomfilter=row)"
)
COLUMNS = ("k1", "k2", "v1", "v2")

Row = tuple  # (k1, k2, v1, v2)


def row_bytes(row: Row) -> int:
    """User bytes of one row: 8 (k1) + 4 (k2) + 8 (v1) + len(v2)."""
    return 20 + len(row[3].encode())


class TableModel:
    """What the table must hold, with the engine's upsert semantics (a later
    write of a key replaces its values).  Rows are kept by leading key, with
    reverse maps on k2 and v1 so every read the workloads issue is answered
    without scanning the whole model."""

    def __init__(self, rows: list[Row] = ()):
        self.by_k1: dict[int, dict[int, tuple[int, str]]] = {}
        self.by_k2: dict[int, set[int]] = {}
        self.by_v1: dict[int, set[tuple[int, int]]] = {}
        self._k1s: list[int] | None = None
        for r in rows:
            self.upsert(r)

    def __len__(self) -> int:
        return sum(len(d) for d in self.by_k1.values())

    # -- writes -------------------------------------------------------------
    def upsert(self, r: Row) -> None:
        k1, k2, v1, v2 = r
        self.delete(k1, k2)
        if k1 not in self.by_k1:
            self.by_k1[k1] = {}
            self._k1s = None
        self.by_k1[k1][k2] = (v1, v2)
        self.by_k2.setdefault(k2, set()).add(k1)
        self.by_v1.setdefault(v1, set()).add((k1, k2))

    def delete(self, k1: int, k2: int) -> None:
        row = self.by_k1.get(k1, {}).pop(k2, None)
        if row is None:
            return
        self.by_k2[k2].discard(k1)
        self.by_v1[row[0]].discard((k1, k2))
        if not self.by_k1[k1]:
            del self.by_k1[k1]
            self._k1s = None

    def delete_prefix(self, k1: int) -> None:
        for k2 in list(self.by_k1.get(k1, ())):
            self.delete(k1, k2)

    # -- reads --------------------------------------------------------------
    def k1_values(self) -> list[int]:
        if self._k1s is None:
            self._k1s = sorted(self.by_k1)
        return self._k1s

    def row(self, k1: int, k2: int) -> Row | None:
        v = self.by_k1.get(k1, {}).get(k2)
        return None if v is None else (k1, k2, v[0], v[1])

    def get(self, keys: list[tuple[int, int]]) -> list[Row]:
        return sorted(r for r in (self.row(*k) for k in set(keys)) if r is not None)

    def k2_of(self, k1: int) -> list[int]:
        return sorted(self.by_k1.get(k1, ()))

    def k1_range(self, lo: int, hi: int) -> list[Row]:
        k1s = self.k1_values()
        i, j = bisect.bisect_left(k1s, lo), bisect.bisect_right(k1s, hi)
        return self.get([(a, b) for a in k1s[i:j] for b in self.by_k1[a]])

    def k2_range(self, lo: int, hi: int) -> list[Row]:
        return self.get([(a, b) for b in range(lo, hi + 1) for a in self.by_k2.get(b, ())])

    def v1_eq(self, v1: int) -> list[Row]:
        return self.get(list(self.by_v1.get(v1, ())))


def matches(got: list, expected: list[Row]) -> bool:
    """Order-insensitive comparison of collected rows with the model."""
    return sorted(tuple(r) for r in got) == sorted(expected)


def base_rows(rng: random.Random, n_k1: int) -> list[Row]:
    k1s = sorted(rng.sample(range(K1_SPREAD * n_k1), n_k1))
    n_v1 = max(1, n_k1 * K2_PER_K1 // V1_REPEAT)
    rows = []
    for k1 in k1s:
        for k2 in sorted(rng.sample(range(K2_DOMAIN), K2_PER_K1)):
            rows.append((k1, k2, rng.randrange(n_v1), f"v{rng.randrange(10**6)}"))
    return rows


@dataclass
class Read:
    """One read operation: its type, the entry point and the predicate."""

    kind: str  # point_get | range_scan | index_lookup
    path: str  # sql | scan_where
    where: str
    expected: list[Row]
    shape: str = ""  # "miss" | "in" | "dim2": a predicate shape of its own cost


def _lit_list(xs) -> str:
    return ", ".join(str(x) for x in xs)


class KeySpace:
    """Draws keys and statements from one seeded generator against the model."""

    def __init__(self, rng: random.Random, model: TableModel, n_k1: int):
        self.rng = rng
        self.model = model
        self.n_k1 = n_k1
        self.n_v1 = max(1, n_k1 * K2_PER_K1 // V1_REPEAT)

    # -- keys ---------------------------------------------------------------
    def present_key(self) -> tuple[int, int]:
        k1 = self.rng.choice(self.model.k1_values())
        return k1, self.rng.choice(self.model.k2_of(k1))

    def any_key(self) -> tuple[int, int]:
        """Uniform over the whole key domain: mostly absent keys."""
        return self.rng.randrange(K1_SPREAD * self.n_k1), self.rng.randrange(K2_DOMAIN)

    def new_value(self) -> tuple[int, str]:
        return self.rng.randrange(self.n_v1), f"w{self.rng.randrange(10**6)}"

    # -- reads --------------------------------------------------------------
    def point_eq(self, path: str) -> Read:
        return self.point_at(path, *self.present_key())

    def point_miss(self, path: str) -> Read:
        """Full-key get of an absent key: its own shape, because through
        scan_where it costs ~1.7x a present key's get."""
        k1, k2 = self.any_key()
        while self.model.row(k1, k2) is not None:
            k1, k2 = self.any_key()
        return Read("point_get", path, f"k1 = {k1} AND k2 = {k2}", [], "miss")

    def point_at(self, path: str, k1: int, k2: int) -> Read:
        return Read("point_get", path, f"k1 = {k1} AND k2 = {k2}", self.model.get([(k1, k2)]))

    def point_in(self, path: str) -> Read:
        k1s = self.model.k1_values()
        firsts = [self.rng.choice(k1s) for _ in range(IN_K1)]
        k2s = sorted(set(self.rng.sample(self.model.k2_of(firsts[0]), 1) + [self.rng.randrange(K2_DOMAIN)]))
        while len(k2s) < IN_K2:
            k2s = sorted(set(k2s + [self.rng.randrange(K2_DOMAIN)]))
        keys = [(a, b) for a in firsts for b in k2s]
        where = f"k1 IN ({_lit_list(sorted(set(firsts)))}) AND k2 IN ({_lit_list(k2s)})"
        return Read("point_get", path, where, self.model.get(keys), "in")

    def range_lead(self, path: str) -> Read:
        k1s = self.model.k1_values()
        i = self.rng.randrange(max(1, len(k1s) - RANGE_K1_VALUES))
        lo, hi = k1s[i], k1s[min(i + RANGE_K1_VALUES - 1, len(k1s) - 1)]
        return self.range_k1(path, lo, hi)

    def range_k1(self, path: str, lo: int, hi: int) -> Read:
        return Read("range_scan", path, f"k1 BETWEEN {lo} AND {hi}", self.model.k1_range(lo, hi))

    def range_near(self, path: str, k1: int) -> Read:
        """Leading-key range of a few present k1 values around ``k1``."""
        k1s = self.model.k1_values()
        i = bisect.bisect_left(k1s, k1)
        lo = k1s[max(0, i - 5)] if k1s else k1
        hi = k1s[min(len(k1s) - 1, i + 5)] if k1s else k1
        return self.range_k1(path, min(lo, k1), max(hi, k1))

    def range_dim2(self, path: str) -> Read:
        lo = self.rng.randrange(K2_DOMAIN - RANGE_K2_WIDTH)
        hi = lo + RANGE_K2_WIDTH - 1
        return Read("range_scan", path, f"k2 BETWEEN {lo} AND {hi}", self.model.k2_range(lo, hi), "dim2")

    def index_eq(self, path: str) -> Read:
        k1, k2 = self.present_key()
        return self.index_at(path, self.model.row(k1, k2)[2])

    def index_at(self, path: str, v1: int) -> Read:
        return Read("index_lookup", path, f"v1 = {v1}", self.model.v1_eq(v1))

    # -- writes (each returns SQL and applies itself to the model) ----------
    def insert(self, n: int) -> tuple[str, list[Row]]:
        """INSERT VALUES of n rows: half upserts of present keys, half new
        keys spread over the key domain."""
        rows: dict[tuple[int, int], Row] = {}
        while len(rows) < n:
            if len(rows) % 2 == 0:
                k1, k2 = self.present_key()
            else:
                k1, k2 = self.any_key()
            rows[(k1, k2)] = (k1, k2, *self.new_value())
        out = list(rows.values())
        for r in out:
            self.model.upsert(r)
        values = ", ".join(f"({r[0]}, {r[1]}, {r[2]}, '{r[3]}')" for r in out)
        return f"INSERT INTO kv VALUES {values}", out

    def update(self) -> tuple[str, Row, Row]:
        k1, k2 = self.present_key()
        old = self.model.row(k1, k2)
        v1, v2 = self.new_value()
        new = (k1, k2, v1, v2)
        self.model.upsert(new)
        return f"UPDATE kv SET v1 = {v1}, v2 = '{v2}' WHERE k1 = {k1} AND k2 = {k2}", old, new

    def delete_prefix(self) -> tuple[str, list[Row]]:
        k1 = self.rng.choice(self.model.k1_values())
        old = self.model.k1_range(k1, k1)
        self.model.delete_prefix(k1)
        return f"DELETE FROM kv WHERE k1 = {k1}", old
