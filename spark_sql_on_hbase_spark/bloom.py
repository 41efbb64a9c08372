"""Per-fragment ROW bloom-filter sidecars (HBase BLOOMFILTER=ROW analog).

HBase's read path consults a per-HFile bloom filter before touching a
store file, so a Get over an N-generation LSM store opens only the files
that *probably* contain the key (HFile v2 "Bloom chunk" blocks; the
BLOOMFILTER column-family attribute, default ROW).  The reference
engine inherits that behavior implicitly by delegating point reads to
HBase Gets (HBaseSQLReaderRDD.scala:270-315); this engine's parquet
fragments have no such structure — range pruning alone keeps EVERY
generation whose [min,max] rowkey envelope covers the key, which after
k trickle appends means k fragment reads for one point lookup.

A sidecar file ``<fragment>.parquet.bloom`` restores the HBase
behavior.  Layout: one magic line, one JSON header line
(``{"m": bits, "k": hashes, "n": keys}``), then the bitmap
(``ceil(m/8)`` raw bytes, little-endian bit order within each byte).

Hashing is engine-portable on purpose: ``md5(rowkey)`` split into two
64-bit halves feeds Kirsch-Mitzenmacher double hashing
(``pos_i = (h1 + i*h2) mod m``), so the builder (executor-side pandas
over Arrow batches) and the prober (driver-side, pure Python) cannot
drift — no dependency on JVM hash internals.  Parameters target ~1%
false positives (10 bits/key, k=7), with a 1,024-bit floor for small
fragments.

Sidecars are immutable like the fragments they describe: built once
after a fragment is statted, deleted alongside it, never updated.  A
missing or unreadable sidecar means "maybe present" — the filter is an
optimization, never a correctness dependency (same contract as CPR file
pruning, SURVEY §7 known-hard #2).
"""

from __future__ import annotations

import hashlib
import json
import os
import struct
import uuid

import numpy as np

MAGIC = b"ASTROBLM1\n"
BITS_PER_KEY = 10
NUM_HASHES = 7
SUFFIX = ".bloom"


def params_for(n_keys: int) -> tuple[int, int]:
    """(m bits, k hashes) for n keys — m rounded up to a byte multiple,
    floored at 1,024 bits (a 128-byte sidecar).  At 10 bits per key a
    9-key trickle fragment admits ~0.6 % of absent probes, so an index
    lookup probing 40 exact candidates reads it about one time in five;
    the floor puts it at ~3e-9 per probe.  m and k live in each
    sidecar's header, so sidecars built under another sizing stay
    readable."""
    m = max(1024, n_keys * BITS_PER_KEY)
    m = (m + 7) // 8 * 8
    return m, NUM_HASHES


def hash_pair(rowkey: bytes) -> tuple[int, int]:
    """Two independent 64-bit hashes of one binary rowkey (md5 halves)."""
    d = hashlib.md5(rowkey).digest()
    h1, h2 = struct.unpack("<QQ", d)
    return h1, h2


def build_bits(rowkeys, m: int, k: int) -> np.ndarray:
    """Packed bitmap (uint8 array, ceil(m/8) long) over an iterable of
    binary rowkeys.  Pure numpy after the md5 pass — vectorized enough
    for the per-fragment builder (one fragment per task)."""
    n = 0
    h1s, h2s = [], []
    for rk in rowkeys:
        a, b = hash_pair(bytes(rk))
        h1s.append(a)
        h2s.append(b)
        n += 1
    bits = np.zeros((m + 7) // 8, dtype=np.uint8)
    if n == 0:
        return bits
    h1 = np.array(h1s, dtype=np.uint64)
    h2 = np.array(h2s, dtype=np.uint64)
    mm = np.uint64(m)
    for i in range(k):
        pos = (h1 + np.uint64(i) * h2) % mm  # uint64 wraparound is the spec
        np.bitwise_or.at(bits, (pos >> np.uint64(3)).astype(np.int64),
                         np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)))
    return bits


def maybe_contains(bits: np.ndarray, m: int, k: int, rowkey: bytes) -> bool:
    """False = definitely absent; True = probably present."""
    h1, h2 = hash_pair(rowkey)
    for i in range(k):
        # mask to 64 bits FIRST — the builder's uint64 arithmetic wraps,
        # so the prober must reduce mod 2^64 before mod m to agree
        pos = ((h1 + i * h2) & 0xFFFF_FFFF_FFFF_FFFF) % m
        if not (bits[pos >> 3] >> (pos & 7)) & 1:
            return False
    return True


def sidecar_path(fragment_path: str) -> str:
    return fragment_path + SUFFIX


def write_sidecar(fragment_path: str, bits: np.ndarray, m: int, k: int, n: int) -> None:
    """Atomic write next to the fragment (tmp + rename, the same
    single-object commit discipline as every other engine artifact)."""
    dest = sidecar_path(fragment_path)
    # per-writer tmp name: two sessions statting the same table can race
    # to build the same missing sidecar; contents are deterministic for
    # a given fragment, so last-rename-wins is safe — but a SHARED tmp
    # name let the loser's os.replace raise after the winner renamed
    # (ADVICE r12), failing an executor task on a read path
    tmp = f"{dest}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    header = json.dumps({"m": m, "k": k, "n": n}).encode() + b"\n"
    try:
        with open(tmp, "wb") as f:
            f.write(MAGIC)
            f.write(header)
            f.write(bits.tobytes())
        os.replace(tmp, dest)
    except OSError:
        # best-effort artifact: a failed build must never fail the scan
        # (missing sidecar = maybe-present); reap the partial tmp
        try:
            os.unlink(tmp)
        except OSError:
            pass


def load_sidecar(fragment_path: str):
    """(bits, m, k) or None when missing/corrupt (= maybe present)."""
    try:
        with open(sidecar_path(fragment_path), "rb") as f:
            if f.read(len(MAGIC)) != MAGIC:
                return None
            hdr = json.loads(f.readline())
            m, k = int(hdr["m"]), int(hdr["k"])
            raw = f.read((m + 7) // 8)
            if len(raw) != (m + 7) // 8:
                return None
            return np.frombuffer(raw, dtype=np.uint8), m, k
    except (OSError, ValueError, KeyError):
        return None


def drop_sidecar(fragment_path: str) -> None:
    """Remove a fragment's sidecar if present (fragment GC hook)."""
    try:
        os.unlink(sidecar_path(fragment_path))
    except OSError:
        pass
