"""Order-preserving binary row-key codec.

Parity target: the reference's ``util/bytesUtils.scala`` (binaryformat
encode/decode, ``bytesUtils.scala:109-253``) and ``util/HBaseKVHelper.scala``
(composite-key assembly, ``HBaseKVHelper.scala:25-94``) — re-implemented
from the published invariant, not translated: for every supported type,
``encode(a) < encode(b)`` under unsigned lexicographic byte order iff
``a < b``, and for composite keys the concatenated encoding sorts in tuple
order.  That invariant is what makes range/partition pruning over raw byte
bounds sound.

Encoding rules (big-endian throughout):

- BOOLEAN  → 1 byte, 0x00 / 0x01
- BYTE     → 1 byte, value ^ 0x80 (flip sign bit)
- SHORT    → 2 bytes, sign bit flipped
- INT      → 4 bytes, sign bit flipped
- LONG     → 8 bytes, sign bit flipped
- FLOAT    → 4 IEEE-754 bytes; negative → all bits flipped, else sign bit set
- DOUBLE   → 8 IEEE-754 bytes, same transform
- STRING   → raw UTF-8; inside a composite key every non-final STRING
             component is terminated with 0x00 (so shorter strings sort
             before their extensions and the next component can start)
- DATE     → days since epoch as INT transform (4 bytes)   [extension]
- TIMESTAMP→ microseconds since epoch as LONG transform    [extension]
- DECIMAL  → unscaled value at declared scale as LONG      [extension]

The three extensions go beyond the reference's 8 storable atomic types
(``HBaseCatalog.scala:425-446``) because modern Spark makes them free; the
same flip-transform keeps them order-preserving.

Scale note: this module runs driver-side only, for pruning bounds and
split keys (O(#files) values) — never per row.  A materialized rowkey
column is built in the JVM by ``relation.rowkey_sql``, the same rules as
Spark built-ins (sign-bit XOR + ``hex``/``lpad``/``unhex``,
``unix_date``/``unix_micros``, ``bround`` at scale 2,
``floatToIntBits``/``doubleToLongBits`` via ``reflect``, UTF-8
``encode``); the two are pinned byte-identical by
``tests/test_small_write_commits.py``.  TIMESTAMPs encode their exact
integer microseconds since the epoch (= ``unix_micros``).
"""

from __future__ import annotations

import struct
from datetime import date, datetime, timedelta, timezone
from decimal import Decimal

# Canonical lower-case type names accepted by the DDL (HBaseSQLParser.scala:234-249
# admits more, but only these survive the catalog in the reference; we add
# date/timestamp/decimal as storable).
BYTE = "byte"
SHORT = "short"
INT = "int"
LONG = "long"
FLOAT = "float"
DOUBLE = "double"
BOOLEAN = "boolean"
STRING = "string"
DATE = "date"
TIMESTAMP = "timestamp"
DECIMAL = "decimal"

ATOMIC_TYPES = {BYTE, SHORT, INT, LONG, FLOAT, DOUBLE, BOOLEAN, STRING, DATE, TIMESTAMP, DECIMAL}

# r15 vector columns (beyond the reference's 8 atomic types): embedding
# arrays as NON-KEY columns of binaryformat tables — stored as native
# parquet list columns (no rowkey codec involvement), queried by the
# catalog-managed vector indexes.  Never key-encodable, never
# scalar-indexable, never stringformat-storable.
VEC_FLOAT = "array<float>"
VEC_DOUBLE = "array<double>"
VECTOR_TYPES = {VEC_FLOAT, VEC_DOUBLE}

_ALIAS = {
    "tinyint": BYTE,
    "smallint": SHORT,
    "integer": INT,
    "bigint": LONG,
    "bool": BOOLEAN,
    "str": STRING,
    "varchar": STRING,
    "real": FLOAT,
}

_INT_SPEC = {BYTE: (1, 0x80), SHORT: (2, 0x8000), INT: (4, 0x8000_0000), LONG: (8, 0x8000_0000_0000_0000)}

_EPOCH = date(1970, 1, 1)
_EPOCH_TS = datetime(1970, 1, 1, tzinfo=timezone.utc)
_MICRO = timedelta(microseconds=1)
_DEFAULT_DECIMAL_SCALE = 2


def normalize_type(name: str) -> str:
    t = name.strip().lower()
    compact = t.replace(" ", "")
    if compact in VECTOR_TYPES:
        return compact
    if "(" in t:  # decimal(p,s), varchar(n)
        t = t[: t.index("(")]
    t = _ALIAS.get(t, t)
    if t not in ATOMIC_TYPES:
        raise ValueError(f"unsupported column type: {name!r}")
    return t


def _int_decode(raw: bytes, sign: int) -> int:
    u = int.from_bytes(raw, "big", signed=False)
    return u - sign


def _float_bits_encode(raw: bytes) -> bytes:
    # IEEE bytes big-endian: if sign bit set (negative) flip ALL bits,
    # else flip just the sign bit → total order matching numeric order.
    if raw[0] & 0x80:
        return bytes(b ^ 0xFF for b in raw)
    return bytes([raw[0] ^ 0x80]) + raw[1:]


def _float_bits_decode(raw: bytes) -> bytes:
    if raw[0] & 0x80:  # was non-negative
        return bytes([raw[0] ^ 0x80]) + raw[1:]
    return bytes(b ^ 0xFF for b in raw)


def _to_micros(v) -> int:
    # exact integer microseconds (= the JVM's ``unix_micros``): going
    # through the float ``timestamp()`` rounds ~1% of values 1 µs off and
    # can order t+1µs before t
    if isinstance(v, datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=timezone.utc)
        return (v - _EPOCH_TS) // _MICRO
    if isinstance(v, (int, float)):
        return int(v)
    raise ValueError(f"cannot encode timestamp from {type(v)}")


def encode_value(value, dtype: str, *, scale: int = _DEFAULT_DECIMAL_SCALE) -> bytes:
    """Encode one non-null atomic value order-preservingly."""
    t = dtype
    if t == STRING:
        return str(value).encode("utf-8")
    if t == BOOLEAN:
        return b"\x01" if value else b"\x00"
    if t in _INT_SPEC:
        nbytes, sign = _INT_SPEC[t]
        iv = int(value)
        if not (-sign <= iv <= sign - 1):
            raise ValueError(f"{iv} out of range for {t}")
        return int(iv + sign).to_bytes(nbytes, "big", signed=False)
    if t == FLOAT:
        return _float_bits_encode(struct.pack(">f", float(value)))
    if t == DOUBLE:
        return _float_bits_encode(struct.pack(">d", float(value)))
    if t == DATE:
        if isinstance(value, datetime):
            value = value.date()
        days = (value - _EPOCH).days if isinstance(value, date) else int(value)
        return int(days + 0x8000_0000).to_bytes(4, "big", signed=False)
    if t == TIMESTAMP:
        return int(_to_micros(value) + 0x8000_0000_0000_0000).to_bytes(8, "big", signed=False)
    if t == DECIMAL:
        unscaled = int((Decimal(str(value)) * (10**scale)).to_integral_value())
        return int(unscaled + 0x8000_0000_0000_0000).to_bytes(8, "big", signed=False)
    raise ValueError(f"unsupported type {dtype!r}")


def decode_value(raw: bytes, dtype: str, *, scale: int = _DEFAULT_DECIMAL_SCALE):
    t = dtype
    if t == STRING:
        return raw.decode("utf-8")
    if t == BOOLEAN:
        return raw != b"\x00"
    if t in _INT_SPEC:
        _, sign = _INT_SPEC[t]
        return _int_decode(raw, sign)
    if t == FLOAT:
        return struct.unpack(">f", _float_bits_decode(raw))[0]
    if t == DOUBLE:
        return struct.unpack(">d", _float_bits_decode(raw))[0]
    if t == DATE:
        return _EPOCH.fromordinal(_EPOCH.toordinal() + _int_decode(raw, 0x8000_0000))
    if t == TIMESTAMP:
        return _EPOCH_TS + _int_decode(raw, 0x8000_0000_0000_0000) * _MICRO
    if t == DECIMAL:
        return Decimal(_int_decode(raw, 0x8000_0000_0000_0000)) / (10**scale)
    raise ValueError(f"unsupported type {dtype!r}")


FIXED_WIDTH = {BYTE: 1, SHORT: 2, INT: 4, LONG: 8, FLOAT: 4, DOUBLE: 8, BOOLEAN: 1, DATE: 4, TIMESTAMP: 8, DECIMAL: 8}


def encode_key(values, dtypes) -> bytes:
    """Composite row key: concat of per-column encodings; non-final STRING
    components 0x00-terminated (HBaseKVHelper.scala:33-54 semantics)."""
    if len(values) != len(dtypes):
        raise ValueError("values/dtypes length mismatch")
    out = bytearray()
    last = len(values) - 1
    for i, (v, t) in enumerate(zip(values, dtypes)):
        if v is None:
            raise ValueError("key columns are non-nullable")
        enc = encode_value(v, t)
        if t == STRING and b"\x00" in enc and i != last:
            raise ValueError("NUL byte not allowed inside non-final string key component")
        out += enc
        if t == STRING and i != last:
            out += b"\x00"
    return bytes(out)


def decode_key(raw: bytes, dtypes):
    """Inverse of encode_key → list of python values."""
    vals = []
    off = 0
    last = len(dtypes) - 1
    for i, t in enumerate(dtypes):
        if t == STRING:
            if i == last:
                end = len(raw)
                vals.append(raw[off:end].decode("utf-8"))
                off = end
            else:
                end = raw.index(b"\x00", off)
                vals.append(raw[off:end].decode("utf-8"))
                off = end + 1
        else:
            w = FIXED_WIDTH[t]
            vals.append(decode_value(raw[off : off + w], t))
            off += w
    return vals


def add_one(raw: bytes) -> bytes | None:
    """Smallest byte string strictly greater than ``raw`` of the same length
    family: increment as a big-endian integer, dropping trailing 0x00s the
    way the reference does (bytesUtils.scala:53-87).  Returns None when raw
    is all-0xFF (no successor of that length)."""
    b = bytearray(raw)
    for i in range(len(b) - 1, -1, -1):
        if b[i] != 0xFF:
            b[i] += 1
            return bytes(b[: i + 1])
    return None


def add_one_string(raw: bytes) -> bytes:
    """Successor for string-typed key components: append 0x01.  0x00 is
    reserved as the composite-key delimiter, so s+0x01 is the smallest
    *encodable* key extension strictly greater than s (bytesUtils.scala:40-46)."""
    return raw + b"\x01"


def key_successor(raw: bytes) -> bytes:
    """Successor of an arbitrary encoded key for use as an exclusive upper
    bound: append 0x00 (raw < raw+0x00 <= any strict extension)."""
    return raw + b"\x00"
