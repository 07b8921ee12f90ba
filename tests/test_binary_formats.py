"""Property-based round trips for the two hand-rolled binary containers
(Avro OCF in avro_file.py, Puffin in puffin.py).  Neither module touches
Spark, so these run fast and shake the encoders with adversarial values
— negative zigzag longs, empty/unicode strings, null unions, random
binary payloads — beyond what the fixture-driven tests reach."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from iceberg_ruby_spark.avro_file import read_ocf, write_ocf
from iceberg_ruby_spark.puffin import (
    footer_size,
    read_puffin,
    write_puffin,
)

_SCHEMA = {
    "type": "record",
    "name": "row",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "flag", "type": "boolean"},
        {"name": "name", "type": ["null", "string"], "default": None},
        {"name": "payload", "type": ["null", "bytes"], "default": None},
        {"name": "score", "type": "double"},
        {"name": "tags", "type": {"type": "array", "items": "long"}},
    ],
}

_row = st.fixed_dictionaries(
    {
        "id": st.integers(min_value=-(2**63), max_value=2**63 - 1),
        "flag": st.booleans(),
        "name": st.one_of(st.none(), st.text(max_size=40)),
        "payload": st.one_of(st.none(), st.binary(max_size=64)),
        "score": st.floats(allow_nan=False, width=64),
        "tags": st.lists(
            st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=8
        ),
    }
)


@settings(max_examples=60, deadline=None)
@given(rows=st.lists(_row, max_size=25), codec=st.sampled_from(["null", "deflate"]))
def test_ocf_roundtrip(rows, codec):
    meta = {"k": "v", "n": "42"}
    data = write_ocf(_SCHEMA, rows, metadata=meta, codec=codec)
    schema, back, file_meta = read_ocf(data)
    assert schema["name"] == "row"
    assert back == rows
    assert file_meta["k"] == b"v" and file_meta["n"] == b"42"


# every type the codec supports, nested: record in record, arrays of
# records, maps of optional values, named-type references
_ALL_TYPES = {
    "type": "record",
    "name": "all_types",
    "fields": [
        {"name": "n", "type": "null"},
        {"name": "b", "type": "boolean"},
        {"name": "i", "type": "int"},
        {"name": "l", "type": "long"},
        {"name": "f", "type": "float"},
        {"name": "d", "type": "double"},
        {"name": "raw", "type": "bytes"},
        {"name": "s", "type": "string"},
        {"name": "fx", "type": {"type": "fixed", "name": "md5", "size": 16}},
        {"name": "e", "type": {"type": "enum", "name": "op", "symbols": ["A", "B", "C"]}},
        {"name": "opt_s", "type": ["null", "string"]},
        {"name": "opt_l", "type": ["null", "long"]},
        {"name": "fx2", "type": ["null", "md5"]},
        {
            "name": "inner",
            "type": {
                "type": "record",
                "name": "inner_r",
                "fields": [
                    {"name": "k", "type": "int"},
                    {"name": "op2", "type": "op"},
                    {"name": "xs", "type": {"type": "array", "items": "double"}},
                ],
            },
        },
        {"name": "rs", "type": {"type": "array", "items": "inner_r"}},
        {"name": "m", "type": {"type": "map", "values": ["null", "bytes"]}},
    ],
}

_long = st.integers(min_value=-(2**63), max_value=2**63 - 1)
_int = st.integers(min_value=-(2**31), max_value=2**31 - 1)
_inner = st.fixed_dictionaries(
    {
        "k": _int,
        "op2": st.sampled_from(["A", "B", "C"]),
        "xs": st.lists(st.floats(allow_nan=False), max_size=4),
    }
)
_all_row = st.fixed_dictionaries(
    {
        "n": st.none(),
        "b": st.booleans(),
        "i": _int,
        "l": _long,
        "f": st.floats(allow_nan=False, width=32),
        "d": st.floats(allow_nan=False),
        "raw": st.binary(max_size=40),
        "s": st.text(max_size=20),
        "fx": st.binary(min_size=16, max_size=16),
        "e": st.sampled_from(["A", "B", "C"]),
        "opt_s": st.one_of(st.none(), st.text(max_size=8)),
        "opt_l": st.one_of(st.none(), _long),
        "fx2": st.one_of(st.none(), st.binary(min_size=16, max_size=16)),
        "inner": _inner,
        "rs": st.lists(_inner, max_size=3),
        "m": st.dictionaries(
            st.text(max_size=6), st.one_of(st.none(), st.binary(max_size=8)), max_size=4
        ),
    }
)


@settings(max_examples=60, deadline=None)
@given(rows=st.lists(_all_row, max_size=12), codec=st.sampled_from(["null", "deflate"]))
def test_ocf_roundtrip_every_type(rows, codec):
    data = write_ocf(_ALL_TYPES, rows, codec=codec)
    schema, back, _ = read_ocf(data)
    assert schema == _ALL_TYPES
    assert back == rows


def _long_bytes(n):
    z = (n << 1) if n >= 0 else ((-n) << 1) - 1
    out = bytearray()
    while z > 0x7F:
        out.append((z & 0x7F) | 0x80)
        z >>= 7
    out.append(z)
    return bytes(out)


def test_ocf_sized_blocks_with_negative_counts():
    """Arrays and maps in the spec's sized-block form (a negative item
    count followed by the block's byte size), as other writers emit
    them, decode like plain counted blocks."""
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "xs", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "int"}},
        ],
    }
    sync = bytes(range(16))
    header = write_ocf(schema, [], codec="null", sync=sync)
    items = _long_bytes(5) + _long_bytes(-1)
    entry = _long_bytes(1) + b"a" + _long_bytes(3)
    payload = (
        _long_bytes(-2) + _long_bytes(len(items)) + items  # sized block
        + _long_bytes(1) + _long_bytes(7)  # plain block
        + b"\x00"
        + _long_bytes(-1) + _long_bytes(len(entry)) + entry + b"\x00"
    )
    block = _long_bytes(1) + _long_bytes(len(payload)) + payload + sync
    _, back, _ = read_ocf(header + block)
    assert back == [{"xs": [5, -1, 7], "m": {"a": 3}}]


def test_ocf_malformed_input_raises():
    rows = [{"id": i, "flag": True, "name": "x" * i, "payload": None,
             "score": 1.5, "tags": [i]} for i in range(20)]
    for codec in ("null", "deflate"):
        data = write_ocf(_SCHEMA, rows, codec=codec)
        assert read_ocf(data)[1] == rows
        for cut in (3, 10, len(data) // 2, len(data) - 17, len(data) - 1):
            with pytest.raises(ValueError):
                read_ocf(data[:cut])
        flipped = bytearray(data)
        flipped[-1] ^= 0xFF  # trailing sync marker of the only block
        with pytest.raises(ValueError, match="sync"):
            read_ocf(bytes(flipped))
    with pytest.raises(ValueError, match="codec"):
        write_ocf(_SCHEMA, rows, codec="snappy-ish")
    bad = write_ocf(_SCHEMA, rows, codec="null").replace(b"\x08null", b"\x08zstd", 1)
    with pytest.raises(ValueError, match="codec"):
        read_ocf(bad)
    fixed = {"type": "record", "name": "f", "fields": [
        {"name": "h", "type": {"type": "fixed", "name": "h16", "size": 16}}]}
    with pytest.raises(TypeError, match="fixed size"):
        write_ocf(fixed, [{"h": b"short"}])


_blob = st.fixed_dictionaries(
    {
        "type": st.sampled_from(["t-a", "t-b", "t-c"]),
        "fields": st.lists(st.integers(min_value=1, max_value=500), max_size=4),
        "snapshot-id": st.integers(min_value=0, max_value=2**62),
        "sequence-number": st.integers(min_value=0, max_value=10_000),
        "payload": st.binary(max_size=128),
        "properties": st.dictionaries(
            st.text(min_size=1, max_size=8), st.text(max_size=8), max_size=3
        ),
    }
)


@settings(max_examples=60, deadline=None)
@given(blobs=st.lists(_blob, max_size=8), props=st.dictionaries(st.text(min_size=1, max_size=8), st.text(max_size=8), max_size=3))
def test_puffin_roundtrip(blobs, props):
    data = write_puffin(blobs, props)
    assert data[:4] == b"PFA1" and data[-4:] == b"PFA1"
    back, file_props = read_puffin(data)
    assert file_props == props
    assert len(back) == len(blobs)
    for orig, got in zip(blobs, back):
        assert got["payload"] == orig["payload"]
        assert got["type"] == orig["type"]
        assert got["fields"] == orig["fields"]
        assert got["snapshot-id"] == orig["snapshot-id"]
        assert got["properties"] == orig["properties"]
    # footer size arithmetic holds for any payload mix
    assert 0 < footer_size(data) < len(data)
