"""Pure-Python Apache Avro binary encoding + Object Container Files.

Iceberg manifests and manifest lists are Avro OCF files (Iceberg table
spec, "Manifests"); the reference gets spec-compliant metadata for free
by delegating commits to iceberg-rust
(``/root/reference/ext/iceberg/src/table.rs:62-125``) which writes Avro
via the apache-avro crate.  This environment has no Python avro package
and no ``spark-avro`` jar, so this module implements the (public, small)
Avro 1.11 binary spec directly:

- zig-zag varint ``int``/``long``; IEEE754 little-endian float/double;
  length-prefixed ``bytes``/``string``; ``fixed`` raw; ``enum`` as index;
  ``record`` as field concatenation; ``array``/``map`` as counted blocks
  with a 0 terminator (negative counts carry a block byte size); ``union``
  as zig-zag branch index then value.
- OCF: magic ``Obj\\x01``, file-metadata map (``avro.schema``,
  ``avro.codec``, arbitrary app keys — Iceberg puts ``schema``,
  ``partition-spec``, ``format-version`` … here), 16-byte sync marker,
  then data blocks of (record count, byte length, payload, sync).
  Codecs: ``null`` and ``deflate`` (raw DEFLATE, ``zlib`` wbits=-15).

The codec is COMPILED per writer schema: :func:`_compile_decoder` and
:func:`_compile_encoder` turn a schema into a tree of closures once
(field names, branch indices and struct formats resolved up front), so
per-value work is a direct call with no type dispatch.  Compiled codecs
are cached by the schema's JSON text — the ``avro.schema`` bytes of the
file being read — so a scan over many manifests sharing a handful of
schemas compiles a handful of times.

Reading uses the embedded writer schema (no reader-schema resolution —
we always read files we or another Iceberg engine wrote whole).  The
JVM-side round-trip test (tests/test_avro_manifests.py) decodes files
written here with ``org.apache.avro``'s DataFileReader from Spark's own
classpath — an independent decoder, so an encoding bug cannot hide.
"""

from __future__ import annotations

import functools
import json
import os
import struct
import zlib
from typing import Any, Callable, Iterable, Optional

MAGIC = b"Obj\x01"

# decoder: (buf, pos) -> (value, new pos); encoder: (out, value) -> None
_Decoder = Callable[[bytes, int], tuple]
_Encoder = Callable[[bytearray, Any], None]

_FLOAT = struct.Struct("<f")
_DOUBLE = struct.Struct("<d")

# --------------------------------------------------------------------------
# binary primitives
# --------------------------------------------------------------------------


def _read_long(buf: bytes, pos: int) -> tuple[int, int]:
    b = buf[pos]
    pos += 1
    acc = b & 0x7F
    shift = 7
    while b & 0x80:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


def _write_long(out: bytearray, n: int) -> None:
    # Python ints are arbitrary-width, so the usual (n << 1) ^ (n >> 63)
    # trick is wrong for negatives — use the direct formula.
    z = (n << 1) if n >= 0 else ((-n) << 1) - 1
    while z > 0x7F:
        out.append((z & 0x7F) | 0x80)
        z >>= 7
    out.append(z)


def _read_bytes(buf: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = _read_long(buf, pos)
    end = pos + n
    if n < 0 or end > len(buf):
        raise ValueError("avro: truncated input")
    return buf[pos:end], end


def _read_string(buf: bytes, pos: int) -> tuple[str, int]:
    b, pos = _read_bytes(buf, pos)
    return b.decode("utf-8"), pos


def _type_name(schema: Any) -> str:
    if isinstance(schema, str):
        return schema
    if isinstance(schema, list):
        return "union"
    return schema["type"]


# --------------------------------------------------------------------------
# schema compilation
# --------------------------------------------------------------------------

_PRIMITIVE_DECODERS: dict[str, _Decoder] = {
    "null": lambda buf, pos: (None, pos),
    "boolean": lambda buf, pos: (buf[pos] == 1, pos + 1),
    "int": _read_long,
    "long": _read_long,
    "float": lambda buf, pos: (_FLOAT.unpack_from(buf, pos)[0], pos + 4),
    "double": lambda buf, pos: (_DOUBLE.unpack_from(buf, pos)[0], pos + 8),
    "bytes": _read_bytes,
    "string": _read_string,
}


def _compile_decoder(schema: Any, names: dict[str, Callable]) -> _Decoder:
    t = _type_name(schema)
    if t in _PRIMITIVE_DECODERS:
        return _PRIMITIVE_DECODERS[t]
    if isinstance(schema, str):
        # a record/enum/fixed named earlier in the schema (recursive types
        # are not supported: Iceberg schemas have none)
        if schema not in names:
            raise TypeError(f"avro: unsupported schema {schema!r}")
        return names[schema]
    if t == "union":
        branches = [_compile_decoder(s, names) for s in schema]
        if len(branches) == 2 and _type_name(schema[0]) == "null":
            # Iceberg's optional field: branch 0 (null) or 1, each one
            # zig-zag byte (0x00 / 0x02)
            some = branches[1]

            def dec_opt(buf, pos):
                b = buf[pos]
                if b == 0:
                    return None, pos + 1
                if b == 2:
                    return some(buf, pos + 1)
                raise ValueError(f"avro: union branch byte {b} out of range")

            return dec_opt

        def dec_union(buf, pos):
            i, pos = _read_long(buf, pos)
            if not 0 <= i < len(branches):
                raise ValueError(f"avro: union branch {i} out of range")
            return branches[i](buf, pos)

        return dec_union
    if t in ("array", "map"):
        # counted blocks up to a 0 terminator; a negative count is followed
        # by the block's byte size, which is skipped
        is_array = t == "array"
        if is_array:
            item = _compile_decoder(schema["items"], names)
        else:
            value = _compile_decoder(schema["values"], names)

            def item(buf, pos):
                k, pos = _read_string(buf, pos)
                v, pos = value(buf, pos)
                return (k, v), pos

        def dec_blocks(buf, pos):
            out = []
            while True:
                n, pos = _read_long(buf, pos)
                if n == 0:
                    return (out if is_array else dict(out)), pos
                if n < 0:
                    n = -n
                    _, pos = _read_long(buf, pos)
                for _ in range(n):
                    v, pos = item(buf, pos)
                    out.append(v)

        return dec_blocks
    if t == "fixed":
        size = schema["size"]

        def dec(buf, pos):
            end = pos + size
            if end > len(buf):
                raise ValueError("avro: truncated input")
            return buf[pos:end], end

    elif t == "enum":
        symbols = tuple(schema["symbols"])

        def dec(buf, pos):
            i, pos = _read_long(buf, pos)
            if not 0 <= i < len(symbols):
                raise ValueError(f"avro: enum index {i} out of range")
            return symbols[i], pos

    elif t == "record":
        fields = [
            (f["name"], _compile_decoder(f["type"], names)) for f in schema["fields"]
        ]

        def dec(buf, pos):
            out = {}
            for name, fdec in fields:
                out[name], pos = fdec(buf, pos)
            return out, pos

    else:
        raise TypeError(f"avro: unsupported schema {schema!r}")
    names[schema["name"]] = dec
    return dec


def _enc_null(out, value):
    if value is not None:
        raise TypeError(f"avro: expected null, got {value!r}")


def _enc_bytes(out, value):
    b = value.encode("utf-8") if isinstance(value, str) else bytes(value)
    _write_long(out, len(b))
    out += b


_PRIMITIVE_ENCODERS: dict[str, _Encoder] = {
    "null": _enc_null,
    "boolean": lambda out, value: out.append(1 if value else 0),
    "int": lambda out, value: _write_long(out, int(value)),
    "long": lambda out, value: _write_long(out, int(value)),
    "float": lambda out, value: out.extend(_FLOAT.pack(float(value))),
    "double": lambda out, value: out.extend(_DOUBLE.pack(float(value))),
    "bytes": _enc_bytes,
    "string": _enc_bytes,
}


def _compile_encoder(schema: Any, names: dict[str, Callable]) -> _Encoder:
    t = _type_name(schema)
    if t in _PRIMITIVE_ENCODERS:
        return _PRIMITIVE_ENCODERS[t]
    if isinstance(schema, str):
        if schema not in names:
            raise TypeError(f"avro: unsupported schema {schema!r}")
        return names[schema]
    if t == "union":
        # Iceberg unions are always ``["null", X]`` (optional fields), so
        # None→null and anything else→the first non-null branch
        kinds = [_type_name(s) for s in schema]
        branches = [_compile_encoder(s, names) for s in schema]
        null_i = kinds.index("null") if "null" in kinds else None
        some_i = next((i for i, k in enumerate(kinds) if k != "null"), None)
        some = branches[some_i] if some_i is not None else None

        def enc_union(out, value):
            if value is None:
                if null_i is None:
                    raise TypeError("avro: None for non-nullable union")
                _write_long(out, null_i)
            elif some is None:
                raise TypeError(f"avro: no branch for {value!r} in {schema!r}")
            else:
                _write_long(out, some_i)
                some(out, value)

        return enc_union
    if t in ("array", "map"):
        is_array = t == "array"
        item = _compile_encoder(schema["items" if is_array else "values"], names)

        def enc_blocks(out, value):
            items = list(value or []) if is_array else dict(value or {})
            if items:
                _write_long(out, len(items))
                if is_array:
                    for it in items:
                        item(out, it)
                else:
                    for k, v in items.items():
                        _enc_bytes(out, str(k))
                        item(out, v)
            out.append(0)

        return enc_blocks
    if t == "fixed":
        size = schema["size"]

        def enc(out, value):
            b = bytes(value)
            if len(b) != size:
                raise TypeError(f"avro: fixed size {size} != {len(b)}")
            out += b

    elif t == "enum":
        index = {s: i for i, s in enumerate(schema["symbols"])}

        def enc(out, value):
            if value not in index:
                raise ValueError(f"avro: {value!r} is not an enum symbol")
            _write_long(out, index[value])

    elif t == "record":
        # a missing field takes its declared default, else null
        fields = [
            (f["name"], _compile_encoder(f["type"], names), f.get("default"))
            for f in schema["fields"]
        ]

        def enc(out, value):
            for name, fenc, default in fields:
                fenc(out, value[name] if name in value else default)

    else:
        raise TypeError(f"avro: unsupported schema {schema!r}")
    names[schema["name"]] = enc
    return enc


@functools.lru_cache(maxsize=256)
def _decoder_for(schema_json: bytes) -> _Decoder:
    return _compile_decoder(json.loads(schema_json), {})


@functools.lru_cache(maxsize=256)
def _encoder_for(schema_json: str) -> _Encoder:
    return _compile_encoder(json.loads(schema_json), {})


# --------------------------------------------------------------------------
# object container files
# --------------------------------------------------------------------------

_decode_meta = _compile_decoder({"type": "map", "values": "bytes"}, {})
_encode_meta = _compile_encoder({"type": "map", "values": "bytes"}, {})


def write_ocf(
    schema: dict[str, Any],
    records: Iterable[dict[str, Any]],
    metadata: Optional[dict[str, str]] = None,
    codec: str = "deflate",
    sync: Optional[bytes] = None,
) -> bytes:
    """Serialize ``records`` under ``schema`` into one OCF byte string.
    Manifests are single-digit-KB to low-MB — one data block is fine (the
    spec allows any blocking; readers stream blocks regardless)."""
    schema_json = json.dumps(schema)
    enc = _encoder_for(schema_json)
    body = bytearray()
    count = 0
    for rec in records:
        enc(body, rec)
        count += 1
    payload = body
    if codec == "deflate":
        comp = zlib.compressobj(9, zlib.DEFLATED, -15)
        payload = comp.compress(body) + comp.flush()
    elif codec != "null":
        raise ValueError(f"avro: unsupported codec {codec!r}")

    meta = {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()}
    for k, v in (metadata or {}).items():
        meta[k] = v.encode() if isinstance(v, str) else bytes(v)
    sync = sync or os.urandom(16)
    out = bytearray(MAGIC)
    _encode_meta(out, meta)
    out += sync
    if count:
        _write_long(out, count)
        _write_long(out, len(payload))
        out += payload
        out += sync
    return bytes(out)


def read_ocf(data: bytes) -> tuple[dict[str, Any], list[dict[str, Any]], dict[str, bytes]]:
    """→ (writer schema, records, file metadata).  Raises ``ValueError``
    on malformed input: bad magic, truncation, a sync-marker mismatch or
    an unknown codec."""
    data = bytes(data)
    if data[:4] != MAGIC:
        raise ValueError("avro: bad magic")
    try:
        meta, pos = _decode_meta(data, 4)
        dec = _decoder_for(meta["avro.schema"])
        codec = meta.get("avro.codec", b"null").decode()
        if codec not in ("null", "deflate"):
            raise ValueError(f"avro: unsupported codec {codec!r}")
        sync = data[pos : pos + 16]
        if len(sync) != 16:
            raise ValueError("avro: truncated input")
        pos += 16
        records: list[dict[str, Any]] = []
        while pos < len(data):
            n, pos = _read_long(data, pos)
            block, pos = _read_bytes(data, pos)
            if codec == "deflate":
                block = zlib.decompress(block, -15)
            bpos = 0
            for _ in range(n):
                rec, bpos = dec(block, bpos)
                records.append(rec)
            if data[pos : pos + 16] != sync:
                raise ValueError("avro: sync marker mismatch")
            pos += 16
    except (IndexError, struct.error) as exc:
        raise ValueError("avro: truncated input") from exc
    except KeyError as exc:
        raise ValueError(f"avro: missing file metadata {exc}") from exc
    return json.loads(meta["avro.schema"]), records, meta
