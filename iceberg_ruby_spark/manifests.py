"""Iceberg-spec Avro manifests and manifest lists — the engine's only
manifest format.

The reference's tables are readable by any Iceberg engine because
iceberg-rust writes spec Avro metadata on commit
(``/root/reference/ext/iceberg/src/table.rs:62-125``) and plans scans
from it (``ext/iceberg/src/scan.rs:36-51``).  This engine does the same:
every commit writes

- ``metadata/<uuid>-m<N>.avro``          — one data manifest (content=0)
  and, when merge-on-read delete files exist, one deletes manifest
  (content=1) **per partition spec the entries were written under**:
  each entry records its ``spec-id`` at write time, its hive path parses
  against that spec's field names, and partition field-ids are allocated
  uniquely across spec evolution (table.py ``update_spec``) — so external
  readers prune correctly after the spec changes
- ``metadata/snap-<snapshot-id>-<uuid>.avro`` — manifest list

as Avro object-container files matching the Iceberg table-spec v2
structures: ``manifest_entry``/``data_file`` records with spec field ids
(status=1 ADDED, sequence numbers inherited from the list entry),
``manifest_file`` list records (fields 500-519), file metadata carrying
``schema`` / ``partition-spec`` / ``format-version`` / ``content``, and
lower/upper bounds as ``map<field-id, binary>`` in Iceberg's
single-value binary serialization (little-endian ints/longs/floats,
date as int days, timestamp as long micros, decimal as minimal
big-endian unscaled).  ``tests/test_avro_manifests.py`` decodes the
files with the JVM's own ``org.apache.avro`` DataFileReader from
Spark's classpath — an independent decoder, so the encoding is checked
against something this repo didn't write.

Documented deviations from a fully-interoperable Iceberg table (the
engine is honest about what stays internal):

- Merge-on-read delete artifacts are spec-shaped since round 5:
  positional deletes are individual parquet files with the reserved
  field ids (2147483546/2147483545), full data-file paths, and
  (file_path, pos) sort, one ``content=1`` entry per file; equality
  deletes are per-file ``content=2`` entries whose key columns carry
  their Iceberg field ids in the footers and whose ``record_count`` is
  the delete file's own row count (tests/test_avro_manifests.py).
  V3 DELETION VECTORS (``mode="merge-on-read-dv"``) store spec-exact
  Puffin ``deletion-vector-v1`` blobs (portable 64-bit roaring,
  byte-identical to the JVM codec; ``deletion_vectors.py``) with
  ``file_format=PUFFIN`` entries.  On format-version 3 tables the
  manifests are v3-shaped: the spec fields 142-145 (``first_row_id``,
  ``referenced_data_file``/``content_offset``/``content_size_in_bytes``)
  carry row-lineage range starts and DV blob coordinates in real slots
  — an external v3 reader fetches one vector straight from the manifest
  (tests/support/spec_reader.py does, cross-checking the Puffin footer),
  and ``x-irs`` keeps only the location-RELATIVE referenced path (the
  rename-survival twin of ``rel``).  On v2 tables those fields have no
  slot, so the coordinates ride ``x-irs`` and readers fall back to
  Puffin-footer discovery.
- Engine-internal state a spec reader has no slot for — per-entry
  schema-id and spec-id, location-relative paths (tables survive
  ``rename_table``), a positional delete's ``applies-to`` file list, an
  equality delete's column names and ``key-bounds`` pruning hint — rides
  in one app metadata key (``x-irs``) per file, which spec readers
  ignore by contract.  None of it changes what a row's visibility is: an
  equality delete applies by the spec's sequence rule alone, exactly as
  a spec reader applies it.  (Data-file parquet footers DO carry Iceberg
  field-ids — ``parquet.field.id`` written via Spark's fieldId support,
  tests/test_parquet_field_ids.py — so spec readers column-map renamed
  tables without the extras.)
- The table metadata pointer file stays JSON (``v<N>.json``), as in the
  Iceberg spec itself.

The table property ``write.metadata.manifest-format`` has one legal
value, ``avro`` (also the default); any other value fails the commit
(``table.Table._manifest_ctx``).
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import json
import math
import os
import re
import struct
import urllib.parse
import uuid as _uuid
from dataclasses import dataclass
from typing import Any, Optional

from iceberg_ruby_spark import types as ice_t
from iceberg_ruby_spark.avro_file import read_ocf, write_ocf
from iceberg_ruby_spark.errors import InvalidDataError
from iceberg_ruby_spark.transforms import (
    BucketTransform,
    DayTransform,
    HourTransform,
    IdentityTransform,
    MonthTransform,
    TruncateTransform,
    VoidTransform,
    YearTransform,
    parse_transform,
)

MANIFEST_FORMAT_PROPERTY = "write.metadata.manifest-format"

_EXTRAS_KEY = "x-irs"

# Fast-append list-length bound: an append commit REUSES the parent
# snapshot's manifest files and adds one delta manifest (commit metadata
# cost O(new files), not O(table files)); once the manifest list holds
# this many manifests the smallest are merged into the new commit's
# manifest — size-tiered, like Iceberg's commit.manifest.min-count-to-merge
# behavior, so scan planning opens a bounded number of metadata files while
# large manifests are almost never rewritten (write_avro_manifests).
MANIFEST_SEGMENT_CAP = 32
_EPOCH_DT = _dt.datetime(1970, 1, 1)
_EPOCH_DATE = _dt.date(1970, 1, 1)


@dataclass
class ManifestContext:
    """Everything the Avro writer needs beyond the entry dicts."""

    schemas_by_id: dict[int, ice_t.Schema]
    current_schema_id: int
    spec_fields: list[dict[str, Any]]
    spec_id: int
    sequence_number: int
    parent_snapshot_id: Optional[int]
    # every spec the table has had (spec-id → partition-field json list):
    # entries are grouped into one manifest per spec they were written
    # under, so partition tuples parse against the right field names
    specs_by_id: dict[int, list] = None  # type: ignore[assignment]
    # table format-version: v3 manifests carry the spec's v3 fields
    # (first_row_id 142, referenced_data_file 143, content_offset 144,
    # content_size_in_bytes 145) so row lineage and deletion-vector
    # coordinates live in real spec slots instead of ``x-irs``
    format_version: int = 2

    def __post_init__(self) -> None:
        if self.specs_by_id is None:
            self.specs_by_id = {self.spec_id: self.spec_fields}


# --------------------------------------------------------------------------
# Iceberg single-value binary serialization (spec "Binary single-value
# serialization") for bound maps
# --------------------------------------------------------------------------


def bound_to_bytes(value: Any, t: Optional[ice_t.Type]) -> Optional[bytes]:
    """A value of column type ``t`` — typed, or its JSON stat form — in the
    spec's single-value binary form."""
    if value is None or t is None:
        return None
    if isinstance(value, str) and not isinstance(t, ice_t.StringType):
        value = parse_value(value, t)
    v = _spec_encode(value, t)
    if isinstance(t, ice_t.BooleanType):
        return b"\x01" if v else b"\x00"
    if isinstance(t, (ice_t.IntType, ice_t.DateType)):
        return struct.pack("<i", int(v))
    if isinstance(t, (ice_t.LongType, ice_t.TimestampType, ice_t.TimestampTzType)):
        return struct.pack("<q", int(v))
    if isinstance(t, ice_t.FloatType):
        return struct.pack("<f", float(v))
    if isinstance(t, ice_t.DoubleType):
        return struct.pack("<d", float(v))
    if isinstance(t, ice_t.DecimalType):
        return v
    if isinstance(t, ice_t.StringType):
        return str(v).encode("utf-8")
    raise InvalidDataError(f"no single-value serialization for {t!r}")


def bound_from_bytes(b: bytes, t: ice_t.Type) -> Any:
    """Inverse of :func:`bound_to_bytes`, producing the same JSON-safe form
    the engine stores in its internal entries (:func:`stat_value`)."""
    if isinstance(t, ice_t.BooleanType):
        return b == b"\x01"
    if isinstance(t, ice_t.IntType):
        return struct.unpack("<i", b)[0]
    if isinstance(t, ice_t.LongType):
        return struct.unpack("<q", b)[0]
    if isinstance(t, ice_t.FloatType):
        return struct.unpack("<f", b)[0]
    if isinstance(t, ice_t.DoubleType):
        return struct.unpack("<d", b)[0]
    if isinstance(t, ice_t.DateType):
        return (_EPOCH_DATE + _dt.timedelta(days=struct.unpack("<i", b)[0])).isoformat()
    if isinstance(t, (ice_t.TimestampNanoType, ice_t.TimestampTzNanoType)):
        return struct.unpack("<q", b)[0]
    if isinstance(t, (ice_t.TimestampType, ice_t.TimestampTzType)):
        micros = struct.unpack("<q", b)[0]
        return (_EPOCH_DT + _dt.timedelta(microseconds=micros)).isoformat()
    if isinstance(t, ice_t.DecimalType):
        unscaled = int.from_bytes(b, "big", signed=True)
        return str(_decimal.Decimal(unscaled).scaleb(-t.scale))
    if isinstance(t, ice_t.StringType):
        return b.decode("utf-8")
    raise InvalidDataError(f"no single-value deserialization for {t!r}")


# --------------------------------------------------------------------------
# Avro schema builders (spec v2 structures, field-id annotated)
# --------------------------------------------------------------------------


def _opt(t: Any) -> list:
    return ["null", t]


def _kv_map(record_name: str, key_id: int, value_id: int, value_type: Any) -> list:
    """Iceberg encodes ``map<int, X>`` as an array of key/value records
    (Avro maps require string keys)."""
    return _opt(
        {
            "type": "array",
            "logicalType": "map",
            "items": {
                "type": "record",
                "name": record_name,
                "fields": [
                    {"name": "key", "type": "int", "field-id": key_id},
                    {"name": "value", "type": value_type, "field-id": value_id},
                ],
            },
        }
    )


def _result_type(transform: Any, source: ice_t.Type) -> ice_t.Type:
    if isinstance(transform, DayTransform):
        # spec: day() results are dates (int days since epoch, Avro
        # logical date) — the engine's directories hold ISO date strings
        return ice_t.DateType()
    if isinstance(transform, (BucketTransform, YearTransform, MonthTransform,
                              HourTransform)):
        return ice_t.IntType()
    if isinstance(transform, (IdentityTransform, TruncateTransform, VoidTransform)):
        return source
    return source


def _avro_prim(t: ice_t.Type) -> Any:
    if isinstance(t, ice_t.BooleanType):
        return "boolean"
    if isinstance(t, ice_t.IntType):
        return "int"
    if isinstance(t, ice_t.LongType):
        return "long"
    if isinstance(t, ice_t.FloatType):
        return "float"
    if isinstance(t, ice_t.DoubleType):
        return "double"
    if isinstance(t, ice_t.DateType):
        return {"type": "int", "logicalType": "date"}
    if isinstance(t, (ice_t.TimestampNanoType, ice_t.TimestampTzNanoType)):
        return "long"
    if isinstance(t, (ice_t.TimestampType, ice_t.TimestampTzType)):
        return {"type": "long", "logicalType": "timestamp-micros"}
    if isinstance(t, ice_t.DecimalType):
        return {
            "type": "bytes",
            "logicalType": "decimal",
            "precision": t.precision,
            "scale": t.scale,
        }
    return "string"


def _sanitize(name: str) -> str:
    out = "".join(c if c.isalnum() or c == "_" else "_" for c in name)
    return out if out and not out[0].isdigit() else f"_{out}"


def _partition_fields(
    ctx: ManifestContext, spec_id: Optional[int] = None
) -> list[dict[str, Any]]:
    """Resolved partition fields for one spec: (avro name, result type,
    source field).  Field ids honor the per-field ``field-id`` the table
    metadata allocates uniquely across spec evolution (table.py
    ``update_spec``); specs predating that allocation fall back to the
    spec's initial ``1000 + i`` numbering."""
    schema = ctx.schemas_by_id.get(ctx.current_schema_id)
    fields = ctx.specs_by_id.get(
        ctx.spec_id if spec_id is None else spec_id, ctx.spec_fields
    )
    out = []
    for i, pf in enumerate(fields):
        tr = parse_transform(pf.get("transform", "identity"))
        src = schema.field_by_name(pf["source"]) if schema else None
        name = pf.get("name") or tr.result_name(pf["source"])
        rt = _result_type(tr, src.field_type if src else ice_t.StringType())
        out.append(
            {
                "name": name,
                "avro_name": _sanitize(name),
                "type": rt,
                "source_id": src.field_id if src else -1,
                "transform": tr.spec_string(),
                "field_id": pf.get("field-id", 1000 + i),
            }
        )
    return out


def _partition_record_schema(pfields: list[dict[str, Any]]) -> dict[str, Any]:
    return {
        "type": "record",
        "name": "r102",
        "fields": [
            {
                "name": p["avro_name"],
                "type": _opt(_avro_prim(p["type"])),
                "default": None,
                "field-id": p["field_id"],
            }
            for p in pfields
        ],
    }


def manifest_entry_schema(
    pfields: list[dict[str, Any]], format_version: int = 2
) -> dict[str, Any]:
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition", "type": _partition_record_schema(pfields), "field-id": 102},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
            {"name": "column_sizes", "type": _kv_map("k117_v118", 117, 118, "long"),
             "default": None, "field-id": 105},
            {"name": "value_counts", "type": _kv_map("k119_v120", 119, 120, "long"),
             "default": None, "field-id": 106},
            {"name": "null_value_counts", "type": _kv_map("k121_v122", 121, 122, "long"),
             "default": None, "field-id": 107},
            {"name": "nan_value_counts", "type": _kv_map("k138_v139", 138, 139, "long"),
             "default": None, "field-id": 137},
            {"name": "lower_bounds", "type": _kv_map("k126_v127", 126, 127, "bytes"),
             "default": None, "field-id": 125},
            {"name": "upper_bounds", "type": _kv_map("k129_v130", 129, 130, "bytes"),
             "default": None, "field-id": 128},
            {"name": "key_metadata", "type": _opt("bytes"), "default": None, "field-id": 131},
            {"name": "split_offsets",
             "type": _opt({"type": "array", "items": "long", "element-id": 133}),
             "default": None, "field-id": 132},
            {"name": "equality_ids",
             "type": _opt({"type": "array", "items": "int", "element-id": 136}),
             "default": None, "field-id": 135},
            {"name": "sort_order_id", "type": _opt("int"), "default": None, "field-id": 140},
        ],
    }
    if format_version >= 3:
        # v3 spec fields: row-lineage range start for data files and
        # deletion-vector blob coordinates for Puffin delete entries
        data_file["fields"].extend(
            [
                {"name": "first_row_id", "type": _opt("long"), "default": None,
                 "field-id": 142},
                {"name": "referenced_data_file", "type": _opt("string"),
                 "default": None, "field-id": 143},
                {"name": "content_offset", "type": _opt("long"), "default": None,
                 "field-id": 144},
                {"name": "content_size_in_bytes", "type": _opt("long"),
                 "default": None, "field-id": 145},
            ]
        )
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": _opt("long"), "default": None, "field-id": 1},
            {"name": "sequence_number", "type": _opt("long"), "default": None, "field-id": 3},
            {"name": "file_sequence_number", "type": _opt("long"), "default": None,
             "field-id": 4},
            {"name": "data_file", "type": data_file, "field-id": 2},
        ],
    }


MANIFEST_LIST_SCHEMA: dict[str, Any] = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        {
            "name": "partitions",
            "type": _opt(
                {
                    "type": "array",
                    "element-id": 508,
                    "items": {
                        "type": "record",
                        "name": "r508",
                        "fields": [
                            {"name": "contains_null", "type": "boolean", "field-id": 509},
                            {"name": "contains_nan", "type": _opt("boolean"),
                             "default": None, "field-id": 518},
                            {"name": "lower_bound", "type": _opt("bytes"),
                             "default": None, "field-id": 510},
                            {"name": "upper_bound", "type": _opt("bytes"),
                             "default": None, "field-id": 511},
                        ],
                    },
                }
            ),
            "default": None,
            "field-id": 507,
        },
        {"name": "key_metadata", "type": _opt("bytes"), "default": None, "field-id": 519},
    ],
}


# --------------------------------------------------------------------------
# partition values from hive-style data paths
# --------------------------------------------------------------------------

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

_INT_SPELLING = re.compile(r"[+-]?\d+")
_DECIMAL_SPELLING = re.compile(r"[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?")
_FLOAT_SPELLING = re.compile(r"[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?|NaN|[+-]?Infinity")
_DATE_SPELLING = re.compile(r"(\d{4})-(\d{2})-(\d{2})")
_TS_SPELLING = re.compile(
    r"(\d{4})-(\d{2})-(\d{2})(?:[ T](\d{2}):(\d{2})(?::(\d{2})(?:\.(\d{1,6}))?)?)?"
    r"(Z|[+-]\d{2}:\d{2})?"
)
# exact for every decimal(38, s) value and its rescaling
_DECIMAL_CTX = _decimal.Context(prec=80)


def parse_value(raw: str, t: ice_t.Type) -> Any:
    """``raw`` as a value of column type ``t`` — the one typed parser of
    directory values, stored bound strings and quoted filter literals.

    It reads a spelling only where Spark's ANSI-off cast of that string
    to ``t`` certainly yields the value returned, and raises ValueError
    for every other spelling (Spark's null, truncation and rounding
    cases among them), so no caller guesses: ints and longs in range;
    ``true``/``false``; decimal and float digits (floats rounded to
    float precision); a decimal holding no more digits than ``t`` has,
    at its scale; a date ``YYYY-MM-DD``, optionally followed by a space
    or ``T`` and anything (Spark ignores the rest); a timestamp
    ``YYYY-MM-DD[( |T)HH:MM[:SS[.ffffff]]]`` as a naive datetime — with
    a ``Z`` / ``±HH:MM`` offset only for ``timestamptz``, normalized to
    UTC, the session zone.  Nanosecond timestamps are longs; strings and
    the types without a spelling rule come back unchanged."""
    if isinstance(t, ice_t.BooleanType):
        if raw in ("true", "false"):
            return raw == "true"
    elif isinstance(
        t,
        (ice_t.IntType, ice_t.LongType, ice_t.TimestampNanoType,
         ice_t.TimestampTzNanoType),
    ):
        if _INT_SPELLING.fullmatch(raw):
            v = int(raw)
            lim = 2**31 if isinstance(t, ice_t.IntType) else 2**63
            if -lim <= v < lim:
                return v
    elif isinstance(t, (ice_t.FloatType, ice_t.DoubleType)):
        if _FLOAT_SPELLING.fullmatch(raw):
            v = float(raw)
            if isinstance(t, ice_t.FloatType):
                v = struct.unpack("<f", struct.pack("<f", v))[0]
            return v
    elif isinstance(t, ice_t.DecimalType):
        if _DECIMAL_SPELLING.fullmatch(raw):
            unscaled = _decimal.Decimal(raw).scaleb(t.scale, _DECIMAL_CTX)
            if unscaled == unscaled.to_integral_value() and (
                abs(unscaled) < 10**t.precision
            ):
                return _decimal.Decimal(int(unscaled)).scaleb(-t.scale, _DECIMAL_CTX)
    elif isinstance(t, ice_t.DateType):
        m = _DATE_SPELLING.match(raw)
        if m and (m.end() == len(raw) or raw[m.end()] in " T"):
            return _dt.date(*map(int, m.groups()))
    elif isinstance(t, (ice_t.TimestampType, ice_t.TimestampTzType)):
        m = _TS_SPELLING.fullmatch(raw)
        if m and (m[8] is None or isinstance(t, ice_t.TimestampTzType)):
            y, mo, d, h, mi, s, frac = (int(x or 0) for x in m.groups()[:7])
            v = _dt.datetime(y, mo, d, h, mi, s, int((m[7] or "0").ljust(6, "0")))
            if m[8] not in (None, "Z"):
                off = int(m[8][1:3]) * 60 + int(m[8][4:])
                if off > 18 * 60:
                    raise ValueError(f"offset out of range: {raw!r}")
                v -= _dt.timedelta(minutes=off if m[8][0] == "+" else -off)
            return v
    else:
        return raw
    raise ValueError(f"not a {t!r} spelling: {raw!r}")


def _spec_encode(v: Any, t: ice_t.Type) -> Any:
    """A typed value of column type ``t`` (:func:`parse_value`) in the
    form the spec stores it in a partition tuple, and the payload of its
    single-value binary form: dates as days, timestamps as micros (an
    aware one taken to UTC; nanosecond timestamps are longs already),
    decimals as unscaled big-endian bytes."""
    if v is None:
        return None
    if isinstance(t, ice_t.DateType):
        return (v - _EPOCH_DATE).days
    if isinstance(t, (ice_t.TimestampNanoType, ice_t.TimestampTzNanoType)):
        return v
    if isinstance(t, (ice_t.TimestampType, ice_t.TimestampTzType)):
        if not isinstance(v, _dt.datetime):
            return v
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return (v - _EPOCH_DT) // _dt.timedelta(microseconds=1)
    if isinstance(t, ice_t.DecimalType):
        unscaled = int(_decimal.Decimal(v).scaleb(t.scale, _DECIMAL_CTX).to_integral_value())
        length = max(1, (unscaled.bit_length() + 8) // 8)
        return unscaled.to_bytes(length, "big", signed=True)
    return v


def dir_partition_values(path: str) -> dict[str, str]:
    """``{name: value}`` from the ``name=value`` directory segments of a
    data-file path (Spark's partitioned layout; values URL-unescaped)."""
    out: dict[str, str] = {}
    for seg in path.split("/")[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            out[k] = urllib.parse.unquote(v)
    return out


# the spec's year/month partition values count from 1970
_SPEC_OFFSETS = {"year": 1970, "month": 1970 * 12}


def typed_partition_values(
    path: str, pfields: list[dict[str, Any]]
) -> dict[str, Any]:
    """Spark writes hive-style ``name=value`` directories; the spec
    manifest stores the typed partition tuple per file (here still as
    Python values, :func:`_spec_encode` gives the stored form).  Unknown
    or missing segments (and ``__HIVE_DEFAULT_PARTITION__``) become
    null.  The engine's temporal directories use calendar-friendly
    encodings (year=2020, month=year*12+month-1, day=ISO date) that prune
    identically internally; the spec defines year/month as offsets FROM
    1970 and day as a date — converted at this interop boundary so
    external engines evaluating ``year(ts)=50``-style residuals prune
    correctly."""
    segs = dir_partition_values(path)
    out: dict[str, Any] = {}
    for p in pfields:
        raw = segs.get(p["name"], _HIVE_NULL)
        try:
            v = None if raw == _HIVE_NULL else parse_value(raw, p["type"])
        except (ValueError, ArithmeticError):
            v = None
        off = _SPEC_OFFSETS.get(p["transform"])
        out[p["avro_name"]] = v if v is None or off is None else v - off
    return out


# --------------------------------------------------------------------------
# file statistics: one merge, one finishing step, one footer reader
# --------------------------------------------------------------------------
#
# Every bound a manifest records comes through here: parquet footers of
# engine-written data and equality-key files, the Spark aggregation the
# writer falls back to, the stream sink's Arrow columns and the manifest
# list's column summaries.  A producer gathers partial values per column
# (row groups, an Arrow column, one aggregated row, a manifest's
# entries); ``merge_bounds`` combines them and ``finish_stats`` applies
# the metrics modes and the JSON stat form.

# column types whose files record min/max bounds
STATS_TYPES = (
    ice_t.BooleanType,
    ice_t.IntType,
    ice_t.LongType,
    ice_t.FloatType,
    ice_t.DoubleType,
    ice_t.DecimalType,
    ice_t.DateType,
    ice_t.TimestampType,
    ice_t.TimestampTzType,
    ice_t.StringType,
)


def metrics_truncate_len(mode: str) -> Optional[int]:
    m = re.match(r"truncate\((\d+)\)$", mode)
    return int(m.group(1)) if m else None


def stat_modes(
    schema: ice_t.Schema, props: dict, extra: tuple = ()
) -> dict[str, str]:
    """Iceberg metrics mode (``write.metadata.metrics.column.X``, else
    ``.default``) of every column that records stats — the schema's
    stats-typed columns plus ``extra`` (shredded variant columns):
    ``none`` (no stats), ``counts`` (null counts only), ``truncate(N)``
    (the default, N=16) or ``full``."""
    cols = [f.name for f in schema.fields if isinstance(f.field_type, STATS_TYPES)]
    default = props.get("write.metadata.metrics.default", "truncate(16)")
    return {
        c: str(props.get(f"write.metadata.metrics.column.{c}", default)).strip()
        for c in [*cols, *extra]
    }


def truncate_upper(v: str, n: int) -> Optional[str]:
    """Iceberg UnicodeUtil.truncateStringMax: prefix of ``n`` chars with
    the last incrementable code point bumped, so the result still
    upper-bounds the original.  All-U+10FFFF prefixes can't be
    incremented → None (no upper bound recorded)."""
    if len(v) <= n:
        return v
    chars = list(v[:n])
    for i in range(len(chars) - 1, -1, -1):
        cp = ord(chars[i])
        if cp >= 0x10FFFF:
            continue
        nxt = cp + 1
        if 0xD800 <= nxt <= 0xDFFF:
            # never bump into the surrogate range: a lone surrogate is
            # unencodable (Avro manifests UTF-8-encode bounds); jump past
            # it (0xE000 > every surrogate, so the result still bounds)
            nxt = 0xE000
        chars[i] = chr(nxt)
        return "".join(chars[: i + 1])
    return None


def stat_value(v: Any) -> Any:
    """A bound in its JSON stat form: dates and timestamps as ISO strings
    (an aware timestamp as naive UTC, the value a collected Spark row
    holds in a UTC session), decimals as strings, the rest as is."""
    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, _decimal.Decimal):
        return str(v)
    return v


def _nan_last(v: Any) -> tuple:
    return (1, 0.0) if v != v else (0, v)  # NaN is the one value != itself


def _timestamp_order(t: ice_t.Type):
    def key(v: str) -> str:
        # stat_value's form ('T'-separated naive ISO, 19 or 26 chars)
        # sorts in value order as is; older writers stored a space
        # separator (equality-key bounds) or a UTC offset (the stream
        # sink's timestamptz bounds), read here into that form
        if v[10:11] == "T" and (len(v) == 19 or (len(v) == 26 and v[19] == ".")):
            return v
        return stat_value(parse_value(v, t))

    return key


_TIMESTAMP_ORDERS = {
    ice_t.TimestampType: _timestamp_order(ice_t.TimestampType()),
    ice_t.TimestampTzType: _timestamp_order(ice_t.TimestampTzType()),
}

# what comparing stored bounds under a stat_order may raise (a bound of
# another type, a spelling parse_value does not read): the comparison
# then proves nothing
BOUND_ERRORS = (TypeError, ValueError, ArithmeticError)


def stat_order(t: Optional[ice_t.Type]):
    """Sort key putting column type ``t``'s JSON stat forms (and the
    values a bound filter literal compares as) in value order, or None
    where they already sort that way — ints, booleans, strings and the
    ISO forms of dates.  Decimals (strings) compare as Decimal; floats
    put NaN greatest, as Spark SQL and parquet-mr do; timestamps compare
    in :func:`stat_value`'s form, which older spellings are read into.
    A key raises one of ``BOUND_ERRORS`` for a form it cannot order."""
    if isinstance(t, ice_t.DecimalType):
        return _decimal.Decimal
    if isinstance(t, (ice_t.FloatType, ice_t.DoubleType)):
        return _nan_last
    return _TIMESTAMP_ORDERS.get(type(t))


def merge_bounds(los: list, his: list, key=None) -> tuple:
    """(least of ``los``, greatest of ``his``) under the one order every
    bound follows: ``key`` is the column type's :func:`stat_order` for
    stat forms; values in their own Python types need none but floats,
    whose NaN sorts greatest.  A NaN anywhere makes the upper bound NaN;
    the lower bound is NaN only when every value is."""
    if key is None and type(his[0]) is float:
        key = _nan_last
    return min(los, key=key), max(his, key=key)


def finish_stats(modes: dict[str, str], parts: dict[str, tuple]) -> tuple:
    """(lower-bounds, upper-bounds, null-counts) of one file in JSON stat
    form, from per-column partial values ``parts`` — ``{col: (lows,
    highs, null count)}``, empty lists for a column holding no non-null
    value — under the metrics ``modes``.  ``truncate(N)`` keeps N-char
    string prefixes and bumps an upper prefix of full length, since it
    may have been cut from a longer value (an unbumpable one is left
    out); an all-null column records None for both bounds."""
    lowers, uppers, nulls = {}, {}, {}
    for c, (los, his, nc) in parts.items():
        mode = modes[c]
        if mode == "none":
            continue
        nulls[c] = int(nc)
        if mode == "counts":
            continue
        lo, hi = merge_bounds(los, his) if los else (None, None)
        if isinstance(hi, str) and (n := metrics_truncate_len(mode)) is not None:
            lo, hi = lo[:n], hi[:n]
            if len(hi) == n:
                hi = truncate_upper(hi + "\x00", n)
        lowers[c] = stat_value(lo)
        if hi is not None or lo is None:
            uppers[c] = stat_value(hi)
    return lowers, uppers, nulls


def stat_entry(path: str, rows: int, size: int, stats: tuple) -> dict[str, Any]:
    """A data file's manifest entry from its :func:`finish_stats` result,
    less the schema and spec ids its writer adds."""
    lowers, uppers, nulls = stats
    return {
        "path": path,
        "record-count": rows,
        "file-size-bytes": size,
        "lower-bounds": lowers,
        "upper-bounds": uppers,
        "null-counts": nulls,
    }


def _partition_parts(partition: Optional[dict], modes: dict, rows: int) -> dict:
    """Partial values of identity-partition columns, which a file holds
    only in its path: one value (or all rows null) per file."""
    return {
        c: ([v], [v], 0) if v is not None else ([], [], rows)
        for c, v in (partition or {}).items()
        if c in modes
    }


def footer_stats(
    path: str, modes: dict[str, str], partition: Optional[dict] = None
) -> Optional[tuple]:
    """(record count, lower-bounds, upper-bounds, null-counts) of one
    parquet file from its footer, plus ``partition`` (its identity-
    partition values parsed from the path; None for the null partition).
    None when the footer cannot stand in for a scan: it cannot be read,
    or a column of ``modes`` lacks a null count, or has non-null values
    but no min/max (parquet-mr drops them for values over 4 KB) or ones
    pyarrow cannot decode.  For footers Spark writes only: parquet-mr
    records NaN as a float column's max, while pyarrow's writer leaves
    NaN out of both bounds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(path).metadata
    except (OSError, pa.ArrowException):
        return None
    parts = _partition_parts(partition, modes, md.num_rows)
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for ci in range(rg.num_columns):
            col = rg.column(ci)
            name = col.path_in_schema
            mode = modes.get(name)
            if mode is None or mode == "none":
                continue
            st = col.statistics
            if st is None or not st.has_null_count:
                return None
            los, his, nc = parts.get(name, ([], [], 0))
            parts[name] = (los, his, nc + st.null_count)
            if mode == "counts" or st.null_count == rg.num_rows:
                continue
            if not st.has_min_max:
                return None
            sc = md.schema.column(ci)
            if sc.logical_type.type == "DECIMAL" and sc.physical_type in (
                "INT32",
                "INT64",
            ):
                # pyarrow cannot decode the statistics of an INT32/INT64
                # decimal (what Spark writes up to precision 18); the raw
                # unscaled ints are exact
                los.append(_decimal.Decimal(st.min_raw).scaleb(-sc.scale))
                his.append(_decimal.Decimal(st.max_raw).scaleb(-sc.scale))
                continue
            try:
                los.append(st.min)
                his.append(st.max)
            except (ValueError, pa.ArrowException):
                return None
    return (md.num_rows, *finish_stats(modes, parts))


def arrow_stats(
    tbl: Any, modes: dict[str, str], partition: Optional[dict] = None
) -> tuple:
    """(lower-bounds, upper-bounds, null-counts) of an Arrow table about to
    be written as one file, plus its ``partition`` values (see
    :func:`footer_stats`).  Arrow's min_max skips NaN (and reports an
    all-NaN column as [inf, -inf]), so a float column's NaN joins the
    partial values on its own."""
    import pyarrow as pa
    import pyarrow.compute as pc

    parts = _partition_parts(partition, modes, tbl.num_rows)
    for c in tbl.column_names:
        mode = modes.get(c)
        if mode is None or mode == "none":
            continue
        col = tbl.column(c)
        los, his = [], []
        parts[c] = (los, his, col.null_count)
        if mode == "counts":
            continue
        if pa.types.is_floating(col.type):
            nan = pc.is_nan(col)
            if pc.any(nan).as_py():
                los.append(math.nan)
                his.append(math.nan)
                col = col.filter(pc.invert(nan))
        mm = pc.min_max(col)
        if mm["min"].is_valid:
            los.append(mm["min"].as_py())
            his.append(mm["max"].as_py())
    return finish_stats(modes, parts)


# --------------------------------------------------------------------------
# write path
# --------------------------------------------------------------------------


def _spec_schema_json(schema: ice_t.Schema) -> dict[str, Any]:
    from iceberg_ruby_spark.table import _schema_to_json

    j = _schema_to_json(schema)
    return {"type": "struct", **j}


def _bounds_to_spec(
    bounds: dict[str, Any], schema: Optional[ice_t.Schema]
) -> Optional[list[dict[str, Any]]]:
    if not bounds or schema is None:
        return None
    out = []
    for name, v in bounds.items():
        f = schema.field_by_name(name)
        if f is None:
            continue
        b = bound_to_bytes(v, f.field_type)
        if b is not None:
            out.append({"key": f.field_id, "value": b})
    return sorted(out, key=lambda kv: kv["key"]) or None


def _counts_to_spec(
    counts: Optional[dict[str, Any]], schema: Optional[ice_t.Schema]
) -> Optional[list[dict[str, Any]]]:
    """name→count → the spec's field-id-keyed k/v list (null_value_counts
    et al.)."""
    if not counts or schema is None:
        return None
    out = []
    for name, v in counts.items():
        f = schema.field_by_name(name)
        if f is not None and v is not None:
            out.append({"key": f.field_id, "value": int(v)})
    return sorted(out, key=lambda kv: kv["key"]) or None


def _counts_from_spec(
    kvs: Optional[list[dict[str, Any]]], schema: Optional[ice_t.Schema]
) -> dict[str, int]:
    out: dict[str, int] = {}
    if not kvs or schema is None:
        return out
    for kv in kvs:
        f = schema.field_by_id(kv["key"])
        if f is not None:
            out[f.name] = int(kv["value"])
    return out


def _hidden_stats(
    e: dict[str, Any], schema: Optional[ice_t.Schema]
) -> dict[str, dict[str, Any]]:
    """An entry's stats for columns its schema has no field for (the
    hidden shredded-variant columns): the spec maps are keyed by field id,
    so these ride the entry's ``x-irs`` extras by column name."""
    out = {}
    for k in ("lower-bounds", "upper-bounds", "null-counts"):
        stats = {
            c: v
            for c, v in (e.get(k) or {}).items()
            if schema is None or schema.field_by_name(c) is None
        }
        if stats:
            out[k] = stats
    return out


def write_avro_manifests(
    ops: Any,
    snapshot_id: int,
    entries: list[dict[str, Any]],
    ctx: ManifestContext,
    base_list: Optional[str] = None,
) -> str:
    """Write spec manifests + manifest list; returns the manifest-list path
    relative to the table location (what the snapshot stores).

    Entries are grouped into ONE MANIFEST PER PARTITION SPEC they were
    written under (each entry records ``spec-id`` at write time): a file's
    hive path parses against its own spec's field names, the manifest's
    ``partition-spec``/``partition-spec-id`` metadata and the list entry's
    ``partition_spec_id`` describe that same spec, and partition field-ids
    stay unique across evolution — so external readers prune correctly on
    tables whose spec has changed (round-4 ADVICE fix: previously every
    entry was parsed against the CURRENT spec, nulling out partition
    values for files written under earlier specs).

    ``base_list`` switches on FAST APPEND: ``entries`` is this commit's
    delta only, and the base snapshot's manifest-file records are carried
    into the new manifest list VERBATIM (their files are never re-read or
    rewritten) — commit metadata cost is O(new files).  When the list
    would exceed :data:`MANIFEST_SEGMENT_CAP` manifests, the smallest
    manifests by on-disk length are folded back into ``entries`` and
    rewritten fresh (their rows keep their original data sequence numbers
    and re-enter as status=EXISTING), Iceberg's merge-manifests behavior:
    large manifests are almost never rewritten, so write amplification
    stays size-tiered instead of O(table) per commit.  Victims are picked
    by file count, oldest first among equals, and never share a manifest
    with this commit's entries: a merged manifest then spans a contiguous
    run of old commits, which keeps its column summary narrow enough for
    manifest pruning."""
    cur_schema = ctx.schemas_by_id.get(ctx.current_schema_id)

    list_records: list[dict[str, Any]] = []
    list_rels: list[str] = []
    # rel manifest path → engine column summary (manifest pruning,
    # read_avro_manifest_list); carried manifests keep theirs
    summaries: dict[str, Any] = {}
    merged: list[dict[str, Any]] = []
    if base_list is not None:
        base_records, base_extras, base_rels = _read_list(ops, base_list)
        base_summaries = base_extras.get("summaries") or {}
        keep = list(range(len(base_records)))
        if len(base_records) >= MANIFEST_SEGMENT_CAP:
            order = sorted(
                keep,
                key=lambda i: base_records[i].get("added_files_count", 0)
                + base_records[i].get("existing_files_count", 0),
            )
            n_merge = len(base_records) - MANIFEST_SEGMENT_CAP // 2
            victims = set(order[:n_merge])
            for i in sorted(victims):
                merged.extend(read_one_avro_manifest(ops, ops._abs(base_rels[i])))
            keep = [i for i in keep if i not in victims]
        # fast-append: the base snapshot's surviving manifests lead the
        # list, byte-identical records, original added_snapshot_id and
        # sequence intact
        for i in keep:
            rel = base_rels[i]
            list_records.append(base_records[i])
            list_rels.append(rel)
            if rel in base_summaries:
                summaries[rel] = base_summaries[rel]

    data_entries = [e for e in merged + entries if "path" in e]

    uid = _uuid.uuid4().hex
    used_schema_ids = sorted(
        {e.get("schema-id", ctx.current_schema_id) for e in data_entries}
        | {ctx.current_schema_id}
    )
    schemas_json = {
        str(sid): _spec_schema_json(ctx.schemas_by_id[sid])
        for sid in used_schema_ids
        if sid in ctx.schemas_by_id
    }

    def _spec_meta(spec_id: int, pfields: list[dict[str, Any]]) -> dict[str, str]:
        spec_json = [
            {
                "name": p["name"],
                "transform": p["transform"],
                "source-id": p["source_id"],
                "field-id": p["field_id"],
            }
            for p in pfields
        ]
        return {
            "schema": json.dumps(_spec_schema_json(cur_schema) if cur_schema else {}),
            "schema-id": str(ctx.current_schema_id),
            "partition-spec": json.dumps(spec_json),
            "partition-spec-id": str(spec_id),
            "format-version": str(ctx.format_version),
        }

    def _write_manifest_file(
        path: str, records: list[dict[str, Any]], extras: list[dict[str, Any]],
        content: str, spec_id: int, pfields: list[dict[str, Any]],
    ) -> int:
        data = write_ocf(
            manifest_entry_schema(pfields, ctx.format_version),
            records,
            metadata={
                **_spec_meta(spec_id, pfields),
                "content": content,
                _EXTRAS_KEY: json.dumps({"entries": extras, "schemas": schemas_json}),
            },
        )
        ops.io.write_bytes_atomic(path, data, overwrite=True)
        return len(data)

    seq = ctx.sequence_number

    def _list_entry(
        path: str, length: int, content: int, records, dseqs, spec_id, parts
    ):
        """Manifest-file record with spec status-split counters:
        added_* counts status=ADDED entries (this commit's sequence),
        existing_* the carried ones keeping their original data sequence
        — the split equality-delete application depends on (a delete at
        seq N applies only to data files with data seq < N).

        ``partitions`` carries the spec's per-partition-field summaries
        (field_summary: contains_null, contains_nan and binary
        lower/upper bounds over the manifest's files) — what an EXTERNAL
        Iceberg reader uses to skip whole manifests during scan planning,
        the spec twin of the engine's richer per-column extras summaries.
        ``parts`` holds each record's typed partition values
        (:func:`typed_partition_values`); they merge in their own type
        and are encoded once.  As the spec asks, NaN sets contains_nan
        and stays out of the bounds."""
        added = [r for r in records if r["status"] == 1]
        existing = [r for r in records if r["status"] == 0]
        summaries = None
        pfields_s = _partition_fields(ctx, spec_id)
        if pfields_s and records:
            summaries = []
            for p in pfields_s:
                vals = [pt.get(p["avro_name"]) for pt in parts]
                non_null = [v for v in vals if v is not None]
                floats = isinstance(p["type"], (ice_t.FloatType, ice_t.DoubleType))
                values = [v for v in non_null if v == v]  # NaN != itself
                lo, hi = merge_bounds(values, values) if values else (None, None)
                summaries.append(
                    {
                        "contains_null": len(non_null) < len(vals),
                        "contains_nan": len(values) < len(non_null) if floats else None,
                        "lower_bound": bound_to_bytes(lo, p["type"]),
                        "upper_bound": bound_to_bytes(hi, p["type"]),
                    }
                )
        return {
            "manifest_path": path,
            "manifest_length": length,
            "partition_spec_id": spec_id,
            "content": content,
            "sequence_number": seq,
            "min_sequence_number": min(dseqs, default=seq),
            "added_snapshot_id": snapshot_id,
            "added_files_count": len(added),
            "existing_files_count": len(existing),
            "deleted_files_count": 0,
            "added_rows_count": sum(r["data_file"]["record_count"] for r in added),
            "existing_rows_count": sum(
                r["data_file"]["record_count"] for r in existing
            ),
            "deleted_rows_count": 0,
            "partitions": summaries,
            "key_metadata": None,
        }

    def _entry_seq(e: dict[str, Any]) -> tuple[int, int, Optional[int]]:
        """(data sequence, status, explicit-field value) for an entry.
        Entries first committed under an earlier Avro snapshot carry
        ``data-sequence-number`` (restored from extras on read) and write
        as EXISTING with their original sequence; entries without it —
        new files — write as ADDED inheriting this commit's sequence."""
        dseq = e.get("data-sequence-number") or ctx.sequence_number
        if dseq >= ctx.sequence_number:
            return ctx.sequence_number, 1, None
        return dseq, 0, dseq

    def _groups(key: str) -> list[tuple[int, list[dict[str, Any]]]]:
        """(spec id, entries) of each manifest to write for the entries
        carrying ``key``: merged and new entries apart, one per spec."""
        out = []
        for batch in (merged, entries):
            groups: dict[int, list[dict[str, Any]]] = {}
            for e in batch:
                if key in e:
                    sid = e.get("spec-id", ctx.spec_id)
                    groups.setdefault(
                        sid if sid in ctx.specs_by_id else ctx.spec_id, []
                    ).append(e)
            out.extend(sorted(groups.items()))
        return out

    m_idx = 0
    for spec_id, group in _groups("path"):
        pfields = _partition_fields(ctx, spec_id)
        records, extras, parts = [], [], []
        dseqs = []
        for e in group:
            sid = e.get("schema-id", ctx.current_schema_id)
            eschema = ctx.schemas_by_id.get(sid)
            abs_path = ops._abs(e["path"])
            dseq, status, seq_field = _entry_seq(e)
            dseqs.append(dseq)
            parts.append(typed_partition_values(abs_path, pfields))
            data_file = {
                "content": 0,
                "file_path": abs_path,
                "file_format": "PARQUET",
                "partition": {
                    p["avro_name"]: _spec_encode(parts[-1][p["avro_name"]], p["type"])
                    for p in pfields
                },
                "record_count": e.get("record-count") or 0,
                "file_size_in_bytes": e.get("file-size-bytes")
                or ops.io.size(abs_path)
                or 0,
                "lower_bounds": _bounds_to_spec(e.get("lower-bounds", {}), eschema),
                "upper_bounds": _bounds_to_spec(e.get("upper-bounds", {}), eschema),
                "null_value_counts": _counts_to_spec(
                    e.get("null-counts"), eschema
                ),
            }
            if ctx.format_version >= 3:
                # v3: row-lineage range start lives in its spec slot
                # (field 142), not in extras
                data_file["first_row_id"] = e.get("first-row-id")
            records.append(
                {
                    "status": status,
                    "snapshot_id": snapshot_id,
                    "sequence_number": seq_field,
                    "file_sequence_number": None,
                    "data_file": data_file,
                }
            )
            ext = {
                "rel": ops._rel(abs_path),
                "schema-id": sid,
                "spec-id": spec_id,
                "dseq": dseq,
                # preserve None-vs-0 exactly: the spec slot is a
                # required long, but Scan.count()'s metadata fast-path
                # must not mistake "unknown" for a real zero
                "record-count": e.get("record-count"),
            }
            if e.get("first-row-id") is not None and ctx.format_version < 3:
                # v2: no spec slot for the row-lineage range start — the
                # engine extension carries it (v3 writes field 142 above)
                ext["first-row-id"] = e["first-row-id"]
            if e.get("materialized-lineage"):
                ext["materialized-lineage"] = True
            hidden = _hidden_stats(e, eschema)
            if hidden:
                ext["hidden-stats"] = hidden
            extras.append(ext)
        mpath = os.path.join(ops.metadata_dir, f"{uid}-m{m_idx}.avro")
        m_idx += 1
        length = _write_manifest_file(mpath, records, extras, "data", spec_id, pfields)
        list_records.append(
            _list_entry(ops._abs(mpath), length, 0, records, dseqs, spec_id, parts)
        )
        rel_m = ops._rel(ops._abs(mpath))
        list_rels.append(rel_m)
        summaries[rel_m] = _manifest_summary(
            group,
            ctx.schemas_by_id.get(group[0].get("schema-id", ctx.current_schema_id)),
        )

    for spec_id, group in _groups("delete-file"):
        pfields = _partition_fields(ctx, spec_id)
        records, extras = [], []
        dseqs = []
        for e in group:
            abs_path = ops._abs(e["delete-file"])
            is_eq = e.get("content") == "equality-deletes"
            is_dv = e.get("content") == "deletion-vector"
            dseq, status, seq_field = _entry_seq(e)
            dseqs.append(dseq)
            delete_file = {
                "content": 2 if is_eq else 1,
                "file_path": abs_path,
                "file_format": "PUFFIN" if is_dv else "PARQUET",
                "partition": {p["avro_name"]: None for p in pfields},
                "record_count": e.get("deleted-records") or 0,
                "file_size_in_bytes": sum(
                    ops.io.size(f) or 0 for f in ops.io.list(abs_path)
                ),
                "lower_bounds": None,
                "upper_bounds": None,
                "equality_ids": e.get("equality-ids") if is_eq else None,
            }
            if ctx.format_version >= 3 and is_dv:
                # v3 spec fields 143-145: the DV blob's coordinates live in
                # real manifest slots — an external v3 reader fetches one
                # vector without parsing the Puffin footer
                delete_file["referenced_data_file"] = ops._abs(
                    e["referenced-data-file"]
                )
                delete_file["content_offset"] = e.get("content-offset")
                delete_file["content_size_in_bytes"] = e.get("content-size")
            records.append(
                {
                    "status": status,
                    "snapshot_id": snapshot_id,
                    "sequence_number": seq_field,
                    "file_sequence_number": None,
                    "data_file": delete_file,
                }
            )
            ext = {
                "rel": ops._rel(abs_path),
                "content": e.get("content"),
                "deleted-records": e.get("deleted-records"),
                "spec-id": spec_id,
                "dseq": dseq,
            }
            if e.get("base-location") is not None:
                # the table location when the delete file was written —
                # the read path rebases its spec-absolute file_path
                # content after rename_table
                ext["base-location"] = e["base-location"]
            if ctx.format_version >= 3 and is_dv:
                # v3: offsets/sizes come from the spec slots above; only
                # the location-RELATIVE referenced path rides extras (the
                # rename-survival twin of ``rel``, same as file_path)
                ext["referenced-data-file"] = e["referenced-data-file"]
            else:
                # v2: no spec slots for the v3 fields 143-145 — the
                # engine extension carries the DV coordinates
                for k in ("referenced-data-file", "content-offset", "content-size"):
                    if e.get(k) is not None:
                        ext[k] = e[k]
            if is_eq:
                # an equality delete's scope is the spec's "data sequence
                # strictly below dseq" — no path list to store; the
                # optional key-bounds hint rides along (plain JSON-literal
                # values by construction)
                ext["equality-ids"] = e.get("equality-ids")
                ext["equality-cols"] = e.get("equality-cols")
                if e.get("key-bounds") is not None:
                    ext["key-bounds"] = e["key-bounds"]
            elif e.get("applies-to") is not None:
                ext["applies-to"] = [ops._rel(ops._abs(p)) for p in e["applies-to"]]
            extras.append(ext)
        mpath = os.path.join(ops.metadata_dir, f"{uid}-m{m_idx}.avro")
        m_idx += 1
        length = _write_manifest_file(mpath, records, extras, "deletes", spec_id, pfields)
        list_records.append(
            _list_entry(
                ops._abs(mpath), length, 1, records, dseqs, spec_id,
                [{}] * len(records),
            )
        )
        list_rels.append(ops._rel(ops._abs(mpath)))

    list_meta = {
        "snapshot-id": str(snapshot_id),
        "sequence-number": str(seq),
        "format-version": str(ctx.format_version),
        _EXTRAS_KEY: json.dumps({"manifests": list_rels, "summaries": summaries}),
    }
    if ctx.parent_snapshot_id is not None:
        list_meta["parent-snapshot-id"] = str(ctx.parent_snapshot_id)
    list_path = os.path.join(ops.metadata_dir, f"snap-{snapshot_id}-{uid}.avro")
    ops.io.write_bytes_atomic(
        list_path, write_ocf(MANIFEST_LIST_SCHEMA, list_records, metadata=list_meta),
        overwrite=True,
    )
    return ops._rel(list_path)


# --------------------------------------------------------------------------
# read path
# --------------------------------------------------------------------------


def _bounds_from_spec(
    kvs: Optional[list[dict[str, Any]]], schema: Optional[ice_t.Schema]
) -> dict[str, Any]:
    out: dict[str, Any] = {}
    if not kvs or schema is None:
        return out
    for kv in kvs:
        f = schema.field_by_id(kv["key"])
        if f is None:
            continue
        try:
            out[f.name] = bound_from_bytes(kv["value"], f.field_type)
        except (ValueError, struct.error):
            continue
    return out


def _manifest_summary(
    data: list[dict[str, Any]], schema: Optional[ice_t.Schema]
) -> dict[str, Any]:
    """Conservative COLUMN summary of one data manifest's (non-empty)
    entries for manifest pruning (the engine twin of the Iceberg
    manifest-list rows' partition field summaries, generalized to column
    bounds so non-partition predicates prune too), stored in the manifest
    list's ``x-irs`` extras:
    ``{"rows": int|None, "cols": {col: {"lo","hi","nulls"?}}}``.

    Soundness: a column appears ONLY when every data entry in the manifest
    records both bounds for it (a bound-less file could hold anything);
    ``lo``/``hi`` merge the files' conservative bounds in the column's
    type from ``schema`` (:func:`merge_bounds` under :func:`stat_order`:
    a file's NaN upper bound makes the manifest's NaN), so the manifest
    range is conservative too; ``nulls`` (summed) appears only when every
    file records a null count; ``rows`` only when every file records a
    row count.  Values are the entries' stored JSON-stat forms — mixed
    non-comparable types drop the column.  ``typed`` marks a summary
    merged this way: earlier ones merged decimal strings as text, so
    :func:`_summary_excludes` never prunes a decimal on them."""
    rows: Optional[int] = 0
    for e in data:
        rc = e.get("record-count")
        if rc is None:
            rows = None
            break
        rows += rc
    cols: dict[str, dict[str, Any]] = {}
    first = data[0]
    cand = set((first.get("lower-bounds") or {})) & set(
        (first.get("upper-bounds") or {})
    )
    for c in cand:
        los, his, nulls = [], [], 0
        ok, have_nulls = True, True
        for e in data:
            lo = (e.get("lower-bounds") or {}).get(c)
            hi = (e.get("upper-bounds") or {}).get(c)
            if lo is None or hi is None:
                ok = False
                break
            los.append(lo)
            his.append(hi)
            nc = (e.get("null-counts") or {}).get(c)
            if nc is None:
                have_nulls = False
            else:
                nulls += nc
        if not ok:
            continue
        f = schema.field_by_name(c) if schema is not None else None
        try:
            lo, hi = merge_bounds(los, his, stat_order(f and f.field_type))
        except BOUND_ERRORS:
            continue  # mixed bound types: not comparable, skip the column
        entry = {"lo": lo, "hi": hi}
        if have_nulls:
            entry["nulls"] = nulls
        cols[c] = entry
    return {"rows": rows, "cols": cols, "typed": True}


def _summary_excludes(summary: Optional[dict[str, Any]], trees) -> bool:
    """True when a manifest summary PROVES no file in the manifest can
    contain a row matching every bound filter tree — the manifest is
    then full-miss and need not be opened."""
    from iceberg_ruby_spark.table import _bounds_may_match, _leaves

    if not summary:
        return False
    cols = summary.get("cols") or {}
    if not summary.get("typed"):
        text_merged = {
            leaf[1]
            for t in trees
            for leaf in _leaves(t)
            if leaf[4] is _decimal.Decimal
        }
        cols = {c: v for c, v in cols.items() if c not in text_merged}
    pseudo = {
        "lower-bounds": {c: v["lo"] for c, v in cols.items()},
        "upper-bounds": {c: v["hi"] for c, v in cols.items()},
        "null-counts": {
            c: v["nulls"] for c, v in cols.items() if "nulls" in v
        },
        "record-count": summary.get("rows"),
    }
    return any(not _bounds_may_match(pseudo, t) for t in trees)


def _read_list(
    ops: Any, list_path: str
) -> tuple[list[dict[str, Any]], dict[str, Any], list[str]]:
    """A manifest list → (manifest_file records, ``x-irs`` extras, each
    manifest's key).  A key is the manifest's location-relative path,
    which ``ops._abs`` resolves, so the table tree survives
    :meth:`Catalog.rename_table`'s physical move; externally written
    lists have no extras, so their keys come from the spec's absolute
    ``manifest_path``.

    Lists written by older engine versions may hold predicate deletes
    under ``carried``; this engine no longer reads them, and skipping
    them would bring deleted rows back, so such a list raises."""
    _, records, meta = read_ocf(ops.io.read_bytes(ops._abs(list_path)))
    extras = json.loads(meta.get(_EXTRAS_KEY, b"{}").decode())
    if extras.get("carried"):
        raise InvalidDataError(
            f"table at {ops.location}: manifest list {list_path} holds "
            "merge-on-read predicate deletes, which this engine no longer "
            "reads; compact() the table with an engine version that still "
            "reads them before opening it here"
        )
    rels = extras.get("manifests") or []
    keys = [
        rels[i] if i < len(rels) else ops._rel(mf["manifest_path"])
        for i, mf in enumerate(records)
    ]
    return records, extras, keys


def manifest_paths(ops: Any, list_path: str) -> list[str]:
    """Readable paths of every manifest a manifest list references."""
    return [ops._abs(k) for k in _read_list(ops, list_path)[2]]


def read_avro_manifest_list(
    ops: Any, list_path: str, trees=None, allow_mor: bool = False
) -> tuple[list[dict[str, Any]], int]:
    """Manifest list + manifests → (the engine's internal entry dicts,
    manifests skipped).  With filter ``trees``, DATA manifests whose
    stored column summary proves every file full-misses the filter are
    skipped without being opened.  By default that engages only on a
    provably merge-on-read-free snapshot (no delete manifests);
    ``allow_mor=True`` prunes data manifests even then (delete manifests
    are always read) — see
    ``FsTableOps.read_manifest_filtered`` for the soundness argument."""
    records, extras, keys = _read_list(ops, list_path)
    summaries = extras.get("summaries") or {}
    has_mor = any(mf["content"] == 1 for mf in records)
    prune = trees is not None and (allow_mor or not has_mor)
    entries: list[dict[str, Any]] = []
    skipped = 0
    for mf, key in zip(records, keys):
        s = summaries.get(key) if prune and mf["content"] == 0 else None
        if s is not None and _summary_excludes(s, trees):
            skipped += 1
            continue
        entries.extend(read_one_avro_manifest(ops, ops._abs(key)))
    return entries, skipped


def read_one_avro_manifest(ops: Any, mpath: str) -> list[dict[str, Any]]:
    """ONE manifest file → internal entry dicts (shared by the full list
    read, the filtered read, the structural delta read and the fast-append
    merge of small manifests)."""
    from iceberg_ruby_spark.table import _schema_from_json

    entries: list[dict[str, Any]] = []
    _, records, mmeta = read_ocf(ops.io.read_bytes(mpath))
    extras_doc = json.loads(mmeta.get(_EXTRAS_KEY, b"{}").decode())
    extras = extras_doc.get("entries", [])
    schemas = {
        int(sid): _schema_from_json(sj)
        for sid, sj in extras_doc.get("schemas", {}).items()
    }
    fallback_sid = int(mmeta.get("schema-id", b"0").decode() or 0)
    manifest_spec_id = int(mmeta.get("partition-spec-id", b"0").decode() or 0)
    for j, rec in enumerate(records):
        ext = extras[j] if j < len(extras) else {}
        df = rec["data_file"]
        path = ops._abs(ext["rel"]) if "rel" in ext else df["file_path"]
        if df["content"] == 0:
            sid = ext.get("schema-id", fallback_sid)
            schema = schemas.get(sid)
            entry = {
                "spec-id": ext.get("spec-id", manifest_spec_id),
                "path": path,
                # "record-count" in extras preserves None-vs-0 exactly
                # (the spec slot is a required long); fall back to the
                # spec value for files written before the extras key
                "record-count": (
                    ext["record-count"]
                    if "record-count" in ext
                    else df["record_count"]
                ),
                "schema-id": sid,
                "file-size-bytes": df["file_size_in_bytes"],
                "lower-bounds": _bounds_from_spec(df.get("lower_bounds"), schema),
                "upper-bounds": _bounds_from_spec(df.get("upper_bounds"), schema),
            }
            ncounts = _counts_from_spec(df.get("null_value_counts"), schema)
            if ncounts:
                entry["null-counts"] = ncounts
            if ext.get("dseq") is not None:
                entry["data-sequence-number"] = ext["dseq"]
            # v3 manifests carry the lineage range start in spec field
            # 142; v2 manifests in the engine extension
            first_row_id = ext.get("first-row-id")
            if first_row_id is None:
                first_row_id = df.get("first_row_id")
            if first_row_id is not None:
                entry["first-row-id"] = first_row_id
            if ext.get("materialized-lineage"):
                entry["materialized-lineage"] = True
            for k, stats in ext.get("hidden-stats", {}).items():
                entry.setdefault(k, {}).update(stats)
            entries.append(entry)
        else:
            e: dict[str, Any] = {
                "delete-file": path,
                "spec-id": ext.get("spec-id", manifest_spec_id),
                "content": ext.get(
                    "content",
                    "equality-deletes" if df["content"] == 2 else "position-deletes",
                ),
            }
            if df["content"] == 2:
                # Equality deletes apply by the sequence rule alone.  An
                # older engine wrote verified deletes (delete_by_keys,
                # merge-on-read merge_into) with an ``applies-to`` file
                # list; it is dropped here and the entry read under the
                # sequence rule, which is sound: the verified write's hit
                # scan read EVERY live row of its base snapshot, so every
                # live row matching a key sat in a listed file.  The extra
                # files the sequence rule reaches held no live match at
                # that snapshot, and rows already dead stay dead.
                if ext.get("key-bounds") is not None:
                    e["key-bounds"] = ext["key-bounds"]
            elif ext.get("applies-to") is not None:
                e["applies-to"] = [ops._abs(p) for p in ext["applies-to"]]
            if ext.get("deleted-records") is not None:
                e["deleted-records"] = ext["deleted-records"]
            if ext.get("base-location") is not None:
                e["base-location"] = ext["base-location"]
            # DV coordinates: the engine extension first (v2 form /
            # rename-safe relative path), then the v3 spec slots
            # (fields 143-145)
            for k, spec_k in (
                ("referenced-data-file", None),
                ("content-offset", "content_offset"),
                ("content-size", "content_size_in_bytes"),
            ):
                if ext.get(k) is not None:
                    e[k] = ext[k]
                elif spec_k is not None and df.get(spec_k) is not None:
                    e[k] = df[spec_k]
            if e.get("referenced-data-file") is None and df.get(
                "referenced_data_file"
            ):
                e["referenced-data-file"] = ops._rel(df["referenced_data_file"])
            if df["content"] == 2:
                e["equality-ids"] = ext.get("equality-ids") or df.get("equality_ids")
                if ext.get("equality-cols") is not None:
                    e["equality-cols"] = ext["equality-cols"]
            if ext.get("dseq") is not None:
                e["data-sequence-number"] = ext["dseq"]
            entries.append(e)
    return entries


def read_avro_manifest_delta(
    ops: Any, end_list: str, start_list: str
) -> Optional[list[dict[str, Any]]]:
    """Entries in ``end_list``'s snapshot not in ``start_list``'s, derived
    STRUCTURALLY from manifest reuse: fast-append carries the parent's
    manifest-file records verbatim, so the delta is exactly the manifests
    present in end but not start — only those are opened.  Returns ``None``
    when start's manifests aren't a subset of end's (a replace commit or a
    manifest merge inside the window) — the caller falls back to a full
    set diff.  O(new files) incremental/streaming planning at scale."""
    end_keys = _read_list(ops, end_list)[2]
    start_set = set(_read_list(ops, start_list)[2])
    if not start_set <= set(end_keys):
        return None
    entries: list[dict[str, Any]] = []
    for key in end_keys:
        if key not in start_set:
            entries.extend(read_one_avro_manifest(ops, ops._abs(key)))
    return entries
