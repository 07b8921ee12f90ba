"""Table, TableScan, Snapshot — the read/write surface.

Reference: ``lib/iceberg/table.rb``, ``lib/iceberg/table_scan.rb``,
``ext/iceberg/src/table.rs``, ``ext/iceberg/src/scan.rs``,
``ext/iceberg/src/snapshot.rs``.

Storage model (Iceberg-shaped, Spark-native — no Iceberg runtime jar):

```
<warehouse>/<ns...>/<table>/
    metadata/
        v1.json, v2.json, ...     # full table metadata per committed version
        version-hint.text         # current version number (atomic rename)
        snap-<id>-<uuid>.avro     # per-snapshot spec Avro manifest list
        <uuid>-m<N>.avro          # spec Avro manifests (manifests.py)
    data/
        <commit-uuid>/part-*.parquet   (optionally partitionBy'd subdirs)
```

Each commit (append / overwrite / delete / update / merge) writes a new data
directory via a distributed Spark job, then commits a new snapshot +
metadata version with an **optimistic, atomic** conditional create of
``v{N+1}.json`` (``FsTableOps.commit``, the one commit path for every
catalog) — the same commit protocol shape as Iceberg's
HadoopTableOperations.  Snapshot manifests live in their own files so the
metadata log does not grow quadratically with history length (the analog of
Iceberg's manifest-list indirection).

Manifest entries are **per data file** and carry ``record-count`` plus
per-column ``lower-bounds``/``upper-bounds`` captured at write time (the
same contract as Iceberg manifest stats).  Mutations are **file-pruned
copy-on-write**: ``delete_where``/``update_where``/``merge_into`` first find
the files that actually contain matching rows (one Spark job over
``_metadata.file_path`` with the predicate pushed into the Parquet scan),
rewrite only those, and carry every other file forward by reference — a
one-row delete on a 100 TB table rewrites one file, not the table.

Reads are plain Spark file scans over the files the manifests name, under a
read schema built from table metadata (``_read_files``): each data file is
read with the fields of the schema its manifest entry records
(``schema-id``), position-delete files with the spec's ``file_path``/``pos``,
equality-delete files with their key columns typed by ``equality-ids``.  No
read infers a schema from footers, so building a scan starts no Spark job;
only ``add_files`` and the catalog's ``snapshot`` procedure infer, to
validate files from outside the table.
Catalyst pushes filters and projections into the scan, and hidden-partition
columns written by ``partitionBy`` prune directories.
"""

from __future__ import annotations

import json
import re
import os
import time
import uuid as uuid_mod
from dataclasses import dataclass
from decimal import Decimal
from typing import Any, Iterable, Iterator, Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as _T

from iceberg_ruby_spark.errors import (
    InvalidDataError,
    NoSuchTableError,
    UnsupportedFeatureError,
)
from iceberg_ruby_spark.result import Result
from iceberg_ruby_spark._localdf import small_local_df
from iceberg_ruby_spark import types as ice_t
from iceberg_ruby_spark.avro_file import read_ocf
from iceberg_ruby_spark.manifests import (
    _HIVE_NULL,
    BOUND_ERRORS,
    MANIFEST_FORMAT_PROPERTY,
    STATS_TYPES,
    ManifestContext,
    _nan_last,
    _result_type,
    dir_partition_values,
    finish_stats,
    footer_stats,
    manifest_paths,
    metrics_truncate_len,
    parse_value,
    read_avro_manifest_delta,
    read_avro_manifest_list,
    stat_entry,
    stat_modes,
    stat_order,
    stat_value,
    write_avro_manifests,
)
from iceberg_ruby_spark.transforms import (
    PartitionSpec,
    SortOrder,
    parse_transform,
)

MAIN_BRANCH = "main"


# --------------------------------------------------------------------------
# snapshot / metadata model
# --------------------------------------------------------------------------


@dataclass
class Snapshot:
    """Immutable table version — reference ``ext/iceberg/src/snapshot.rs:19-49``."""

    snapshot_id: int
    parent_snapshot_id: Optional[int]
    sequence_number: int
    timestamp_ms: int
    manifest_list: str  # path to the snapshot's Avro manifest list
    schema_id: int
    summary: dict[str, Any]

    @property
    def operation(self) -> str:
        return self.summary.get("operation", "append")

    def to_json(self) -> dict[str, Any]:
        return {
            "snapshot-id": self.snapshot_id,
            "parent-snapshot-id": self.parent_snapshot_id,
            "sequence-number": self.sequence_number,
            "timestamp-ms": self.timestamp_ms,
            "manifest-list": self.manifest_list,
            "schema-id": self.schema_id,
            "summary": self.summary,
        }

    @staticmethod
    def from_json(d: dict[str, Any]) -> "Snapshot":
        return Snapshot(
            snapshot_id=d["snapshot-id"],
            parent_snapshot_id=d.get("parent-snapshot-id"),
            sequence_number=d["sequence-number"],
            timestamp_ms=d["timestamp-ms"],
            manifest_list=d["manifest-list"],
            schema_id=d.get("schema-id", 0),
            summary=d.get("summary", {}),
        )


# the snapshot-summary ``mode`` of every merge-on-read DELETE commit
# (Table.delete_where, Table.delete_by_keys): no data file is added
MOR_DELETE_MODES = frozenset(
    {"merge-on-read-positional", "merge-on-read-equality", "merge-on-read-dv"}
)


def appends_only(snap: Snapshot) -> bool:
    """True when the commit adds no file that rewrites existing rows: an
    append, or a merge-on-read delete (a delete file or deletion vector).
    A copy-on-write delete, overwrite or replace rewrites survivors into
    new files a manifest diff would misreport as appended rows."""
    return snap.operation == "append" or (
        snap.operation == "delete" and snap.summary.get("mode") in MOR_DELETE_MODES
    )


def ancestors(
    by_id: dict[int, Snapshot], snap: Optional[Snapshot]
) -> Iterator[Snapshot]:
    """``snap``, then its parents, newest first; stops at the first
    snapshot or at a parent missing from ``by_id`` (expired)."""
    while snap is not None:
        yield snap
        parent = snap.parent_snapshot_id
        snap = by_id.get(parent) if parent is not None else None


def snapshot_window(
    by_id: dict[int, Snapshot], start_id: Optional[int], end_snap: Optional[Snapshot]
) -> list[Snapshot]:
    """The commits after ``start_id`` up to and including ``end_snap``,
    oldest first; ``start_id=None`` starts at the first snapshot.  Raises
    :class:`InvalidDataError` when ``start_id`` is missing or is not an
    ancestor of ``end_snap``."""
    window = []
    for snap in ancestors(by_id, end_snap):
        if snap.snapshot_id == start_id:
            break
        window.append(snap)
    else:
        if start_id is not None:
            if start_id not in by_id:
                raise InvalidDataError(f"no snapshot with id {start_id}")
            end_id = end_snap.snapshot_id if end_snap is not None else None
            raise InvalidDataError(
                f"snapshot {start_id} is not an ancestor of {end_id}"
            )
    window.reverse()
    return window


def _schema_to_json(schema: ice_t.Schema) -> dict[str, Any]:
    def type_json(t: ice_t.Type) -> Any:
        if isinstance(t, ice_t.DecimalType):
            return f"decimal({t.precision},{t.scale})"
        if isinstance(t, ice_t.FixedType):
            return f"fixed({t.length})"
        if isinstance(t, ice_t.ListType):
            return {
                "type": "list",
                "element-id": t.element_field.field_id,
                "element": type_json(t.element_field.field_type),
                "element-required": t.element_field.required,
            }
        if isinstance(t, ice_t.MapType):
            return {
                "type": "map",
                "key-id": t.key_field.field_id,
                "key": type_json(t.key_field.field_type),
                "value-id": t.value_field.field_id,
                "value": type_json(t.value_field.field_type),
                "value-required": t.value_field.required,
            }
        if isinstance(t, ice_t.StructType):
            return {"type": "struct", "fields": [field_json(f) for f in t.fields]}
        return t.name

    def field_json(f: ice_t.NestedField) -> dict[str, Any]:
        d: dict[str, Any] = {
            "id": f.field_id,
            "name": f.name,
            "required": f.required,
            "type": type_json(f.field_type),
        }
        if f.doc is not None:
            d["doc"] = f.doc
        if f.initial_default is not None:
            d["initial-default"] = f.initial_default
        if f.write_default is not None:
            d["write-default"] = f.write_default
        return d

    return {
        "schema-id": schema.schema_id,
        "identifier-field-ids": schema.identifier_field_ids,
        "fields": [field_json(f) for f in schema.fields],
    }


def _schema_from_json(d: dict[str, Any]) -> ice_t.Schema:
    from iceberg_ruby_spark.table_definition import parse_type

    def type_from(tj: Any) -> ice_t.Type:
        if isinstance(tj, str):
            return parse_type(tj)
        if tj["type"] == "list":
            elem = ice_t.NestedField(
                tj["element-id"], "element", type_from(tj["element"]), tj.get("element-required", False)
            )
            return ice_t.ListType(elem)
        if tj["type"] == "map":
            kf = ice_t.NestedField(tj["key-id"], "key", type_from(tj["key"]), True)
            vf = ice_t.NestedField(
                tj["value-id"], "value", type_from(tj["value"]), tj.get("value-required", False)
            )
            return ice_t.MapType(kf, vf)
        if tj["type"] == "struct":
            return ice_t.StructType([field_from(fj) for fj in tj["fields"]])
        raise InvalidDataError(f"bad type json: {tj}")

    def field_from(fj: dict[str, Any]) -> ice_t.NestedField:
        return ice_t.NestedField(
            fj["id"],
            fj["name"],
            type_from(fj["type"]),
            required=fj.get("required", False),
            doc=fj.get("doc"),
            initial_default=fj.get("initial-default"),
            write_default=fj.get("write-default"),
        )

    return ice_t.Schema(
        fields=[field_from(fj) for fj in d.get("fields", [])],
        schema_id=d.get("schema-id", 0),
        identifier_field_ids=d.get("identifier-field-ids", []),
    )


class TableMetadata:
    """In-memory mirror of one ``v{N}.json``."""

    def __init__(self, d: dict[str, Any], version: int, metadata_file: str):
        self.raw = d
        self.version = version
        self.metadata_file = metadata_file

    # -- convenience accessors ---------------------------------------------
    @property
    def format_version(self) -> int:
        return self.raw.get("format-version", 2)

    @property
    def table_uuid(self) -> str:
        return self.raw["table-uuid"]

    @property
    def location(self) -> str:
        return self.raw["location"]

    @property
    def last_updated_ms(self) -> int:
        return self.raw["last-updated-ms"]

    @property
    def last_column_id(self) -> int:
        return self.raw.get("last-column-id", 0)

    @property
    def last_sequence_number(self) -> int:
        return self.raw.get("last-sequence-number", 0)

    @property
    def properties(self) -> dict[str, str]:
        return dict(self.raw.get("properties", {}))

    @property
    def schemas(self) -> list[ice_t.Schema]:
        return [_schema_from_json(s) for s in self.raw.get("schemas", [])]

    @property
    def current_schema_id(self) -> int:
        return self.raw.get("current-schema-id", 0)

    @property
    def snapshots(self) -> list[Snapshot]:
        return [Snapshot.from_json(s) for s in self.raw.get("snapshots", [])]

    @property
    def current_snapshot_id(self) -> Optional[int]:
        return self.raw.get("current-snapshot-id")

    @property
    def refs(self) -> dict[str, dict[str, Any]]:
        return self.raw.get("refs", {})

    @property
    def snapshot_log(self) -> list[dict[str, Any]]:
        return self.raw.get("snapshot-log", [])

    @property
    def metadata_log(self) -> list[dict[str, Any]]:
        return self.raw.get("metadata-log", [])

    @property
    def next_row_id(self) -> int:
        return self.raw.get("next-row-id", 0)


# --------------------------------------------------------------------------
# filesystem table ops (HadoopTableOperations analog)
# --------------------------------------------------------------------------


def _local_path(p: str) -> str:
    """``file:``-scheme URI → local filesystem path (other schemes pass
    through untouched).  Spec metadata commonly writes ``file:///…``
    locations; POSIX ``open`` does not speak URIs."""
    if p.startswith("file://"):
        return p[len("file://"):] or "/"
    if p.startswith("file:"):
        return p[len("file:"):]
    return p


def _spark_uri_path(p: str) -> str:
    """A Spark-reported file URI (``_metadata.file_path``,
    ``input_file_name``) as the LITERAL filesystem path the writer
    created: scheme stripped, Hadoop's URI percent-encoding undone.  A
    partition value with a space reports as ``%20`` and a literal ``%``
    as ``%25``, so ``unquote`` is the exact inverse (r12: manifest
    entries recording the encoded form made any space-bearing identity
    partition unreadable — PATH_NOT_FOUND on a path that existed)."""
    import urllib.parse

    return urllib.parse.unquote(_local_path(p))


def _file_path_col():
    """Column twin of :func:`_spark_uri_path` for ``_metadata.file_path``
    — scheme stripped, percent-decoding undone.  Literal ``+`` is
    pre-escaped because Spark's ``url_decode`` (java URLDecoder) turns a
    bare ``+`` into a space, which python's ``unquote`` (and Hadoop's
    encoder) never produce."""
    c = F.regexp_replace(F.col("_metadata.file_path"), "^file:", "")
    return F.url_decode(F.regexp_replace(c, r"\+", "%2B"))


class FsTableOps:
    """A table's metadata plane — its ``v{N}.json`` version files, its
    manifests and the commit protocol — over a
    :class:`~iceberg_ruby_spark.io.FileIO` (POSIX by default; the
    conditional put a commit needs maps directly onto S3/GCS/HDFS).

    Every catalog commits through this class.  A backend differs only in
    its version POINTER, the place that names the current ``v{N}.json``:

    - ``pointer is None`` (FS and Memory catalogs): the table's own
      ``metadata/version-hint.text``.  The conditional create of
      ``v{N+1}.json`` is the commit's compare-and-swap and the hint is
      last-writer-wins, so reads probe past a stale hint to the newest
      published version file (Iceberg's HadoopTableOperations).
    - a catalog pointer (the SQL catalog's table row, the Glue / S3
      Tables metadata location): an object with ``read()`` → the current
      version or ``None`` (no table), and ``swap(base, new)`` raising
      ``FileExistsError`` when another committer moved it first.  The
      catalog is authoritative; the hint is still written after each
      swap, so the directory stays a valid FS-layout table."""

    def __init__(self, location: str, io: Optional["FileIO"] = None):
        from iceberg_ruby_spark.io import FileIO, LocalFileIO  # noqa: F401

        self.location = location
        self.io: FileIO = io or LocalFileIO()
        self.metadata_dir = os.path.join(location, "metadata")
        self.data_dir = os.path.join(location, "data")
        self.pointer: Optional[Any] = None
        self._hint = os.path.join(self.metadata_dir, "version-hint.text")

    @property
    def registered_by_commit(self) -> bool:
        """Whether the first commit registers the table in its catalog:
        true where a catalog holds the version pointer.  The FS layout's
        pointer is the table's own hint, which lies outside the
        warehouse for a custom location."""
        return self.pointer is not None

    def _version_file(self, v: int) -> str:
        return os.path.join(self.metadata_dir, f"v{v}.json")

    def exists(self) -> bool:
        if self.pointer is not None:
            return self.pointer.read() is not None
        if self.io.exists(self._hint):
            return True
        return self._scan_latest_version() is not None

    def _scan_latest_version(self) -> Optional[int]:
        """Highest ``v{N}.json`` under metadata/ — Iceberg
        HadoopTableOperations' hint-recovery listing.  The hint file is a
        last-writer-wins convenience; losing it (partial copy, crashed
        replace, aggressive sync tool) must not brick the table, because
        every committed version file is still there.  A ``.dropped-*``
        tombstone means the hint was removed ON PURPOSE (drop_table
        without purge keeps the files) — no recovery then."""
        best = None
        try:
            for p in self.io.list(self.metadata_dir):
                base = os.path.basename(p)
                if base.startswith(".dropped-"):
                    return None
                m = re.match(r"^v(\d+)\.json$", base)
                if m:
                    v = int(m.group(1))
                    best = v if best is None or v > best else best
        except (OSError, NoSuchTableError):
            return None
        return best

    def _hint_version(self) -> Optional[int]:
        try:
            v = int(self.io.read(self._hint).strip())
        except (OSError, ValueError):
            v = self._scan_latest_version()
            if v is None:
                return None
            # heal the hint for subsequent readers (best-effort)
            try:
                self.io.replace(self._hint, str(v))
            except OSError:
                pass
        # a committer that published v{N+1} and died before moving the
        # hint left it stale; the published version file is the truth
        while self.io.exists(self._version_file(v + 1)):
            v += 1
        return v

    def current_version(self) -> int:
        v = self.pointer.read() if self.pointer is not None else self._hint_version()
        if v is None:
            raise NoSuchTableError(f"no table at {self.location}")
        return v

    def load(self, version: Optional[int] = None) -> TableMetadata:
        if version is None:
            version = self.current_version()
        elif not self.exists():
            raise NoSuchTableError(f"no table at {self.location}")
        path = self._version_file(version)
        return TableMetadata(json.loads(self.io.read(path)), version, path)

    def commit(self, base_version: Optional[int], new_meta: dict[str, Any]) -> TableMetadata:
        """Optimistic commit, the same four steps for every catalog:

        1. conditional create of ``v{N+1}.json`` (``FileExistsError`` when
           a concurrent committer published it first);
        2. the catalog pointer's swap base → N+1 (``FileExistsError`` when
           its CAS is lost);
        3. the version hint: the FS pointer itself, or an advisory copy
           beside a catalog pointer;
        4. :meth:`_trim_old_versions`."""
        new_version = (base_version or 0) + 1
        path = self._version_file(new_version)
        self.io.write_atomic(path, json.dumps(new_meta, indent=1), overwrite=False)
        if self.pointer is not None:
            self.pointer.swap(base_version, new_version)
        self.io.replace(self._hint, str(new_version))
        self._trim_old_versions(new_meta, new_version)
        return TableMetadata(new_meta, new_version, path)

    def _trim_old_versions(self, meta: dict[str, Any], new_version: int) -> None:
        """Iceberg's ``write.metadata.delete-after-commit.enabled`` +
        ``write.metadata.previous-versions-max`` (default 100): after a
        successful commit, drop metadata version FILES older than the
        retained window so a long-lived table's metadata/ dir doesn't grow
        one JSON per commit forever.  Metadata files only — snapshots,
        manifests, and data are untouched (their lifecycle belongs to
        expire_snapshots / remove_orphan_files).  Deletes are best-effort:
        a reader pinned to an ancient version losing the race is exactly
        the spec's documented behavior for this property."""
        props = meta.get("properties", {})
        if props.get(
            "write.metadata.delete-after-commit.enabled", "false"
        ).lower() != "true":
            return
        keep = _previous_versions_max(props)
        cutoff = new_version - 1 - keep  # newest retained old version
        v = cutoff
        while v >= 1:
            path = self._version_file(v)
            if not self.io.exists(path):
                break  # already trimmed below this point
            try:
                self.io.delete(path)
            except OSError:  # pragma: no cover — best-effort
                break
            v -= 1

    def _rel(self, p: str) -> str:
        """Path as stored: relative to the table location, so the table tree
        survives rename/move (and the layout maps 1:1 onto an object-store
        prefix).  Paths outside the location stay absolute.  URI locations
        (``s3://…``) use plain prefix-stripping — ``os.path.abspath`` would
        mangle the scheme."""
        if "://" in self.location:
            loc = self.location.rstrip("/")
            if p == loc or p.startswith(loc + "/"):
                return p[len(loc) + 1 :] if p != loc else "."
            return p
        ap = os.path.abspath(p)
        loc = os.path.abspath(self.location)
        if ap == loc or ap.startswith(loc + os.sep):
            return os.path.relpath(ap, loc)
        return p

    def _abs(self, p: str) -> str:
        if "://" in self.location:
            if "://" in p:
                return p
            return self.location.rstrip("/") + "/" + p
        if "://" in p:
            # Externally-authored metadata stores absolute URIs; a ``file://``
            # URI maps onto this local ops, anything else stays as written.
            return _local_path(p)
        return p if os.path.isabs(p) else os.path.join(self.location, p)

    # The four manifest methods are this ops' whole manifest plane; they
    # stay defined here (not inherited from a mixin) so wrappers that
    # patch ``FsTableOps`` by attribute name see every call.

    def write_manifest(
        self,
        snapshot_id: int,
        entries: list[dict[str, Any]],
        ctx: ManifestContext,
        base_list: Optional[str] = None,
    ) -> str:
        """Write ``entries`` as Iceberg-spec Avro manifests plus a manifest
        list (:func:`manifests.write_avro_manifests`; ``ctx`` carries the
        schemas, specs and sequence number) and return the list's path
        relative to the table location.

        ``base_list`` enables FAST APPEND: ``entries`` is this commit's
        delta only, and the new manifest list reuses the base snapshot's
        manifest files instead of rewriting the table's full entry set —
        commit metadata cost is O(new files), not O(table files) (Iceberg's
        fast-append snapshot semantics).  Small manifests are merged once
        the list reaches :data:`manifests.MANIFEST_SEGMENT_CAP` entries, so
        scan planning never opens an unbounded number of metadata files."""
        return write_avro_manifests(
            self, snapshot_id, entries, ctx, base_list=base_list
        )

    def read_manifest(self, manifest_list: str) -> list[dict[str, Any]]:
        return read_avro_manifest_list(self, manifest_list)[0]

    def read_manifest_filtered(
        self, manifest_list: str, trees, allow_mor: bool = False
    ) -> tuple[list[dict[str, Any]], int]:
        """:meth:`read_manifest`, but data manifests whose stored column
        summary PROVES every file full-misses the filter ``trees`` are
        skipped without being opened — filtered metadata-aggregate planning
        cost scales with MATCHING manifests, not total entries.

        Returns ``(entries, skipped_manifests)``.  With the default
        ``allow_mor=False``, pruning engages only when the snapshot has
        ZERO merge-on-read entries: a delete could reference a file in a
        skipped manifest, and the DV-exact COUNT proof needs the full
        matched-file map.  ``allow_mor=True`` (the executed-scan/plan_files
        callers) prunes data manifests even on MoR tables — sound for
        READING because a pruned file's rows are never materialized, so a
        delete scoped to it is a no-op, and every delete ENTRY still rides
        along (delete manifests are always read).  Summary-less manifests
        are always read in both modes, and ``trees=None`` reads every
        manifest."""
        return read_avro_manifest_list(self, manifest_list, trees, allow_mor)

    def read_manifest_delta(
        self, end_list: str, start_list: str
    ) -> Optional[list[dict[str, Any]]]:
        """Entries in ``end_list``'s snapshot that are NOT in
        ``start_list``'s, derived STRUCTURALLY — only the two lists plus
        the delta manifests are read, never the full table's metadata.
        Returns ``None`` when the delta isn't structurally derivable (a
        replace commit or a manifest merge inside the window); callers
        fall back to a full set diff.  This is what makes incremental /
        streaming planning O(new files) at 100 TB."""
        return read_avro_manifest_delta(self, end_list, start_list)


class StaticTableOps(FsTableOps):
    """Read-only ops over ONE externally-authored spec ``metadata.json`` —
    the reference's StaticTable contract (``lib/iceberg/static_table.rb:2-8``,
    ``ext/iceberg/src/table.rs:133-146``): load THE file the caller named, no
    catalog, no version-hint protocol, no layout assumptions.  The table
    location (for resolving relative manifest/data paths) comes from the
    metadata's own ``location`` field; commits are rejected."""

    def __init__(self, metadata_file: str, io: Optional["FileIO"] = None):
        from iceberg_ruby_spark.io import LocalFileIO

        _io = io or LocalFileIO()
        self._metadata_file = metadata_file
        raw = json.loads(_io.read(_local_path(metadata_file)))
        if not isinstance(raw, dict) or "location" not in raw:
            raise InvalidDataError(
                f"not a table metadata file: {metadata_file}"
            )
        # Spec serializations sometimes encode "no current snapshot" as -1.
        if raw.get("current-snapshot-id") == -1:
            raw["current-snapshot-id"] = None
        super().__init__(_local_path(raw["location"]), io=_io)
        self._raw = raw
        self._version = self._parse_version(metadata_file)

    @staticmethod
    def _parse_version(path: str) -> int:
        """Best-effort version from the filename: ``v3.json`` → 3,
        ``00003-<uuid>.metadata.json`` → 3, else 0."""
        name = os.path.basename(path)
        m = re.match(r"v(\d+)\.json$", name) or re.match(r"(\d+)-", name)
        return int(m.group(1)) if m else 0

    def exists(self) -> bool:
        return True

    def current_version(self) -> int:
        return self._version

    def load(self, version: Optional[int] = None) -> TableMetadata:
        return TableMetadata(self._raw, self._version, self._metadata_file)

    def commit(self, base_version: Optional[int], new_meta: dict[str, Any]) -> TableMetadata:
        raise UnsupportedFeatureError("Read-only table")


def _as_epoch_ms(v: Any) -> int:
    """int epoch-millis, datetime, or ISO string → epoch millis (naive
    datetimes read as UTC — sessions are pinned to UTC)."""
    import datetime as _dt

    if isinstance(v, bool):
        raise InvalidDataError(f"not a timestamp: {v!r}")
    if isinstance(v, int):
        return v
    if isinstance(v, str):
        parsed = _dt.datetime.fromisoformat(v.replace("T", " ", 1))
        v = parsed
    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        return int(v.timestamp() * 1000)
    raise InvalidDataError(f"not a timestamp: {v!r}")


def _now_ms() -> int:
    return int(time.time() * 1000)


def _commit_backoff(attempt: int) -> None:
    """Jittered exponential backoff between optimistic-commit retries —
    without it, N contending writers starve each other into spurious
    too-many-retries failures (seen at 6 writers with 5 bare retries)."""
    import random

    time.sleep(random.uniform(0, min(0.5, 0.005 * (2 ** min(attempt, 7)))))


def _new_snapshot_id() -> int:
    return uuid_mod.uuid4().int >> 65  # 63-bit positive


def _previous_versions_max(props: Optional[dict]) -> int:
    """``write.metadata.previous-versions-max``: the spec default 100 when
    unset or malformed, and at least 1 (a non-positive cap would invert
    the ``[-n:]`` slices it feeds)."""
    try:
        n = int((props or {}).get("write.metadata.previous-versions-max", 100))
    except (TypeError, ValueError):
        n = 100
    return max(1, n)


# -- per-file Bloom key index (standing index state, like IVF/PQ) ---------
# Not a Parquet row-group bloom: a MANIFEST-LEVEL file-pruning structure,
# so a point lookup on a high-cardinality non-sort column skips whole
# files at PLANNING time — bounds can't (every file's [min,max] spans the
# domain when the column isn't clustered).
_BLOOM_BLOB_TYPE = "iceberg-ruby-spark-bloom-v1"


def _bloom_params(n: int, fpp: float) -> tuple[int, int]:
    """(m bits, k hashes) for n distinct keys at the target false-positive
    rate — the standard sizing, m rounded up to whole bytes."""
    import math

    n = max(1, n)
    m = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    m = (m + 7) // 8 * 8
    k = max(1, int(round(m / n * math.log(2))))
    return m, k


def _bloom_positions(val_str: str, m: int, k: int) -> list[int]:
    """k bit positions via double hashing over one md5 (deterministic
    across processes/runs — no PYTHONHASHSEED dependence)."""
    import hashlib

    d = hashlib.md5(val_str.encode("utf-8")).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:16], "little") | 1
    return [(h1 + i * h2) % m for i in range(k)]


def _bloom_maybe_contains(blob: bytes, m: int, k: int, val_str: str) -> bool:
    for p in _bloom_positions(val_str, m, k):
        if not (blob[p >> 3] >> (p & 7)) & 1:
            return False
    return True


# Broadcast budget for delete_by_keys' key frame (Catalyst size estimate).
# Matches the spirit of spark.sql.autoBroadcastJoinThreshold but applies to
# the explicit hint, which would otherwise override Spark's own guard.
_BROADCAST_KEYS_MAX_BYTES = 64 << 20

# The spec's fixed position-delete file columns (format spec "Position
# Delete Files"; the optional ``row`` column is never read).
_POS_DELETE_FIELDS = (
    _T.StructField("file_path", _T.StringType()),
    _T.StructField("pos", _T.LongType()),
)


def _read_files(
    spark: SparkSession, paths, fields, fmt: str = "parquet", base_path=None
) -> DataFrame:
    """Read files the table's metadata names under a schema built from
    that metadata (``fields``, Spark ``StructField`` objects) — never from
    footers or inference, so building the frame starts no Spark job.  A
    declared column a file lacks reads null, a narrower physical type
    reads widened, and hive partition directories under ``base_path``
    still surface, typed by the declared field of the same name or else
    from the path string."""
    schema = _T.StructType([_T.StructField(f.name, f.dataType) for f in fields])
    reader = spark.read.schema(schema)
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    return reader.format(fmt).load(paths if isinstance(paths, str) else list(paths))


def _absent_defaults(path: str, fmt: str, written: ice_t.Schema) -> tuple:
    """Ids of ``written``'s defaulted fields that the file at ``path``
    stores neither as a column nor as a partition directory.  An entry's
    ``schema-id`` is its file's write schema when this engine wrote the
    manifest, but other writers record the manifest header's schema for
    every entry, and a merged manifest's header can be newer than some of
    its files; a defaulted column such a file lacks must read its
    initial-default, not null.  Only defaulted fields need the check, so
    only files under a schema with one open a footer (pyarrow, on the
    driver, no Spark job); files off the local filesystem are taken to
    store every field."""
    defaulted = [f for f in written.fields if f.initial_default is not None]
    local = _local_path(path)
    if not defaulted or not os.path.isfile(local):
        return ()
    if fmt == "orc":
        from pyarrow import orc as _orc

        names = set(_orc.ORCFile(local).schema.names)
    else:
        import pyarrow.parquet as _pq

        names = set(_pq.read_schema(local).names)
    names |= set(dir_partition_values(local))
    return tuple(f.field_id for f in defaulted if f.name not in names)


_THETA_TYPES = (
    ice_t.BooleanType, ice_t.IntType, ice_t.LongType, ice_t.FloatType,
    ice_t.DoubleType, ice_t.DateType, ice_t.TimestampType, ice_t.TimestampTzType,
    ice_t.TimestampNanoType, ice_t.TimestampTzNanoType, ice_t.DecimalType,
    ice_t.StringType,
)


def _theta_supported(t: ice_t.Type) -> bool:
    """Types with an Iceberg single-value serialization — the input the
    spec defines for theta-sketch updates."""
    return isinstance(t, _THETA_TYPES)


# pandas is needed only inside _theta_hash_udf's pandas UDF; a module-level
# import put the full ~0.3 s pandas import on every engine-importing
# process, including the streaming micro-batch Python workers (see
# transforms.py for the same pattern and the measurement)
pandas = None


def _ensure_pandas():
    global pandas
    if pandas is None:
        import pandas as _pd

        globals()["pandas"] = _pd
    return pandas


def _theta_hash_udf(ice_type: ice_t.Type):
    """Arrow-batched pandas UDF: value → 63-bit theta-sketch hash of its
    Iceberg single-value serialization (theta_sketch.hash63, the
    DataSketches murmur).  Nulls stay null and never enter the sketch.

    Fixed-width serializations (int/long/float/double/timestamps — the
    typical ANALYZE columns) take a numpy-vectorized murmur
    (theta_sketch.hash63_fixed_batch, cross-checked value-for-value
    against the scalar reference in tests) — measured ~40× the per-value
    Python loop, which remains the path for strings/dates/decimals."""
    from iceberg_ruby_spark.manifests import bound_to_bytes
    from iceberg_ruby_spark.theta_sketch import hash63, hash63_fixed_batch

    _ensure_pandas()
    fixed = None
    if isinstance(
        ice_type,
        (ice_t.LongType, ice_t.TimestampNanoType, ice_t.TimestampTzNanoType),
    ):
        fixed = ("int", 8)
    elif isinstance(ice_type, ice_t.IntType):
        fixed = ("int", 4)
    elif isinstance(ice_type, ice_t.DoubleType):
        fixed = ("float", 8)
    elif isinstance(ice_type, ice_t.FloatType):
        fixed = ("float", 4)
    elif isinstance(ice_type, (ice_t.TimestampType, ice_t.TimestampTzType)):
        fixed = ("ts", 8)

    @F.pandas_udf("long")
    def _hash(s: pandas.Series) -> pandas.Series:
        import numpy as np

        if fixed is not None:
            kind, width = fixed
            arr = s.to_numpy()
            u = None
            if kind == "ts" and arr.dtype.kind == "M":
                u = arr.astype("datetime64[us]").view("int64").astype(np.uint64)
            elif kind == "int" and arr.dtype.kind in ("i", "u", "f"):
                # nullable ints arrive as float64 — same truncation the
                # scalar path's int(value) applies
                u = s.fillna(0).to_numpy().astype(np.int64).astype(np.uint64)
                if width == 4:
                    u = u & np.uint64(0xFFFFFFFF)
            elif kind == "float" and arr.dtype.kind == "f":
                if width == 8:
                    u = s.fillna(0.0).to_numpy(dtype="float64").view(np.uint64)
                else:
                    u = (
                        s.fillna(0.0)
                        .to_numpy(dtype="float32")
                        .view(np.uint32)
                        .astype(np.uint64)
                    )
            if u is not None:
                h = hash63_fixed_batch(u, width)
                out = pandas.array(h, dtype="Int64")
                dead = s.isna().to_numpy() | (h == 0)
                if dead.any():
                    out[dead] = None
                return pandas.Series(out)
        out = []
        for v in s:
            if v is None or (isinstance(v, float) and v != v):
                out.append(None)
                continue
            out.append(hash63(bound_to_bytes(v, ice_type)))
        return pandas.Series(pandas.array(out, dtype="Int64"))

    return _hash


def _entry_key(e: dict[str, Any]) -> str:
    """Stable identity of a manifest entry: its path for a data entry,
    its whole value for a pathless one (a delete file)."""
    if "path" in e:
        return e["path"]
    return json.dumps(e, sort_keys=True, default=str)


# ``removed=ALL``: a commit that replaces every entry live at the head it
# lands on (overwrite, create-or-replace)
ALL: Any = object()


def _entry_totals(entries: Iterable[dict[str, Any]]) -> tuple[int, int, int]:
    """(data files, records, delete entries) of ``entries``."""
    files = records = deletes = 0
    for e in entries:
        if "path" in e:
            files += 1
            records += e.get("record-count") or 0
        else:
            deletes += 1
    return files, records, deletes


_TOTAL_KEYS = ("total-data-files", "total-records", "total-delete-entries")


# --------------------------------------------------------------------------
# Table
# --------------------------------------------------------------------------


class Table:
    """A loaded table handle (reference ``lib/iceberg/table.rb``)."""

    def __init__(
        self,
        spark: SparkSession,
        location: str,
        identifier: Optional[list[str]] = None,
        catalog: Optional[Any] = None,
        read_only: bool = False,
        io: Optional[Any] = None,
        ops: Optional[Any] = None,
    ):
        self.spark = spark
        self.identifier = identifier or []
        self.catalog = catalog
        self.read_only = read_only
        # ops: the metadata plane (load/commit/manifests), an FsTableOps.
        # A catalog table passes the ops its catalog built: FsTableOps
        # with the catalog's version pointer attached (SQL, Glue, S3
        # Tables), or RestTableOps, whose server owns the metadata.
        self.ops = ops or FsTableOps(location, io=io)
        self.metadata = self.ops.load()
        # per-instance lazy cache: col -> bloom index dict | None; False
        # sentinel = not looked up yet (refresh() returns a new instance)
        self._bloom_cache: dict[str, Any] = {}

    # -- metadata accessors (reference table.rb:12-141) ---------------------
    def refresh(self) -> "Table":
        self.metadata = self.ops.load()
        return self

    def transaction(self) -> "Transaction":
        """Multi-operation single-commit transaction (Iceberg's
        ``Table.newTransaction`` / PyIceberg's ``table.transaction()``)::

            with t.transaction() as tx:
                tx.append(rows)
                tx.delete_where("k < 0", mode="merge-on-read")
                tx.update_schema().add_column("note", "string").commit()

        Every operation inside the block stages against an in-memory
        metadata chain (data and manifest FILES are written to storage
        immediately — on abort they become orphans for
        ``remove_orphan_files``, exactly Iceberg's behavior); readers of
        the table never see intermediate states.  Exiting the block
        cleanly publishes ALL staged snapshots and metadata changes in ONE
        atomic optimistic commit against the version observed at
        transaction start — a concurrent commit in between raises a
        conflict instead of silently interleaving.  An exception inside
        the block discards the staged state.  Catalog-level operations
        (rename/drop) are not table metadata and cannot be staged."""
        self._check_writable()
        return Transaction(self)

    @property
    def format_version(self) -> int:
        return self.metadata.format_version

    @property
    def uuid(self) -> str:
        return self.metadata.table_uuid

    @property
    def location(self) -> str:
        return self.metadata.location

    @property
    def last_updated_at(self) -> float:
        return self.metadata.last_updated_ms / 1000.0

    @property
    def last_column_id(self) -> int:
        return self.metadata.last_column_id

    @property
    def last_sequence_number(self) -> int:
        return self.metadata.last_sequence_number

    @property
    def next_sequence_number(self) -> int:
        return self.metadata.last_sequence_number + 1

    @property
    def last_partition_id(self) -> Optional[int]:
        specs = self.metadata.raw.get("partition-specs", [])
        ids = [f.get("field-id", 0) for s in specs for f in s.get("fields", [])]
        return max(ids) if ids else None

    @property
    def next_row_id(self) -> int:
        return self.metadata.next_row_id

    # schemas
    @property
    def schemas(self) -> list[ice_t.Schema]:
        return self.metadata.schemas

    def schema_by_id(self, schema_id: int) -> Optional[ice_t.Schema]:
        for s in self.schemas:
            if s.schema_id == schema_id:
                return s
        return None

    @property
    def current_schema_id(self) -> int:
        return self.metadata.current_schema_id

    def current_schema(self) -> ice_t.Schema:
        s = self.schema_by_id(self.current_schema_id)
        assert s is not None
        return s

    @property
    def schema(self) -> ice_t.Schema:
        return self.current_schema()

    def update_spec(self, partition_spec: Any) -> "Table":
        """Partition-spec evolution: future writes use the new spec; files
        written under prior specs stay valid (reads are file-list driven,
        each commit directory keeps the layout it was written with — the
        same property that makes Iceberg spec evolution metadata-only)."""
        from iceberg_ruby_spark.transforms import PartitionSpec

        spec = (
            partition_spec
            if isinstance(partition_spec, PartitionSpec)
            else PartitionSpec(fields=list(partition_spec or []))
        )
        spec.validate(self.current_schema())
        spec_json = spec.to_json()

        def mutate(raw: dict[str, Any]) -> None:
            specs = raw.get("partition-specs", [])
            new_id = max((s.get("spec-id", 0) for s in specs), default=-1) + 1
            # Spec rule: partition field ids are UNIQUE across all specs of
            # a table (v2), and the same (source, transform) keeps its id
            # when it reappears in a later spec.  Allocate monotonically
            # from ``last-partition-id`` (1000+i per the spec's initial
            # numbering for spec 0), reusing ids for identical fields —
            # without this, external readers see field-id collisions
            # between specs and mis-bind partition predicates.
            existing: dict[tuple, int] = {}
            last_pid = raw.get("last-partition-id", 999)
            for s in specs:
                for i, f in enumerate(s.get("fields", [])):
                    fid = f.get("field-id", 1000 + i)
                    last_pid = max(last_pid, fid)
                    existing.setdefault((f.get("source"), f.get("transform")), fid)
            new_fields = []
            for f in spec_json:
                key = (f["source"], f["transform"])
                fid = existing.get(key)
                if fid is None:
                    last_pid += 1
                    fid = last_pid
                new_fields.append({**f, "field-id": fid})
            raw["partition-specs"] = specs + [{"spec-id": new_id, "fields": new_fields}]
            raw["default-spec-id"] = new_id
            raw["last-partition-id"] = last_pid

        self._metadata_update(mutate)
        return self

    def replace_sort_order(self, sort_order: Any) -> "Table":
        """Sort-order evolution: future writes (and compaction clustering)
        use the new order."""
        from iceberg_ruby_spark.transforms import SortOrder

        so = (
            sort_order
            if isinstance(sort_order, SortOrder)
            else SortOrder(fields=list(sort_order or []))
        )
        order_json = so.to_json()

        def mutate(raw: dict[str, Any]) -> None:
            orders = raw.get("sort-orders", [])
            new_id = max((o.get("order-id", 0) for o in orders), default=0) + 1
            raw["sort-orders"] = orders + [{"order-id": new_id, "fields": order_json}]
            raw["default-sort-order-id"] = new_id

        self._metadata_update(mutate)
        return self

    def update_schema(self) -> "UpdateSchema":
        """Schema-evolution builder (beyond the reference, whose client has
        no authoring surface — SURVEY.md notes evolution is read-tolerated
        only).  Metadata-only commit; existing data files are never
        rewritten — reads project them by field id.

        >>> with table.update_schema() as u:
        ...     u.add_column("tag", "string")
        ...     u.rename_column("amount", "total")
        """
        self._check_writable()
        return UpdateSchema(self)

    def spark_schema(self):
        return self.current_schema().to_spark()

    # partition specs
    @property
    def partition_specs(self) -> list[dict[str, Any]]:
        return self.metadata.raw.get("partition-specs", [])

    def partition_spec_by_id(self, spec_id: int) -> Optional[dict[str, Any]]:
        for s in self.partition_specs:
            if s.get("spec-id") == spec_id:
                return s
        return None

    @property
    def default_spec_id(self) -> int:
        return self.metadata.raw.get("default-spec-id", 0)

    def default_partition_spec(self) -> Optional[dict[str, Any]]:
        return self.partition_spec_by_id(self.default_spec_id)

    # sort orders
    @property
    def sort_orders(self) -> list[dict[str, Any]]:
        return self.metadata.raw.get("sort-orders", [])

    def sort_order_by_id(self, order_id: int) -> Optional[dict[str, Any]]:
        for s in self.sort_orders:
            if s.get("order-id") == order_id:
                return s
        return None

    @property
    def default_sort_order_id(self) -> int:
        return self.metadata.raw.get("default-sort-order-id", 0)

    def default_sort_order(self) -> Optional[dict[str, Any]]:
        return self.sort_order_by_id(self.default_sort_order_id)

    # snapshots
    @property
    def snapshots(self) -> list[Snapshot]:
        return self.metadata.snapshots

    def snapshot_by_id(self, snapshot_id: int) -> Optional[Snapshot]:
        for s in self.snapshots:
            if s.snapshot_id == snapshot_id:
                return s
        return None

    @property
    def current_snapshot_id(self) -> Optional[int]:
        return self.metadata.current_snapshot_id

    def current_snapshot(self) -> Optional[Snapshot]:
        sid = self.current_snapshot_id
        return self.snapshot_by_id(sid) if sid is not None else None

    def snapshot_for_ref(self, ref_name: str) -> Optional[Snapshot]:
        ref = self.metadata.refs.get(ref_name)
        if ref is None:
            return None
        return self.snapshot_by_id(ref["snapshot-id"])

    @property
    def refs(self) -> dict[str, dict[str, Any]]:
        return self.metadata.refs

    # -- ref authoring (branches & tags) -------------------------------------
    # The reference only READS refs (`snapshot_for_ref`,
    # ext/iceberg/src/table.rs:230-268) — authoring is the missing half a
    # real user needs to create what snapshot_for_ref reads.

    def _metadata_update(self, mutate) -> None:
        """Optimistic metadata-only commit: ``mutate(raw_dict)`` edits a copy
        of the current metadata; retried on version conflicts."""
        self._check_writable()
        for attempt in range(self._commit_retries() + 1):
            meta = self.ops.load()
            raw = dict(meta.raw)
            mutate(raw)
            raw["last-updated-ms"] = _now_ms()
            try:
                self.metadata = self.ops.commit(meta.version, raw)
                return
            except FileExistsError:
                _commit_backoff(attempt)
                continue
        raise InvalidDataError("metadata commit conflict: too many retries")

    def _set_ref(
        self,
        name: str,
        ref_type: str,
        snapshot_id: Optional[int],
        retention: Optional[dict[str, int]] = None,
    ) -> None:
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id
        if sid is None:
            raise InvalidDataError("table has no snapshot to reference")
        if self.snapshot_by_id(sid) is None:
            raise InvalidDataError(f"no snapshot with id {sid}")

        def mutate(raw: dict[str, Any]) -> None:
            refs = dict(raw.get("refs", {}))
            ref: dict[str, Any] = {"snapshot-id": sid, "type": ref_type}
            for k, v in (retention or {}).items():
                if v is not None:
                    ref[k] = int(v)
            refs[name] = ref
            raw["refs"] = refs

        self._metadata_update(mutate)

    def create_tag(
        self,
        name: str,
        snapshot_id: Optional[int] = None,
        max_ref_age_ms: Optional[int] = None,
    ) -> "Table":
        """Tag a snapshot (defaults to the current one).  ``max_ref_age_ms``
        is the spec's ref-retention field: expire_snapshots drops the tag
        once its snapshot is older than this."""
        self._set_ref(
            name, "tag", snapshot_id, retention={"max-ref-age-ms": max_ref_age_ms}
        )
        return self

    def create_branch(
        self,
        name: str,
        snapshot_id: Optional[int] = None,
        max_ref_age_ms: Optional[int] = None,
        min_snapshots_to_keep: Optional[int] = None,
        max_snapshot_age_ms: Optional[int] = None,
    ) -> "Table":
        """Create a named branch pointing at a snapshot (defaults current).

        Spec ref-retention fields (honored by expire_snapshots):
        ``max_ref_age_ms`` drops the branch itself once aged out;
        ``min_snapshots_to_keep`` / ``max_snapshot_age_ms`` protect the
        branch's ANCESTRY — at least N newest ancestors, plus every
        ancestor younger than the age bound."""
        self._set_ref(
            name, "branch", snapshot_id,
            retention={
                "max-ref-age-ms": max_ref_age_ms,
                "min-snapshots-to-keep": min_snapshots_to_keep,
                "max-snapshot-age-ms": max_snapshot_age_ms,
            },
        )
        return self

    def drop_ref(self, name: str) -> "Table":
        if name == MAIN_BRANCH:
            raise InvalidDataError("cannot drop the main branch")
        if name not in self.refs:
            raise InvalidDataError(f"no such ref: {name}")

        def mutate(raw: dict[str, Any]) -> None:
            refs = dict(raw.get("refs", {}))
            refs.pop(name, None)
            raw["refs"] = refs

        self._metadata_update(mutate)
        return self

    def history(self) -> list[dict[str, Any]]:
        return self.metadata.snapshot_log

    def metadata_log(self) -> list[dict[str, Any]]:
        return self.metadata.metadata_log

    @property
    def properties(self) -> dict[str, str]:
        return self.metadata.properties

    def update_properties(
        self,
        updates: Optional[dict[str, str]] = None,
        removals: Optional[Sequence[str]] = None,
    ) -> "Table":
        """Set/remove table properties (Iceberg's UpdateProperties op; the
        reference exposes properties read-only — ``table.rb`` ``properties``
        — so this exceeds it).  Metadata-only optimistic commit."""
        ups = {str(k): str(v) for k, v in (updates or {}).items()}
        rms = [str(k) for k in (removals or [])]

        def mutate(raw: dict[str, Any]) -> None:
            props = dict(raw.get("properties", {}))
            props.update(ups)
            for k in rms:
                props.pop(k, None)
            raw["properties"] = props

        self._metadata_update(mutate)
        return self

    # statistics (reference reads Puffin stats files,
    # ext/iceberg/src/statistics.rs:14-71; here the analog is a JSON stats
    # file per snapshot written by compute_statistics)
    def build_key_bloom(self, col: str, fpp: float = 0.01) -> dict[str, Any]:
        """Build (or rebuild) a per-file Bloom key index for ``col`` —
        standing index state like IVF/PQ: one bloom filter per data file,
        all in ONE Puffin file under the metadata dir, registered in table
        properties (``bloom.index.<col>.*``).

        Point lookups (``col = literal`` conjuncts) then prune FILES at
        planning time: bounds pruning is useless for a high-cardinality
        column that isn't the sort key (every file's [min, max] spans the
        domain), but a bloom answers "this file can't hold the key" with
        ``fpp`` false-positive rate — at 10^5 files that's the difference
        between opening 1 file and opening them all.

        Soundness under table evolution is structural: blooms key data
        files by PATH, files are immutable, and a rewritten/appended file
        isn't in the index so it is conservatively kept until the next
        build.  Distributed build: one scan of (file, col), one
        Arrow-batched fold per file; the driver holds one blob per file.

        Only int/long/string columns (the point-lookup types; float
        equality is a smell and its string form is unstable)."""
        self._check_writable()
        field = self.current_schema().field_by_name(col)
        if field is None:
            raise InvalidDataError(f"no column {col!r}")
        if not isinstance(
            field.field_type, (ice_t.IntType, ice_t.LongType, ice_t.StringType)
        ):
            raise InvalidDataError(
                f"bloom index supports int/long/string columns, not "
                f"{field.field_type.name}"
            )
        snap = self.current_snapshot()
        if snap is None:
            raise InvalidDataError("table has no snapshot to index")
        entries = self.ops.read_manifest(snap.manifest_list)
        data, _mor = self._split_entries(entries)
        from iceberg_ruby_spark.puffin import write_puffin

        blobs = self._build_bloom_blobs(data, col, fpp, snap)
        payload = write_puffin(blobs)
        path = os.path.join(
            self.ops.metadata_dir,
            f"bloom-{col}-{uuid_mod.uuid4().hex[:12]}.puffin",
        )
        self.ops.io.write_bytes_atomic(path, payload)
        old = self.properties.get(f"bloom.index.{col}.path")
        self.update_properties(
            {
                f"bloom.index.{col}.path": self.ops._rel(path),
                f"bloom.index.{col}.fpp": str(fpp),
                # identity: the index belongs to THIS field, not whatever
                # later reuses the name (drop + re-add under the same name
                # would otherwise prune by the old column's values)
                f"bloom.index.{col}.field-id": str(field.field_id),
            }
        )
        if old:
            try:  # superseded index file: no snapshot references it
                self.ops.io.delete(self.ops._abs(old))
            except OSError:
                pass
        self._bloom_cache.pop(col, None)
        return {"column": col, "files": len(blobs), "bytes": len(payload)}

    def _build_bloom_blobs(
        self, data_entries: list[dict[str, Any]], col: str, fpp: float, snap
    ) -> list[dict[str, Any]]:
        """One distributed scan of (file, col) over ``data_entries`` →
        per-file bloom Puffin blob dicts (the fold each build path
        shares); Arrow-batched, the driver holds one blob per file."""
        if not data_entries:
            return []
        # cast to STRING on the JVM before Arrow: a nullable int64 column
        # crossing into pandas becomes float64, which rounds keys above
        # 2^53 — the bloom would then store the wrong key string and a
        # later lookup would silently prune the file holding the row
        # (r10 review finding).  The JVM cast is exact at all magnitudes
        # and matches the lookup side's str(literal) form.
        df = self._read_entries(data_entries, file_col="__file").select(
            "__file", F.col(col).cast("string").alias(col)
        )
        import pandas as pd

        def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
            vals = pdf[col].dropna().unique()
            m, k = _bloom_params(len(vals), fpp)
            bits = bytearray(m // 8)
            for v in vals:
                for p in _bloom_positions(v, m, k):
                    bits[p >> 3] |= 1 << (p & 7)
            return pd.DataFrame(
                {
                    "file": [pdf["__file"].iloc[0]],
                    "m": [m],
                    "k": [k],
                    "n": [len(vals)],
                    "blob": [bytes(bits)],
                }
            )

        rows = (
            df.groupBy("__file")
            .applyInPandas(build, "file string, m long, k long, n long, blob binary")
            .collect()
        )
        blobs = []
        for r in rows:
            p = r["file"]
            if p.startswith("file:"):
                p = p[len("file:"):]
            blobs.append(
                {
                    "type": _BLOOM_BLOB_TYPE,
                    "snapshot-id": snap.snapshot_id,
                    "sequence-number": snap.sequence_number,
                    "payload": bytes(r["blob"]),
                    "properties": {
                        "referenced-data-file": self.ops._rel(p),
                        "m": str(r["m"]),
                        "k": str(r["k"]),
                        "ndv": str(r["n"]),
                    },
                }
            )
        return blobs

    def refresh_key_bloom(self, col: str) -> dict[str, Any]:
        """Incremental index maintenance: build blooms ONLY for data files
        the index doesn't cover yet (appended or rewritten since the last
        build), drop blobs for files no longer live, and keep everything
        else verbatim — O(new files) reads instead of a full re-scan, the
        same maintenance shape as the append fast path.  Falls back to a
        full :meth:`build_key_bloom` when no index is registered."""
        if self.properties.get(f"bloom.index.{col}.path") is None:
            return self.build_key_bloom(col)
        self._check_writable()
        stamped = self.properties.get(f"bloom.index.{col}.field-id")
        cur = self.current_schema().field_by_name(col)
        if cur is not None and stamped is not None and str(cur.field_id) != stamped:
            # the name now belongs to a DIFFERENT field — old blobs encode
            # the old column's values, so incremental extension would mix
            # two domains; rebuild from scratch under the new identity
            return self.build_key_bloom(
                col, fpp=float(self.properties.get(f"bloom.index.{col}.fpp", 0.01))
            )
        fpp = float(self.properties.get(f"bloom.index.{col}.fpp", 0.01))
        from iceberg_ruby_spark.puffin import read_puffin, write_puffin

        old_blobs, _props = read_puffin(
            self.ops.io.read_bytes(
                self.ops._abs(self.properties[f"bloom.index.{col}.path"])
            )
        )
        by_rel = {
            b["properties"]["referenced-data-file"]: b
            for b in old_blobs
            if b.get("type") == _BLOOM_BLOB_TYPE
        }
        snap = self.current_snapshot()
        if snap is None:
            raise InvalidDataError("table has no snapshot to index")
        entries = self.ops.read_manifest(snap.manifest_list)
        data, _mor = self._split_entries(entries)
        live_rel = {self.ops._rel(e["path"]) for e in data if "path" in e}
        fresh = [
            e
            for e in data
            if "path" in e and self.ops._rel(e["path"]) not in by_rel
        ]
        kept = [b for rel, b in sorted(by_rel.items()) if rel in live_rel]
        if not fresh and len(kept) == len(by_rel):
            # index already reflects the live file set exactly — no scan,
            # no puffin rewrite, no property commit (what makes
            # write.bloom.auto-refresh affordable on no-op commits)
            return {
                "column": col,
                "files": len(kept),
                "built": 0,
                "dropped": 0,
                "bytes": 0,
                "noop": True,
            }
        built = 0
        if fresh:
            # one bounded scan of just the new files through the same
            # distributed fold the full build uses
            sub = self._build_bloom_blobs(fresh, col, fpp, snap)
            built = len(sub)
            kept += sub
        payload = write_puffin(kept)
        path = os.path.join(
            self.ops.metadata_dir,
            f"bloom-{col}-{uuid_mod.uuid4().hex[:12]}.puffin",
        )
        self.ops.io.write_bytes_atomic(path, payload)
        old = self.properties.get(f"bloom.index.{col}.path")
        self.update_properties({f"bloom.index.{col}.path": self.ops._rel(path)})
        if old:
            try:
                self.ops.io.delete(self.ops._abs(old))
            except OSError:
                pass
        self._bloom_cache.pop(col, None)
        return {
            "column": col,
            "files": len(kept),
            "built": built,
            "dropped": len(by_rel) - (len(kept) - built),
            "bytes": len(payload),
        }

    def drop_key_bloom(self, col: str) -> "Table":
        """Unregister and delete ``col``'s bloom index."""
        self._check_writable()
        old = self.properties.get(f"bloom.index.{col}.path")
        self.update_properties(
            removals=[
                f"bloom.index.{col}.path",
                f"bloom.index.{col}.fpp",
                f"bloom.index.{col}.field-id",
            ]
        )
        if old:
            try:
                self.ops.io.delete(self.ops._abs(old))
            except OSError:
                pass
        self._bloom_cache.pop(col, None)
        return self

    def _bloom_index(self, col: str) -> Optional[dict[str, tuple[int, int, bytes]]]:
        """{rel data-file path: (m, k, bits)} for ``col``, or None when no
        index is registered.  One driver read per (table instance, col)."""
        cached = self._bloom_cache.get(col, False)
        if cached is not False:
            return cached
        rel = self.properties.get(f"bloom.index.{col}.path")
        stamped = self.properties.get(f"bloom.index.{col}.field-id")
        field = self.current_schema().field_by_name(col)
        if rel and (
            field is None
            or (stamped is not None and str(field.field_id) != stamped)
        ):
            rel = None  # column dropped or name reused — index is stale
        out = None
        if rel:
            try:
                from iceberg_ruby_spark.puffin import read_puffin

                blobs, _props = read_puffin(
                    self.ops.io.read_bytes(self.ops._abs(rel))
                )
                out = {
                    b["properties"]["referenced-data-file"]: (
                        int(b["properties"]["m"]),
                        int(b["properties"]["k"]),
                        b["payload"],
                    )
                    for b in blobs
                    if b.get("type") == _BLOOM_BLOB_TYPE
                }
            except (OSError, KeyError, ValueError, InvalidDataError):
                out = None  # unreadable index: never wrong, just unused
        self._bloom_cache[col] = out
        return out

    def compute_statistics(self) -> dict[str, Any]:
        """Distributed stats over the current snapshot → a stats file
        (row count, per-column NDV / null count) registered in table
        metadata, so ``statistics`` / ``statistics_for_snapshot`` return
        real entries.

        NDV per column comes from a REAL ``apache-datasketches-theta-v1``
        compact sketch (theta_sketch.py, byte-compatible with
        datasketches-java — external engines deserialize AND union these):
        values hash executor-side (Arrow-batched pandas UDF over the
        Iceberg single-value serialization) and only the k+1 smallest
        DISTINCT hashes reach the driver (TakeOrdered, k=4096) — a
        deterministic k-minimum-values sketch whose estimate is EXACT for
        columns under 4096 distinct values.  Columns without a
        single-value serialization (arrays/maps/binary) fall back to
        HyperLogLog (approx_count_distinct) with the legacy int64 blob."""
        self._check_writable()
        snap = self.current_snapshot()
        if snap is None:
            raise InvalidDataError("table has no snapshot to analyze")
        from iceberg_ruby_spark import theta_sketch as _ts

        df = self.to_df()
        schema = self.current_schema()
        cols = [f.name for f in schema.fields]
        aggs = [F.count(F.lit(1)).alias("__rc")]
        for c in cols:
            aggs.append(F.approx_count_distinct(c).alias(f"__ndv_{c}"))
            aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"__nulls_{c}"))
        row = df.agg(*aggs).collect()[0].asDict()
        stats = {
            "snapshot-id": snap.snapshot_id,
            "record-count": row["__rc"],
            "columns": {
                c: {"ndv": row[f"__ndv_{c}"], "null-count": row[f"__nulls_{c}"]}
                for c in cols
            },
        }
        # Two tiers (r7, measured at the 10× tier):
        #
        # FIXED-WIDTH columns (numpy-vectorized hashing) run as ONE job:
        # hash every column in-row, explode to (cid, hash), distinct,
        # per-cid k-smallest.  One table scan replaces N; 13.2 s → 6.0 s
        # for lineitem's 9 fixed-width columns at 10× (probe:
        # scripts/analyze_singlejob_probe.py).  The per-cid window would
        # put a column's whole distinct hash set in one task, so a
        # CUTOFF derived from the first agg job's HLL estimate
        # (4(k+1)/ndv_est of the 63-bit hash space) pre-filters to ~4(k+1)
        # expected survivors per column — the window input is
        # constant-bounded regardless of table size.  Exactness: the
        # (k+1)-th smallest hash sits at ≈(k+1)/ndv_true of the space,
        # under the cutoff unless HLL overestimates by >4× (far outside
        # its ±2% envelope); if a cutoff column still comes back short,
        # it redoes the exact per-column job — fallback, never silent.
        #
        # STRING/DECIMAL/DATE columns keep one job per column,
        # DISTINCT-first: the map-side partial distinct collapses
        # duplicates before the exchange, so the per-value Python hash
        # runs over DISTINCT values only — 3 hash calls for a 3-value
        # flag column instead of N rows.  (A measured
        # concurrent-submission variant was 1.5-3× SLOWER at the 10×
        # tier; cross-job concurrency belongs to the scheduler pool, not
        # this loop.)
        from pyspark.sql import Window as _W

        sketches: dict[str, bytes] = {}
        k = _ts.DEFAULT_NOMINAL_ENTRIES

        def _column_kmins(f: ice_t.NestedField) -> list[int]:
            hs = (
                df.select(F.col(f.name).alias("__v"))
                .where(F.col("__v").isNotNull())
                .distinct()
                .select(_theta_hash_udf(f.field_type)(F.col("__v")).alias("__h"))
                .where(F.col("__h").isNotNull())
                .orderBy("__h")
                .limit(k + 1)
                .collect()
            )
            return [r["__h"] for r in hs]

        _FIXED = (
            ice_t.IntType, ice_t.LongType, ice_t.FloatType, ice_t.DoubleType,
            ice_t.TimestampType, ice_t.TimestampTzType,
            ice_t.TimestampNanoType, ice_t.TimestampTzNanoType,
        )
        theta_fields = [
            schema.field_by_name(c)
            for c in cols
            if schema.field_by_name(c) is not None
            and _theta_supported(schema.field_by_name(c).field_type)
        ]
        fixed_fields = [f for f in theta_fields if isinstance(f.field_type, _FIXED)]
        kmins: dict[str, list[int]] = {}
        if fixed_fields:
            structs, cutoffs = [], []
            for i, f in enumerate(fixed_fields):
                h = _theta_hash_udf(f.field_type)(F.col(f.name))
                ndv_est = max(1, int(row[f"__ndv_{f.name}"]))
                cutoff = None
                if ndv_est > 4 * (k + 1):
                    cutoff = ((k + 1) << 63) * 4 // ndv_est
                    h = F.when(h <= F.lit(cutoff), h)
                cutoffs.append(cutoff)
                structs.append(F.struct(F.lit(i).alias("cid"), h.alias("h")))
            w = _W.partitionBy("cid").orderBy("h")
            per_cid: dict[int, list[int]] = {}
            for r in (
                df.select(F.explode(F.array(*structs)).alias("x"))
                .select(F.col("x.cid").alias("cid"), F.col("x.h").alias("h"))
                .where(F.col("h").isNotNull())
                .distinct()
                .withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") <= k + 1)
                .select("cid", "h")
                .collect()
            ):
                per_cid.setdefault(r["cid"], []).append(r["h"])
            for i, f in enumerate(fixed_fields):
                hs = sorted(per_cid.get(i, []))
                if cutoffs[i] is not None and len(hs) < k + 1:
                    hs = _column_kmins(f)  # cutoff clipped (HLL >4× off) — exact redo
                kmins[f.name] = hs
        for f in theta_fields:
            if f.name not in kmins:
                kmins[f.name] = _column_kmins(f)
            sketches[f.name] = _ts.sketch_from_hashes(kmins[f.name])
            # the sketch's estimate IS the published ndv (exact ≤ 4096)
            stats["columns"][f.name]["ndv"] = int(round(_ts.estimate(sketches[f.name])))
        from iceberg_ruby_spark.puffin import footer_size, stats_to_puffin

        field_ids = {
            c: (schema.field_by_name(c).field_id if schema.field_by_name(c) else None)
            for c in cols
        }
        # real binary Puffin container (spec magic/blobs/footer structure;
        # puffin.py) — the reference surfaces the same StatisticsFile +
        # blob-metadata fields from iceberg-rust
        # (``ext/iceberg/src/statistics.rs:14-71``)
        data = stats_to_puffin(stats, field_ids, snap.sequence_number, sketches)
        path = os.path.join(
            self.ops.metadata_dir, f"stats-{snap.snapshot_id}.puffin"
        )
        self.ops.io.write_bytes_atomic(path, data, overwrite=True)
        from iceberg_ruby_spark.puffin import NDV_BLOB_TYPE, THETA_BLOB_TYPE

        entry = {
            "snapshot-id": snap.snapshot_id,
            "statistics-path": self.ops._rel(path),
            "file-size-in-bytes": len(data),
            "file-footer-size-in-bytes": footer_size(data),
            "key-metadata": None,
            "blob-metadata": [
                {
                    "type": THETA_BLOB_TYPE if c in sketches else NDV_BLOB_TYPE,
                    "snapshot-id": snap.snapshot_id,
                    "sequence-number": snap.sequence_number,
                    "fields": [field_ids[c]],
                    "properties": {"ndv": str(stats["columns"][c]["ndv"])},
                }
                for c in cols
            ],
        }

        def mutate(raw: dict[str, Any]) -> None:
            existing = [
                s
                for s in raw.get("statistics", [])
                if s.get("snapshot-id") != snap.snapshot_id
            ]
            raw["statistics"] = existing + [entry]

        self._metadata_update(mutate)
        return stats

    def compute_partition_statistics(self) -> dict[str, Any]:
        """Per-partition record/file counts for the current snapshot,
        registered as a partition-statistics file (reference
        ``RbPartitionStatisticsFile``, ``ext/iceberg/src/statistics.rs:50-71``:
        snapshot_id, statistics_path, file_size_in_bytes).  Counts come from
        manifest entry stats grouped by the file's partition directory — no
        data scan."""
        self._check_writable()
        snap = self.current_snapshot()
        if snap is None:
            raise InvalidDataError("table has no snapshot to analyze")
        entries = self.ops.read_manifest(snap.manifest_list)
        per_part: dict[str, dict[str, int]] = {}
        for e in entries:
            if "path" not in e:
                continue
            rel = os.path.relpath(e["path"], self.ops.data_dir)
            segs = [s for s in rel.split(os.sep)[1:-1] if "=" in s]
            key = "/".join(segs)  # "" for unpartitioned
            agg = per_part.setdefault(key, {"record-count": 0, "file-count": 0})
            agg["record-count"] += e.get("record-count") or 0
            agg["file-count"] += 1
        stats = {
            "snapshot-id": snap.snapshot_id,
            "partitions": [
                {"partition": k, **v} for k, v in sorted(per_part.items())
            ],
        }
        path = os.path.join(
            self.ops.metadata_dir, f"partition-stats-{snap.snapshot_id}.json"
        )
        self.ops.io.write_atomic(path, json.dumps(stats, indent=1), overwrite=True)
        entry = {
            "snapshot-id": snap.snapshot_id,
            "statistics-path": self.ops._rel(path),
            "file-size-in-bytes": self.ops.io.size(path),
        }

        def mutate(raw: dict[str, Any]) -> None:
            existing = [
                s
                for s in raw.get("partition-statistics", [])
                if s.get("snapshot-id") != snap.snapshot_id
            ]
            raw["partition-statistics"] = existing + [entry]

        self._metadata_update(mutate)
        return stats

    def read_partition_statistics(
        self, snapshot_id: Optional[int] = None
    ) -> Optional[dict[str, Any]]:
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id
        for s in self.partition_statistics:
            if s.get("snapshot-id") == sid:
                return json.loads(self.ops.io.read(self.ops._abs(s["statistics-path"])))
        return None

    def read_statistics(self, snapshot_id: Optional[int] = None) -> Optional[dict[str, Any]]:
        """Load the stats file registered for a snapshot (default current).
        Sniffs the container: binary Puffin (current writer) or the legacy
        JSON file earlier versions wrote."""
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id
        for s in self.statistics:
            if s.get("snapshot-id") == sid:
                path = self.ops._abs(s["statistics-path"])
                data = self.ops.io.read_bytes(path)
                if data[:4] == b"PFA1":
                    from iceberg_ruby_spark.puffin import stats_from_puffin

                    return stats_from_puffin(data)
                return json.loads(data.decode("utf-8"))
        return None

    @property
    def statistics(self) -> list[dict[str, Any]]:
        return self.metadata.raw.get("statistics", [])

    def statistics_for_snapshot(self, snapshot_id: int) -> list[dict[str, Any]]:
        return [s for s in self.statistics if s.get("snapshot-id") == snapshot_id]

    @property
    def partition_statistics(self) -> list[dict[str, Any]]:
        return self.metadata.raw.get("partition-statistics", [])

    @property
    def encryption_keys(self) -> dict[str, Any]:
        return self.metadata.raw.get("encryption-keys", {})

    def encryption_key(self, key_id: str) -> Optional[Any]:
        return self.encryption_keys.get(key_id)

    # -- scan path ----------------------------------------------------------
    def _resolve_snapshot_arg(self, value) -> Optional[int]:
        """Snapshot id from an id OR a ref name (branch/tag) — the
        incremental/changelog windows accept either."""
        if value is None or isinstance(value, int):
            return value
        snap = self.snapshot_for_ref(str(value))
        if snap is None:
            raise InvalidDataError(f"no such ref: {value!r}")
        return snap.snapshot_id

    def incremental_scan(
        self,
        from_snapshot_id: Optional[Union[int, str]] = None,
        to_snapshot_id: Optional[Union[int, str]] = None,
        row_lineage: bool = False,
    ) -> DataFrame:
        """Rows APPENDED between two snapshots (exclusive from, inclusive
        to; ``from=None`` means since table creation, ``to=None`` means up
        to current) — the incremental-consumption pattern for downstream
        pipelines.  Cost is O(new files): the manifest diff selects exactly
        the files added in the window; nothing else is opened.

        Only append-introduced files are returned (Iceberg's incremental
        append scan semantics); rewrites from delete/update/merge commits
        introduce files too — callers consuming strictly-append tables (the
        common log/event case) see exactly the new rows.  Both window
        ends accept a snapshot id OR a branch/tag name (tag the last
        consumed position, scan from the tag)."""
        from_snapshot_id = self._resolve_snapshot_arg(from_snapshot_id)
        to_snapshot_id = self._resolve_snapshot_arg(to_snapshot_id)
        to_id = to_snapshot_id if to_snapshot_id is not None else self.current_snapshot_id
        if to_id is None:
            return self.spark.createDataFrame([], self.current_schema().to_spark())
        to_snap = self.snapshot_by_id(to_id)
        if to_snap is None:
            raise InvalidDataError(f"no snapshot with id {to_snapshot_id}")
        base_paths: set[str] = set()
        entries: Optional[list[dict[str, Any]]] = None
        if from_snapshot_id is not None:
            by_id = {s.snapshot_id: s for s in self.snapshots}
            # a replace/overwrite (compaction, update, merge) inside the
            # window rewrites rows into new files that a manifest diff would
            # misreport as appends — same restriction as Iceberg's
            # incremental append scan
            for cur in snapshot_window(by_id, from_snapshot_id, to_snap):
                if not appends_only(cur):
                    raise InvalidDataError(
                        "incremental scan window crosses a "
                        f"{cur.operation!r} snapshot ({cur.snapshot_id}); "
                        "only append and merge-on-read-delete commits can "
                        "be consumed incrementally"
                    )
            from_snap = by_id[from_snapshot_id]
            # fast-append structural delta: O(new files) planning — only
            # the window's own manifests are opened.  (Pre-window MoR
            # delete entries are scoped to files that existed at their
            # commit, so excluding them can't change the window's rows.)
            # Falls back to the full set diff when the window crosses a
            # manifest merge.
            entries = self.ops.read_manifest_delta(
                to_snap.manifest_list, from_snap.manifest_list
            )
            if entries is None:
                base_paths = set(
                    self._entry_files(self.ops.read_manifest(from_snap.manifest_list))
                )
        if entries is None:
            # delete entries have no data path, so every one of them applies
            entries = [
                e
                for e in self.ops.read_manifest(to_snap.manifest_list)
                if all(p not in base_paths for p in self._entry_files([e]))
            ]
        schema = self.schema_by_id(to_snap.schema_id) or self.current_schema()
        if row_lineage:
            # consumers keying downstream state on rows want the stable
            # _row_id / _last_updated_sequence_number alongside the data
            return self._read_entries_with_lineage(entries, schema=schema)
        return self._read_entries(entries, schema=schema)

    def changelog_scan(
        self,
        from_snapshot_id: Optional[Union[int, str]] = None,
        to_snapshot_id: Optional[Union[int, str]] = None,
    ) -> DataFrame:
        """Row-level changes between two snapshots: the table columns plus
        ``_change_type`` ('insert' | 'delete'), ``_commit_snapshot_id``,
        and ``_change_ordinal`` (commit position within the window) —
        Iceberg's changelog-read surface.

        EVERY commit kind is consumable: an UPDATE emits delete+insert for
        touched rows, a merge-on-read delete emits just the dead rows, and
        a pure rewrite (compaction / Z-order) emits NOTHING.  Window ends
        accept a snapshot id OR a branch/tag name.

        The window runs as ONE job over the stream planner's per-commit
        slices: append commits stream their new files, MoR delete commits
        emit dead rows masked against prior deletes (never a before/after
        comparison), CoW rewrites run the distributed content diff.
        Planning happens driver-side exactly as a stream drain would plan
        the same window; execution ships the pickled reader + slices to
        executors — the same contract the Python DataSource runtime uses —
        and runs the reader's own ``read()`` per slice, one task each.  The
        RDD hop is deliberate: the work unit is "run this slice's
        imperative reader", not a relational expression.  A window the
        planner refuses (a ``from`` that is not an ancestor, a delete entry
        of an unknown kind or without key columns) raises
        :class:`InvalidDataError` naming the snapshot or commit."""
        from iceberg_ruby_spark.streaming.source import EngineTableStreamReader

        from_snapshot_id = self._resolve_snapshot_arg(from_snapshot_id)
        to_snapshot_id = self._resolve_snapshot_arg(to_snapshot_id)
        to_id = to_snapshot_id if to_snapshot_id is not None else self.current_snapshot_id
        fields = list(self.current_schema().to_spark().fields) + [
            _T.StructField("_change_type", _T.StringType()),
            _T.StructField("_commit_snapshot_id", _T.LongType()),
            _T.StructField("_change_ordinal", _T.IntegerType()),
        ]
        empty = self.spark.createDataFrame([], _T.StructType(fields))
        if to_id is None:
            return empty
        if self.snapshot_by_id(to_id) is None:
            raise InvalidDataError(f"no snapshot with id {to_snapshot_id}")
        reader = EngineTableStreamReader(
            {"location": self.ops.location, "mode": "changelog", "ops": self.ops}
        )
        try:
            slices = reader.partitions(
                {"snapshot_id": from_snapshot_id}, {"snapshot_id": to_id}
            )
        except ValueError as e:
            raise InvalidDataError(str(e)) from e
        if not slices:
            return empty

        def run_slices(batches):
            # reader.read yields pyarrow.RecordBatch already cast to the
            # changelog Arrow schema — they flow to the JVM as Arrow
            # stream frames, never as pickled Python rows
            for b in batches:
                for i in b.column(0).to_pylist():
                    yield from reader.read(slices[i])

        src = self.spark.range(0, len(slices), 1, len(slices))
        return src.mapInArrow(run_slices, empty.schema)

    def changelog_net(
        self,
        from_snapshot_id: Optional[Union[int, str]] = None,
        to_snapshot_id: Optional[Union[int, str]] = None,
    ) -> DataFrame:
        """NET row-level changes over the window — iceberg-spark's
        ``create_changelog_view(net_changes => true)`` semantics: changes
        that cancel within the window disappear.  Identity is full row
        CONTENT: an insert later deleted nets to nothing, an update nets
        to delete(old content) + insert(new content), a row deleted and
        re-inserted identically nets to nothing, and carryovers never
        appear.  Each surviving event keeps the snapshot id / ordinal of
        the row's LAST change in the window.

        One aggregation over the window-sized changelog (signed count per
        row content, map-side partials); multiplicities survive —
        ``abs(net)`` copies emit for content appearing multiple times."""
        ch = self.changelog_scan(from_snapshot_id, to_snapshot_id)
        cols = [
            c
            for c in ch.columns
            if c not in ("_change_type", "_commit_snapshot_id", "_change_ordinal")
        ]
        sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
        last = F.max(
            F.struct("_change_ordinal", "_commit_snapshot_id")
        ).alias("__last")
        net = (
            ch.groupBy(*cols)
            .agg(F.sum(sign).alias("__net"), last)
            .filter(F.col("__net") != 0)
        )
        return (
            net.withColumn(
                "__dup",
                F.explode(
                    F.array_repeat(F.lit(1), F.abs(F.col("__net")).cast("int"))
                ),
            )
            .select(
                *cols,
                F.when(F.col("__net") > 0, "insert")
                .otherwise("delete")
                .alias("_change_type"),
                F.col("__last._commit_snapshot_id").alias("_commit_snapshot_id"),
                F.col("__last._change_ordinal").alias("_change_ordinal"),
            )
        )

    @property
    def inspect(self) -> "TableInspect":
        """Metadata tables as DataFrames: ``t.inspect.snapshots()``,
        ``.history()``, ``.refs()``, ``.files()``, ``.delete_entries()``,
        ``.partitions()`` — metadata-only, no data files opened."""
        return TableInspect(self)

    def rollback_to_snapshot(self, snapshot_id: int) -> "Table":
        """Set the current table state back to an existing snapshot (no
        history rewrite — the rollback itself is a new snapshot-log entry,
        and later snapshots stay reachable by id until expired), matching
        Iceberg's ``rollback_to_snapshot`` management op."""

        def mutate(raw: dict[str, Any]) -> None:
            ids = {s["snapshot-id"] for s in raw.get("snapshots", [])}
            if snapshot_id not in ids:
                raise InvalidDataError(f"no snapshot with id {snapshot_id}")
            raw["current-snapshot-id"] = snapshot_id
            raw["snapshot-log"] = raw.get("snapshot-log", []) + [
                {"snapshot-id": snapshot_id, "timestamp-ms": _now_ms()}
            ]
            refs = dict(raw.get("refs", {}))
            if MAIN_BRANCH in refs:
                refs[MAIN_BRANCH] = {**refs[MAIN_BRANCH], "snapshot-id": snapshot_id}
                raw["refs"] = refs

        self._metadata_update(mutate)
        return self

    def rollback_to_timestamp(self, as_of: Any) -> "Table":
        """Roll back to the snapshot that was current at ``as_of``."""
        snap = self.snapshot_as_of(_as_epoch_ms(as_of))
        if snap is None:
            raise InvalidDataError(f"no snapshot exists as of {as_of!r}")
        return self.rollback_to_snapshot(snap.snapshot_id)

    def wap(self, branch: Optional[str] = None):
        """Write-audit-publish as a context manager — the pattern's whole
        lifecycle in one block::

            with t.wap() as branch:
                t.append(staged_rows, branch=branch)
                t.delete_where("bad = true", branch=branch)
                audit(t.to_df(ref=branch))        # main is untouched
            # success → main fast-forwards to the audited head,
            # branch dropped; an exception → branch dropped, main
            # never moved (nothing to roll back — staged commits were
            # branch-scoped)

        ``branch`` names the staging branch (default: a fresh
        ``wap-<hex>``)."""
        import contextlib

        table = self

        @contextlib.contextmanager
        def _wap():
            name = branch or f"wap-{uuid_mod.uuid4().hex[:8]}"
            table.create_branch(name)
            try:
                yield name
            except BaseException:
                table.refresh().drop_ref(name)
                raise
            table.refresh().fast_forward(MAIN_BRANCH, name)
            table.refresh().drop_ref(name)
            table.refresh()

        return _wap()

    def cherrypick_snapshot(self, snapshot_id: int) -> "Table":
        """Apply a (possibly unpublished / divergent) APPEND snapshot's
        delta onto the current head as a fresh commit — Iceberg's
        ``cherrypick_snapshot`` procedure.  Only append snapshots are
        cherry-pickable (same restriction as Iceberg: replaces/deletes
        don't transplant).  The picked files re-enter the commit loop
        with sequence/lineage fields cleared, so the new commit assigns
        its own data-sequence-number and first-row-id range."""
        snap = self.snapshot_by_id(snapshot_id)
        if snap is None:
            raise InvalidDataError(f"no snapshot with id {snapshot_id}")
        if snap.operation != "append":
            raise InvalidDataError(
                f"cherrypick_snapshot: snapshot {snapshot_id} is a "
                f"{snap.operation!r} commit; only appends transplant"
            )
        have = set()
        if snap.parent_snapshot_id is not None:
            parent = self.snapshot_by_id(snap.parent_snapshot_id)
            if parent is not None:
                have = {
                    e.get("path")
                    for e in self.ops.read_manifest(parent.manifest_list)
                    if "path" in e
                }
        added = [
            {
                k: v
                for k, v in e.items()
                if k not in ("data-sequence-number", "first-row-id")
            }
            for e in self.ops.read_manifest(snap.manifest_list)
            if "path" in e and e["path"] not in have
        ]
        if not added:
            return self
        self._commit_snapshot(
            "append",
            added,
            summary_extra={
                "added-records": self._entries_rowcount(added),
                "cherry-picked-snapshot-id": str(snapshot_id),
            },
        )
        return self.refresh()

    def stage_append(self, data: Any, wap_id: str) -> int:
        """Stage an append WITHOUT publishing it — iceberg-spark's
        ``spark.wap.id`` flow: the snapshot lands on an anonymous
        ``wap-<id>`` branch with ``wap.id`` stamped in its summary; main
        never moves until :meth:`publish_changes`.  Returns the staged
        snapshot id."""
        branch = f"wap-{wap_id}"
        self.append(data, branch=branch)
        self.refresh()
        staged = self.snapshot_for_ref(branch)
        # stamp wap.id onto the staged snapshot's summary (metadata-only)
        def mutate(raw: dict[str, Any]) -> None:
            for s in raw.get("snapshots", []):
                if s["snapshot-id"] == staged.snapshot_id:
                    s.setdefault("summary", {})["wap.id"] = str(wap_id)

        self._metadata_update(mutate)
        return staged.snapshot_id

    def publish_changes(self, wap_id: str) -> "Table":
        """Publish a staged WAP append: find the snapshot stamped with
        ``wap.id == wap_id``, cherry-pick its delta onto main, and drop
        the staging branch — Iceberg's ``publish_changes`` procedure."""
        self.refresh()
        matches = [
            s
            for s in self.snapshots
            if (s.summary or {}).get("wap.id") == str(wap_id)
        ]
        if not matches:
            raise InvalidDataError(f"no staged snapshot with wap.id {wap_id!r}")
        if len(matches) > 1:
            # Iceberg's publish_changes refuses too: a cherry-pick applies
            # ONE snapshot's delta; multiple staged commits under one id
            # would silently publish only the newest
            raise InvalidDataError(
                f"{len(matches)} staged snapshots carry wap.id {wap_id!r}; "
                "publish each under its own id (or fast_forward the wap "
                "branch to publish the whole chain)"
            )
        self.cherrypick_snapshot(matches[0].snapshot_id)
        branch = f"wap-{wap_id}"
        if branch in self.refresh().refs:
            self.drop_ref(branch)
        return self.refresh()

    def fast_forward(self, branch: str, to: Union[str, int]) -> "Table":
        """Fast-forward ``branch`` to ``to`` (a ref name or snapshot id).
        The target must be a DESCENDANT of the branch's current head —
        this only moves a pointer forward along an existing chain (e.g.
        publishing after a rollback, or promoting an audit tag), never
        rewrites. Iceberg's ``fast_forward`` management procedure."""
        if isinstance(to, str):
            target = self.snapshot_for_ref(to)
            if target is None:
                raise InvalidDataError(f"no such ref: {to}")
        else:
            target = self.snapshot_by_id(to)
            if target is None:
                raise InvalidDataError(f"no snapshot with id {to}")
        target_id = target.snapshot_id

        def mutate(raw: dict[str, Any]) -> None:
            refs = dict(raw.get("refs", {}))
            if branch == MAIN_BRANCH:
                head = raw.get("current-snapshot-id")
            else:
                r = refs.get(branch)
                if r is None:
                    raise InvalidDataError(f"no such branch: {branch}")
                if r.get("type") != "branch":
                    raise InvalidDataError(f"not a branch: {branch}")
                head = r.get("snapshot-id")
            # descendant check: walk target's parents back to the head
            by_id = {s["snapshot-id"]: s for s in raw.get("snapshots", [])}
            cur = by_id.get(target_id)
            while cur is not None and cur["snapshot-id"] != head:
                cur = by_id.get(cur.get("parent-snapshot-id"))
            if head is not None and cur is None:
                raise InvalidDataError(
                    f"cannot fast-forward {branch}: snapshot {target_id} is "
                    f"not a descendant of its head {head}"
                )
            if branch == MAIN_BRANCH:
                raw["current-snapshot-id"] = target_id
                raw["snapshot-log"] = raw.get("snapshot-log", []) + [
                    {"snapshot-id": target_id, "timestamp-ms": _now_ms()}
                ]
                if MAIN_BRANCH in refs:
                    refs[MAIN_BRANCH] = {**refs[MAIN_BRANCH], "snapshot-id": target_id}
            else:
                refs[branch] = {**refs[branch], "snapshot-id": target_id}
            raw["refs"] = refs

        self._metadata_update(mutate)
        return self

    def snapshot_as_of(self, timestamp_ms: int) -> Optional["Snapshot"]:
        """Latest snapshot current at ``timestamp_ms`` (epoch millis), from
        the snapshot log — Iceberg's timestamp time travel resolution."""
        best = None
        for e in self.metadata.snapshot_log:
            if e["timestamp-ms"] <= timestamp_ms and (
                best is None or e["timestamp-ms"] >= best["timestamp-ms"]
            ):
                best = e
        return self.snapshot_by_id(best["snapshot-id"]) if best else None

    def scan(
        self,
        snapshot_id: Optional[int] = None,
        ref: Optional[str] = None,
        as_of: Optional[Any] = None,
    ) -> "TableScan":
        given = [x for x in (snapshot_id, ref, as_of) if x is not None]
        if len(given) > 1:
            raise InvalidDataError("pass only one of snapshot_id, ref, as_of")
        if ref is not None:
            snap = self.snapshot_for_ref(ref)
            if snap is None:
                raise InvalidDataError(f"no such ref: {ref}")
            snapshot_id = snap.snapshot_id
        if as_of is not None:
            ts_ms = _as_epoch_ms(as_of)
            snap = self.snapshot_as_of(ts_ms)
            if snap is None:
                raise InvalidDataError(
                    f"no snapshot exists as of {as_of!r} (table created later?)"
                )
            snapshot_id = snap.snapshot_id
        return TableScan(self, snapshot_id=snapshot_id)

    def to_df(
        self,
        snapshot_id: Optional[int] = None,
        ref: Optional[str] = None,
        as_of: Optional[Any] = None,
    ) -> DataFrame:
        return self.scan(snapshot_id=snapshot_id, ref=ref, as_of=as_of).to_df()

    def to_a(
        self,
        snapshot_id: Optional[int] = None,
        ref: Optional[str] = None,
        as_of: Optional[Any] = None,
    ) -> list[dict[str, Any]]:
        return self.scan(snapshot_id=snapshot_id, ref=ref, as_of=as_of).to_a()

    def to_arrow(
        self,
        snapshot_id: Optional[int] = None,
        ref: Optional[str] = None,
        as_of: Optional[Any] = None,
    ):
        return self.scan(snapshot_id=snapshot_id, ref=ref, as_of=as_of).to_arrow()

    def to_pandas(self, snapshot_id: Optional[int] = None, ref: Optional[str] = None):
        return self.to_df(snapshot_id=snapshot_id, ref=ref).toPandas()

    def to_polars(self, snapshot_id: Optional[int] = None, lazy: bool = False):
        """Polars frame (reference ``lib/iceberg/table.rb:151-159``); gated on
        polars being installed (not baked into this container)."""
        try:
            import polars as pl
        except ImportError as exc:
            from iceberg_ruby_spark.errors import Todo

            raise Todo("polars is not installed in this environment") from exc
        out = pl.from_arrow(self.to_arrow(snapshot_id=snapshot_id))
        return out.lazy() if lazy else out

    # -- write path ----------------------------------------------------------
    def _check_writable(self) -> None:
        if self.read_only:
            raise UnsupportedFeatureError("Read-only table")

    def _commit_retries(self) -> int:
        """Optimistic-commit retry budget (Iceberg's commit.retry.num-retries
        table property; default 20)."""
        try:
            return int(self.properties.get("commit.retry.num-retries", 20))
        except (TypeError, ValueError):
            return 20

    def _manifest_ctx(
        self, meta: TableMetadata, parent: Optional[int]
    ) -> ManifestContext:
        """What a commit's manifest write needs from the table metadata.
        ``write.metadata.manifest-format`` has one legal value, ``avro``
        (also the default); any other value is rejected rather than
        silently written as Avro."""
        fmt = meta.raw.get("properties", {}).get(MANIFEST_FORMAT_PROPERTY, "avro")
        if fmt != "avro":
            raise InvalidDataError(f"unknown {MANIFEST_FORMAT_PROPERTY}: {fmt!r}")
        spec_id = meta.raw.get("default-spec-id", 0)
        specs_by_id = {
            s.get("spec-id", 0): s.get("fields", [])
            for s in meta.raw.get("partition-specs", [])
        }
        return ManifestContext(
            schemas_by_id={s.schema_id: s for s in meta.schemas},
            current_schema_id=meta.current_schema_id,
            spec_fields=specs_by_id.get(spec_id, []),
            spec_id=spec_id,
            sequence_number=meta.last_sequence_number + 1,
            parent_snapshot_id=parent,
            specs_by_id=specs_by_id,
            format_version=meta.format_version,
        )

    def _normalize_input(self, data: Any) -> DataFrame:
        """Accept DataFrame / list-of-dicts / pandas / Arrow (reference accepts
        row hashes or any Arrow-stream-bearing object, ``lib/iceberg/table.rb:161-166``).

        All input paths share the same align/validate/default-fill projection
        (round-1 review: the dict path used to return early, skipping
        unknown-key rejection and write-default fill)."""
        schema = self.current_schema()
        table_cols = [f.name for f in schema.fields]
        if isinstance(data, DataFrame):
            df = data
        elif isinstance(data, list):
            # row dicts; missing keys backfill write-default/null (reference
            # test table_test.rb:95-99)
            keys: set[str] = set()
            for d in data:
                keys.update(d.keys())
            extra_keys = sorted(k for k in keys if k not in table_cols)
            if extra_keys:
                raise InvalidDataError(f"columns not in table schema: {extra_keys}")
            present = [f for f in schema.fields if f.name in keys]
            import pyspark.sql.types as T

            # decimal columns arrive as strings and are cast in the shared
            # projection below — the reference coerces int/float/string
            # decimal inputs alike (test/table_test.rb:79-85)
            def _field_type(f):
                if isinstance(f.field_type, ice_t.DecimalType):
                    return T.StringType()
                if isinstance(f.field_type, ice_t.VariantType):
                    # dict rows carry variant values as JSON text; the
                    # shared projection parse_json's them
                    return T.StringType()
                return f.to_spark().dataType

            def _cell(f, v):
                if v is not None and isinstance(f.field_type, ice_t.DecimalType):
                    return str(v)
                if v is not None and isinstance(f.field_type, ice_t.VariantType):
                    import json as _json

                    return v if isinstance(v, str) else _json.dumps(v)
                if v is not None and isinstance(f.field_type, ice_t.UnknownType):
                    raise InvalidDataError(
                        f"column {f.name} has unknown type: every value "
                        "must be null (promote the column to a real type "
                        "first)"
                    )
                return v

            sub_schema = T.StructType(
                [T.StructField(f.name, _field_type(f), True) for f in present]
            )
            rows = [tuple(_cell(f, d.get(f.name)) for f in present) for d in data]
            df = self.spark.createDataFrame(rows, schema=sub_schema)
        else:
            try:  # pandas / pyarrow
                import pyarrow as pa

                if isinstance(data, (pa.Table, pa.RecordBatch)):
                    data = (
                        data.to_pandas()
                        if isinstance(data, pa.Table)
                        else pa.Table.from_batches([data]).to_pandas()
                    )
                df = self.spark.createDataFrame(data)
            except InvalidDataError:
                raise
            except Exception as exc:  # pragma: no cover
                raise InvalidDataError(f"cannot append {type(data).__name__}: {exc}")
        extra = [c for c in df.columns if c not in table_cols]
        if extra:
            raise InvalidDataError(f"columns not in table schema: {extra}")
        select_cols = []
        df_types = dict(df.dtypes)
        for f in schema.fields:
            spark_f = f.to_spark()
            if isinstance(f.field_type, ice_t.UnknownType):
                # unknown: only null exists; a typed input column would be
                # silently discarded at write time — refuse it loudly
                if f.name in df.columns and df_types.get(f.name) != "void":
                    raise InvalidDataError(
                        f"column {f.name} has unknown type: every value "
                        "must be null (promote the column to a real type "
                        "first)"
                    )
                select_cols.append(F.lit(None).alias(f.name))
                continue
            if f.name in df.columns:
                if isinstance(f.field_type, ice_t.VariantType):
                    # string input is a JSON DOCUMENT (parse it — a cast
                    # would wrap the text as a variant string scalar);
                    # variant input passes through; other types cast
                    src = df_types.get(f.name)
                    if src == "variant":
                        select_cols.append(F.col(f.name).alias(f.name))
                    elif src == "string":
                        select_cols.append(
                            F.parse_json(F.col(f.name)).alias(f.name)
                        )
                    else:
                        select_cols.append(
                            F.col(f.name).cast(spark_f.dataType).alias(f.name)
                        )
                    continue
                select_cols.append(F.col(f.name).cast(spark_f.dataType).alias(f.name))
            else:
                default = f.write_default
                select_cols.append(F.lit(default).cast(spark_f.dataType).alias(f.name))
        return df.select(*select_cols)

    # -- file-level manifest entries with column stats -----------------------

    def _stat_modes(self) -> dict[str, str]:
        """Metrics mode of every column whose files record stats: the
        schema's stats-typed columns and the shredded variant columns."""
        return stat_modes(
            self.current_schema(),
            self.metadata.raw.get("properties", {}),
            tuple(
                s_name
                for s_items in self.variant_shred_specs().values()
                for (_p, _t, s_name) in s_items
            ),
        )

    def variant_shred_specs(self) -> dict[str, list[tuple]]:
        """Shredded-variant extraction specs from table properties:
        ``write.variant.shred.{col} = "$.a:long,$.b.c:string"`` declares
        typed paths of the variant column ``col`` to materialize as
        EXTRA physical parquet columns at write time (the engine
        rendition of parquet variant shredding).  The shredded columns
        get ordinary min/max/null stats in the manifest, so a scan
        filter spelled ``[try_]variant_get(col, '$.a', 'long') > 5``
        prunes files exactly like a filter on a real column — the scale
        answer for semi-structured filters, which otherwise read every
        row.  Returns ``{col: [(path, type, shred_col_name)]}``; stale
        specs (column renamed/dropped or not variant) are ignored, an
        unparseable type raises (the property is user input — a typo
        must not silently disable pruning)."""
        from iceberg_ruby_spark.table_definition import parse_type

        prefix = "write.variant.shred."
        out: dict[str, list[tuple]] = {}
        schema = self.current_schema()
        for k, v in (self.metadata.raw.get("properties") or {}).items():
            if not k.startswith(prefix):
                continue
            col = k[len(prefix):]
            f = schema.field_by_name(col)
            if f is None or not isinstance(f.field_type, ice_t.VariantType):
                continue
            items = []
            for part in str(v).split(","):
                part = part.strip()
                if not part:
                    continue
                path, sep, typ = part.rpartition(":")
                if not sep:
                    raise InvalidDataError(
                        f"{k}: expected 'path:type' items, got {part!r}"
                    )
                path, typ = path.strip(), typ.strip().lower()
                t = parse_type(typ)  # raises on unknown type names
                if not isinstance(t, STATS_TYPES):
                    raise InvalidDataError(
                        f"{k}: shred type {typ!r} records no bounds — use "
                        "a stats-bearing primitive"
                    )
                items.append((path, typ, _shred_col_name(col, path, typ)))
            if items:
                out[col] = items
        return out

    # v3 reserved field ids for the row-lineage columns a rewriting
    # operation materializes into data files (Iceberg spec "Row Lineage")
    _ROW_ID_FIELD_ID = 2147483540
    _LAST_UPDATED_SEQ_FIELD_ID = 2147483539

    def _read_entries_with_lineage(
        self,
        entries: list[dict[str, Any]],
        schema: Optional[ice_t.Schema] = None,
        keep_coords: bool = False,
    ) -> DataFrame:
        """:meth:`_read_entries` plus the v3 lineage columns ``_row_id`` /
        ``_last_updated_sequence_number``: ONE broadcast join of a per-file
        metadata map (first-row-id, data seq) against the scan's
        ``_metadata`` columns — no shuffle of the data; the map is
        files-count-sized.  Files with MATERIALIZED lineage (rewrites carry
        the reserved columns physically) take their non-null cells straight
        from the file; null cells and inheritance-based files derive
        ``first-row-id + position`` / the file's data sequence number."""
        df = self._read_entries(
            entries,
            schema=schema,
            file_col="__lin_f",
            pos_col="__lin_p",
            extra_cols={
                "_row_id": "__mat_rid",
                "_last_updated_sequence_number": "__mat_seq",
            },
        )
        rows = [
            (e["path"], e.get("first-row-id"), e.get("data-sequence-number"))
            for e in entries
            if "path" in e
        ]
        mapping = small_local_df(
            self.spark,
            rows,
            _T.StructType(
                [
                    _T.StructField("__lin_f", _T.StringType()),
                    _T.StructField("__lin_frid", _T.LongType()),
                    _T.StructField("__lin_seq", _T.LongType()),
                ]
            ),
        )
        out = (
            df.join(F.broadcast(mapping), "__lin_f", "left")
            .withColumn(
                "_row_id",
                F.coalesce(F.col("__mat_rid"), F.col("__lin_frid") + F.col("__lin_p")),
            )
            .withColumn(
                "_last_updated_sequence_number",
                F.coalesce(F.col("__mat_seq"), F.col("__lin_seq")),
            )
        )
        if keep_coords:
            out = out.withColumn("_file", F.col("__lin_f")).withColumn(
                "_pos", F.col("__lin_p")
            )
        return out.drop(
            "__lin_f", "__lin_p", "__lin_frid", "__lin_seq", "__mat_rid", "__mat_seq"
        )

    def _write_data_dir(
        self, df: DataFrame, lineage_cols: bool = False
    ) -> list[dict[str, Any]]:
        """Distributed write of one commit's data files.  Returns the new
        file-level manifest entries (path, record-count, per-column
        lower/upper bounds) from :meth:`_collect_file_stats`: the parquet
        footers of the freshly written files, else one aggregation over
        their ``_metadata.file_path`` — the write itself stays a single
        distributed job.

        ``lineage_cols=True`` (compaction) carries ``_row_id`` /
        ``_last_updated_sequence_number`` through as physical columns with
        their v3 reserved field ids — how the spec preserves row lineage
        across rewrites (inheritance can't: a rewritten file's positions no
        longer map to the original id range)."""
        commit_id = uuid_mod.uuid4().hex
        out = os.path.join(self.ops.data_dir, commit_id)
        spec = self.default_partition_spec()
        sort = self.default_sort_order()
        schema = self.current_schema()
        # every data file must carry exactly the table schema's physical types
        # — a caller-shaped LongType column in an int table would write INT64
        # parquet that later scans reject (round-2 test finding via merge).
        # The alias re-attaches the schema metadata the cast would drop:
        # "parquet.field.id" makes the writer stamp Iceberg field ids into
        # the parquet footer (fieldId.write.enabled is on by default in
        # Spark 3.4+; pinned here so bare sessions behave identically)
        self.spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        # int64-micros timestamps — the Iceberg spec's physical form.
        # Spark's INT96 legacy default additionally carries NO footer
        # statistics, which would starve external readers of bounds and
        # block the footer-stats fast path in _collect_file_stats
        self.spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
        out_cols = [
            F.col(f.name)
            .cast(f.to_spark().dataType)
            .alias(f.name, metadata=f.to_spark().metadata)
            for f in schema.fields
            # v3 unknown: values are never stored — the column is dropped
            # from every data file (parquet has no void encoding anyway)
            # and the scan projects a null literal back
            if not isinstance(f.field_type, ice_t.UnknownType)
        ]
        if lineage_cols:
            out_cols.append(
                F.col("_row_id")
                .cast("long")
                .alias("_row_id", metadata={"parquet.field.id": self._ROW_ID_FIELD_ID})
            )
            out_cols.append(
                F.col("_last_updated_sequence_number")
                .cast("long")
                .alias(
                    "_last_updated_sequence_number",
                    metadata={"parquet.field.id": self._LAST_UPDATED_SEQ_FIELD_ID},
                )
            )
        df = df.select(*out_cols)
        # shredded variant paths: typed extraction columns written
        # alongside (variant_shred_specs) — they get manifest bounds, so
        # variant_get filters prune files; readers project schema columns
        # only, so the extras are invisible to every scan surface.
        # try_variant_get (null on mismatch) keeps writes total; a
        # variant_get FILTER that would error cannot reach rows these
        # bounds mis-prune (the query itself errors first).
        for s_col, s_items in self.variant_shred_specs().items():
            if s_col not in df.columns:
                continue
            for s_path, s_typ, s_name in s_items:
                df = df.withColumn(
                    s_name, F.try_variant_get(F.col(s_col), s_path, s_typ)
                )

        def _source_type(name: str) -> Optional[ice_t.Type]:
            f = schema.field_by_name(name)
            return f.field_type if f else None

        part_cols: list[str] = []
        if spec and spec.get("fields"):
            for pf in spec["fields"]:
                tr = parse_transform(pf.get("transform", "identity"))
                src = pf["source"]
                name = pf.get("name") or tr.result_name(src)
                if name != src:
                    df = df.withColumn(name, tr.apply_typed(_source_type(src), F.col(src)))
                part_cols.append(name)
        sort_cols = []
        if sort and sort.get("fields"):
            from iceberg_ruby_spark.transforms import SortField

            for sf in sort["fields"]:
                field_obj = SortField(
                    sf["source"],
                    parse_transform(sf.get("transform", "identity")),
                    sf.get("direction", "asc"),
                    sf.get("null_order"),
                )
                sort_cols.append(field_obj.column())
        # write.distribution-mode (Iceberg table property): without it a
        # partitioned write fans out as (input partitions × partition
        # values) files — the classic small-files explosion at scale.
        # ``hash`` (default for partitioned tables, as in Iceberg ≥1.2)
        # shuffles each partition value to ONE task → one file per value;
        # ``range`` range-partitions on (partition, sort) for globally
        # sorted layouts; ``none`` keeps the input partitioning.  Oversized
        # partitions are split by write.spark.max-records-per-file (file
        # rolling inside the task), not by extra shuffle.
        props = self.metadata.raw.get("properties", {})
        mode = props.get(
            "write.distribution-mode", "hash" if part_cols else "none"
        )
        # write.spark.rebalance-enabled: swap the static exchange for an
        # AQE REBALANCE hint.  Plain repartition(col) routes each partition
        # VALUE to exactly one task — a skewed value (one hot day, one hot
        # tenant) becomes one giant task and one giant file; rebalance
        # coalesces small partitions toward the advisory size AND splits
        # skewed ones (the shape iceberg-spark requests for its write
        # distribution under AQE).  Opt-in so small local test writes keep
        # their deterministic file counts.
        rebalance = (
            str(props.get("write.spark.rebalance-enabled", "false")).lower()
            == "true"
        )
        if mode == "hash" and part_cols:
            if rebalance:
                df = df.hint("rebalance", *part_cols)
            else:
                df = df.repartition(*[F.col(c) for c in part_cols])
        elif mode == "range" and (part_cols or sort_cols):
            df = df.repartitionByRange(
                *([F.col(c) for c in part_cols] + sort_cols)
            )
        elif mode == "none" and rebalance:
            # unpartitioned appends from a many-partition input otherwise
            # write one tiny file per input partition
            df = df.hint("rebalance")
        elif mode not in ("none", "hash", "range"):
            raise InvalidDataError(f"unknown write.distribution-mode: {mode!r}")
        if sort_cols:
            df = df.sortWithinPartitions(*sort_cols)
        writer = df.write.mode("error")
        # write.format.default (Iceberg property): the data-file format new
        # writes produce.  parquet is the engine default; orc composes with
        # the same stats collection, bounds pruning, CoW and equality-delete
        # paths (positional/DV coordinates stay refused over ORC —
        # _refuse_positional_over_orc)
        fmt = props.get("write.format.default", "parquet")
        if fmt not in ("parquet", "orc"):
            raise InvalidDataError(
                f"write.format.default {fmt!r}: expected parquet or orc"
            )
        # write.<fmt>.compression-codec (Iceberg property; snappy is the
        # engine default like Spark's) — zstd is the at-scale choice:
        # ~30% smaller files for similar CPU, and 100 TB of scans are
        # IO-bound
        codec = props.get(f"write.{fmt}.compression-codec")
        if codec:
            writer = writer.option("compression", codec)
        max_per_file = props.get("write.spark.max-records-per-file")
        if max_per_file:
            writer = writer.option("maxRecordsPerFile", int(max_per_file))
        # Iceberg's parquet bloom-filter properties → parquet-mr writer
        # options: point lookups on high-cardinality non-sort columns then
        # skip row groups the min/max bounds can't (bounds only help on
        # clustered columns; blooms work on any).
        if fmt == "parquet":
            for k, v in props.items():
                if k.startswith("write.parquet.bloom-filter-enabled.column."):
                    col = k.rsplit(".", 1)[-1]
                    writer = writer.option(f"parquet.bloom.filter.enabled#{col}", v)
                elif k.startswith("write.parquet.bloom-filter-expected-ndv.column."):
                    col = k.rsplit(".", 1)[-1]
                    writer = writer.option(
                        f"parquet.bloom.filter.expected.ndv#{col}", v
                    )
            if props.get("write.parquet.bloom-filter-max-bytes"):
                writer = writer.option(
                    "parquet.bloom.filter.max.bytes",
                    int(props["write.parquet.bloom-filter-max-bytes"]),
                )
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        if fmt == "orc":
            writer.orc(out)
        else:
            writer.parquet(out)
        return self._collect_file_stats(out, df.schema.fields, fmt)

    def _collect_file_stats(
        self, out_dir: str, fields, fmt: str, modes: Optional[dict] = None
    ) -> list[dict[str, Any]]:
        """Per-file manifest entries (record counts, min/max bounds, null
        counts) for the files just written to ``out_dir`` from a frame
        with ``fields``, under the metrics ``modes`` (the table's when
        omitted).

        Parquet files take them from their FOOTERS, identity-partition
        columns from their directories (:meth:`_footer_stat_entries`), so
        no second scan of the data runs.  ORC, non-local IO and any footer
        lacking a needed statistic fall back to one Spark aggregation
        (:meth:`_file_stat_entries`) over the files read under
        ``fields``.  Both finish through ``manifests.finish_stats`` and
        agree value for value
        (``test_table.py::test_footer_stats_match_spark_aggregation``)."""
        modes = modes or self._stat_modes()
        files = [f for f in self.ops.io.list(out_dir) if f.endswith("." + fmt)]
        if not files:
            return []  # zero-row write (e.g. a delete emptied every hit file)
        if fmt == "parquet":
            entries = self._footer_stat_entries(files, modes)
            if entries is not None:
                return entries
        return self._file_stat_entries(
            _read_files(self.spark, out_dir, fields, fmt, base_path=out_dir), modes
        )

    def _stat_entry(self, path: str, rows: int, stats: tuple) -> dict[str, Any]:
        return {
            **stat_entry(path, rows, self.ops.io.size(path), stats),
            "schema-id": self.metadata.current_schema_id,
            # the spec this file's directory layout was written under —
            # Avro manifests group entries per spec so external readers
            # parse partition tuples against the right field names after
            # spec evolution
            "spec-id": self.default_spec_id,
        }

    def _footer_stat_entries(
        self, paths: list[str], modes: Optional[dict] = None
    ) -> Optional[list[dict[str, Any]]]:
        """Manifest entries of freshly written parquet files from their
        footers (``manifests.footer_stats``), or ``None`` when one cannot
        stand in for the Spark aggregation (non-local IO, a missing
        statistic, an identity-partition directory value
        :func:`_dir_stat_value` does not parse).  Files with zero rows
        produce no entry, as the aggregation's groupBy emits none."""
        modes = modes or self._stat_modes()
        schema = self.current_schema()
        identity = {
            pf["source"]: schema.field_by_name(pf["source"]).field_type
            for pf in (self.default_partition_spec() or {}).get("fields", [])
            if pf.get("transform", "identity") == "identity"
            and pf.get("name", pf["source"]) == pf["source"]
        }
        entries = []
        for path in sorted(paths):
            if not os.path.isfile(path):
                return None  # non-local IO — let Spark read it
            dirs = dir_partition_values(os.path.relpath(path, self.ops.data_dir))
            try:
                partition = {
                    c: _dir_stat_value(v, identity[c])
                    for c, v in dirs.items()
                    if c in identity
                }
            except ValueError:
                return None
            stats = footer_stats(path, modes, partition)
            if stats is None:
                return None
            if stats[0]:
                entries.append(self._stat_entry(path, stats[0], stats[1:]))
        return entries

    def _file_stat_entries(
        self, written: DataFrame, modes: Optional[dict] = None
    ) -> list[dict[str, Any]]:
        """Manifest entries of the files behind ``written`` from one Spark
        aggregation grouped by file — the fallback where no engine-written
        parquet footer can be read, and the one path for ``add_files``,
        whose outside writers' footers may leave NaN out of a float
        column's bounds."""
        modes = {
            c: m
            for c, m in (modes or self._stat_modes()).items()
            if c in written.columns
        }
        # string columns aggregate over their N-char prefix, so whole
        # documents never cross to the driver (prefix min ≤ every value,
        # and finish_stats bumps the prefix max)
        prefix_len = {
            c: n
            for c, m in modes.items()
            if isinstance(written.schema[c].dataType, _T.StringType)
            and (n := metrics_truncate_len(m)) is not None
        }
        aggs = [F.count(F.lit(1)).alias("__rc")]
        for c, mode in modes.items():
            if mode == "none":
                continue
            # per-file null counts (spec null_value_counts, field 110):
            # IS NULL prunes files with zero nulls, IS NOT NULL prunes
            # all-null files — bounds can't see either
            aggs.append(
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nc_{c}")
            )
            if mode == "counts":
                continue
            expr = (
                F.substring(F.col(c), 1, prefix_len[c])
                if c in prefix_len
                else F.col(c)
            )
            aggs.append(F.min(expr).alias(f"__min_{c}"))
            aggs.append(F.max(expr).alias(f"__max_{c}"))
        rows = (
            written.groupBy(F.col("_metadata.file_path").alias("__path"))
            .agg(*aggs)
            .collect()
        )
        entries = []
        for r in rows:
            d = r.asDict()
            parts = {}
            for c in modes:
                lo, nc = d.get(f"__min_{c}"), d.get(f"__nc_{c}") or 0
                parts[c] = (
                    ([lo], [d[f"__max_{c}"]], nc) if lo is not None else ([], [], nc)
                )
            path = _spark_uri_path(d["__path"])
            stats = finish_stats(modes, parts)
            entries.append(self._stat_entry(path, d["__rc"], stats))
        entries.sort(key=lambda e: e["path"])
        return entries

    @staticmethod
    def _entries_rowcount(entries: list[dict[str, Any]]) -> int:
        return sum(e.get("record-count") or 0 for e in entries)

    @staticmethod
    def _entry_files(entries: Iterable[dict[str, Any]]) -> list[str]:
        """Data-file paths of the manifest entries."""
        return [e["path"] for e in entries if "path" in e]

    def _read_entries(
        self,
        entries: list[dict[str, Any]],
        schema: Optional[ice_t.Schema] = None,
        file_col: Optional[str] = None,
        pos_col: Optional[str] = None,
        extra_cols: Optional[dict[str, str]] = None,
    ) -> DataFrame:
        """Read manifest entries back as a DataFrame in the target
        ``schema``'s column order and types.

        Schema evolution: each entry records the ``schema-id`` it was
        written under, and that schema is the file's read schema (its
        stored fields, plus ``extra_cols`` as nullable longs), so building
        the frame infers nothing.  The one footer look is for defaulted
        fields (``_absent_defaults``): another writer's manifest can name
        a schema newer than the file, and a defaulted column the file
        lacks reads its initial-default.  Identity-partition values
        round-trip through directory names, typed by the same fields.
        Files are read in per-(schema, commit directory, format, absent
        defaulted fields) groups and projected onto the target schema by
        **field id** — renamed columns resolve to their name-at-write,
        added columns backfill ``initial_default``/null, widened columns
        cast — then unioned.  No data rewrite on evolution, ever."""
        schema = schema or self.current_schema()
        # merge-on-read deletes: positional and DV entries anti-join the
        # spec's (file_path, pos) pairs (rewritten files get new paths and
        # fall outside), equality entries anti-join their key tuples on
        # files of strictly lower data sequence (rewritten files take the
        # rewrite's higher sequence)
        dfiles = [e for e in entries if "delete-file" in e]
        dv_files = [e for e in dfiles if e.get("content") == "deletion-vector"]
        pos_files = [
            e
            for e in dfiles
            if e.get("content") not in ("equality-deletes", "deletion-vector")
        ]
        eq_files = [e for e in dfiles if e.get("content") == "equality-deletes"]
        need_pos = bool(pos_files) or bool(dv_files) or pos_col is not None

        def commit_dir(path: str) -> str:
            """The per-commit directory the file was written into — each is
            internally layout-uniform, so it serves as the basePath for
            partition-value recovery.  Reading commits separately also keeps
            Spark's partition discovery away from sibling commits with
            different layouts (spec evolution) or different partition VALUES
            at the same depth (multi-commit partitioned tables)."""
            rel = os.path.relpath(path, self.ops.data_dir)
            segs = rel.split(os.sep)
            if segs[0] == os.pardir:
                # add_files-registered external file: its own directory is
                # the basePath (never mix with warehouse-resident commits)
                return os.path.dirname(path)
            if not any("=" in seg for seg in segs[1:-1]):
                # unpartitioned commit: no partition discovery involved, so
                # all such commits share ONE scan (plan stays flat however
                # many appends the table has)
                return self.ops.data_dir
            return os.path.join(self.ops.data_dir, segs[0])

        groups: dict[tuple, list[str]] = {}
        written_by_sid: dict[int, ice_t.Schema] = {}
        for e in entries:
            if "delete-file" in e:
                continue
            sid = e.get("schema-id", schema.schema_id)
            if sid not in written_by_sid:
                written_by_sid[sid] = self.schema_by_id(sid) or schema
            for p in self._entry_files([e]):
                fmt = "orc" if p.endswith(".orc") else "parquet"
                absent = _absent_defaults(p, fmt, written_by_sid[sid])
                groups.setdefault((sid, commit_dir(p), fmt, absent), []).append(p)
        groups = {k: fs for k, fs in groups.items() if fs}
        if not groups:
            empty_schema = schema.to_spark()
            extra = []
            if file_col:
                extra.append(_T.StructField(file_col, _T.StringType()))
            if pos_col:
                extra.append(_T.StructField(pos_col, _T.LongType()))
            for alias in (extra_cols or {}).values():
                extra.append(_T.StructField(alias, _T.LongType()))
            if extra:
                empty_schema = _T.StructType(extra + list(empty_schema.fields))
            return self.spark.createDataFrame([], empty_schema)
        parts = []
        for sid, cdir, fmt, absent in sorted(groups):
            # the entry's written schema is the file's: its stored fields
            # (v3 unknown columns are never stored, defaulted columns the
            # file lacks read their default) plus the lineage columns,
            # which only some files carry and the rest read null
            stored = {
                f.field_id: f
                for f in written_by_sid[sid].fields
                if not isinstance(f.field_type, ice_t.UnknownType)
                and f.field_id not in absent
            }
            df = _read_files(
                self.spark,
                groups[(sid, cdir, fmt, absent)],
                [f.to_spark() for f in stored.values()]
                + [_T.StructField(c, _T.LongType()) for c in extra_cols or {}],
                fmt,
                base_path=cdir,
            )
            cols = []
            for f in schema.fields:
                wf = stored.get(f.field_id)
                spark_t = f.to_spark().dataType
                if isinstance(f.field_type, ice_t.UnknownType):
                    cols.append(F.lit(None).alias(f.name))
                elif wf is not None:
                    cols.append(F.col(wf.name).cast(spark_t).alias(f.name))
                else:
                    cols.append(F.lit(f.initial_default).cast(spark_t).alias(f.name))
            for phys, alias in (extra_cols or {}).items():
                cols.append(F.col(phys).alias(alias))
            if need_pos:
                # physical row position within the parquet file — the spec's
                # positional-delete coordinate; Spark's _metadata.row_index
                # is stable across scans of the same file.  ORC files have
                # no stable row_index: their rows carry NULL positions,
                # which is SAFE because positional/DV delete creation
                # refuses ORC hits (write-time guard), so no delete
                # coordinate can ever reference an ORC row — and NULL
                # never equals a delete's (file, pos) pair in the anti-join
                pos_expr = (
                    F.lit(None).cast("long")
                    if fmt == "orc"
                    else F.col("_metadata.row_index")
                )
                cols = [pos_expr.alias(pos_col or "__mor_pos")] + cols
            if dfiles or file_col:
                path_col = _file_path_col()
                cols = [path_col.alias(file_col or "__mor_file")] + cols
            parts.append(df.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        path_name = file_col or "__mor_file"
        pos_name = pos_col or "__mor_pos"
        if pos_files or dv_files:
            # anti-join the (file_path, pos) pairs; delete sets are small
            # next to the data they delete from, so broadcast them — the
            # distributed analog of Iceberg readers merging sorted position
            # lists per file
            # Spec-shaped delete files (current write path) store the FULL
            # data-file path under the table location at write time, which
            # each entry records as ``base-location``; older files stored
            # location-relative paths, and pre-r4 files absolute paths with
            # no recorded base.  Normalize all three: strip any known base
            # prefix (recorded bases + the current location), then
            # re-absolutize relative remainders against the current
            # location — so spec content stays correct after rename_table.
            # "Absolute" means a leading slash OR a URI scheme: an s3a://
            # path must not be mistaken for relative and prefixed.  (On a
            # real cluster the remaining step is s3↔s3a scheme
            # normalization against _metadata.file_path — part of the
            # documented fs.s3a data-plane work.)
            loc = self.ops.location
            base = (loc if "://" in loc else os.path.abspath(loc)).rstrip("/")
            bases = {base} | {
                e["base-location"].rstrip("/")
                for e in pos_files + dv_files
                if e.get("base-location")
            }
            strip_pat = (
                "^("
                + "|".join(
                    re.escape(b + "/")
                    for b in sorted(bases, key=len, reverse=True)
                )
                + ")"
            )
            fp = F.regexp_replace(F.col("file_path"), strip_pat, "")
            is_abs = fp.rlike("^(/|[A-Za-z][A-Za-z0-9+.-]*:)")
            abs_fp = F.when(is_abs, fp).otherwise(
                F.concat(F.lit(base + "/"), fp)
            )
            del_parts = []
            if pos_files:
                del_parts.append(
                    _read_files(
                        self.spark,
                        [self.ops._abs(e["delete-file"]) for e in pos_files],
                        _POS_DELETE_FIELDS,
                    )
                )
            if dv_files:
                # v3 deletion vectors: decode each referenced file's roaring
                # bitmap (blob sliced by the entry's offset/length — one
                # ranged read per vector, never the whole Puffin file's
                # payload set) into the same (file_path, pos) relation.
                # The decoded set is deleted-rows-sized — the same driver
                # posture as broadcasting the positional delete sets.
                from iceberg_ruby_spark.deletion_vectors import decode_dv_blob
                dv_rows = []
                blob_cache: dict[str, bytes] = {}
                for e in dv_files:
                    p = self.ops._abs(e["delete-file"])
                    if p not in blob_cache:
                        blob_cache[p] = self.ops.io.read_bytes(p)
                    payload = blob_cache[p][
                        e["content-offset"] : e["content-offset"] + e["content-size"]
                    ]
                    ref = self.ops._abs(e["referenced-data-file"])
                    dv_rows.extend((ref, pos) for pos in decode_dv_blob(payload))
                del_parts.append(
                    small_local_df(
                        self.spark,
                        dv_rows,
                        _T.StructType(
                            [
                                _T.StructField("file_path", _T.StringType()),
                                _T.StructField("pos", _T.LongType()),
                            ]
                        ),
                    )
                )
            del_src = del_parts[0]
            for p_ in del_parts[1:]:
                del_src = del_src.unionByName(p_)
            del_df = del_src.select(
                abs_fp.alias(path_name), F.col("pos").alias(pos_name)
            )
            out = out.join(F.broadcast(del_df), [path_name, pos_name], "left_anti")
        if eq_files:
            # Equality deletes follow the Iceberg spec's scan-planning
            # rule: a delete applies to rows of data files with STRICTLY
            # lower data sequence.  Two structural choices keep a long
            # delete chain readable:
            #
            # 1. Each row's data-file sequence comes from ONE broadcast
            #    (path → data-sequence-number) relation built from the
            #    driver's in-hand manifest entries — metadata-sized, never
            #    a per-delete path list in the plan.  Files without a
            #    recorded sequence predate seq stamping (strictly older
            #    than any equality delete): -1.
            # 2. All deletes sharing a key-column set MERGE into ONE
            #    broadcast anti-join: union the key files, each key row
            #    tagged with its delete's sequence, and a row is dead iff
            #    some key row matches it with a HIGHER sequence than its
            #    file's (the same rule as max_seq(k) > s, without the
            #    per-key aggregation's shuffle).  One join however deep
            #    the chain — N chained joins blew the JVM stack at plan
            #    time past ~100 micro-batches, and Iceberg readers
            #    likewise merge all equality deletes into one pass per
            #    file.
            seq_pairs = []
            for de in entries:
                if "delete-file" in de:
                    continue
                seqv = de.get("data-sequence-number")
                seqv = -1 if seqv is None else int(seqv)
                for p in self._entry_files([de]):
                    seq_pairs.append((self.ops._abs(p), seqv))
            seq_df = small_local_df(
                self.spark,
                seq_pairs,
                _T.StructType(
                    [
                        _T.StructField("__mor_sf", _T.StringType()),
                        _T.StructField("__mor_seq", _T.LongType()),
                    ]
                ),
            )
            out = out.join(
                F.broadcast(seq_df),
                F.col(path_name) == F.col("__mor_sf"),
                "left",
            ).drop("__mor_sf")
            row_seq = F.coalesce(F.col("__mor_seq"), F.lit(-1))
            groups: dict[tuple, list[dict[str, Any]]] = {}
            for e in eq_files:
                if e.get("data-sequence-number") is None:
                    raise InvalidDataError(
                        "equality delete entry carries no "
                        f"data-sequence-number: {e.get('delete-file')!r}"
                    )
                groups.setdefault(tuple(e["equality-cols"]), []).append(e)
            for gi, cols_key in enumerate(sorted(groups)):
                # ONE scan over every key file in the group (they share
                # the key schema by construction); each key row picks up
                # its delete's sequence through a tiny (file → seq)
                # broadcast — no per-file driver read, no union chain
                fseq = [
                    (
                        self.ops._abs(e["delete-file"]),
                        int(e["data-sequence-number"]),
                    )
                    for e in groups[cols_key]
                ]
                fseq_df = small_local_df(
                    self.spark,
                    fseq,
                    _T.StructType(
                        [
                            _T.StructField("__eqsf", _T.StringType()),
                            _T.StructField(f"__eqs{gi}", _T.LongType()),
                        ]
                    ),
                )
                keys_df = (
                    _read_files(
                        self.spark,
                        [p for p, _ in fseq],
                        self._key_fields(
                            list(cols_key), groups[cols_key][0]["equality-ids"]
                        ),
                    )
                    .select(
                        *[
                            F.col(c).alias(f"__eqsk{gi}_{j}")
                            for j, c in enumerate(cols_key)
                        ],
                        _file_path_col().alias("__eqf"),
                    )
                    .join(
                        F.broadcast(fseq_df),
                        F.col("__eqf") == F.col("__eqsf"),
                        "inner",
                    )
                    .drop("__eqf", "__eqsf")
                )
                dead = keys_df[f"__eqs{gi}"] > row_seq
                for j, c in enumerate(cols_key):
                    dead = dead & out[c].eqNullSafe(keys_df[f"__eqsk{gi}_{j}"])
                out = out.join(F.broadcast(keys_df), dead, "left_anti")
        if "__mor_seq" in out.columns:
            out = out.drop("__mor_seq")
        if pos_col is None and "__mor_pos" in out.columns:
            out = out.drop("__mor_pos")
        if dfiles and not file_col:
            out = out.drop("__mor_file")
        return out

    @staticmethod
    def _split_entries(
        entries: list[dict[str, Any]]
    ) -> tuple[list[dict[str, Any]], list[dict[str, Any]]]:
        """(data entries, merge-on-read delete entries)."""
        data = [e for e in entries if "delete-file" not in e]
        mor = [e for e in entries if "delete-file" in e]
        return data, mor

    def _retired_deletes(
        self, dels: list[dict[str, Any]], kept_data: list[dict[str, Any]]
    ) -> tuple[list[dict[str, Any]], list[dict[str, Any]]]:
        """The delete side of a rewrite that keeps the data entries
        ``kept_data``: ``(retired, narrowed)``, the entries of ``dels`` the
        commit removes and the copies it adds in their place.  A
        positional or DV entry is scoped to the files that remain: retired
        once none survives, replaced by a narrowed copy while some do.  An
        equality delete is retired once no kept data file's sequence is
        below its own (rewritten files take the rewrite commit's HIGHER
        sequence, so the delete never replays onto them — the rewrite
        already materialized it)."""
        kept_paths = {e["path"] for e in kept_data}
        retired, narrowed = [], []
        for e in dels:
            if e.get("content") == "equality-deletes":
                if not _seq_scope_touched(e, kept_data, self.current_schema()):
                    retired.append(e)
                continue
            ap = e.get("applies-to")
            if ap is None:
                continue  # no recorded file scope: keep it whole
            ap2 = [p for p in ap if p in kept_paths]
            if len(ap2) < len(ap):
                retired.append(e)
                if ap2:
                    narrowed.append({**e, "applies-to": ap2})
        return retired, narrowed

    def _partition_fields(self) -> dict[str, tuple]:
        """name → (transform, source) across ALL partition specs, for
        directory pruning.  Identity fields are skipped (their column
        bounds already prune exactly); a name whose transform differs
        between specs is disabled (ambiguous)."""
        out: dict[str, Any] = {}
        for spec in self.metadata.raw.get("partition-specs", []):
            for pf in spec.get("fields", []):
                tr = parse_transform(pf.get("transform", "identity"))
                if tr.name in ("identity", "void"):
                    continue
                name = pf.get("name") or tr.result_name(pf["source"])
                prev = out.get(name)
                if prev is not None and (prev[0] != tr or prev[1] != pf["source"]):
                    out[name] = None
                elif name not in out:
                    out[name] = (tr, pf["source"])
        return {k: v for k, v in out.items() if v is not None}

    def _prune_by_stats(
        self, entries: list[dict[str, Any]], tree
    ) -> list[dict[str, Any]]:
        """Manifest-level pruning: column bounds first, then partition
        directory values (covers bucket/truncate/temporal transforms whose
        source bounds can't prune).  Non-data entries pass through."""
        pfields = self._partition_fields()
        schema = self.current_schema()
        out = []
        for e in entries:
            if "path" not in e:
                out.append(e)
                continue
            if not _bounds_may_match(e, tree):
                continue
            if pfields:
                pvals = dir_partition_values(e["path"])
                if pvals and not _partition_may_match(pvals, tree, pfields, schema):
                    continue
            out.append(e)
        return out

    def _matching_files(
        self, entries: list[dict[str, Any]], cond, cond_str: Optional[str] = None
    ) -> dict[str, int]:
        """Find data files containing rows that match ``cond`` — one Spark job
        with the predicate pushed into the Parquet scan; returns
        {file_path: matching_row_count}.  This is the pruning step that makes
        mutations file-local instead of full-table rewrites.  When the
        condition is a parseable string, manifest bounds pre-prune the scan
        input so non-overlapping files are never even opened."""
        entries = self._prune_by_condition(entries, cond_str)
        if not self._entry_files(entries):
            return {}
        # schema-evolution-aware read (old files projected by field id) with
        # the source file path carried alongside
        df = self._read_entries(entries, file_col="__file")
        rows = df.filter(cond).groupBy("__file").agg(F.count(F.lit(1)).alias("n")).collect()
        return {r["__file"]: r["n"] for r in rows}

    def _commit_snapshot(
        self,
        operation: str,
        added: list[dict[str, Any]],
        removed: Sequence[dict[str, Any]] = (),
        summary_extra: Optional[dict] = None,
        base_snapshot_id: Optional[int] = None,
        branch: str = MAIN_BRANCH,
        raw_extra=None,
    ) -> None:
        """Optimistic commit of one delta.  Every attempt loads the fresh
        head H of ``branch`` and commits ``H − removed + added``: data
        entries match by path, delete entries by value (:func:`_entry_key`),
        and ``removed=ALL`` drops whatever is live at H.  A caller passes
        only the entries it changed, so a concurrent committer's entries
        are neither lost nor resurrected.

        A commit that removes nothing chains ``added`` onto H's manifest
        list and reads no manifest — O(new files) commit metadata however
        large the table (Iceberg's fast append); one that removes entries
        rewrites the set.  Totals roll forward from H's summary (counted
        from H's entries only when the summary lacks them), and
        ``added-*`` and the v3 row-id range come from ``added``.

        ``base_snapshot_id`` names the snapshot the operation planned
        against; when the head moved since, :meth:`_validate_delta` refuses
        a delta that no longer applies.  An entry of ``removed`` that is
        no longer live at H is a conflict too.

        ``raw_extra(raw)`` applies a metadata-definition mutation (schema /
        spec / sort-order / properties swap) inside the SAME commit as the
        snapshot — CREATE OR REPLACE atomicity: a crash or concurrent
        reader never observes the truncated table still carrying the old
        definition.  Re-applied on every optimistic retry against fresh
        metadata."""
        replace_all = removed is ALL
        removed = [] if replace_all else list(removed)
        removed_keys = {_entry_key(e) for e in removed}
        # a data entry removed and added under one path moves between
        # manifests (rewrite_manifests); only the others are new
        fresh = [e for e in added if "path" in e and e["path"] not in removed_keys]
        added_rows = self._entries_rowcount(fresh)
        delta = [a - r for a, r in zip(_entry_totals(added), _entry_totals(removed))]
        for attempt in range(self._commit_retries() + 1):
            meta = self.ops.load()
            if branch == MAIN_BRANCH:
                head = meta.current_snapshot_id
            else:
                # branch commit (write-audit-publish): parent is the branch
                # head; a missing branch forks implicitly from main's head
                r = meta.refs.get(branch)
                if r is not None and r.get("type") != "branch":
                    raise InvalidDataError(f"not a branch: {branch}")
                head = r["snapshot-id"] if r else meta.current_snapshot_id
            head_snap = next(
                (s for s in meta.snapshots if s.snapshot_id == head), None
            )
            psum = head_snap.summary if head_snap is not None else {}
            has_totals = all(k in psum for k in _TOTAL_KEYS)
            moved = base_snapshot_id is not None and head != base_snapshot_id
            live: list[dict[str, Any]] = []
            if head_snap is not None and (
                moved or (not replace_all and (removed or not has_totals))
            ):
                live = self.ops.read_manifest(head_snap.manifest_list)
            if moved:
                self._validate_delta(base_snapshot_id, live, added, removed)
            if replace_all or head_snap is None:
                base_totals: Sequence[int] = (0, 0, 0)
            elif has_totals:
                base_totals = [int(psum[k]) for k in _TOTAL_KEYS]
            else:
                base_totals = _entry_totals(live)
            entries = list(added)
            if removed:
                if not removed_keys <= {_entry_key(e) for e in live}:
                    raise InvalidDataError(
                        "commit conflict: an entry this operation removes "
                        "is no longer live; retry the operation on fresh "
                        "state"
                    )
                entries = [e for e in live if _entry_key(e) not in removed_keys] + entries
            snapshot_id = _new_snapshot_id()
            # v3 row lineage: every data entry that doesn't already carry a
            # first-row-id (new files, or files from pre-lineage commits)
            # gets one from the table's next-row-id counter, in manifest
            # order, plus its data sequence number — scan(row_lineage=True)
            # derives _row_id = first-row-id + row position from these.
            # Copies, not in-place: a retry recomputes against fresh
            # metadata, so the caller's entry dicts must stay untouched.
            entries = [dict(e) for e in entries]
            commit_seq = meta.last_sequence_number + 1
            next_rid = meta.next_row_id
            for e in entries:
                # every entry — data AND delete (positional/equality/DV)
                # — gets its committing sequence; the entries
                # metadata table reconstructs adder snapshots from it
                if e.get("data-sequence-number") is None:
                    e["data-sequence-number"] = commit_seq
                if (
                    "path" in e
                    and e.get("first-row-id") is None
                    and e.get("record-count") is not None
                ):
                    # assigned even for materialized-lineage rewrites:
                    # rows whose materialized _row_id cell is null
                    # (e.g. freshly inserted by a rewriting merge)
                    # inherit first-row-id + position, spec v3 style;
                    # preserved rows' non-null cells win via coalesce
                    e["first-row-id"] = next_rid
                    next_rid += e["record-count"]
            chain = head_snap is not None and not removed and not replace_all
            manifest = self.ops.write_manifest(
                snapshot_id,
                entries,
                ctx=self._manifest_ctx(meta, head),
                base_list=head_snap.manifest_list if chain else None,
            )
            now = _now_ms()
            files, records, deletes = (b + d for b, d in zip(base_totals, delta))
            counters = {
                # Iceberg snapshot-summary counters (metadata-only totals)
                "added-data-files": str(len(fresh)),
                "added-rows": str(added_rows),
                "total-data-files": str(files),
                "total-records": str(records),
                "total-delete-entries": str(deletes),
            }
            snap = Snapshot(
                snapshot_id=snapshot_id,
                parent_snapshot_id=head,
                sequence_number=commit_seq,
                timestamp_ms=now,
                manifest_list=manifest,
                schema_id=meta.current_schema_id,
                summary={"operation": operation, **counters, **(summary_extra or {})},
            )
            # v3 row-lineage: the snapshot records its assigned row-id range
            # start, so a catalog that owns the metadata (REST) can derive
            # next-row-id = first-row-id + added-rows without manifests
            snap_json = {**snap.to_json(), "first-row-id": meta.next_row_id}
            raw = dict(meta.raw)
            if raw_extra is not None:
                raw_extra(raw)
                # the snapshot is written under the definition this commit
                # installs, not the one it replaces
                snap_json["schema-id"] = raw.get(
                    "current-schema-id", meta.current_schema_id
                )
            raw["snapshots"] = raw.get("snapshots", []) + [snap_json]
            raw["last-sequence-number"] = snap.sequence_number
            raw["last-updated-ms"] = now
            # the spec caps the previous-metadata list at
            # write.metadata.previous-versions-max — without it a
            # streaming sink's metadata document grows one log row per
            # commit forever, an O(history) tax on EVERY subsequent
            # commit's serialize+write
            raw["metadata-log"] = (
                meta.metadata_log
                + [
                    {
                        "metadata-file": meta.metadata_file,
                        "timestamp-ms": meta.last_updated_ms,
                    }
                ]
            )[-_previous_versions_max(raw.get("properties")):]
            refs = dict(meta.refs)
            refs[branch] = {"snapshot-id": snapshot_id, "type": "branch"}
            raw["refs"] = refs
            if branch == MAIN_BRANCH:
                # only a main commit moves the table's current state; branch
                # commits become visible through scan(ref=...) and publish
                # via fast_forward
                raw["current-snapshot-id"] = snapshot_id
                raw["snapshot-log"] = meta.snapshot_log + [
                    {"snapshot-id": snapshot_id, "timestamp-ms": now}
                ]
            # next_rid already advanced past every row-id assigned above
            # (including one-time backfill of pre-lineage files, which
            # added_rows alone wouldn't cover)
            raw["next-row-id"] = max(next_rid, meta.next_row_id + added_rows)
            try:
                self.metadata = self.ops.commit(meta.version, raw)
                self._auto_refresh_blooms(branch)
                return
            except FileExistsError:
                _commit_backoff(attempt)
                continue  # lost the optimistic race; retry on fresh metadata
        raise InvalidDataError("commit conflict: too many retries")

    def _validate_delta(
        self,
        base_snapshot_id: int,
        live: list[dict[str, Any]],
        added: list[dict[str, Any]],
        removed: list[dict[str, Any]],
    ) -> None:
        """Refuse a delta planned against ``base_snapshot_id`` that no
        longer applies to ``live``, the entries of the head that moved
        since (Iceberg's commit validations):

        - a data file live at the base is gone — the operation read rows
          a concurrent commit rewrote or removed;
        - a concurrent equality, positional or DV delete applies to a file
          this delta removes — the rewrite would resurrect its dead rows
          (the rewritten files take a HIGHER sequence the delete no longer
          covers);
        - an equality delete this delta adds applies to a concurrently
          added file — it would kill rows its hit count never saw
          (``RowDelta.validateNoConflictingDataFiles``);
        - a deletion vector this delta adds targets a file a concurrent
          vector also targets — two vectors on one file break the v3
          invariant, and the racing vectors must be re-merged from fresh
          state (the DV writers retry the whole operation on this)."""

        def conflict(why: str) -> InvalidDataError:
            return InvalidDataError(
                f"commit conflict: {why}; retry the operation on fresh state"
            )

        base = self.snapshot_by_id(base_snapshot_id)
        base_entries = (
            self.ops.read_manifest(base.manifest_list) if base is not None else []
        )
        live_paths = {e["path"] for e in live if "path" in e}
        if any("path" in e and e["path"] not in live_paths for e in base_entries):
            raise conflict(
                "a concurrent commit removed files this operation planned against"
            )
        base_keys = {_entry_key(e) for e in base_entries}
        concurrent = [e for e in live if _entry_key(e) not in base_keys]
        schema = self.current_schema()
        removed_data = [e for e in removed if "path" in e]
        removed_paths = {e["path"] for e in removed_data}
        for e in concurrent:
            if "path" in e:
                continue
            if (
                _seq_scope_touched(e, removed_data, schema)
                if e.get("content") == "equality-deletes"
                else set(e.get("applies-to") or ()) & removed_paths
            ):
                raise conflict(
                    "a concurrent merge-on-read delete applies to files this "
                    "operation rewrote"
                )
        concurrent_data = [e for e in concurrent if "path" in e]
        if any(
            e.get("content") == "equality-deletes"
            and _seq_scope_touched(e, concurrent_data, schema)
            for e in added
        ):
            raise conflict(
                "a concurrent append added files this operation's equality "
                "delete applies to"
            )
        dv_refs = {
            e.get("referenced-data-file")
            for e in added
            if e.get("content") == "deletion-vector"
        }
        if any(
            e.get("content") == "deletion-vector"
            and e.get("referenced-data-file") in dv_refs
            for e in concurrent
        ):
            raise conflict(
                "a concurrent deletion vector references the same data file"
            )

    def _auto_refresh_blooms(self, branch: str = MAIN_BRANCH) -> None:
        """``write.bloom.auto-refresh=true``: fold bloom-index maintenance
        into every main-branch commit so a standing index can't silently
        age into keep-everything (a stale index prunes NOTHING for files
        it doesn't cover — correct but useless).  Each refresh is the
        O(new files) incremental path, and a commit that added or removed
        no data files (MoR delete, property swap) is a pure no-op — the
        refresh detects nothing to do and skips the index rewrite.
        Branch commits skip: the index reflects main's file set."""
        if branch != MAIN_BRANCH:
            return
        if str(
            self.properties.get("write.bloom.auto-refresh", "")
        ).lower() != "true":
            return
        cols = [
            k[len("bloom.index."):-len(".path")]
            for k in self.properties
            if k.startswith("bloom.index.") and k.endswith(".path")
        ]
        for col in cols:
            self.refresh_key_bloom(col)

    def _current_entries(
        self, branch: Optional[str] = None
    ) -> list[dict[str, Any]]:
        """Live manifest entries at main's head, or at a branch head when
        ``branch`` names one (branch-scoped DML; a missing branch reads
        main, mirroring append's implicit fork)."""
        snap = None
        if branch and branch != MAIN_BRANCH:
            snap = self.snapshot_for_ref(branch)
        if snap is None:
            snap = self.current_snapshot()
        if snap is None:
            return []
        return self.ops.read_manifest(snap.manifest_list)

    def _current_manifest_descriptors(
        self, snap: Optional["Snapshot"] = None
    ) -> list[dict[str, Any]]:
        """Manifest-list rows for the current snapshot (or ``snap`` when
        given — backs ``inspect.all_manifests()`` too) — the manifest
        list alone is read, never the manifests (backs
        ``inspect.manifests()``): the spec's manifest_file records."""
        if snap is None:
            snap = self.current_snapshot()
        if snap is None:
            return []
        _, records, _ = read_ocf(
            self.ops.io.read_bytes(self.ops._abs(snap.manifest_list))
        )
        return records

    def _branch_head_id(self, branch: Optional[str]) -> Optional[int]:
        """The optimistic-commit base for a mutation: main's head, or the
        branch head for branch-scoped DML."""
        if branch and branch != MAIN_BRANCH:
            snap = self.snapshot_for_ref(branch)
            if snap is not None:
                return snap.snapshot_id
        return self.current_snapshot_id

    def append(self, data: Any, branch: Optional[str] = None) -> "Table":
        """Fast-append: write new files, commit a child snapshot (reference
        ``table.rb:161-166`` / ``table.rs:62-125``).  Only the delta entries
        go to the commit loop; the live manifest is re-read per retry.

        ``branch`` targets a branch head instead of main (write-audit-
        publish): the append is visible via ``scan(ref=branch)`` but does
        NOT move the table's current state until ``fast_forward("main",
        branch)`` publishes it.  A missing branch forks implicitly from
        main's head.

        With the table property ``write.wap.enabled=true`` and a
        ``spark.wap.id`` session conf set (iceberg-spark's audit flow),
        a plain append STAGES instead of publishing —
        :meth:`publish_changes` later moves main."""
        self._check_writable()
        if branch is None and str(
            self.properties.get("write.wap.enabled", "")
        ).lower() == "true":
            wap_id = None
            if self.spark is not None:
                try:
                    wap_id = self.spark.conf.get("spark.wap.id", None)
                except Exception:
                    wap_id = None
            if wap_id:
                self.stage_append(data, wap_id)
                return self
        df = self._normalize_input(data)
        new_entries = self._write_data_dir(df)
        n = self._entries_rowcount(new_entries)
        self._commit_snapshot(
            "append",
            new_entries,
            summary_extra={"added-records": n},
            branch=branch or MAIN_BRANCH,
        )
        return self

    def add_files(
        self,
        source: Union[str, list[str]],
        summary_extra: Optional[dict] = None,
        format: str = "parquet",
    ) -> int:
        """Register existing parquet files as table data BY REFERENCE — the
        Iceberg ``add_files`` migration procedure: no rewrite, no copy, one
        stats-collection scan to capture per-file record counts and column
        bounds for pruning.  Files must already match the table schema
        physically (name and type) since nothing rewrites them; use
        ``append`` when a cast is needed.  Returns the file count."""
        self._check_writable()
        if format not in ("parquet", "orc"):
            raise InvalidDataError(
                f"add_files format {format!r}: expected parquet or orc"
            )
        paths = [source] if isinstance(source, str) else list(source)
        df = self.spark.read.format(format).load(paths)
        schema = self.current_schema()
        names = {f.name for f in schema.fields}
        extra = set(df.columns) - names
        if extra:
            raise InvalidDataError(
                f"files carry columns not in the table schema: {sorted(extra)}"
            )
        for f in schema.fields:
            if isinstance(f.field_type, ice_t.UnknownType):
                # unknown values are never stored — files must OMIT the
                # column; registering a file that carries one would
                # silently shadow its data behind the reader's null
                # projection (the append paths refuse non-null unknown
                # input loudly; add_files must not be the quiet path)
                if f.name in df.columns:
                    raise InvalidDataError(
                        f"files carry column {f.name!r}, which has unknown "
                        "type in the table: unknown values are never "
                        "stored — promote the column to a real type first "
                        "or register files without it"
                    )
                continue
            if f.name not in df.columns:
                raise InvalidDataError(f"files are missing column {f.name!r}")
            actual = df.schema[f.name].dataType
            expected = f.to_spark().dataType
            if actual != expected:
                raise InvalidDataError(
                    f"column {f.name!r} is {actual.simpleString()} in the files "
                    f"but {expected.simpleString()} in the table; add_files "
                    "registers files as-is — use append to rewrite with a cast"
                )
        new_entries = self._file_stat_entries(df)
        n = self._entries_rowcount(new_entries)
        self._commit_snapshot(
            "append",
            new_entries,
            summary_extra={
                "added-records": n,
                "added-files-by-reference": len(new_entries),
                **(summary_extra or {}),
            },
        )
        return len(new_entries)

    def overwrite(
        self,
        data: Any,
        summary_extra: Optional[dict] = None,
        set_properties: Optional[dict] = None,
    ) -> "Table":
        """Full-table replace — beyond the reference's surface (its UPDATE /
        DELETE error out, ``test/sql_test.rb:55-69``).  ``summary_extra``
        rides the snapshot summary (materialized-aggregate rebuilds stamp
        their source watermark there, atomic with the state).
        ``set_properties`` merges property updates into the SAME commit —
        state that must stay consistent with the data (e.g. an IVF
        index's retrained centroids) can never be observed half-swapped."""
        self._check_writable()
        df = self._normalize_input(data)
        new_entries = self._write_data_dir(df)
        n = self._entries_rowcount(new_entries)
        raw_extra = None
        if set_properties is not None:
            updates = {str(k): str(v) for k, v in set_properties.items()}

            def raw_extra(raw: dict) -> None:
                raw["properties"] = {**raw.get("properties", {}), **updates}

        self._commit_snapshot(
            "overwrite",
            new_entries,
            ALL,
            {"added-records": n, **(summary_extra or {})},
            raw_extra=raw_extra,
        )
        return self

    def _resolve_write_mode(self, prop: str, mode: Optional[str] = None) -> str:
        """Map a write mode — the ``mode=`` argument, or when it is None the
        ``write.*.mode`` table property ``prop`` — to an internal mode name
        (Iceberg's TableProperties contract: engines pick CoW vs MoR per
        these properties; default ``copy-on-write`` per spec).

        For DELETE and UPDATE the spec value ``merge-on-read`` resolves by
        format version to row-level position deletes: deletion vectors on
        v3 (the spec makes position delete *files* illegal there),
        positional delete files on v2.  The extended values
        ``merge-on-read-positional`` / ``merge-on-read-dv`` select one
        explicitly.  MERGE keeps ``merge-on-read`` (equality deletes)."""
        val = mode if mode is not None else self.properties.get(prop, "copy-on-write")
        if val == "merge-on-read" and prop in ("write.delete.mode", "write.update.mode"):
            return (
                "merge-on-read-dv"
                if self.format_version >= 3
                else "merge-on-read-positional"
            )
        return val

    @staticmethod
    def _refuse_positional_over_orc(entries: list[dict[str, Any]]) -> None:
        """Positional deletes / DVs address rows by parquet row_index;
        ORC data files (add_files imports) have no stable position —
        refuse before writing coordinates that could not be applied.
        Copy-on-write and equality-delete modes remain available, and
        compact() rewrites ORC imports into parquet."""
        if any(e.get("path", "").endswith(".orc") for e in entries):
            raise InvalidDataError(
                "merge-on-read positional/DV deletes are not supported on "
                "tables containing ORC data files (no stable row_index); "
                "use copy-on-write or equality-delete modes, or compact() "
                "to rewrite the ORC imports as parquet first"
            )

    def _prune_by_condition(
        self, entries: list[dict[str, Any]], cond_str: Optional[str]
    ) -> list[dict[str, Any]]:
        """``entries`` minus the data files whose manifest bounds prove they
        hold no row matching ``cond_str`` (kept whole when the condition is
        not a string :func:`_parse_predicate` can parse).  Delete entries
        always pass through."""
        tree = self._bound_predicate(cond_str)
        return entries if tree is None else self._prune_by_stats(entries, tree)

    def _bind_filters(self, filters: list) -> list:
        """Each of ``filters`` parsed and bound to this table's columns
        (:func:`_bind`) — the one parse-and-bind of scans and mutations —
        or None for one :func:`_parse_predicate` does not read.  A filter
        is a string or a Column (read through its SQL-ish string); the
        shredded variant columns bind by their shred spec's type, and a
        ``[try_]variant_get(col, path, type)`` spelling of one reads as
        that column.  Spark 4 spells a Column in prefix form (``=(a, 9)``),
        which :func:`_prefix_to_infix` rewrites for the one parser."""
        from iceberg_ruby_spark.table_definition import parse_type

        types = {f.name: f.field_type for f in self.current_schema().fields}
        shred = {}  # (col, path, type) → shredded column
        for col, items in self.variant_shred_specs().items():
            for path, typ, name in items:
                types[name] = parse_type(typ)
                shred[(col, path, typ)] = name
        out = []
        for f in filters:
            src = f
            if f is not None and not isinstance(f, str):
                try:
                    src = f._jc.toString()
                except Exception:
                    src = None
                else:
                    src = _prefix_to_infix(src) or src
            tree = _parse_predicate(src, shred_map=shred) if src is not None else None
            out.append(None if tree is None else _bind(tree, types))
        return out

    def _bound_predicate(self, s: Optional[str]):
        """``s`` parsed and bound (:meth:`_bind_filters`), or None."""
        return self._bind_filters([s])[0]

    def _positional_delete_build(
        self, cur_entries: list[dict[str, Any]], cond, cond_str: Optional[str] = None
    ) -> tuple[list[dict[str, Any]], int]:
        """Write spec-shaped positional delete files for live rows matching
        ``cond`` and return ``(delete_entries, deleted_count)`` WITHOUT
        committing — delete_where commits them alone, MoR UPDATE commits
        them together with the new row versions.  A parseable ``cond_str``
        pre-prunes the files read by manifest bounds."""
        self._refuse_positional_over_orc(cur_entries)
        read_entries = self._prune_by_condition(cur_entries, cond_str)
        if not self._entry_files(read_entries):
            return [], 0
        # positions of rows matching NOW, with all prior MoR deletes
        # applied so already-dead rows are not re-deleted (keeps the
        # returned count an honest delta)
        live = self._read_entries(read_entries, file_col="__f", pos_col="__p")
        # store file_path RELATIVE to the table location (like every
        # manifest path) so positional deletes survive rename_table /
        # register_table moving the table tree; absolutized on read
        # strip whichever location form the scan surfaced — the posix
        # abspath (local file scheme) or the raw location (URI schemes
        # like s3://, where os.path.abspath would mangle the prefix)
        loc_prefixes = sorted(
            {
                os.path.abspath(self.ops.location) + os.sep,
                self.ops.location.rstrip("/") + "/",
            },
            key=len,
            reverse=True,
        )
        pat = "^(" + "|".join(re.escape(p) for p in loc_prefixes) + ")"
        rel_fp = F.regexp_replace(F.col("__f"), pat, "")
        # Spec-shaped position delete files (format spec "Position
        # Delete Files") hold file_path as the full data-file path (the
        # same form the Avro manifests publish).  Rename-survival moves
        # to the entry's ``base-location`` (the table location at write
        # time): the read path strips any recorded base and
        # re-absolutizes against the current location, so the file
        # CONTENT stays spec-readable while the engine still survives
        # rename_table.
        loc = self.ops.location
        base = (loc if "://" in loc else os.path.abspath(loc)).rstrip("/")
        hits = live.filter(cond).select(
            F.concat(F.lit(base + "/"), rel_fp).alias("file_path"),
            F.col("__p").alias("pos"),
        )
        del_entries = self._write_position_deletes(hits, base)
        return del_entries, sum(e["deleted-records"] for e in del_entries)

    def _write_position_deletes(
        self, pairs: DataFrame, base: str
    ) -> list[dict[str, Any]]:
        """Write the (``file_path``, ``pos``) rows of ``pairs`` as spec
        position-delete files and return their entries (none, and the
        directory removed, when ``pairs`` is empty).  Spec layout: the
        reserved field ids 2147483546/2147483545 stamped in the parquet
        footer, one file per target-file hash bucket, rows sorted by
        (file_path, pos) — the layout Iceberg readers merge most cheaply.
        Each entry records its targets as ``applies-to`` (relative to
        ``base``, the table location the paths were written under, kept
        as ``base-location``) and its row count, from ONE footer-cheap
        job over the written files."""
        self.spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        del_dir = self._new_delete_dir()
        pairs.select(
            F.col("file_path").alias(
                "file_path", metadata={"parquet.field.id": 2147483546}
            ),
            F.col("pos")
            .cast("long")
            .alias("pos", metadata={"parquet.field.id": 2147483545}),
        ).repartition(F.col("file_path")).sortWithinPartitions(
            "file_path", "pos"
        ).write.parquet(del_dir)
        per_file = (
            _read_files(self.spark, del_dir, _POS_DELETE_FIELDS)
            .groupBy(F.col("_metadata.file_path").alias("__part"))
            .agg(
                F.count(F.lit(1)).alias("__n"),
                F.collect_set("file_path").alias("__targets"),
            )
            .collect()
        )
        if not per_file:
            self.ops.io.delete_prefix(del_dir)
            return []
        strip = base + "/"
        return [
            {
                "delete-file": _spark_uri_path(r["__part"]),
                "applies-to": sorted(
                    t[len(strip):] if t.startswith(strip) else t
                    for t in r["__targets"]
                ),
                "deleted-records": r["__n"],
                "content": "position-deletes",
                "base-location": base,
                # spec at write time — keeps the Avro per-spec manifest
                # grouping correct even if the table's default spec
                # evolves after this delete
                "spec-id": self.default_spec_id,
            }
            for r in sorted(per_file, key=lambda r: r["__part"])
        ]

    def _dv_delete_build(
        self, cur_entries: list[dict[str, Any]], cond, cond_str: Optional[str] = None
    ) -> tuple[list[dict[str, Any]], list[dict[str, Any]], int, Optional[str]]:
        """Build Iceberg v3 deletion vectors for live rows matching
        ``cond``: ONE roaring bitmap of deleted positions per referenced
        data file, all vectors in one Puffin file, one manifest entry per
        vector recording the blob's offset/length (deletion_vectors.py
        implements the portable roaring + blob formats, JVM-cross-
        verified).  Returns ``(replaced_entries, delete_entries,
        deleted_count, puffin_path)`` WITHOUT committing — delete_where
        commits the vectors alone, MoR UPDATE commits them together with
        the new row versions; callers drop ``puffin_path`` and rebuild
        from fresh state if the optimistic commit loses a race.  A
        parseable ``cond_str`` pre-prunes the files read by manifest
        bounds; ``replaced_entries`` are the prior vectors the new ones
        supersede, for the commit to remove."""
        from iceberg_ruby_spark.deletion_vectors import (
            decode_dv_blob,
            encode_dv_blob,
        )
        from iceberg_ruby_spark.puffin import read_puffin, write_puffin

        self._refuse_positional_over_orc(cur_entries)
        read_entries = self._prune_by_condition(cur_entries, cond_str)
        if not self._entry_files(read_entries):
            return [], [], 0, None
        live = self._read_entries(read_entries, file_col="__f", pos_col="__p")
        loc_prefixes = sorted(
            {
                os.path.abspath(self.ops.location) + os.sep,
                self.ops.location.rstrip("/") + "/",
            },
            key=len,
            reverse=True,
        )
        pat = "^(" + "|".join(re.escape(p) for p in loc_prefixes) + ")"
        rel_fp = F.regexp_replace(F.col("__f"), pat, "")
        # EXECUTOR-SIDE bitmap build: positions never reach the
        # driver.  Matching (file, pos) pairs are grouped by data
        # file and a grouped pandas UDF builds each file's roaring
        # bitmap (the same JVM-verified codec) executor-side,
        # emitting ONE (file, blob-bytes, cardinality) row per data
        # file.  The driver collects only those file-count-sized
        # rows and frames the already-encoded blobs into the Puffin
        # file — a 1%-DELETE on a 100 TB table collects one row per
        # touched data file, not 10^9 positions.
        #
        # v3 invariant: AT MOST ONE deletion vector per data file —
        # a new vector REPLACES the previous one and must contain
        # all of its positions.  Prior vectors ride into the build
        # as COMPRESSED payload bytes on a broadcast file-keyed
        # join; the union with the new positions happens inside the
        # grouped build, also executor-side.
        loc = self.ops.location
        base = (loc if "://" in loc else os.path.abspath(loc)).rstrip("/")
        prior_rows = []
        prior_by_rf = {}
        for e in cur_entries:
            if e.get("content") == "deletion-vector":
                data = self.ops.io.read_bytes(self.ops._abs(e["delete-file"]))
                payload = data[
                    e["content-offset"] : e["content-offset"] + e["content-size"]
                ]
                rf = e["referenced-data-file"]
                prior_rows.append((rf, bytearray(payload)))
                prior_by_rf[rf] = e
        prior_schema = _T.StructType(
            [
                _T.StructField("__rf", _T.StringType()),
                _T.StructField("__prior", _T.BinaryType()),
            ]
        )
        prior_df = self.spark.createDataFrame(prior_rows, prior_schema)
        hits = live.filter(cond).select(
            rel_fp.alias("__rf"), F.col("__p").cast("long").alias("__pos")
        )
        built_schema = _T.StructType(
            [
                _T.StructField("__rf", _T.StringType()),
                _T.StructField("__blob", _T.BinaryType()),
                _T.StructField("__card", _T.LongType()),
                _T.StructField("__hits", _T.LongType()),
            ]
        )

        def _build_vector(pdf):
            import pandas as pd

            ps = set(int(p) for p in pdf["__pos"])
            n_hits = len(pdf)
            prior = pdf["__prior"].iloc[0]
            if prior is not None:
                ps.update(decode_dv_blob(bytes(prior)))
            return pd.DataFrame(
                {
                    "__rf": [pdf["__rf"].iloc[0]],
                    "__blob": [encode_dv_blob(ps)],
                    "__card": [len(ps)],
                    "__hits": [n_hits],
                }
            )

        built = sorted(
            hits.join(F.broadcast(prior_df), "__rf", "left")
            .groupBy("__rf")
            .applyInPandas(_build_vector, built_schema)
            .collect(),
            key=lambda r: r["__rf"],
        )
        deleted = sum(r["__hits"] for r in built)
        if not deleted:
            return [], [], 0, None
        replaced = [
            prior_by_rf[r["__rf"]] for r in built if r["__rf"] in prior_by_rf
        ]
        blobs = []
        for r in built:
            blobs.append(
                {
                    "type": "deletion-vector-v1",
                    # snapshot-id/sequence-number are unknown until
                    # the optimistic commit lands; the spec reserves
                    # -1 for exactly this (the manifest entry is
                    # authoritative)
                    "snapshot-id": -1,
                    "sequence-number": -1,
                    "payload": bytes(r["__blob"]),
                    "properties": {
                        "referenced-data-file": f"{base}/{r['__rf']}",
                        "cardinality": str(r["__card"]),
                    },
                }
            )
        puffin_bytes = write_puffin(blobs)
        dv_path = os.path.join(
            self.ops.data_dir, f"deletes-{uuid_mod.uuid4().hex[:12]}.puffin"
        )
        self.ops.io.write_bytes_atomic(dv_path, puffin_bytes)
        metas, _props = read_puffin(puffin_bytes)
        del_entries = []
        for r, m in zip(built, metas):
            del_entries.append(
                {
                    "delete-file": dv_path,
                    "content": "deletion-vector",
                    "referenced-data-file": r["__rf"],
                    "content-offset": m["offset"],
                    "content-size": m["length"],
                    # the vector's cardinality (spec record_count) —
                    # includes positions merged from the replaced DV
                    "deleted-records": r["__card"],
                    "applies-to": [r["__rf"]],
                    "base-location": base,
                    "spec-id": self.default_spec_id,
                }
            )
        return replaced, del_entries, deleted, dv_path

    def delete_where(
        self,
        condition: Union[str, Any],
        mode: Optional[str] = None,
        branch: Optional[str] = None,
    ) -> int:
        """DELETE, copy-on-write or merge-on-read.  ``mode=None`` (default)
        resolves the table's ``write.delete.mode`` property —
        ``copy-on-write`` unless set.  ``merge-on-read``, as the argument
        or the property, picks deletion vectors on v3 tables and
        positional delete files on v2 (the spec's engine contract).
        ``branch`` scopes the delete to a branch head (write-audit-publish:
        audit deletes are visible via ``scan(ref=branch)`` and move main
        only when ``fast_forward`` publishes them).  Returns the deleted
        row count.  A string condition the manifest bounds can evaluate
        prunes the files read, in every mode.

        - ``copy-on-write``: rewrite only the files that contain
          matching rows; carry all other files forward by reference.
        - ``merge-on-read-positional``: write spec-style positional delete
          FILES — parquet of (file_path, pos) — and commit a delete-file
          entry; reads anti-join the positions, ``plan_files`` lists the
          delete files per task (reference ``FileScanTask#delete_files``,
          ``ext/iceberg/src/scan.rs:92-99``).  O(matched rows) write,
          no data-file rewrite.
        - ``merge-on-read-dv``: Iceberg v3 deletion vectors — one roaring
          bitmap per referenced data file in one Puffin file per commit.
        """
        self._check_writable()
        mode = self._resolve_write_mode("write.delete.mode", mode)
        cond = F.expr(condition) if isinstance(condition, str) else condition
        cond_str = condition if isinstance(condition, str) else None
        target = branch or MAIN_BRANCH
        entries = self._current_entries(branch)
        if mode == "merge-on-read-positional":
            del_entries, deleted = self._positional_delete_build(
                entries, cond, cond_str
            )
            if not deleted:
                return 0
            self._commit_snapshot(
                "delete",
                del_entries,
                summary_extra={
                    "deleted-records": deleted,
                    "mode": "merge-on-read-positional",
                },
                base_snapshot_id=self._branch_head_id(branch),
                branch=target,
            )
            return deleted
        if mode == "merge-on-read-dv":
            # Operation-level optimistic retry: two DV writers racing on
            # the same data file cannot both commit (the rebase would leave
            # two vectors on one file, violating the v3 one-DV-per-file
            # invariant) — _commit_snapshot detects the collision and the
            # loser recomputes everything from fresh state, re-merging the
            # winner's vector.
            for attempt in range(self._commit_retries() + 1):
                cur_entries = (
                    entries if attempt == 0 else self._current_entries(branch)
                )
                replaced, del_entries, deleted, dv_path = self._dv_delete_build(
                    cur_entries, cond, cond_str
                )
                if not deleted:
                    return 0
                try:
                    self._commit_snapshot(
                        "delete",
                        del_entries,
                        replaced,
                        {"deleted-records": deleted, "mode": "merge-on-read-dv"},
                        base_snapshot_id=self._branch_head_id(branch),
                        branch=target,
                    )
                    return deleted
                except InvalidDataError as exc:
                    if "deletion vector" not in str(exc):
                        raise
                    # lost the race to another DV writer: drop this
                    # attempt's puffin and rebuild against fresh state
                    self.ops.io.delete(dv_path)
                    self.refresh()
                    _commit_backoff(attempt)
            raise InvalidDataError(
                "deletion-vector commit conflict: too many retries"
            )
        if mode != "copy-on-write":
            raise InvalidDataError(f"unknown delete mode: {mode}")
        data, dels = self._split_entries(entries)
        # match against the FULL entry list so prior MoR deletes apply:
        # the returned count stays an honest delta (rows already dead via
        # a DV/positional/equality entry are not re-counted) and files
        # whose matches are all dead are not needlessly rewritten
        hits = self._matching_files(entries, cond, cond_str=cond_str)
        deleted = sum(hits.values())
        if not hits:
            return 0
        hit_entries = [e for e in data if e.get("path") in hits]
        keep_entries = [e for e in data if e.get("path") not in hits]
        # outstanding MoR deletes apply while reading hit files so their
        # deleted rows are not resurrected into the rewrite; survivors keep
        # their row lineage (id AND sequence — a delete doesn't update them)
        # via materialized reserved columns in the rewritten files
        survivors = self._read_entries_with_lineage(hit_entries + dels).filter(
            ~cond | cond.isNull()
        )
        new_entries = self._write_data_dir(survivors, lineage_cols=True)
        for e in new_entries:
            e["materialized-lineage"] = True
        retired, narrowed = self._retired_deletes(dels, keep_entries)
        self._commit_snapshot(
            "delete",
            new_entries + narrowed,
            hit_entries + retired,
            {"deleted-records": deleted},
            base_snapshot_id=self._branch_head_id(branch),
            branch=target,
        )
        return deleted

    def apply_changelog(
        self,
        changes: DataFrame,
        on: Union[str, list[str], None] = None,
        mode: Optional[str] = None,
        branch: Optional[str] = None,
    ) -> "Table":
        """Consume a CDC feed: apply a changelog frame (the
        :meth:`changelog_scan` contract — table columns plus
        ``_change_type`` 'insert'|'delete', ``_change_ordinal``) to THIS
        table keyed by ``on``.  The replication loop's other half:
        ``replica.apply_changelog(source.changelog_scan(from), keys)``
        keeps a replica in sync commit-window by commit-window.

        Net-effect semantics: per key, the LAST change in ordinal order
        wins (an update's delete+insert at the same ordinal resolves to
        the insert).  Keys whose final op is delete are removed via one
        equality-delete commit (:meth:`delete_by_keys` — O(|keys|), no
        rewrite); final inserts upsert via one :meth:`merge_into`
        (``write.merge.mode``-routed; ``mode`` overrides).  Two commits
        worst case, each idempotent under replay — re-applying the same
        window converges to the same state, the CDC-consumer contract.

        100 TB shape: the final-op reduction is one window over the
        CDC-batch-sized change frame (never the table); both applies are
        the O(changed rows) key-based paths.

        ``on=None`` defaults to the schema's identifier fields."""
        if on is None:
            on = self.identifier_field_names()
            if not on:
                raise InvalidDataError(
                    "apply_changelog needs keys: pass on=... or declare "
                    "identifier fields via "
                    "update_schema().set_identifier_fields(...)"
                )
        keys = [on] if isinstance(on, str) else list(on)
        data_cols = [
            c
            for c in changes.columns
            if c not in ("_change_type", "_commit_snapshot_id", "_change_ordinal")
        ]
        for k in keys:
            if k not in data_cols:
                raise InvalidDataError(f"changelog frame lacks key column {k!r}")
        from pyspark.sql import Observation
        from pyspark.sql import Window as _W

        w = _W.partitionBy(*keys).orderBy(
            F.col("_change_ordinal").desc(),
            F.when(F.col("_change_type") == "insert", 1).otherwise(0).desc(),
        )
        # the delete/insert counts ride the SAME job as the checkpoint via
        # observe() (CollectMetrics is free at execution time) — the two
        # isEmpty() probes each re-launched a job per micro-batch (r13)
        obs = Observation()
        final = (
            changes.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .drop("__rk")
            .observe(
                obs,
                F.count(
                    F.when(F.col("_change_type") == "delete", 1)
                ).alias("n_del"),
                F.count(
                    F.when(F.col("_change_type") == "insert", 1)
                ).alias("n_ups"),
            )
            .localCheckpoint()  # both branches reuse it; don't recompute
        )
        n_del = obs.get["n_del"] or 0
        n_ups = obs.get["n_ups"] or 0
        dels = final.filter(F.col("_change_type") == "delete").select(*keys)
        ups = final.filter(F.col("_change_type") == "insert").select(*data_cols)
        # initial-load fast path: a target with zero live data files has
        # nothing the deletes could hit, and every insert is not-matched —
        # the first batch of any replication (the backfill) is ONE append
        # instead of a delete commit + merge planning (r13)
        head = (
            self.snapshot_for_ref(branch)
            if branch and branch != MAIN_BRANCH
            else self.current_snapshot()
        )
        empty_target = head is None or head.summary.get("total-data-files") == "0"
        if n_del and not empty_target:
            self.delete_by_keys(dels, keys, branch=branch)
        if n_ups:
            if empty_target:
                # `final` holds at most one row per key (row_number == 1),
                # so append ≡ merge's all-not-matched insert here
                self.append(ups, branch=branch)
            else:
                # full-row upsert: every non-key column takes the CDC
                # row's value
                self.merge_into(
                    ups,
                    keys,
                    when_matched_update={
                        c: f"s.{c}" for c in data_cols if c not in keys
                    },
                    mode=mode,
                    branch=branch,
                )
        return self

    def apply_changelog_scd2(
        self,
        changes: DataFrame,
        on: Union[str, list[str], None] = None,
        mode: Optional[str] = None,
        branch: Optional[str] = None,
        source: Optional["Table"] = None,
        snapshot_ts: Optional[dict] = None,
    ) -> "Table":
        """Consume a CDC feed into THIS table as a type-2 slowly-changing
        dimension: instead of net-effect replication
        (:meth:`apply_changelog`), every version of every key is KEPT as
        its own row bracketed by ``valid_from`` / ``valid_to`` (the
        snapshot ids of the opening and closing source commits;
        ``valid_to IS NULL`` = the current version).  The table's schema
        must be the changelog's data columns plus ``valid_from long`` and
        ``valid_to long``.

        Per key, the window's events fold in ``(_change_ordinal, deletes
        before inserts)`` order: an insert OPENS a version, and any later
        event — the delete half of an update, a plain delete, or a
        superseding insert — CLOSES the version open before it.  A
        version still open at the window's end, plus the version open in
        HISTORY when the window's first event arrives, close the same
        way.  Everything lands in ONE :meth:`merge_into` keyed by
        ``(keys…, valid_from)``: new versions insert, closed versions
        (including the prior open row, re-emitted with its ``valid_to``
        stamped) update.  Replay-idempotent: version identity is the
        opening commit's snapshot id, so re-applying the window upserts
        byte-identical rows, and the prior-open join matches nothing the
        second time (guarded against half-applied replays by excluding
        open rows whose ``valid_from`` is one of the window's own
        commits).

        100 TB shape: one shuffle of the CDC-window-sized change frame
        (two window functions over the same per-key partitioning), one
        broadcast-sized join of the changed keys against the history's
        open rows, one merge (O(changed rows) under merge-on-read).

        **Timestamp brackets (r11)**: when the history schema ALSO
        carries ``valid_from_ts`` / ``valid_to_ts`` (long, epoch ms),
        they stamp from the window commits' snapshot timestamps — pass
        ``source=`` (the table the changelog was scanned from; its
        snapshot log supplies the mapping) or an explicit
        ``snapshot_ts={snapshot_id: timestamp_ms}``.  Version IDENTITY
        stays the snapshot id (timestamps can collide across fast
        commits; ids cannot), so replay idempotence is unchanged — the
        ts columns are a deterministic function of the id and re-stamp
        byte-identically.  A window commit missing from the mapping
        (e.g. expired from the source's snapshot log) raises rather
        than writing a NULL that would masquerade as an open version.

        ``on=None`` defaults to the schema's identifier fields."""
        if on is None:
            on = self.identifier_field_names()
            if not on:
                raise InvalidDataError(
                    "apply_changelog_scd2 needs keys: pass on=... or "
                    "declare identifier fields via "
                    "update_schema().set_identifier_fields(...)"
                )
        keys = [on] if isinstance(on, str) else list(on)
        data_cols = [
            c
            for c in changes.columns
            if c not in ("_change_type", "_commit_snapshot_id", "_change_ordinal")
        ]
        for k in keys:
            if k not in data_cols:
                raise InvalidDataError(f"changelog frame lacks key column {k!r}")
        have = {f.name for f in self.current_schema().fields}
        missing = [c for c in [*data_cols, "valid_from", "valid_to"] if c not in have]
        if missing:
            raise InvalidDataError(
                "SCD2 table schema must carry the changelog's data columns "
                f"plus valid_from/valid_to (long); missing: {missing}"
            )
        from pyspark.sql import Window as _W

        order = [
            F.col("_change_ordinal").asc(),
            F.when(F.col("_change_type") == "insert", 1).otherwise(0).asc(),
        ]
        seq = _W.partitionBy(*keys).orderBy(*order)
        ev = (
            changes.withColumn("__next_snap", F.lead("_commit_snapshot_id").over(seq))
            .withColumn("__rk", F.row_number().over(seq))
            .localCheckpoint()  # three branches below reuse it
        )
        # distinct over the CHECKPOINTED frame: the raw `changes` plan is
        # the whole changelog scan, and re-collecting from it would run
        # that scan a second time just to list commit ids (r10 review)
        window_snaps = [
            r[0] for r in ev.select("_commit_snapshot_id").distinct().collect()
        ]
        # optional timestamp brackets: stamped iff the history schema
        # declares them; driver-sized literal map (the window's commit
        # count), never a join
        stamp_ts = "valid_from_ts" in have and "valid_to_ts" in have
        tsmap = None
        if stamp_ts and window_snaps:
            if snapshot_ts is None:
                if source is None:
                    raise InvalidDataError(
                        "history schema carries valid_from_ts/valid_to_ts "
                        "but no snapshot-timestamp mapping is available: "
                        "pass source=<the changelog's source table> or "
                        "snapshot_ts={snapshot_id: timestamp_ms}"
                    )
                snapshot_ts = {
                    s.snapshot_id: s.timestamp_ms
                    for s in source.refresh().ops.load().snapshots
                }
            unmapped = [s for s in window_snaps if s not in snapshot_ts]
            if unmapped:
                raise InvalidDataError(
                    f"no snapshot timestamp for window commit(s) {unmapped} "
                    "(expired from the source's snapshot log?) — refusing "
                    "to write NULL brackets that would read as open versions"
                )
            tsmap = F.create_map(
                *[
                    F.lit(x).cast("long")
                    for sid in window_snaps
                    for x in (sid, int(snapshot_ts[sid]))
                ]
            )
        ts_cols = (
            lambda frm, to: [
                tsmap[frm].alias("valid_from_ts"),
                tsmap[to].alias("valid_to_ts"),
            ]
        ) if tsmap is not None else (lambda frm, to: [])
        # versions this window opens: valid_to = the NEXT event's commit
        # (NULL = still open at window end)
        new_versions = ev.filter(F.col("_change_type") == "insert").select(
            *data_cols,
            F.col("_commit_snapshot_id").alias("valid_from"),
            F.col("__next_snap").alias("valid_to"),
            *ts_cols(F.col("_commit_snapshot_id"), F.col("__next_snap")),
        )
        # the version open in history closes at the key's FIRST event
        first_ev = ev.filter(F.col("__rk") == 1).select(
            *keys, F.col("_commit_snapshot_id").alias("__close_snap")
        )
        open_hist = self.to_df().filter(F.col("valid_to").isNull())
        if window_snaps:
            # a half-applied replay may have left THIS window's versions
            # open in history — they re-close via new_versions, not here
            open_hist = open_hist.filter(~F.col("valid_from").isin(window_snaps))
        # no forced broadcast: first_ev is changed-keys-sized for steady
        # CDC but window-sized for an initial backfill — Spark's own
        # threshold picks broadcast vs shuffle (forcing the hint would
        # override that guard, the delete_by_keys lesson)
        closed_prior = (
            open_hist.join(first_ev, on=keys, how="inner")
            .drop("valid_to")
            .withColumn("valid_to", F.col("__close_snap"))
        )
        bracket_cols = ["valid_from", "valid_to"]
        if tsmap is not None:
            # the prior open row KEEPS its own valid_from_ts (stamped when
            # it opened); only its closing edge stamps here
            closed_prior = closed_prior.drop("valid_to_ts").withColumn(
                "valid_to_ts", tsmap[F.col("__close_snap")]
            )
            bracket_cols += ["valid_from_ts", "valid_to_ts"]
        closed_prior = closed_prior.select(*data_cols, *bracket_cols)
        upserts = new_versions.unionByName(closed_prior)
        if not upserts.isEmpty():
            self.merge_into(
                upserts,
                [*keys, "valid_from"],
                when_matched_update={
                    c: f"s.{c}"
                    for c in [*data_cols, *bracket_cols]
                    if c not in (*keys, "valid_from")
                },
                mode=mode,
                branch=branch,
            )
        return self

    def delete_by_keys(
        self,
        keys: Any,
        on: Union[str, list[str]],
        branch: Optional[str] = None,
        scope: Optional[str] = None,
        scope_is_hint: bool = False,
        verify_hits: bool = True,
    ) -> int:
        """Merge-on-read DELETE by key set — an EQUALITY delete file
        (reference ``FileScanTask#delete_files`` exposes ``equality_ids``,
        ``ext/iceberg/src/scan.rs:92-99``): the distinct key tuples are
        written as parquet and committed as a delete-file entry with the
        key columns' field ids; any row matching a key tuple on ``on`` (null
        key values match null, Iceberg's IS NOT DISTINCT FROM semantics) is
        dead on read.  Like every equality delete, it applies by the
        Iceberg spec's sequence rule: to data files whose data sequence
        number is strictly lower than its own, so rows appended LATER are
        untouched; each key file's key range rides along as a
        ``key-bounds`` pruning hint.  O(|keys|) write, no data-file
        rewrite — the streaming-upsert shape (a CDC feed deletes by
        primary key without knowing file positions).  Returns the number
        of live rows the delete kills, found by one hit-counting scan;
        nothing is committed when it finds none.

        ``scope`` (optional predicate string, same grammar as
        ``compact(where=...)``) is the caller's promise that every row
        matching the keys lives in files whose stats bounds can satisfy
        it — the hit-counting scan then reads ONLY those files (manifest
        bounds pruning, conservative).  At 100 TB a CDC feed deleting
        keys from the last day's partitions scans the last day, not the
        table.  The scope does not narrow the delete itself: a FALSE
        scope still kills every matching row, but the returned count
        leaves out the rows outside it (and a call that finds no hit
        inside the scope commits nothing).

        So the call POST-CHECKS the promise at stats level (r9 ADVICE):
        if any scope-excluded file's bounds on the key columns overlap
        the key set's value range, the promise is unverifiable and the
        call raises rather than maybe-undercount.  ``scope_is_hint=True``
        opts back into unchecked hint semantics (the caller knows the
        overlap is physically vacuous — e.g. keys unique per partition).
        The check is metadata-only: the key files' footer ranges (their
        ``key-bounds``) against the excluded files' manifest bounds.

        ``verify_hits=False`` (r13) is the BLIND CDC delete: skip the
        hit-counting scan entirely and commit the same equality delete
        as a fast-append delta, its key files range-partitioned so each
        carries a tight ``key-bounds`` hint.  Zero table reads, O(|keys|)
        total — the shape a CDC feed deleting primary keys against a
        100 TB table needs when it does not care how many rows died.
        Returns the DISTINCT KEY count (an upper bound on dead rows),
        not the matched-row count, and commits even when nothing
        matches; incompatible with ``scope`` (nothing is scanned)."""
        self._check_writable()
        cols = [on] if isinstance(on, str) else list(on)
        schema = self.current_schema()
        for c in cols:
            if schema.field_by_name(c) is None:
                raise InvalidDataError(f"unknown equality column: {c}")
        keys_df = self._stamped_keys(
            keys
            if isinstance(keys, DataFrame)
            else self.spark.createDataFrame(
                keys,
                ice_t.Schema(
                    fields=[schema.field_by_name(c) for c in cols]
                ).to_spark(),
            ),
            cols,
        )
        if not verify_hits:
            # BLIND CDC delete: no scan, one fast-append equality delete —
            # O(|keys|) total work at any table size
            if scope is not None:
                raise InvalidDataError(
                    "delete_by_keys(verify_hits=False) performs no scan, "
                    "so a scope promise can be neither used nor checked — "
                    "drop one of the two"
                )
            head = None
            if branch and branch != MAIN_BRANCH:
                head = self.snapshot_for_ref(branch)
            if head is None:
                head = self.current_snapshot()
            if head is None or head.summary.get("total-data-files") == "0":
                return 0  # nothing the delete could apply to
            del_dir = self._new_delete_dir()
            # range-partition the key files so each carries TIGHT disjoint
            # key-bounds — after .distinct() the keys are hash-partitioned
            # and every output file would span ~the global key range,
            # defeating the per-file bounds pruning this path exists for
            keys_df.repartitionByRange(*cols).sortWithinPartitions(
                *cols
            ).write.parquet(del_dir)
            delete_entries = self._key_delete_entries(del_dir, cols)
            n_keys = sum(e["deleted-records"] for e in delete_entries)
            self._commit_snapshot(
                "delete",
                delete_entries,
                summary_extra={
                    "deleted-records": n_keys,
                    "mode": "merge-on-read-equality",
                    "blind-delete": "true",
                },
                branch=branch or MAIN_BRANCH,
            )
            return n_keys
        tree = None
        if scope is not None:
            tree = self._bound_predicate(scope)
            if tree is None:
                raise InvalidDataError(
                    "delete_by_keys(scope=...) needs a parseable predicate "
                    "(col op literal joined by AND/OR); got: " + repr(scope)
                )
        entries = self._current_entries(branch)
        # Write the key file FIRST, then hit-count against its read-back
        # (r14): the keys frame is often a filtered scan/join in its own
        # right, and the old order evaluated it TWICE — once broadcast for
        # the hit count, once for the write — plus a forced Catalyst
        # optimization pass just for the broadcast size estimate.  The
        # written parquet is the same distinct key set, its re-scan is
        # O(|keys|), and its on-disk size decides broadcast-vs-shuffle
        # from real bytes (quartered as a compression allowance) instead
        # of an estimate; a no-hit call removes the file and commits
        # nothing, exactly like before (r6 review item: a 10^8-key
        # backfill must fall back to a shuffle semi-join, not OOM the
        # driver).
        del_dir = self._new_delete_dir()
        keys_df.sortWithinPartitions(*cols).write.parquet(del_dir)
        try:
            delete_entries = self._key_delete_entries(del_dir, cols)
            # count the live rows that will die (delta semantics, like the
            # other MoR modes); with a scope promise, bounds-prune the
            # files the counting scan opens (MoR delete entries ride along
            # so already-dead rows don't count as hits)
            scan_entries = entries
            if tree is not None:
                data, mor = self._split_entries(entries)
                kept = self._prune_by_stats(data, tree)
                if not scope_is_hint:
                    # stats-level post-check of the promise: an excluded
                    # file the delete's own key-bounds reach could hold a
                    # matching row the count would leave out
                    kept_ids = {id(e) for e in kept}
                    excluded = [e for e in data if id(e) not in kept_ids]
                    suspect = sorted(
                        {
                            d["path"]
                            for e in delete_entries
                            for d in _seq_scope_touched(
                                e, excluded, self.current_schema()
                            )
                        }
                    )
                    if suspect:
                        raise InvalidDataError(
                            "delete_by_keys(scope=...) promise is "
                            f"unverifiable: {len(suspect)} scope-excluded "
                            "file(s) have key-column bounds overlapping the "
                            f"key set (e.g. {suspect[0]!r}) — matching rows "
                            "there would be left out of the returned count.  "
                            "Widen the scope, or pass scope_is_hint=True if "
                            "the overlap is known to be vacuous"
                        )
                scan_entries = kept + mor
            live = self._read_entries(scan_entries)
            written = _read_files(self.spark, del_dir, keys_df.schema.fields)
            # size/cleanup through the table's FileIO (r14 review): the key
            # files live under the TABLE location, which need not be local
            size_bytes = sum(
                self.ops.io.size(p) or 0
                for p in self.ops.io.list(del_dir)
                if p.endswith(".parquet")
            )
            match_cond = [live[c].eqNullSafe(written[c]) for c in cols]
            keys_side = (
                F.broadcast(written)
                if size_bytes <= _BROADCAST_KEYS_MAX_BYTES // 4
                else written
            )
            deleted = live.join(keys_side, match_cond, "left_semi").count()
        except Exception:
            # the key files are written BEFORE verification (one keys
            # evaluation instead of two); a failed scope check, read-back,
            # listing or hit-count must not leak the uncommitted delete dir
            try:
                self.ops.io.delete_prefix(del_dir)
            except OSError:
                pass
            raise
        if not deleted:
            self.ops.io.delete_prefix(del_dir)
            return 0
        self._commit_snapshot(
            "delete",
            delete_entries,
            summary_extra={
                "deleted-records": deleted,
                "mode": "merge-on-read-equality",
            },
            base_snapshot_id=self._branch_head_id(branch),
            branch=branch or MAIN_BRANCH,
        )
        return deleted

    def _stamped_keys(self, rows: DataFrame, cols: list[str]) -> DataFrame:
        """The distinct ``cols`` tuples of ``rows`` in the table's types —
        spec equality delete files carry the key columns with their
        Iceberg field ids stamped in the parquet footer."""
        schema = self.current_schema()
        self.spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        return rows.select(
            *[
                F.col(c)
                .cast(schema.field_by_name(c).to_spark().dataType)
                .alias(c, metadata={"parquet.field.id": schema.field_by_name(c).field_id})
                for c in cols
            ]
        ).distinct()

    def _new_delete_dir(self) -> str:
        return os.path.join(self.ops.data_dir, f"deletes-{uuid_mod.uuid4().hex[:12]}")

    def _key_fields(self, cols: list[str], ids: list[int]) -> list:
        """Read fields of an equality-delete key file: ``cols`` as written,
        typed by their field ids (``ids``, the ``equality-ids``) from the
        table's schemas, the current type first — the same rule as data
        files, so a key file written before a widen reads widened."""
        by_id = {f.field_id: f for s in self.schemas for f in s.fields}
        by_id.update({f.field_id: f for f in self.current_schema().fields})
        return [
            _T.StructField(c, by_id[i].to_spark().dataType)
            for c, i in zip(cols, ids)
        ]

    def _key_delete_entries(
        self, del_dir: str, cols: list[str]
    ) -> list[dict[str, Any]]:
        """Per-FILE spec entries for a freshly written equality-delete
        directory: one ``content=2`` entry per non-empty parquet part file
        (a manifest entry names a file, not a directory), with
        ``deleted-records`` = key rows in THAT file — what the spec's
        delete-file ``record_count`` means for equality deletes — and the
        file's key range as its ``key-bounds`` hint.  The stats come the
        way a data file's do (:meth:`_collect_file_stats`), exact."""
        schema = self.current_schema()
        fields = [schema.field_by_name(c) for c in cols]
        read = self._key_fields(cols, [f.field_id for f in fields])
        return [
            _equality_delete_entry(
                e["path"], e["record-count"], fields, self.default_spec_id, e
            )
            for e in self._collect_file_stats(
                del_dir, read, "parquet", {c: "full" for c in cols}
            )
        ]

    def _write_equality_deletes(
        self, rows: DataFrame, keys: list[str]
    ) -> list[dict[str, Any]]:
        """Write the distinct ``keys`` tuples of ``rows`` as a fresh
        equality-delete directory; its spec entries (none, and the
        directory removed, when ``rows`` is empty)."""
        del_dir = self._new_delete_dir()
        self._stamped_keys(rows, keys).sortWithinPartitions(*keys).write.parquet(
            del_dir
        )
        entries = self._key_delete_entries(del_dir, keys)
        if not entries:
            self.ops.io.delete_prefix(del_dir)
        return entries

    def _update_where_mor(
        self, assignments: dict[str, Any], cond, mode: str,
        branch: Optional[str] = None, cond_str: Optional[str] = None,
    ) -> int:
        """Merge-on-read UPDATE: ONE commit that (a) marks the current
        versions of matching rows dead — deletion vectors on v3, positional
        delete files on v2 — and (b) appends their updated versions as new
        data files.  Write cost is O(matched rows) regardless of table
        size (no data-file rewrite), the shape iceberg-spark produces for
        ``write.update.mode=merge-on-read``.  Row lineage follows the
        spec's update rules: carried ``_row_id``, NULL'd sequence cell
        (rows inherit the commit's sequence on read)."""
        target = branch or MAIN_BRANCH
        for attempt in range(self._commit_retries() + 1):
            cur_entries = self._current_entries(branch)
            if mode == "merge-on-read-dv":
                replaced, del_entries, deleted, dv_path = self._dv_delete_build(
                    cur_entries, cond, cond_str
                )
            else:
                del_entries, deleted = self._positional_delete_build(
                    cur_entries, cond, cond_str
                )
                replaced, dv_path = [], None
            if not deleted:
                return 0
            out = self._read_entries_with_lineage(cur_entries).filter(cond)
            for col, val in assignments.items():
                expr = F.expr(val) if isinstance(val, str) else F.lit(val)
                out = out.withColumn(col, expr)
            out = out.withColumn(
                "_last_updated_sequence_number", F.lit(None).cast("long")
            )
            new_entries = self._write_data_dir(
                out.select(
                    *[f.name for f in self.current_schema().fields],
                    "_row_id",
                    "_last_updated_sequence_number",
                ),
                lineage_cols=True,
            )
            for e in new_entries:
                e["materialized-lineage"] = True
            try:
                self._commit_snapshot(
                    "overwrite",
                    del_entries + new_entries,
                    replaced,
                    {"updated-records": deleted, "mode": mode},
                    base_snapshot_id=self._branch_head_id(branch),
                    branch=target,
                )
                return deleted
            except InvalidDataError as exc:
                if mode != "merge-on-read-dv" or "deletion vector" not in str(exc):
                    raise
                # lost a DV race: drop this attempt's puffin, rebuild fresh
                self.ops.io.delete(dv_path)
                self.refresh()
                _commit_backoff(attempt)
        raise InvalidDataError("deletion-vector commit conflict: too many retries")

    def update_where(
        self,
        assignments: dict[str, Any],
        condition: Union[str, Any],
        mode: Optional[str] = None,
        branch: Optional[str] = None,
    ) -> int:
        """UPDATE.  ``mode=None`` (default) resolves the table's
        ``write.update.mode`` property — ``copy-on-write`` unless set;
        ``merge-on-read``, as the argument or the property, resolves to
        deletion vectors on v3 tables and positional delete files on v2
        (see ``_update_where_mor``).
        Copy-on-write is file-pruned: rewrite only files containing
        matching rows."""
        self._check_writable()
        mode = self._resolve_write_mode("write.update.mode", mode)
        cond = F.expr(condition) if isinstance(condition, str) else condition
        cond_str = condition if isinstance(condition, str) else None
        if mode in ("merge-on-read-positional", "merge-on-read-dv"):
            return self._update_where_mor(
                assignments, cond, mode, branch=branch, cond_str=cond_str
            )
        if mode != "copy-on-write":
            raise InvalidDataError(f"unknown update mode: {mode}")
        entries = self._current_entries(branch)
        data, dels = self._split_entries(entries)
        # full entry list: prior MoR deletes apply, so the count is an
        # honest delta and all-dead files skip the rewrite (see delete_where)
        hits = self._matching_files(entries, cond, cond_str=cond_str)
        updated = sum(hits.values())
        if not hits:
            return 0
        hit_entries = [e for e in data if e.get("path") in hits]
        keep_entries = [e for e in data if e.get("path") not in hits]
        # v3 row lineage through the rewrite: every row keeps its _row_id;
        # rows the UPDATE touches get a NULL materialized sequence cell,
        # which the read path inherits as the rewrite commit's sequence —
        # exactly the spec's "updated rows bump _last_updated_sequence_
        # number, untouched rows keep theirs" semantics
        out = self._read_entries_with_lineage(hit_entries + dels)
        for col, val in assignments.items():
            expr = F.expr(val) if isinstance(val, str) else F.lit(val)
            out = out.withColumn(col, F.when(cond, expr).otherwise(F.col(col)))
        out = out.withColumn(
            "_last_updated_sequence_number",
            F.when(cond, F.lit(None).cast("long")).otherwise(
                F.col("_last_updated_sequence_number")
            ),
        )
        new_entries = self._write_data_dir(
            out.select(
                *[f.name for f in self.current_schema().fields],
                "_row_id",
                "_last_updated_sequence_number",
            ),
            lineage_cols=True,
        )
        for e in new_entries:
            e["materialized-lineage"] = True
        retired, narrowed = self._retired_deletes(dels, keep_entries)
        self._commit_snapshot(
            "overwrite",
            new_entries + narrowed,
            hit_entries + retired,
            {"updated-records": updated},
            base_snapshot_id=self._branch_head_id(branch),
            branch=branch or MAIN_BRANCH,
        )
        return updated

    def identifier_field_names(self) -> list[str]:
        """Names of the schema's row-identifier (logical primary key)
        fields — Iceberg's ``identifier-field-ids`` resolved by id, so
        renames don't break them.  Empty when none are declared."""
        schema = self.current_schema()
        by_id = {f.field_id: f.name for f in schema.fields}
        return [by_id[i] for i in schema.identifier_field_ids if i in by_id]

    def upsert(
        self,
        data: Any,
        on: Union[str, list[str], None] = None,
        mode: Optional[str] = None,
        branch: Optional[str] = None,
    ) -> "Table":
        """PyIceberg-style upsert: update rows whose key matches, insert
        the rest — one MERGE commit.  ``on`` defaults to the schema's
        identifier fields (:meth:`UpdateSchema.set_identifier_fields`);
        with ``write.merge.mode=merge-on-read`` the write cost is
        O(changed rows) regardless of table size — the streaming-upsert
        shape at 100 TB.  Accepts the same inputs as :meth:`append`
        (dict rows or a DataFrame)."""
        keys = [on] if isinstance(on, str) else (list(on) if on else None)
        if not keys:
            keys = self.identifier_field_names()
            if not keys:
                raise InvalidDataError(
                    "upsert needs keys: pass on=... or declare identifier "
                    "fields via update_schema().set_identifier_fields(...)"
                )
        source = self._normalize_input(data)
        cols = [f.name for f in self.current_schema().fields]
        updates = {c: f"s.{c}" for c in cols if c not in keys}
        return self.merge_into(
            source,
            on=keys,
            when_matched_update=updates or None,
            when_not_matched_insert=True,
            mode=mode,
            branch=branch,
        )

    def merge_into(
        self,
        source: DataFrame,
        on: Union[str, list[str]],
        when_matched_update: Optional[dict[str, str]] = None,
        when_not_matched_insert: bool = True,
        when_matched_delete: Union[bool, str, None] = None,
        when_not_matched_by_source_delete: Union[bool, str, None] = None,
        when_not_matched_by_source_update: Optional[dict[str, str]] = None,
        when_not_matched_by_source_condition: Optional[str] = None,
        mode: Optional[str] = None,
        summary_extra: Optional[dict] = None,
        branch: Optional[str] = None,
    ) -> "Table":
        """MERGE INTO emulation, one commit either way.  ``summary_extra``
        rides the snapshot summary (streaming sinks stamp their batch id
        there for exactly-once replay detection).  ``mode=None`` (default)
        resolves the table's ``write.merge.mode`` property.

        - ``copy-on-write`` (the property default): rewrite only files
          containing matched keys; carry the rest by reference.
        - ``merge-on-read``: the CDC-upsert shape — matched keys become an
          EQUALITY delete file and the new row versions (+ inserts) are
          appended; NO data file is rewritten.  Write cost is O(changed
          rows) regardless of table size, which is what a streaming
          upsert feed needs at 100 TB (Flink writes Iceberg upserts
          exactly this way).

        ``when_not_matched_by_source_update`` is the remaining ANSI
        by-source clause (``WHEN NOT MATCHED BY SOURCE [AND cond] THEN
        UPDATE SET …``, iceberg-spark supports it): target rows whose key
        the source does NOT carry get the assignments applied
        (expressions see ``t.*`` only); the optional
        ``when_not_matched_by_source_condition`` is the clause's AND
        filter.  When BOTH by-source clauses are given, DELETE is
        evaluated first (first-matching-clause-wins, delete listed
        first): a row satisfying both conditions is deleted, the update
        applies to the rest.

        Matching uses an explicit marker column (not key-null sniffing) and
        duplicate source keys are rejected up front, matching ANSI MERGE
        cardinality semantics (round-1 review items)."""
        self._check_writable()
        if (
            when_not_matched_by_source_condition is not None
            and not when_not_matched_by_source_update
        ):
            raise InvalidDataError(
                "when_not_matched_by_source_condition requires "
                "when_not_matched_by_source_update (the DELETE clause "
                "carries its condition as its value)"
            )
        mode = self._resolve_write_mode("write.merge.mode", mode)
        keys = [on] if isinstance(on, str) else list(on)
        cols = [f.name for f in self.current_schema().fields]
        dup = (
            source.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise InvalidDataError(
                "merge source has duplicate rows for the ON keys; MERGE requires "
                "at most one source row per target row"
            )
        if mode == "merge-on-read":
            return self._merge_into_mor(
                source, keys, cols, when_matched_update, when_not_matched_insert,
                summary_extra, branch=branch,
                when_matched_delete=when_matched_delete,
                when_not_matched_by_source_delete=when_not_matched_by_source_delete,
                when_not_matched_by_source_update=when_not_matched_by_source_update,
                when_not_matched_by_source_condition=when_not_matched_by_source_condition,
            )
        if mode != "copy-on-write":
            raise InvalidDataError(f"unknown merge mode: {mode}")
        entries = self._current_entries(branch)
        data, dels = self._split_entries(entries)
        # files containing rows whose keys appear in the source (semi-join
        # against distinct source keys; AQE broadcasts when small);
        # schema-evolution-aware read with the file path carried alongside
        if self._entry_files(data):
            # full entry list: rows dead via prior MoR deletes neither
            # count as matches nor force their file into the rewrite
            t_meta = self._read_entries(entries, file_col="__file")
            hit_rows = (
                t_meta.join(source.select(*keys).distinct(), keys, "left_semi")
                .groupBy("__file")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            hits = {r["__file"]: r["n"] for r in hit_rows}
        else:
            hits = {}
        if (
            when_not_matched_by_source_delete is not None
            or when_not_matched_by_source_update
        ):
            # a by-source clause can touch rows in ANY file (every target
            # row whose key is absent from the source) — every file rewrites
            hit_entries, keep_entries = list(data), []
        else:
            hit_entries = [e for e in data if e.get("path") in hits]
            keep_entries = [e for e in data if e.get("path") not in hits]
        # lineage through the rewrite: existing rows keep _row_id; rows the
        # UPDATE clause touches write a NULL sequence cell (inherit the
        # commit's sequence); inserted rows write NULL id AND seq cells,
        # inheriting first-row-id + position / commit sequence — all three
        # cases are exactly spec v3's materialization rules
        target = self._read_entries_with_lineage(hit_entries + dels)
        marked = source.withColumn("__s_matched", F.lit(True))
        matched = target.alias("t").join(marked.alias("s"), keys, "left")
        is_matched = F.col("__s_matched").isNotNull()
        if when_matched_delete is not None:
            # WHEN MATCHED [AND cond] THEN DELETE — evaluated before the
            # update clause (delete takes precedence for rows both hit)
            dcond = (
                F.lit(True)
                if when_matched_delete is True
                else F.expr(str(when_matched_delete))
            )
            matched = matched.filter(
                ~(is_matched & F.coalesce(dcond, F.lit(False)))
            )
        if when_not_matched_by_source_delete is not None:
            # WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE — prunes
            # target rows whose key the source no longer carries (the
            # full-sync mirror clause); cond sees t.* only
            ncond = (
                F.lit(True)
                if when_not_matched_by_source_delete is True
                else F.expr(str(when_not_matched_by_source_delete))
            )
            matched = matched.filter(
                ~(~is_matched & F.coalesce(ncond, F.lit(False)))
            )
        nm_hit = None
        if when_not_matched_by_source_update:
            # WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE — rows the
            # by-source DELETE clause claimed were already filtered out
            # above, so clause precedence (delete first) holds by
            # construction
            ucond = (
                F.lit(True)
                if when_not_matched_by_source_condition is None
                else F.expr(str(when_not_matched_by_source_condition))
            )
            nm_hit = ~is_matched & F.coalesce(ucond, F.lit(False))
        out_cols = []
        for c in cols:
            expr = F.col(f"t.{c}")
            if (
                when_not_matched_by_source_update
                and c in when_not_matched_by_source_update
            ):
                expr = F.when(
                    nm_hit, F.expr(when_not_matched_by_source_update[c])
                ).otherwise(expr)
            if when_matched_update and c in when_matched_update:
                expr = F.when(
                    is_matched, F.expr(when_matched_update[c])
                ).otherwise(expr)
            out_cols.append(expr.alias(c))
        out_cols.append(F.col("t._row_id").alias("_row_id"))
        seq_col = F.col("t._last_updated_sequence_number")
        if when_matched_update:
            seq_col = F.when(is_matched, F.lit(None).cast("long")).otherwise(seq_col)
        if nm_hit is not None:
            # by-source-updated rows inherit the commit's sequence too
            seq_col = F.when(nm_hit, F.lit(None).cast("long")).otherwise(seq_col)
        out_cols.append(seq_col.alias("_last_updated_sequence_number"))
        merged = matched.select(*out_cols)
        if when_not_matched_insert:
            full_target = self._read_entries(entries)
            inserts = source.join(full_target.select(*keys), keys, "left_anti")
            for c in cols:
                if c not in inserts.columns:
                    inserts = inserts.withColumn(c, F.lit(None))
            inserts = inserts.withColumn(
                "_row_id", F.lit(None).cast("long")
            ).withColumn("_last_updated_sequence_number", F.lit(None).cast("long"))
            merged = merged.unionByName(
                inserts.select(*cols, "_row_id", "_last_updated_sequence_number")
            )
        new_entries = self._write_data_dir(merged, lineage_cols=True)
        for e in new_entries:
            e["materialized-lineage"] = True
        retired, narrowed = self._retired_deletes(dels, keep_entries)
        self._commit_snapshot(
            "overwrite",
            new_entries + narrowed,
            hit_entries + retired,
            {"operation-detail": "merge", **(summary_extra or {})},
            base_snapshot_id=self._branch_head_id(branch),
            branch=branch or MAIN_BRANCH,
        )
        return self

    def _merge_into_mor(
        self,
        source: DataFrame,
        keys: list[str],
        cols: list[str],
        when_matched_update: Optional[dict[str, str]],
        when_not_matched_insert: bool,
        summary_extra: Optional[dict] = None,
        branch: Optional[str] = None,
        when_matched_delete: Union[bool, str, None] = None,
        when_not_matched_by_source_delete: Union[bool, str, None] = None,
        when_not_matched_by_source_update: Optional[dict[str, str]] = None,
        when_not_matched_by_source_condition: Optional[str] = None,
    ) -> "Table":
        """merge_into(mode='merge-on-read'): equality-delete the matched
        keys, append their updated versions plus inserts — single commit,
        zero rewrites of existing files.  The appended rows share the
        delete's sequence number, so the delete (which applies only to
        strictly lower sequences) never kills them."""
        from pyspark.sql import Observation

        entries = self._current_entries(branch)
        live = self._read_entries(entries)
        marked = source.withColumn("__s_matched", F.lit(True))
        new_parts: list[DataFrame] = []
        eq_entries: list[dict[str, Any]] = []
        matched_n = 0
        if (
            when_matched_update
            or when_matched_delete is not None
            or when_not_matched_insert
        ):
            # ONE live-table scan serves the matched clauses AND the
            # inserts: the live rows whose key the source carries,
            # checkpointed (O(changed rows)) with their count observed in
            # the same job.  The checkpoint holds the live side only and
            # re-joins the source, so update
            # expressions keep the using-join's `k`, `t.*` and `s.*`
            # resolution (a checkpointed join drops the hidden `s.<key>`
            # columns).
            obs = Observation()
            hit = (
                live.join(source.select(*keys), keys, "left_semi")
                .observe(obs, F.count(F.lit(1)).alias("n"))
                .localCheckpoint()
            )
            matched_n = obs.get["n"] or 0
        if matched_n and (when_matched_update or when_matched_delete is not None):
            eq_entries = self._write_equality_deletes(hit, keys)
            survivors = hit.alias("t").join(marked.alias("s"), keys, "inner")
            if when_matched_delete is not None:
                # delete-matched rows fall to the equality delete and
                # are NOT re-inserted; others re-insert (updated)
                dcond = (
                    F.lit(True)
                    if when_matched_delete is True
                    else F.expr(str(when_matched_delete))
                )
                survivors = survivors.filter(~F.coalesce(dcond, F.lit(False)))
            out_cols = []
            for c in cols:
                if when_matched_update and c in when_matched_update:
                    out_cols.append(F.expr(when_matched_update[c]).alias(c))
                else:
                    out_cols.append(F.col(f"t.{c}").alias(c))
            new_parts.append(survivors.select(*out_cols))
        if when_not_matched_by_source_delete is not None:
            # WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE, MoR form:
            # the loser keys (target keys the source no longer carries)
            # become a second equality-delete file — O(losers), no rewrite
            ncond = (
                F.lit(True)
                if when_not_matched_by_source_delete is True
                else F.expr(str(when_not_matched_by_source_delete))
            )
            losers = live.alias("t").join(marked.alias("s"), keys, "left_anti")
            if when_not_matched_by_source_delete is not True:
                losers = losers.filter(F.coalesce(ncond, F.lit(False)))
            eq_entries += self._write_equality_deletes(losers, keys)
        if when_not_matched_by_source_update:
            # WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE, MoR form:
            # the _update_where_mor shape — equality-delete the stale
            # versions' keys, append the updated versions.  Rows the
            # by-source DELETE clause claimed (delete listed first) are
            # excluded up front.
            upd_losers = live.alias("t").join(marked.alias("s"), keys, "left_anti")
            if when_not_matched_by_source_delete is not None:
                ndcond = (
                    F.lit(True)
                    if when_not_matched_by_source_delete is True
                    else F.expr(str(when_not_matched_by_source_delete))
                )
                upd_losers = upd_losers.filter(~F.coalesce(ndcond, F.lit(False)))
            if when_not_matched_by_source_condition is not None:
                upd_losers = upd_losers.filter(
                    F.coalesce(
                        F.expr(str(when_not_matched_by_source_condition)),
                        F.lit(False),
                    )
                )
            upd_entries = self._write_equality_deletes(upd_losers, keys)
            if upd_entries:
                eq_entries += upd_entries
                out_cols = []
                for c in cols:
                    if c in when_not_matched_by_source_update:
                        out_cols.append(
                            F.expr(when_not_matched_by_source_update[c]).alias(c)
                        )
                    else:
                        out_cols.append(F.col(f"t.{c}").alias(c))
                new_parts.append(upd_losers.select(*out_cols))
        if when_not_matched_insert:
            inserts = source.join(hit.select(*keys), keys, "left_anti")
            for c in cols:
                if c not in inserts.columns:
                    inserts = inserts.withColumn(c, F.lit(None))
            new_parts.append(inserts.select(*cols))
        if not new_parts and not eq_entries:
            return self
        merged = new_parts[0] if new_parts else None
        for p in new_parts[1:]:
            merged = merged.unionByName(p)
        new_entries = self._write_data_dir(merged) if merged is not None else []
        if not new_entries and not eq_entries:
            return self
        self._commit_snapshot(
            "overwrite",
            eq_entries + new_entries,
            summary_extra={
                "operation-detail": "merge",
                "mode": "merge-on-read",
                **(summary_extra or {}),
            },
            base_snapshot_id=self._branch_head_id(branch),
            branch=branch or MAIN_BRANCH,
        )
        return self

    # -- maintenance ---------------------------------------------------------
    def _zorder_column(self, df: DataFrame, cols: list[str]) -> Column:
        """64-bit Z-value (Morton code) interleaving up to 4 columns.

        Each column is normalized to a 16-bit fixed-point rank inside its
        observed [min, max] (one tiny agg job), then bits interleave so
        rows close in EVERY dimension get close Z-values.  Compaction
        range-partitioned on this makes each output file a tight
        hyper-box in all Z dimensions at once — manifest min/max pruning
        then works for predicates on ANY of the columns, where single-key
        sort clustering only serves its leading column.  All arithmetic is
        one JVM expression (shift/and/or — codegen'd, no Python).
        Numeric/date/timestamp columns keep value locality; strings use
        their first two bytes (UTF-8 prefix order, Iceberg's choice)."""
        if not (1 <= len(cols) <= 4):
            raise InvalidDataError("zorder takes 1..4 columns")
        schema = self.current_schema()
        bits = 16
        norm_exprs = []
        for c in cols:
            f = schema.field_by_name(c)
            if f is None:
                raise InvalidDataError(f"unknown zorder column: {c}")
            t = f.to_spark().dataType.simpleString()
            if t == "string":
                norm_exprs.append(
                    f"coalesce(ascii(substr(`{c}`,1,1))*256 + "
                    f"coalesce(ascii(substr(`{c}`,2,1)),0), 0)"
                )
            elif t in ("date",):
                norm_exprs.append(f"coalesce(datediff(`{c}`, DATE'1970-01-01'), 0)")
            elif t.startswith("timestamp"):
                norm_exprs.append(f"coalesce(unix_micros(`{c}`), 0)")
            else:
                norm_exprs.append(f"coalesce(cast(`{c}` as double), 0.0)")
        # per-column min/max for the fixed-point normalization
        row = df.agg(
            *[F.expr(f"min({e})").alias(f"__lo{i}") for i, e in enumerate(norm_exprs)],
            *[F.expr(f"max({e})").alias(f"__hi{i}") for i, e in enumerate(norm_exprs)],
        ).collect()[0]
        k = len(cols)
        terms = []
        for i, e in enumerate(norm_exprs):
            lo_v, hi_v = row[f"__lo{i}"], row[f"__hi{i}"]
            lo = float(lo_v) if lo_v is not None else 0.0
            hi = float(hi_v) if hi_v is not None else 0.0
            span = (hi - lo) or 1.0
            q = (
                f"cast(least(greatest(({e} - {lo!r}) / {span!r}, 0.0), 1.0)"
                f" * {(1 << bits) - 1} as bigint)"
            )
            for b in range(bits):
                terms.append(f"shiftleft(shiftright({q}, {b}) & 1, {b * k + i})")
        return F.expr(" | ".join(terms)).alias("__zvalue")

    def compact(
        self,
        target_file_rows: int = 1_000_000,
        zorder: Optional[list[str]] = None,
        where: Optional[str] = None,
    ) -> "Table":
        """rewrite_data_files analog: coalesce all live files into one commit
        (reference exposes none; north-star 'compaction').  Row count comes
        from manifest stats — no extra count job.

        With a default sort order, files are range-partitioned on the sort
        keys (cluster-by-sort): each output file covers a tight, disjoint
        key range, so manifest bounds pruning afterwards skips all but the
        overlapping files for range predicates.  ``zorder=[cols]`` instead
        clusters on a Morton code over up to 4 columns (Iceberg's
        rewrite_data_files Z-order strategy) so pruning works for
        predicates on any of them.  Outstanding merge-on-read deletes are
        materialized and dropped.

        ``where`` (iceberg-spark rewrite_data_files' ``where`` arg)
        scopes the rewrite to files whose manifest BOUNDS overlap the
        predicate — at 100 TB you compact the hot partition's small
        files, not the whole table.  Untouched files carry by reference;
        delete entries re-scope to the surviving files (rewritten files'
        deletes materialize into the rewrite, the CoW-delete pattern)."""
        self._check_writable()
        entries = self._current_entries()
        removed, narrowed = entries, []
        dels: list[dict[str, Any]] = []
        if where is not None:
            data, dels = self._split_entries(entries)
            tree = self._bound_predicate(where)
            if tree is None:
                raise InvalidDataError(
                    "compact(where=...) needs a parseable predicate "
                    "(col op literal joined by AND/OR); got: " + repr(where)
                )
            hit = self._prune_by_stats(data, tree)
            hit_paths = {e.get("path") for e in hit if "path" in e}
            if not hit:
                return self
            retired, narrowed = self._retired_deletes(
                dels, [e for e in data if e.get("path") not in hit_paths]
            )
            entries, removed = hit, hit + retired
        n_rows = self._entries_rowcount(entries)
        n_files = max(1, n_rows // max(1, target_file_rows))
        # read WITH row lineage so the rewrite preserves every surviving
        # row's _row_id / _last_updated_sequence_number: the rewritten
        # files carry them as physical reserved-id columns (v3 semantics —
        # inheritance can't survive a rewrite, materialization does)
        if where is not None:
            df = self._read_entries_with_lineage(entries + dels)
        else:
            df = TableScan(self).with_row_lineage().to_df()
        sort = self.default_sort_order()
        if zorder:
            z = self._zorder_column(df, list(zorder))
            df = (
                df.withColumn("__zvalue", z)
                .repartitionByRange(n_files, F.col("__zvalue"))
                .sortWithinPartitions("__zvalue")
                .drop("__zvalue")
            )
        elif sort and sort.get("fields"):
            from iceberg_ruby_spark.transforms import SortField, parse_transform

            sort_cols = [
                SortField(
                    sf["source"],
                    parse_transform(sf.get("transform", "identity")),
                    sf.get("direction", "asc"),
                    sf.get("null_order"),
                ).column()
                for sf in sort["fields"]
            ]
            df = df.repartitionByRange(n_files, *sort_cols)
        else:
            df = df.repartition(n_files)
        new_entries = self._write_data_dir(df, lineage_cols=True)
        for e in new_entries:
            # lineage lives IN the file — the commit must not assign these
            # entries a fresh first-row-id range
            e["materialized-lineage"] = True
        self._commit_snapshot(
            "replace",
            new_entries + narrowed,
            removed,
            {
                "compacted": True,
                # iceberg-spark rewrite_data_files result vocabulary — CALL
                # system.rewrite_data_files surfaces these from the summary
                "rewritten-data-files-count": len(
                    [e for e in entries if "path" in e]
                ),
                "added-data-files-count": len(new_entries),
            },
            base_snapshot_id=self.current_snapshot_id,
        )
        return self

    def rewrite_manifests(self) -> dict[str, int]:
        """iceberg-spark's ``rewrite_manifests`` maintenance procedure:
        consolidate the current snapshot's manifest METADATA into the
        minimal fresh set without touching a single data file.  After a
        long run of fast appends the manifest list holds one
        manifest per commit (bounded by the cap); this folds them
        into one consolidated set in a metadata-only replace commit, so
        subsequent scan planning opens the minimum number of metadata
        files.  The entry set is committed byte-identical — rows, deletes,
        lineage, and statistics are untouched."""
        self._check_writable()
        if self.current_snapshot() is None:
            return {"rewritten_manifests_count": 0, "added_manifests_count": 0}
        before = len(self._current_manifest_descriptors())
        entries = self._current_entries()
        self._commit_snapshot(
            "replace",
            entries,
            entries,
            {"rewritten-manifests-count": str(before)},
            base_snapshot_id=self.current_snapshot_id,
        )
        after = len(self._current_manifest_descriptors())
        return {
            "rewritten_manifests_count": before,
            "added_manifests_count": after,
        }

    def rewrite_position_deletes(self) -> dict[str, int]:
        """iceberg-spark's ``rewrite_position_delete_files`` maintenance
        procedure: consolidate the positional delete FILES that N separate
        merge-on-read delete commits accumulated into the canonical layout
        ONE delete commit writes (one part per target-file hash bucket,
        positions sorted) — fewer files for every subsequent scan to
        broadcast-merge.

        Rows never change: deleted positions are unioned and deduped (a
        position deleted twice collapses), equality deletes and deletion
        vectors are untouched, and DATA files are never opened — cost is
        one read of the delete files themselves.  Returns iceberg-spark's
        result vocabulary."""
        self._check_writable()
        entries = self._current_entries()
        pos = [e for e in entries if e.get("content") == "position-deletes"]
        if len(pos) <= 1:
            return {
                "rewritten_delete_files_count": 0,
                "added_delete_files_count": 0,
            }
        loc = self.ops.location
        base = (loc if "://" in loc else os.path.abspath(loc)).rstrip("/")
        # strip each entry's write-time base, union, dedup, re-absolutize
        # against the CURRENT location (same normalization the read path
        # applies, so consolidation survives prior rename_table moves)
        parts = []
        for e in pos:
            ebase = (e.get("base-location") or base).rstrip("/")
            rel = F.regexp_replace(
                F.col("file_path"), "^" + re.escape(ebase + "/"), ""
            )
            parts.append(
                _read_files(
                    self.spark, [self.ops._abs(e["delete-file"])], _POS_DELETE_FIELDS
                ).select(rel.alias("file_path"), "pos")
            )
        merged = parts[0]
        for p_ in parts[1:]:
            merged = merged.unionByName(p_)
        is_abs = F.col("file_path").rlike("^(/|[A-Za-z][A-Za-z0-9+.-]*:)")
        merged = merged.distinct().select(
            F.when(is_abs, F.col("file_path"))
            .otherwise(F.concat(F.lit(base + "/"), F.col("file_path")))
            .alias("file_path"),
            "pos",
        )
        new_entries = self._write_position_deletes(merged, base)
        self._commit_snapshot(
            "replace",
            new_entries,
            pos,
            {
                "rewritten-delete-files-count": len(pos),
                "added-delete-files-count": len(new_entries),
            },
            base_snapshot_id=self.current_snapshot_id,
        )
        return {
            "rewritten_delete_files_count": len(pos),
            "added_delete_files_count": len(new_entries),
        }

    @staticmethod
    def _expire_plan(
        raw: dict[str, Any], keep_last: int, now: int
    ) -> tuple[dict[str, Any], set[int], list[str]]:
        """(surviving refs, protected snapshot ids, aged-out ref names) —
        the spec's ref-retention rules (per-ref ``max-ref-age-ms``,
        ``min-snapshots-to-keep``, ``max-snapshot-age-ms``):

        * a ref whose referenced snapshot is older than its
          ``max-ref-age-ms`` is dropped by expiration (never main);
        * every surviving ref protects its snapshot;
        * a BRANCH carrying retention fields additionally protects its
          ancestry: the newest ``min-snapshots-to-keep`` ancestors plus
          all ancestors younger than ``max-snapshot-age-ms``.  Refs
          without retention fields keep the historical head-only
          behavior."""
        snaps = raw.get("snapshots", [])
        by_id = {s["snapshot-id"]: s for s in snaps}
        refs = dict(raw.get("refs", {}))
        dropped_refs: list[str] = []
        for name, r in list(refs.items()):
            age_cap = r.get("max-ref-age-ms")
            snap = by_id.get(r["snapshot-id"])
            if (
                name != MAIN_BRANCH
                and age_cap is not None
                and snap is not None
                and now - snap["timestamp-ms"] > int(age_cap)
            ):
                refs.pop(name)
                dropped_refs.append(name)
        protected: set[int] = set()
        for r in refs.values():
            protected.add(r["snapshot-id"])
            if r.get("type") != "branch" or not (
                "min-snapshots-to-keep" in r or "max-snapshot-age-ms" in r
            ):
                continue
            min_keep = int(r.get("min-snapshots-to-keep", 1))
            age_cap = r.get("max-snapshot-age-ms")
            sid, idx = r["snapshot-id"], 0
            while sid in by_id:
                s = by_id[sid]
                if idx >= min_keep and not (
                    age_cap is not None and now - s["timestamp-ms"] <= int(age_cap)
                ):
                    break
                protected.add(sid)
                idx += 1
                sid = s.get("parent-snapshot-id")
        return refs, protected, dropped_refs

    def maintain(self, dry_run: bool = False) -> dict:
        """ONE property-driven maintenance pass — the nightly job a
        large deployment schedules per table, each step gated by its own
        table property so a bare ``maintain()`` on an unconfigured table
        is a safe no-op:

        - ``maintenance.compact.min-input-files=N``: :meth:`compact`
          when the live data-file count reaches N (trigger evaluated
          from manifest entries — metadata-only).
        - ``maintenance.compact.min-delete-entries=N``: :meth:`compact`
          when outstanding merge-on-read delete entries of ANY kind
          reach N — the upsert-table pattern (r12): a streaming upsert
          sink accrues one equality delete per micro-batch, every scan
          pays the anti-join until compaction materializes them away
          (Flink upsert tables schedule rewrite_data_files for exactly
          this).
        - ``maintenance.rewrite-deletes.min-delete-files=N``:
          :meth:`rewrite_position_deletes` when positional delete files
          reach N.
        - ``maintenance.rewrite-manifests.min-manifests=N``:
          :meth:`rewrite_manifests` when manifests reach N.
        - ``maintenance.expire.enabled=true``: argument-less
          :meth:`expire_snapshots` (the ``history.expire.*`` retention
          properties supply the policy).
        - ``maintenance.orphans.older-than-ms=MS``:
          :meth:`remove_orphan_files` with a now−MS safety cutoff.
        - registered Bloom indexes refresh incrementally unless
          ``write.bloom.auto-refresh=true`` already keeps them current.

        Step order is deliberate: compact first (it materializes MoR
        deletes, often emptying the delete-rewrite step), then metadata
        consolidation, then index refresh over the settled layout, then
        history expiry, then orphan cleanup.  ``dry_run=True`` reports
        which steps WOULD fire without touching anything.  Returns a
        per-step report dict."""
        self._check_writable()
        props = self.properties
        report: dict[str, Any] = {}

        def _int_prop(name: str) -> Optional[int]:
            v = props.get(name)
            return int(v) if v is not None else None

        entries = self._current_entries()
        data, mor = self._split_entries(entries)
        n_files = sum(1 for e in data if "path" in e)
        min_in = _int_prop("maintenance.compact.min-input-files")
        min_mor = _int_prop("maintenance.compact.min-delete-entries")
        fire_files = min_in is not None and n_files >= min_in
        fire_mor = min_mor is not None and len(mor) >= min_mor
        if fire_files or fire_mor:
            if dry_run:
                report["compact"] = {
                    "input_files": n_files,
                    "input_delete_entries": len(mor),
                }
            else:
                self.compact()
                summ = (self.current_snapshot() or Snapshot(
                    0, None, 0, 0, "", 0, {}
                )).summary
                report["compact"] = {
                    "input_files": n_files,
                    "input_delete_entries": len(mor),
                    "rewritten_data_files": summ.get(
                        "rewritten-data-files-count"
                    ),
                    "added_data_files": summ.get("added-data-files-count"),
                }
                # later triggers must see the SETTLED layout (r12): the
                # compaction just materialized MoR deletes away and
                # replaced the file set — evaluating them on the
                # pre-compact entries fired rewrite_position_deletes on
                # delete files that no longer exist
                entries = self._current_entries()
                data, mor = self._split_entries(entries)
        min_del = _int_prop("maintenance.rewrite-deletes.min-delete-files")
        if min_del is not None:
            n_pos = sum(
                1 for e in mor if e.get("content") == "position-deletes"
            )
            if n_pos >= min_del:
                report["rewrite_position_deletes"] = (
                    {"input_delete_files": n_pos}
                    if dry_run
                    else self.rewrite_position_deletes()
                )
        min_man = _int_prop("maintenance.rewrite-manifests.min-manifests")
        if min_man is not None:
            n_man = len(self._current_manifest_descriptors())
            if n_man >= min_man:
                report["rewrite_manifests"] = (
                    {"input_manifests": n_man}
                    if dry_run
                    else self.rewrite_manifests()
                )
        if str(props.get("write.bloom.auto-refresh", "")).lower() != "true":
            blooms = {}
            for k in props:
                if k.startswith("bloom.index.") and k.endswith(".path"):
                    col = k[len("bloom.index."):-len(".path")]
                    blooms[col] = (
                        {"planned": True}
                        if dry_run
                        else self.refresh_key_bloom(col)
                    )
            if blooms:
                report["refresh_blooms"] = blooms
        if str(props.get("maintenance.expire.enabled", "")).lower() == "true":
            report["expire_snapshots"] = {
                "expired": self.expire_snapshots(dry_run=dry_run)
            }
        orphan_ms = _int_prop("maintenance.orphans.older-than-ms")
        if orphan_ms is not None:
            report["remove_orphan_files"] = {
                "removed": self.remove_orphan_files(
                    older_than=_now_ms() - orphan_ms, dry_run=dry_run
                )
            }
        return report

    def expire_snapshots(
        self,
        keep_last: Optional[int] = None,
        older_than: Optional[Any] = None,
        clean_metadata: bool = True,
        clean_data_files: bool = False,
        dry_run: bool = False,
    ) -> int:
        """Drop history beyond the newest ``keep_last`` snapshots, always
        retaining snapshots referenced by branches/tags — honoring the
        spec's per-ref retention fields (see :meth:`_expire_plan`):
        aged-out refs are removed, and branches with retention settings
        protect their recent ancestry, not just their head.

        Defaults come from the table's retention PROPERTIES (Iceberg's
        ExpireSnapshots contract): ``keep_last=None`` reads
        ``history.expire.min-snapshots-to-keep`` (1 if unset), and
        ``older_than=None`` reads ``history.expire.max-snapshot-age-ms``
        as an age cutoff from now (no cutoff if unset) — so an
        argument-less call enforces the policy the table declares.

        ``older_than`` (epoch-millis, datetime, or ISO string — the
        iceberg-spark ``expire_snapshots(older_than => ts)`` contract)
        additionally protects every snapshot committed at-or-after the
        cutoff: only snapshots strictly older than it may expire.

        ``clean_metadata`` (default on, Iceberg's ``cleanExpiredFiles``
        behavior) also deletes the expired snapshots' metadata files —
        manifest lists, manifests, and their statistics files —
        but ONLY those not referenced by any retained snapshot.  With
        fast-append manifest sharing this is reference-counted by
        construction: candidates come from the EXPIRED snapshots' own
        reference sets (never a directory listing, so an in-flight
        concurrent commit's freshly-written files can't be collected),
        minus everything the live snapshots still reference.

        ``clean_data_files`` (default off; iceberg-spark's expire procedure
        behavior) additionally deletes DATA-layer files — data files,
        positional/equality delete files, DV puffins — that were reachable
        from the EXPIRED snapshots but from no retained snapshot.  Like
        clean_metadata this is reference-counted from the expired
        snapshots' own manifests, never a directory listing, so a
        concurrent writer's freshly written but not-yet-committed files
        can NEVER be collected (the unbounded sweep belongs to
        remove_orphan_files, which takes an explicit mtime safety window).
        The deleted paths land in :attr:`last_expire_cleaned_files`."""
        self._check_writable()
        # Iceberg's table-level retention properties supply the defaults
        # an argument-less call uses (ExpireSnapshots: history.expire.*);
        # explicit arguments override them
        props = self.properties
        if keep_last is None:
            keep_last = int(props.get("history.expire.min-snapshots-to-keep", 1))
        now = _now_ms()
        if older_than is None:
            age = props.get("history.expire.max-snapshot-age-ms")
            if age is not None:
                older_than = now - int(age)
        self.last_expire_cleaned_files: list[str] = []
        expired = [0]
        expired_snaps: list[dict[str, Any]] = []
        dropped_stats: list[str] = []
        cutoff = None if older_than is None else _as_epoch_ms(older_than)

        def keeps(snaps: list, keep_tail: set, protected: set):
            return [
                s for s in snaps
                if s["snapshot-id"] in keep_tail
                or s["snapshot-id"] in protected
                or (cutoff is not None and s["timestamp-ms"] >= cutoff)
            ]

        def nothing_to_expire(raw: dict[str, Any]) -> bool:
            snaps = raw.get("snapshots", [])
            refs, protected, dropped_refs = self._expire_plan(raw, keep_last, now)
            if dropped_refs:
                return False
            keep_tail = {s["snapshot-id"] for s in snaps[-keep_last:]}
            return len(keeps(snaps, keep_tail, protected)) == len(snaps)

        if nothing_to_expire(self.ops.load().raw):
            return 0  # skip the metadata version bump entirely
        if dry_run:
            # report what WOULD expire against current metadata, commit
            # nothing — audit before the irreversible cleanup
            raw = self.ops.load().raw
            snaps = raw.get("snapshots", [])
            _refs, protected, _dropped = self._expire_plan(raw, keep_last, now)
            keep_tail = {s["snapshot-id"] for s in snaps[-keep_last:]}
            return len(snaps) - len(keeps(snaps, keep_tail, protected))

        def mutate(raw: dict[str, Any]) -> None:
            # recomputed from fresh metadata on every retry so a concurrent
            # commit's snapshot is never expired by a stale view
            snaps = raw.get("snapshots", [])
            refs, protected, _dropped = self._expire_plan(raw, keep_last, now)
            keep_tail = {s["snapshot-id"] for s in snaps[-keep_last:]}
            kept = keeps(snaps, keep_tail, protected)
            expired[0] = len(snaps) - len(kept)
            kept_ids = {s["snapshot-id"] for s in kept}
            # recomputed per retry (a lost race re-plans on fresh state)
            expired_snaps[:] = [s for s in snaps if s["snapshot-id"] not in kept_ids]
            dropped_stats[:] = []
            for key in ("statistics", "partition-statistics"):
                entries = raw.get(key, [])
                keep_entries = [s for s in entries if s["snapshot-id"] in kept_ids]
                if len(keep_entries) != len(entries):
                    dropped_stats.extend(
                        s["statistics-path"]
                        for s in entries
                        if s["snapshot-id"] not in kept_ids
                    )
                    raw[key] = keep_entries
            raw["refs"] = refs
            raw["snapshots"] = kept
            raw["snapshot-log"] = [
                e for e in raw.get("snapshot-log", [])
                if e["snapshot-id"] in kept_ids
            ]

        self._metadata_update(mutate)
        if clean_data_files and expired_snaps:
            # reference-counted: candidates come from the expired snapshots'
            # manifests only, minus every file a retained snapshot still
            # reaches — runs BEFORE clean_metadata deletes those manifests
            live_data: set[str] = set()
            for s in self.snapshots:
                live_data |= self._snapshot_data_files(s.manifest_list)
            dead_data: set[str] = set()
            for sd in expired_snaps:
                dead_data |= self._snapshot_data_files(sd["manifest-list"])
            for f in sorted(dead_data - live_data):
                try:
                    self.ops.io.delete(f)
                    self.last_expire_cleaned_files.append(f)
                except (OSError, FileNotFoundError):
                    pass  # already gone (e.g. shared with a purged table)
        if clean_metadata and (expired_snaps or dropped_stats):
            live: set[str] = set()
            for s in self.snapshots:
                live |= self._manifest_metadata_files(s.manifest_list)
            dead: set[str] = set()
            for sd in expired_snaps:
                dead |= self._manifest_metadata_files(sd["manifest-list"])
            for p in dropped_stats:
                dead.add(self.ops._abs(p))
            for f in sorted(dead - live):
                try:
                    self.ops.io.delete(f)
                except (OSError, FileNotFoundError):
                    pass  # already gone (e.g. shared with a purged table)
        return expired[0]

    def _manifest_metadata_files(self, manifest_list: str) -> set[str]:
        """Every metadata file a snapshot's manifest list references: the
        list itself plus its manifests.  Metadata-sized reads only — no
        data files touched."""
        out = {self.ops._abs(manifest_list)}
        try:
            out.update(manifest_paths(self.ops, manifest_list))
        except (OSError, FileNotFoundError, ValueError, KeyError):
            pass  # unreadable list: reference nothing rather than guess
        return out

    def _snapshot_data_files(self, manifest_list: str) -> set[str]:
        """Every DATA-layer file a snapshot references, as absolute paths:
        data files, positional /
        equality delete files, and DV puffins.  Metadata-sized reads only."""
        out: set[str] = set()
        try:
            manifest = self.ops.read_manifest(manifest_list)
        except (OSError, FileNotFoundError, ValueError):
            return out  # unreadable list: reference nothing rather than guess
        for f in self._entry_files(manifest):
            out.add(os.path.abspath(f))
        for e in manifest:
            if "delete-file" in e:
                for f in self.ops.io.list(self.ops._abs(e["delete-file"])):
                    out.add(os.path.abspath(f))
        return out

    def remove_orphan_files(
        self,
        return_files: bool = False,
        older_than: Optional[Any] = None,
        dry_run: bool = False,
    ) -> list[str]:
        """Delete commit dirs whose files are referenced by no live snapshot,
        and the hidden ``.<name>.<hex>`` temp files a crashed atomic write
        leaves under ``metadata/``.  Returns the removed dirs and temp
        files, or with ``return_files=True`` every file path removed (the
        iceberg-spark procedure's result granularity).

        ``older_than`` (epoch-millis, datetime, or ISO string) is the
        procedure's safety window: only dirs whose files were ALL last
        modified before the cutoff are deleted — at scale an in-flight
        writer's files look orphaned until its commit lands, so production
        cleanup always passes a cutoff (iceberg-spark defaults to 3 days
        ago).  ``dry_run=True`` reports what WOULD be deleted without
        touching anything — audit the candidate list before the
        irreversible pass."""
        self._check_writable()
        cutoff = None if older_than is None else _as_epoch_ms(older_than)
        live: set[str] = set()
        for snap in self.snapshots:
            manifest = self.ops.read_manifest(snap.manifest_list)
            for f in self._entry_files(manifest):
                live.add(os.path.abspath(f))
            for e in manifest:
                if "delete-file" in e:  # positional delete dirs stay live
                    for f in self.ops.io.list(e["delete-file"]):
                        live.add(os.path.abspath(f))
        # one recursive listing; commit dirs with no live parquet are dropped
        commit_dirs: dict[str, bool] = {}
        for f in self.ops.io.list(self.ops.data_dir):
            rel = os.path.relpath(f, self.ops.data_dir)
            top = os.path.join(self.ops.data_dir, rel.split(os.sep)[0])
            commit_dirs.setdefault(top, False)
            if (
                f.endswith(".parquet") or f.endswith(".puffin") or f.endswith(".orc")
            ) and os.path.abspath(f) in live:
                commit_dirs[top] = True
        removed: list[str] = []
        removed_files: list[str] = []
        for d in sorted(commit_dirs):
            if not commit_dirs[d]:
                if cutoff is not None and any(
                    (self.ops.io.mtime_ms(f) or cutoff) >= cutoff
                    for f in self.ops.io.list(d)
                ):
                    continue  # inside the safety window — maybe in-flight
                if return_files:
                    removed_files.extend(self.ops.io.list(d))
                if not dry_run:
                    self.ops.io.delete_prefix(d)
                removed.append(d)
        for f in self.ops.io.list(self.ops.metadata_dir):
            if not _ATOMIC_TEMP.match(os.path.basename(f)):
                continue
            if cutoff is not None and (self.ops.io.mtime_ms(f) or cutoff) >= cutoff:
                continue  # inside the safety window — maybe in-flight
            if not dry_run:
                self.ops.io.delete(f)
            removed.append(f)
            removed_files.append(f)
        return removed_files if return_files else removed


# the temp file ``LocalFileIO.write_bytes_atomic`` writes beside its target
_ATOMIC_TEMP = re.compile(r"^\..+\.[0-9a-f]{32}$")


# --------------------------------------------------------------------------
# manifest-level file pruning from column bounds
# --------------------------------------------------------------------------
#
class _StagedOps:
    """Metadata-plane shim backing :class:`Transaction`: file writes
    (data, manifests, puffin) pass through to the real ops untouched, but
    ``load``/``commit`` operate on an in-memory staged metadata chain, so
    a sequence of table operations composes without ever publishing an
    intermediate version.  ``publish()`` performs the ONE real optimistic
    commit, against the version captured at construction — at 100 TB this
    is also a commit-throughput lever: N staged operations cost one
    catalog round-trip instead of N contended ones."""

    def __init__(self, real: "FsTableOps"):
        self._real = real
        self._base = real.load()
        self._staged: Optional[TableMetadata] = None

    def __getattr__(self, name: str):
        # io / write_manifest / read_manifest(_delta) / _abs / _rel /
        # data_dir / metadata_dir / location … — the storage plane is real
        if name in ("_real", "_base", "_staged"):
            raise AttributeError(name)
        return getattr(self._real, name)

    def load(self, version: Optional[int] = None) -> TableMetadata:
        if version is not None:
            # explicit version time-travel addresses only PUBLISHED files
            return self._real.load(version)
        return self._staged if self._staged is not None else self._base

    def current_version(self) -> int:
        return (self._staged if self._staged is not None else self._base).version

    def commit(self, base_version: Optional[int], new_meta: dict[str, Any]) -> TableMetadata:
        v = (base_version or 0) + 1
        self._staged = TableMetadata(new_meta, v, f"staged://v{v}")
        return self._staged

    def publish(self) -> TableMetadata:
        if self._staged is None:
            return self._base
        raw = dict(self._staged.raw)
        # the single real commit records only real metadata files in the
        # lineage log: staged intermediates never existed on storage (the
        # base file's entry was appended by the first staged commit)
        log = raw.get("metadata-log")
        if log is not None:
            raw["metadata-log"] = [
                e
                for e in log
                if not str(e.get("metadata-file", "")).startswith("staged://")
            ]
        try:
            return self._real.commit(self._base.version, raw)
        except FileExistsError:
            raise InvalidDataError(
                "transaction commit conflict: the table was committed to "
                "after this transaction started; re-run the transaction on "
                "fresh state"
            )


class Transaction:
    """Handle returned by :meth:`Table.transaction`.  Delegates the whole
    Table surface to a shadow table whose ops are staged, so
    ``tx.append`` / ``tx.delete_where`` / ``tx.update_schema()`` /
    ``tx.set_properties`` … all work unchanged; reads inside the block
    (``tx.to_a()``, ``tx.scan()``) see the staged state."""

    def __init__(self, table: "Table"):
        self._origin = table
        self._staged_ops = _StagedOps(table.ops)
        self.table = Table(
            table.spark,
            table.ops.location,
            identifier=table.identifier,
            catalog=table.catalog,
            ops=self._staged_ops,
        )
        self._done = False

    def __getattr__(self, name: str):
        if name.startswith("_") or name == "table":
            raise AttributeError(name)
        return getattr(self.table, name)

    def __enter__(self) -> "Transaction":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is None and not self._done:
            self.commit()

    def commit(self) -> "Table":
        """Publish every staged operation as one atomic commit and refresh
        the originating table handle to the published state."""
        if self._done:
            raise InvalidDataError("transaction already committed or aborted")
        self._done = True
        self._origin.metadata = self._staged_ops.publish()
        return self._origin

    def abort(self) -> None:
        """Discard the staged state (already-written data/manifest files
        become orphans; ``remove_orphan_files`` collects them)."""
        self._done = True


# A conservative evaluator over the per-file lower/upper bounds captured at
# commit time: a file is skipped only when the predicate PROVABLY matches no
# row in it.  Handles the planner-relevant shape `col op literal` combined
# with AND/OR/parens; anything else returns "might match" and the file is
# read (parquet row-group pushdown still applies).  At 100 TB this is what
# turns a selective scan from open-every-file into open-few-files.

_PRED_TOKEN = re.compile(
    r"\s*(\(|\)|,|AND\b|OR\b|<=|>=|!=|<>|=|<|>|'(?:[^']|'')*'|[A-Za-z_][A-Za-z_0-9.]*|-?\d+\.?\d*)",
    re.IGNORECASE,
)


def _tokenize_predicate(s: str) -> Optional[list[str]]:
    out, pos = [], 0
    while pos < len(s):
        m = _PRED_TOKEN.match(s, pos)
        if not m:
            return None if s[pos:].strip() else out
        out.append(m.group(1))
        pos = m.end()
    return out


def _shred_col_name(col: str, path: str, typ: str) -> str:
    """Deterministic physical column name for a shredded variant path —
    hash-suffixed so distinct (path, type) pairs can never collide
    however the path is spelled."""
    import hashlib

    h = hashlib.md5(f"{path}|{typ}".encode()).hexdigest()[:8]
    return f"_shred_{col}_{h}"


_PREFIX_TOKEN = re.compile(r"\s*('[^'\\]*'|<=|>=|[=<>(),]|[A-Za-z_][A-Za-z_0-9.]*|-?\d+)")
_PREFIX_FNS = ("=", "<", "<=", ">", ">=", "and", "or", "in", "isNull", "isNotNull")


def _prefix_to_infix(s: str) -> Optional[str]:
    """A Column predicate as Spark 4 renders it — ``=(a, 9)``,
    ``and(>(a, 3), in(b, 'x', 'y'))``, ``isNull(a)`` — as the infix text
    :func:`_parse_predicate` reads, or None for any other shape: another
    function (``!``, ``<=>``), a literal first, or a literal other than an
    integer or a quoted string without a backslash (Spark escapes a quote
    with one).  ``NULL``, unquoted dates and timestamps and fractional
    numbers yield None too: a fractional Column literal may be a double,
    which Spark compares as double, not as the exact decimal the SQL
    spelling means."""
    toks, pos, s = [], 0, s.strip()
    while pos < len(s):
        m = _PREFIX_TOKEN.match(s, pos)
        if m is None:
            return None
        toks.append(m.group(1))
        pos = m.end()
    it = iter(toks)

    def node(fn: Optional[str]) -> Optional[str]:
        if fn not in _PREFIX_FNS or next(it, None) != "(":
            return None
        if fn in ("and", "or"):
            lhs = node(next(it, None))
            rhs = node(next(it, None)) if next(it, None) == "," else None
            ok = lhs and rhs and next(it, None) == ")"
            return f"({lhs}) {fn.upper()} ({rhs})" if ok else None
        col, vals = next(it, None), []
        while (tok := next(it, None)) == ",":
            vals.append(next(it, None))
        if (
            tok != ")"
            or not re.match(r"[A-Za-z_]", col or "")
            or not all(v and v[0] in "'-0123456789" for v in vals)
        ):
            return None
        if fn in ("isNull", "isNotNull"):
            return None if vals else f"{col} IS {'NOT ' * (fn == 'isNotNull')}NULL"
        if fn == "in":
            return f"{col} IN ({', '.join(vals)})" if vals else None
        return f"{col} {fn} {vals[0]}" if len(vals) == 1 else None

    out = node(next(it, None))
    return out if next(it, None) is None else None


def _parse_predicate(s: str, shred_map: Optional[dict] = None):
    """Parse ``col op literal`` / AND / OR / parens into a tree, or None if
    the expression is outside the supported shape.  Leaves are
    ``("cmp", col, op, literal)`` and ``("in", col, negated, literals)``,
    a quoted literal as its str and a number token exactly (int, or
    Decimal with a point); consumers read the tree only once
    :func:`_bind` has typed it to the table's columns.

    ``shred_map`` maps ``(col, path, type)`` → shredded physical column
    name: with it, a ``[try_]variant_get(col, '$.p', 'type')``
    comparison parses into a cmp node on the SHRED column, whose
    manifest bounds the pruning paths consult like any other column's.
    The synthetic name never reaches a DataFrame — trees prune, the raw
    filter string/Column does the actual filtering."""
    toks = _tokenize_predicate(s)
    if not toks:
        return None
    pos = [0]

    def peek():
        return toks[pos[0]] if pos[0] < len(toks) else None

    def take():
        t = peek()
        pos[0] += 1
        return t

    def parse_or():
        node = parse_and()
        if node is None:
            return None
        while peek() is not None and peek().upper() == "OR":
            take()
            rhs = parse_and()
            if rhs is None:
                return None
            node = ("or", node, rhs)
        return node

    def parse_and():
        node = parse_leaf()
        if node is None:
            return None
        while peek() is not None and peek().upper() == "AND":
            take()
            rhs = parse_leaf()
            if rhs is None:
                return None
            node = ("and", node, rhs)
        return node

    def parse_leaf():
        if peek() == "(":
            take()
            node = parse_or()
            if node is None or take() != ")":
                return None
            return node
        col = take()
        if col is None or not re.match(r"^[A-Za-z_]", col):
            return None
        if (
            col.upper() in ("VARIANT_GET", "TRY_VARIANT_GET")
            and peek() == "("
        ):
            # variant_get(col, '$.path', 'type') → the shredded column
            # when the table declares that exact (col, path, type) triple
            take()  # (
            src = take()
            if src is None or not re.match(r"^[A-Za-z_]", src):
                return None
            if take() != ",":
                return None
            path_tok = take()
            if path_tok is None or not path_tok.startswith("'"):
                return None
            if take() != ",":
                return None
            typ_tok = take()
            if typ_tok is None or not typ_tok.startswith("'"):
                return None
            if take() != ")":
                return None
            if not shred_map:
                return None
            path = path_tok[1:-1].replace("''", "'")
            typ = typ_tok[1:-1].replace("''", "'").lower()
            col = shred_map.get((src, path, typ))
            if col is None:
                return None
        op = take()
        if op is not None and op.upper() in ("IN", "NOT"):
            # col [NOT] IN (a, b, …) stays one node: Spark types its
            # literals together with the column, so :func:`_bind`
            # expands it into OR of equalities (AND of inequalities)
            neg = op.upper() == "NOT"
            if neg and (peek() is None or take().upper() != "IN"):
                return None
            if take() != "(":
                return None
            vals = []
            while True:
                val = literal(take())
                if val is None:
                    return None
                vals.append(val)
                nxt = take()
                if nxt == ")":
                    break
                if nxt != ",":
                    return None
            return ("in", col, neg, vals)
        if op is not None and op.upper() == "IS":
            neg = peek() is not None and peek().upper() == "NOT"
            if neg:
                take()
            if peek() is None or take().upper() != "NULL":
                return None
            return ("cmp", col, "notnull" if neg else "isnull", None)
        if op not in ("=", "<", "<=", ">", ">=", "!=", "<>"):
            return None
        val = literal(take())
        if val is None:
            return None
        return ("cmp", col, "!=" if op == "<>" else op, val)

    def literal(tok):
        """A quoted literal as its str, a number token exactly (int, or
        Decimal when it has a point), anything else None."""
        if tok is None:
            return None
        if tok.startswith("'"):
            return tok[1:-1].replace("''", "'")
        if re.fullmatch(r"-?\d+", tok):
            return int(tok)
        if re.fullmatch(r"-?\d+\.\d*", tok):
            return Decimal(tok)
        return None

    node = parse_or()
    return node if node is not None and pos[0] == len(toks) else None


# identity-partition types whose directory spelling reads back as the
# collected value (timestamps are written in the session time zone,
# floats at float precision; decimals are left to the aggregation)
_DIR_STAT_TYPES = (ice_t.IntType, ice_t.LongType, ice_t.StringType, ice_t.DateType,
                   ice_t.BooleanType, ice_t.DoubleType)


def _dir_stat_value(raw: str, t: ice_t.Type) -> Any:
    """An identity-partition directory value (Spark's spelling) as the
    value a collected Spark row holds for the column; ValueError for a
    type outside ``_DIR_STAT_TYPES`` or a spelling
    :func:`manifests.parse_value` does not read."""
    if raw == _HIVE_NULL:
        return None
    if not isinstance(t, _DIR_STAT_TYPES):
        raise ValueError(f"no directory-value parse for {t!r}")
    return parse_value(raw, t)


def _partition_may_match(
    pvals: dict[str, str], node, pfields: dict[str, tuple], schema
) -> bool:
    """True unless the file's partition-directory values prove no row can
    satisfy the bound tree ``node``.  This is what makes hidden
    partitioning *hidden*: a predicate on the SOURCE column prunes
    bucket/truncate/temporal partition dirs the column bounds can't (a
    bucket file's source bounds span the whole domain).  ``pfields``:
    name → (transform, source)."""
    kind = node[0]
    if kind == "and":
        return _partition_may_match(pvals, node[1], pfields, schema) and (
            _partition_may_match(pvals, node[2], pfields, schema)
        )
    if kind == "or":
        return _partition_may_match(pvals, node[1], pfields, schema) or (
            _partition_may_match(pvals, node[2], pfields, schema)
        )
    _, col, op, _lit, _key, value = node
    f = schema.field_by_name(col) if schema else None
    if value is None or f is None:
        return True  # IS [NOT] NULL, or no value of the column's type
    for name, (tr, src) in pfields.items():
        if src != col or pvals.get(name, _HIVE_NULL) == _HIVE_NULL:
            continue
        exp = tr.scalar(value, f.field_type)
        if exp is None:
            continue
        try:
            actual = parse_value(pvals[name], _result_type(tr, f.field_type))
        except ValueError:
            continue
        if type(actual) is float:
            # NaN equals NaN and sorts greatest, as Spark SQL compares
            actual, exp = _nan_last(actual), _nan_last(exp)
        try:
            if op == "=" and actual != exp:
                return False
            # order-preserving transforms bound the transformed value:
            # v < L ⇒ T(v) <= T(L), so a dir with T-value above T(L)
            # cannot hold a matching row (mirrored for >)
            if op in ("<", "<=") and tr.preserves_order and not actual <= exp:
                return False
            if op in (">", ">=") and tr.preserves_order and not actual >= exp:
                return False
        except TypeError:
            continue
    return True


def _leaves(node) -> Iterator[tuple]:
    """The comparison leaves of a predicate tree."""
    if node[0] in ("and", "or"):
        yield from _leaves(node[1])
        yield from _leaves(node[2])
    else:
        yield node


def _bind(node, types: dict[str, ice_t.Type]):
    """A parsed tree bound to the table's column ``types`` — once per
    scan or mutation, as Iceberg binds a predicate to its schema.  Every
    leaf becomes ``("cmp", col, op, lit, key, value)``:

    - ``value``: the literal as a value of the column's type, read as
      Spark reads it with ANSI off — a quoted string is cast to the
      column's type (:func:`manifests.parse_value`), an unquoted number
      converts only for a numeric column — or None when it is no such
      value (``a = 9.5`` on an int column);
    - ``lit``: what the stored stat forms compare against, both under
      ``key``, the column type's :func:`manifests.stat_order` (None: as
      stored).  An unquoted number keeps its exact value, so ``a < 9.5``
      compares int bounds against ``Decimal('9.5')``;
    - ``op`` None: a literal Spark reads some way this does not (``'9.5'``
      against an int, which Spark truncates to 9): nothing about the leaf
      is provable and files stay.

    ``col [NOT] IN (…)`` becomes OR of equalities (AND of inequalities);
    Spark compares a quoted literal there to the column's STRING form,
    so on any other column it binds to nothing."""
    kind = node[0]
    if kind in ("and", "or"):
        return (kind, _bind(node[1], types), _bind(node[2], types))
    if kind == "in":
        _, col, neg, vals = node
        t = types.get(col)
        out = None
        for v in vals:
            leaf = (
                ("cmp", col, None, None, None, None)
                if isinstance(v, str) and not isinstance(t, ice_t.StringType)
                else _bind_leaf(col, "!=" if neg else "=", v, t)
            )
            out = leaf if out is None else ("and" if neg else "or", out, leaf)
        return out
    _, col, op, val = node
    return _bind_leaf(col, op, val, types.get(col))


def _bind_leaf(col: str, op: str, val: Any, t: Optional[ice_t.Type]) -> tuple:
    if op in ("isnull", "notnull"):
        return ("cmp", col, op, None, None, None)
    key = stat_order(t)
    try:
        value, lit = _bind_literal(val, t, key)
    except (ValueError, ArithmeticError):
        return ("cmp", col, None, None, None, None)
    return ("cmp", col, op, lit, key, value)


def _bind_literal(val: Any, t: Optional[ice_t.Type], key) -> tuple:
    """(value, lit) of one literal against a column of type ``t`` (see
    :func:`_bind`); ValueError where Spark's comparison is not one the
    stored bounds can decide."""
    if not isinstance(t, STATS_TYPES) or isinstance(
        t, (ice_t.TimestampNanoType, ice_t.TimestampTzNanoType)
    ):
        raise ValueError(f"no literal binding for {t!r}")
    if isinstance(val, str):
        if isinstance(t, ice_t.DecimalType) and t.scale and t.precision > 15:
            # Spark compares such a decimal to a string as DOUBLE, which
            # conflates values an exact comparison keeps apart
            raise ValueError("compared as double")
        value = parse_value(val, t)
        lit = stat_value(value)
        return value, lit if key is None else key(lit)
    if isinstance(t, (ice_t.IntType, ice_t.LongType, ice_t.DecimalType)):
        try:
            value = parse_value(str(val), t)
        except ValueError:
            value = None
        return value, val
    if isinstance(t, (ice_t.FloatType, ice_t.DoubleType)):
        if isinstance(t, ice_t.FloatType) and isinstance(val, int) and abs(val) > 2**24:
            raise ValueError("Spark rounds an int literal to float")
        return float(val), key(float(val))
    raise ValueError(f"Spark casts the {t!r} column to the number's type")


def _seq_scope_touched(
    delete_entry: dict[str, Any],
    data_entries: list[dict[str, Any]],
    schema: ice_t.Schema,
) -> list[dict[str, Any]]:
    """Data entries an equality delete may apply to — the Iceberg spec's
    scan-planning rule (an equality delete applies to data
    files whose data sequence number is STRICTLY below the delete's own;
    the reference's scan stack consumes this form via iceberg-rust,
    ``/root/reference/ext/iceberg/src/scan.rs:41``), narrowed by the
    entry's ``key-bounds`` hint when present.  Conservative on missing
    metadata: a file without a recorded sequence predates seq stamping,
    so the delete applies; a delete not yet committed (no sequence) applies
    to every file its key-bounds allow."""
    scope = _compile_seq_scope(delete_entry, schema)
    return [e for e in data_entries if _seq_scope_applies(scope, e)]


def _equality_delete_entry(
    path: str,
    n: int,
    fields: list,
    spec_id: int,
    stats: dict[str, Any],
) -> dict[str, Any]:
    """The spec entry of ONE equality-delete key file holding ``n`` key
    rows over the key ``fields``.  Its scope is the spec's sequence rule
    (data files with a strictly lower data sequence); the file's
    ``stats`` (lower-bounds / upper-bounds / null-counts, as a data
    entry records them) become the ``key-bounds`` pruning hint for each
    key column with both bounds and no null key."""
    entry = {
        "delete-file": path,
        "deleted-records": n,
        "content": "equality-deletes",
        "equality-ids": [f.field_id for f in fields],
        "equality-cols": [f.name for f in fields],
        "spec-id": spec_id,
    }
    lo, hi = {}, {}
    for f in fields:
        a = stats["lower-bounds"].get(f.name)
        b = stats["upper-bounds"].get(f.name)
        if stats["null-counts"].get(f.name) == 0 and a is not None and b is not None:
            lo[f.name], hi[f.name] = a, b
    if lo:
        entry["key-bounds"] = {"lower": lo, "upper": hi}
    return entry


def _compile_seq_scope(delete_entry: dict[str, Any], schema: ice_t.Schema) -> tuple:
    """Precompiled (own-seq, [(col, key, lower, upper)]) for repeated
    :func:`_seq_scope_applies` checks — planners run one check per
    (delete, file) pair.  The delete's ``key-bounds`` hint ({"lower":
    {col: v}, "upper": {col: v}}, stat forms) is put once in each key
    column's order (:func:`manifests.stat_order`, the column's type from
    ``schema``); a column missing there contributes nothing."""
    own = delete_entry.get("data-sequence-number")
    kb = delete_entry.get("key-bounds") or {}
    klo, khi = kb.get("lower") or {}, kb.get("upper") or {}
    cols = []
    for c in delete_entry.get("equality-cols") or []:
        f = schema.field_by_name(c)
        if f is None or c not in klo or c not in khi:
            continue
        key = stat_order(f.field_type)
        try:
            a, b = (klo[c], khi[c]) if key is None else (key(klo[c]), key(khi[c]))
        except BOUND_ERRORS:
            continue
        cols.append((c, key, a, b))
    return (own, cols)


def _seq_scope_applies(scope: tuple, e: dict[str, Any]) -> bool:
    """One (delete, data file) applicability check under a compiled
    scope: strictly-lower sequence, then key-bounds overlap per bounded
    key column (unknown or incomparable bounds may match)."""
    own, cols = scope
    seqv = e.get("data-sequence-number")
    if own is not None and seqv is not None and int(seqv) >= int(own):
        return False
    if cols:
        flo = e.get("lower-bounds") or {}
        fhi = e.get("upper-bounds") or {}
        for c, key, a, b in cols:
            lo, hi = flo.get(c), fhi.get(c)
            if lo is None or hi is None:
                continue  # unknown bounds: may match on this column
            try:
                if key is not None:
                    lo, hi = key(lo), key(hi)
                if hi < a or lo > b:
                    return False
            except BOUND_ERRORS:
                continue
    return True


def _bounds_may_match(entry: dict[str, Any], node) -> bool:
    """True unless the bounds prove no row of the file can satisfy the
    bound tree ``node`` (:func:`_bind`)."""
    kind = node[0]
    if kind == "and":
        return _bounds_may_match(entry, node[1]) and _bounds_may_match(entry, node[2])
    if kind == "or":
        return _bounds_may_match(entry, node[1]) or _bounds_may_match(entry, node[2])
    _, col, op, lit, key, _value = node
    if op is None:
        return True  # the literal is not provably comparable — keep
    if op in ("isnull", "notnull"):
        nc = (entry.get("null-counts") or {}).get(col)
        rc = entry.get("record-count")
        if nc is None:
            return True  # no null stats recorded — keep the file
        if op == "isnull":
            return nc > 0
        return rc is None or nc < rc
    lo = (entry.get("lower-bounds") or {}).get(col)
    hi = (entry.get("upper-bounds") or {}).get(col)
    if lo is None or hi is None:
        return True
    try:
        if key is not None:
            lo, hi = key(lo), key(hi)
        if op == "=":
            return lo <= lit <= hi
        if op == "<":
            return lo < lit
        if op == "<=":
            return lo <= lit
        if op == ">":
            return hi > lit
        if op == ">=":
            return hi >= lit
        if op == "!=":
            return not (lo == hi == lit)
    except BOUND_ERRORS:
        return True
    return True


def _bounds_all_match(entry: dict[str, Any], node) -> bool:
    """The dual of :func:`_bounds_may_match`: True ONLY when the manifest
    stats PROVE every row of the file satisfies ``node`` (False = not
    provable, not "no row matches").  Soundness under truncate(N) string
    metrics: stored lower ≤ true min and stored upper ≥ true max, so
    every rule here (hi ≤ v ⇒ all ≤ v, lo > v ⇒ all > v, lo = hi = v ⇒
    all = v, v outside [lo, hi] ⇒ none = v) remains valid with
    conservative bounds.  A value comparison is NULL (not true) for a
    NULL row, so any null in the column disproves full-match."""
    kind = node[0]
    if kind == "and":
        return _bounds_all_match(entry, node[1]) and _bounds_all_match(
            entry, node[2]
        )
    if kind == "or":
        return _bounds_all_match(entry, node[1]) or _bounds_all_match(
            entry, node[2]
        )
    _, col, op, lit, key, _value = node
    if op is None:
        return False
    nc = (entry.get("null-counts") or {}).get(col)
    rc = entry.get("record-count")
    if nc is None or rc is None:
        return False
    if op == "isnull":
        return nc == rc
    if op == "notnull":
        return nc == 0
    if nc != 0:
        return False
    lo = (entry.get("lower-bounds") or {}).get(col)
    hi = (entry.get("upper-bounds") or {}).get(col)
    if lo is None or hi is None:
        return False
    try:
        if key is not None:
            lo, hi = key(lo), key(hi)
        if op == "=":
            return lo == lit and hi == lit
        if op == "<":
            return hi < lit
        if op == "<=":
            return hi <= lit
        if op == ">":
            return lo > lit
        if op == ">=":
            return lo >= lit
        if op == "!=":
            return lit < lo or hi < lit
    except BOUND_ERRORS:
        return False
    return False


def _classify_entry(entry: dict[str, Any], trees) -> Optional[bool]:
    """Full-match/full-miss/split classification shared by every
    metadata aggregate route (COUNT/MIN/MAX/group counts): True = every
    row provably satisfies the filters (or there are none), False =
    provably zero rows do, None = the predicate SPLITS the file — not
    provable, the caller must decline to the executed scan."""
    if trees is None:
        return True
    if all(_bounds_all_match(entry, t) for t in trees):
        return True
    if any(not _bounds_may_match(entry, t) for t in trees):
        return False
    return None


def _null_leaf_count(entry: dict[str, Any], trees) -> Optional[int]:
    """Rows of the file matching ``trees`` when they are one bare
    ``col IS [NOT] NULL``: its null count, or its record count minus that;
    None for any other filter or a file without those stats."""
    if len(trees) != 1 or trees[0][0] in ("and", "or"):
        return None
    col, op = trees[0][1], trees[0][2]
    nc = (entry.get("null-counts") or {}).get(col)
    rc = entry.get("record-count")
    if op not in ("isnull", "notnull") or nc is None or rc is None:
        return None
    return nc if op == "isnull" else rc - nc


# --------------------------------------------------------------------------
# UpdateSchema
# --------------------------------------------------------------------------


# widening-only type promotions (Iceberg spec: int→long, float→double,
# decimal precision growth at fixed scale)
def _promotable(old: ice_t.Type, new: ice_t.Type) -> bool:
    if type(old) is type(new) and old == new:
        return True
    if isinstance(old, ice_t.UnknownType):
        # v3 spec: unknown promotes to ANY type (no stored values exist,
        # so every prior row reads back as the new type's null)
        return True
    if isinstance(old, ice_t.IntType) and isinstance(new, ice_t.LongType):
        return True
    if isinstance(old, ice_t.FloatType) and isinstance(new, ice_t.DoubleType):
        return True
    if isinstance(old, ice_t.DecimalType) and isinstance(new, ice_t.DecimalType):
        return new.scale == old.scale and new.precision >= old.precision
    return False


class TableInspect:
    """Metadata tables as DataFrames (the ``table.inspect.*`` surface of
    modern Iceberg clients) — snapshots/history/refs/files/partitions,
    built from table metadata only: no data files are opened, so every
    view is O(manifest) however large the table."""

    def __init__(self, table: "Table"):
        self.table = table

    def _df(self, rows: list[dict[str, Any]], ddl: str) -> DataFrame:
        return self.table.spark.createDataFrame(rows, ddl)  # type: ignore[arg-type]

    def snapshots(self) -> DataFrame:
        rows = [
            {
                "committed_at": s.timestamp_ms,
                "snapshot_id": s.snapshot_id,
                "parent_id": s.parent_snapshot_id,
                "operation": s.operation,
                "manifest_list": s.manifest_list,
                "summary": {k: str(v) for k, v in (s.summary or {}).items()},
            }
            for s in self.table.snapshots
        ]
        return self._df(
            rows,
            "committed_at long, snapshot_id long, parent_id long, "
            "operation string, manifest_list string, summary map<string,string>",
        )

    def history(self) -> DataFrame:
        by_id = {s.snapshot_id: s for s in self.table.snapshots}
        lineage = {
            s.snapshot_id
            for s in ancestors(by_id, by_id.get(self.table.current_snapshot_id))
        }
        rows = [
            {
                "made_current_at": e["timestamp-ms"],
                "snapshot_id": e["snapshot-id"],
                "is_current_ancestor": e["snapshot-id"] in lineage,
            }
            for e in self.table.metadata.snapshot_log
        ]
        return self._df(
            rows, "made_current_at long, snapshot_id long, is_current_ancestor boolean"
        )

    def refs(self) -> DataFrame:
        # column vocabulary matches iceberg-spark's `refs` metadata table,
        # including the per-ref retention fields
        rows = [
            {
                "name": name,
                "type": r.get("type"),
                "snapshot_id": r.get("snapshot-id"),
                "max_reference_age_in_ms": r.get("max-ref-age-ms"),
                "min_snapshots_to_keep": r.get("min-snapshots-to-keep"),
                "max_snapshot_age_in_ms": r.get("max-snapshot-age-ms"),
            }
            for name, r in self.table.refs.items()
        ]
        return self._df(
            rows,
            "name string, type string, snapshot_id long, "
            "max_reference_age_in_ms long, min_snapshots_to_keep int, "
            "max_snapshot_age_in_ms long",
        )

    def manifests(self) -> DataFrame:
        """One row per spec Avro manifest of the current snapshot (path,
        length, entry counts, partition-spec id) — read from the manifest
        list's ``manifest_file`` records only, like iceberg-spark's
        `manifests` metadata table.  Counts absent from an externally
        written list (other writers name them differently) are null."""
        rows = [
            {
                "path": m["manifest_path"],
                "length": m["manifest_length"],
                "partition_spec_id": m["partition_spec_id"],
                "content": m.get("content", 0),
                "added_data_files_count": m.get("added_files_count"),
                "existing_data_files_count": m.get("existing_files_count"),
                "deleted_data_files_count": m.get("deleted_files_count"),
            }
            for m in self.table._current_manifest_descriptors()
        ]
        return self._df(
            rows,
            "path string, length long, partition_spec_id int, content int, "
            "added_data_files_count int, existing_data_files_count int, "
            "deleted_data_files_count int",
        )

    def files(self) -> DataFrame:
        entries = self.table._current_entries()
        rows = [
            {
                "file_path": e["path"],
                "record_count": e.get("record-count"),
                "file_size_in_bytes": e.get("file-size-bytes"),
                "schema_id": e.get("schema-id"),
                "lower_bounds": {
                    k: str(v) for k, v in (e.get("lower-bounds") or {}).items()
                },
                "upper_bounds": {
                    k: str(v) for k, v in (e.get("upper-bounds") or {}).items()
                },
            }
            for e in entries
            if "path" in e
        ]
        return self._df(
            rows,
            "file_path string, record_count long, file_size_in_bytes long, "
            "schema_id int, lower_bounds map<string,string>, "
            "upper_bounds map<string,string>",
        )

    def delete_entries(self) -> DataFrame:
        entries = self.table._current_entries()
        rows = []
        for e in entries:
            if "delete-file" in e:
                rows.append(
                    {
                        "kind": e.get("content") or "position-deletes",
                        "detail": e["delete-file"],
                        # equality deletes name no file list — their scope
                        # is "every data file with lower sequence"
                        "scope_files": (
                            None
                            if e.get("content") == "equality-deletes"
                            else len(e.get("applies-to") or [])
                        ),
                    }
                )
        return self._df(rows, "kind string, detail string, scope_files int")

    def partitions(self) -> DataFrame:
        """(partition, record_count, file_count) from manifest stats and
        the files' name=value directory segments — no data scan."""
        agg: dict[tuple, list[int]] = {}
        for e in self.table._current_entries():
            if "path" not in e:
                continue
            pvals = dir_partition_values(e["path"])
            key = tuple(sorted(pvals.items()))
            a = agg.setdefault(key, [0, 0])
            a[0] += e.get("record-count") or 0
            a[1] += 1
        rows = [
            {"partition": dict(k), "record_count": rc, "file_count": fc}
            for k, (rc, fc) in agg.items()
        ]
        return self._df(
            rows, "partition map<string,string>, record_count long, file_count long"
        )

    def entries(self) -> DataFrame:
        """One row per manifest entry of the current snapshot, like
        iceberg-spark's ``entries`` metadata table: ``status`` (1 = added
        by the current commit, 0 = carried forward), the snapshot that
        added the entry (reconstructed from the entry's data sequence
        number — fast appends carry entries verbatim, so the sequence
        identifies the committing ancestor), content code (0 data,
        1 position deletes / deletion vectors, 2 equality deletes) and
        file-level stats.  Metadata-only — no data file is opened."""
        return self._df(
            self._entries_rows(self.table.current_snapshot()),
            "status int, snapshot_id long, sequence_number long, content int, "
            "file_path string, record_count long, file_size_in_bytes long",
        )

    def _entries_rows(self, snap) -> list:
        """entries() rows evaluated AT a given snapshot (status / adder
        relative to it) — shared by ``entries`` and ``all_entries``."""
        cur_seq = snap.sequence_number if snap else 0
        seq_to_snap = {
            s.sequence_number: s.snapshot_id for s in self.table.snapshots
        }
        rows = []
        if snap is None:
            return rows
        for e in self.table.ops.read_manifest(snap.manifest_list):
            seq = e.get("data-sequence-number")
            if "path" in e:
                content, fpath = 0, e["path"]
                rec, size = e.get("record-count"), e.get("file-size-bytes")
            else:
                content = 2 if e.get("content") == "equality-deletes" else 1
                fpath = e["delete-file"]
                rec, size = e.get("deleted-records"), None
            seq = cur_seq if seq is None else seq
            rows.append(
                {
                    "status": 1 if seq == cur_seq else 0,
                    "snapshot_id": seq_to_snap.get(
                        seq, snap.snapshot_id if snap else None
                    ),
                    "sequence_number": seq,
                    "content": content,
                    "file_path": fpath,
                    "record_count": rec,
                    "file_size_in_bytes": size,
                }
            )
        return rows

    _ENTRY_SCHEMA = (
        "status int, snapshot_id long, sequence_number long, content int, "
        "file_path string, record_count long, file_size_in_bytes long"
    )

    def all_entries(self) -> DataFrame:
        """``entries`` evaluated at EVERY valid snapshot, each row tagged
        with ``ref_snapshot_id`` (the snapshot whose manifest list
        produced it) — iceberg-spark's ``all_entries``.  An entry carried
        across N snapshots appears N times, once per referencing
        snapshot, with status/adder relative to that snapshot.
        Metadata-only."""
        rows = []
        for s in self.table.snapshots:
            for r in self._entries_rows(s):
                rows.append({**r, "ref_snapshot_id": s.snapshot_id})
        return self._df(rows, self._ENTRY_SCHEMA + ", ref_snapshot_id long")

    def data_files(self) -> DataFrame:
        """Current snapshot's data files only (``content = 0``) — the
        iceberg-spark ``data_files`` split of ``entries``."""
        return self.entries().filter("content = 0")

    def delete_files(self) -> DataFrame:
        """Current snapshot's delete entries (positional / DV / equality,
        ``content != 0``) — the iceberg-spark ``delete_files`` split."""
        return self.entries().filter("content != 0")

    def all_files(self) -> DataFrame:
        """Every file referenced by ANY valid snapshot, one row per
        distinct (content, file_path) — iceberg-spark's ``all_files``
        (here deduplicated: reachability, not per-snapshot repetition,
        which ``all_entries`` provides).  The file census maintenance
        jobs diff against the object store."""
        seen = set()
        rows = []
        for s in self.table.snapshots:
            for r in self._entries_rows(s):
                key = (r["content"], r["file_path"])
                if r["file_path"] is None or key in seen:
                    continue
                seen.add(key)
                rows.append(
                    {
                        "content": r["content"],
                        "file_path": r["file_path"],
                        "record_count": r["record_count"],
                        "file_size_in_bytes": r["file_size_in_bytes"],
                    }
                )
        return self._df(
            rows,
            "content int, file_path string, record_count long, "
            "file_size_in_bytes long",
        )

    def all_data_files(self) -> DataFrame:
        return self.all_files().filter("content = 0")

    def all_delete_files(self) -> DataFrame:
        return self.all_files().filter("content != 0")

    def all_manifests(self) -> DataFrame:
        """Manifest-list descriptors of every valid snapshot, tagged with
        ``reference_snapshot_id`` — iceberg-spark's ``all_manifests``.
        Only manifest LISTS are read (one small file per snapshot)."""
        rows = []
        for s in self.table.snapshots:
            for m in self.table._current_manifest_descriptors(s):
                rows.append(
                    {
                        "path": m.get("manifest_path"),
                        "length": m.get("manifest_length"),
                        "partition_spec_id": m.get("partition_spec_id"),
                        "content": m.get("content"),
                        "existing_data_files_count": m.get(
                            "existing_files_count"
                        ),
                        "deleted_data_files_count": m.get(
                            "deleted_files_count"
                        ),
                        "reference_snapshot_id": s.snapshot_id,
                    }
                )
        return self._df(
            rows,
            "path string, length long, partition_spec_id int, content int, "
            "existing_data_files_count int, deleted_data_files_count int, "
            "reference_snapshot_id long",
        )

    def metadata_log_entries(self) -> DataFrame:
        """The table's metadata-file lineage (iceberg-spark's
        ``metadata_log_entries``): every previous metadata document plus
        the current one, each annotated with the snapshot/schema/sequence
        state it recorded.  Documents trimmed by
        ``write.metadata.delete-after-commit.enabled`` keep their log row
        with null state columns (the pointer outlives the file)."""
        meta = self.table.metadata
        log = list(meta.metadata_log) + [
            {
                "metadata-file": meta.metadata_file,
                "timestamp-ms": meta.raw.get("last-updated-ms"),
            }
        ]
        rows = []
        for ent in log:
            row = {
                "timestamp": ent.get("timestamp-ms"),
                "file": ent.get("metadata-file"),
                "latest_snapshot_id": None,
                "latest_schema_id": None,
                "latest_sequence_number": None,
            }
            try:
                raw = json.loads(self.table.ops.io.read(ent["metadata-file"]))
                row["latest_snapshot_id"] = raw.get("current-snapshot-id")
                row["latest_schema_id"] = raw.get("current-schema-id")
                row["latest_sequence_number"] = raw.get("last-sequence-number")
            except Exception:
                pass  # trimmed or remote-only document: pointer row survives
            rows.append(row)
        return self._df(
            rows,
            "timestamp long, file string, latest_snapshot_id long, "
            "latest_schema_id int, latest_sequence_number long",
        )

    def position_deletes(self) -> DataFrame:
        """The current snapshot's positional deletes as rows — Iceberg's
        ``position_deletes`` metadata table: (file_path, pos,
        delete_file_path) from spec positional delete FILES (read
        distributed, tagged by input file) and v3 deletion vectors
        (each blob decoded from its ranged Puffin slice — deleted-rows-
        sized, the same posture as the scan path)."""
        import pyspark.sql.types as T

        t = self.table
        schema = T.StructType(
            [
                T.StructField("file_path", T.StringType()),
                T.StructField("pos", T.LongType()),
                T.StructField("delete_file_path", T.StringType()),
            ]
        )
        dfiles = [e for e in t._current_entries() if "delete-file" in e]
        pos_files = [
            e
            for e in dfiles
            if e.get("content") not in ("equality-deletes", "deletion-vector")
        ]
        dv_files = [e for e in dfiles if e.get("content") == "deletion-vector"]
        parts = []
        if pos_files:
            parts.append(
                _read_files(
                    t.spark,
                    [t.ops._abs(e["delete-file"]) for e in pos_files],
                    _POS_DELETE_FIELDS,
                ).select(
                    "file_path", "pos", F.input_file_name().alias("delete_file_path")
                )
            )
        if dv_files:
            from iceberg_ruby_spark.deletion_vectors import decode_dv_blob

            blob_cache: dict[str, bytes] = {}
            dv_rows = []
            for e in dv_files:
                p = t.ops._abs(e["delete-file"])
                if p not in blob_cache:
                    blob_cache[p] = t.ops.io.read_bytes(p)
                payload = blob_cache[p][
                    e["content-offset"] : e["content-offset"] + e["content-size"]
                ]
                ref = t.ops._abs(e["referenced-data-file"])
                dv_rows.extend((ref, pos, p) for pos in decode_dv_blob(payload))
            parts.append(small_local_df(t.spark, dv_rows, schema))
        if not parts:
            return t.spark.createDataFrame([], schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out


class UpdateSchema:
    """Collects add/drop/rename/widen operations and commits them as ONE new
    schema version.  Ops are validated and applied against the metadata
    re-read inside the optimistic-commit retry loop, so concurrent evolution
    attempts serialize cleanly."""

    def __init__(self, table: Table):
        self.table = table
        self._ops: list[tuple] = []

    def add_column(
        self,
        name: str,
        field_type: Any,
        doc: Optional[str] = None,
        default: Any = None,
    ) -> "UpdateSchema":
        """Add an optional column.  ``default`` (Iceberg v3 default values)
        sets BOTH ``initial-default`` (what pre-existing rows read back —
        no file rewrite) and ``write-default`` (what writers fill when the
        column is omitted), the spec's add-column-with-default semantics."""
        self._ops.append(("add", name, field_type, doc, default))
        return self

    def drop_column(self, name: str) -> "UpdateSchema":
        self._ops.append(("drop", name))
        return self

    def rename_column(self, name: str, new_name: str) -> "UpdateSchema":
        self._ops.append(("rename", name, new_name))
        return self

    def update_column(self, name: str, field_type: Any) -> "UpdateSchema":
        """Widen a column's type (int→long, float→double, decimal precision)."""
        self._ops.append(("widen", name, field_type))
        return self

    def set_identifier_fields(self, *names: str) -> "UpdateSchema":
        """Declare the schema's row-identifier (logical primary key)
        fields — Iceberg's ``identifier-field-ids``.  Downstream,
        :meth:`Table.upsert` and ``apply_changelog`` default their keys
        from this.  Iceberg's rules are enforced: identifier fields must
        be primitive and non-floating-point; optional fields are promoted
        to required ONLY after the manifest null-counts (or, where a file
        lacks the stat, a real scan) prove no existing nulls — the spec
        forbids nullable identifiers, and a blind flip would lie about
        existing data.  Pass no names to clear."""
        self._ops.append(("identify", list(names)))
        return self

    def __enter__(self) -> "UpdateSchema":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is None:
            self.commit()

    def _prove_no_nulls(self, name: str) -> None:
        """Promoting optional→required for an identifier field is legal
        only if no existing row is null.  Manifest null-counts prove it
        without touching data when every file carries the stat; otherwise
        one exact scan (MoR-delete-aware) decides."""
        entries = [e for e in self.table._current_entries() if "path" in e]
        if not entries:
            return
        counts = [e.get("null-counts", {}).get(name) for e in entries]
        if all(c is not None for c in counts) and sum(counts) == 0:
            return
        df = self.table.scan().select(name).to_df()
        if df.filter(F.col(name).isNull()).limit(1).count():
            raise InvalidDataError(
                f"cannot use {name} as an identifier field: existing rows "
                "contain nulls and identifier fields must be required"
            )

    def commit(self) -> Table:
        if not self._ops:
            return self.table
        # identifier promotion needs a data-level null proof — run it once
        # before the optimistic loop (metadata-only retries must not
        # rescan).  Names resolve THROUGH the batch's earlier ops: a
        # renamed column proves against its current-schema name (that's
        # where today's data lives), and a column ADDED in this batch has
        # no stored values at all — with rows in the table it may only
        # become an identifier if its add carries a non-null default
        # (initial-default backfills the existing rows).
        for i, op in enumerate(self._ops):
            if op[0] != "identify":
                continue
            origin: dict[str, tuple] = {
                f.name: ("existing", f)
                for f in self.table.current_schema().fields
            }
            for prior in self._ops[:i]:
                if prior[0] == "add":
                    origin[prior[1]] = ("added", prior[4])
                elif prior[0] == "rename" and prior[1] in origin:
                    origin[prior[2]] = origin.pop(prior[1])
                elif prior[0] == "drop":
                    origin.pop(prior[1], None)
            has_rows = any(
                (e.get("record-count") or 0) > 0
                for e in self.table._current_entries()
                if "path" in e
            )
            for n in op[1]:
                kind, info = origin.get(n, (None, None))
                if kind == "existing" and not info.required:
                    self._prove_no_nulls(info.name)
                elif kind == "added" and has_rows and info is None:
                    raise InvalidDataError(
                        f"cannot use {n} as an identifier field: the column "
                        "is added in this change without a default, so every "
                        "existing row would hold null — give the add_column "
                        "a non-null default"
                    )
        from iceberg_ruby_spark.table_definition import parse_type

        # partition/sort sources cannot be dropped or renamed out from under
        # their specs
        spec = self.table.default_partition_spec() or {}
        order = self.table.default_sort_order() or {}
        pinned = {pf["source"] for pf in spec.get("fields", [])} | {
            sf["source"] for sf in order.get("fields", [])
        }

        def mutate(raw: dict[str, Any]) -> None:
            schemas_json = raw.get("schemas", [])
            cur = None
            for sj in schemas_json:
                if sj.get("schema-id") == raw.get("current-schema-id"):
                    cur = _schema_from_json(sj)
            if cur is None:
                raise InvalidDataError("current schema not found in metadata")
            fields = list(cur.fields)
            next_id = raw.get("last-column-id", cur.highest_field_id)

            def idx(name: str) -> int:
                for i, f in enumerate(fields):
                    if f.name == name:
                        return i
                raise InvalidDataError(f"no such column: {name}")

            for op in self._ops:
                if op[0] == "add":
                    _, name, ftype, doc, default = op
                    if any(f.name == name for f in fields):
                        raise InvalidDataError(f"column already exists: {name}")
                    next_id += 1
                    t = ftype if isinstance(ftype, ice_t.Type) else parse_type(str(ftype))
                    nf = ice_t.NestedField(
                        next_id, name, t, required=False, doc=doc,
                        initial_default=default, write_default=default,
                    )
                    # same v3/nesting gates as create (shared validator)
                    ice_t.validate_field_types(
                        [nf], int(raw.get("format-version", 2))
                    )
                    fields.append(nf)
                elif op[0] == "drop":
                    _, name = op
                    if name in pinned:
                        raise InvalidDataError(
                            f"column {name} is pinned by a partition/sort spec; "
                            "evolve the spec first"
                        )
                    f = fields[idx(name)]
                    if f.field_id in cur.identifier_field_ids and not any(
                        o[0] == "identify" for o in self._ops
                    ):
                        raise InvalidDataError(
                            f"column {name} is an identifier field; "
                            "set_identifier_fields() to a new key first"
                        )
                    fields.pop(idx(name))
                elif op[0] == "rename":
                    _, name, new_name = op
                    if name in pinned:
                        raise InvalidDataError(
                            f"column {name} is pinned by a partition/sort spec; "
                            "evolve the spec first"
                        )
                    if any(f.name == new_name for f in fields):
                        raise InvalidDataError(f"column already exists: {new_name}")
                    i = idx(name)
                    f = fields[i]
                    fields[i] = ice_t.NestedField(
                        f.field_id, new_name, f.field_type, f.required, f.doc,
                        f.initial_default, f.write_default,
                    )
                elif op[0] == "widen":
                    _, name, ftype = op
                    t = ftype if isinstance(ftype, ice_t.Type) else parse_type(str(ftype))
                    i = idx(name)
                    f = fields[i]
                    if not _promotable(f.field_type, t):
                        raise InvalidDataError(
                            f"cannot change {name} from {f.field_type.name} to "
                            f"{t.name}: only widening promotions are allowed"
                        )
                    nf = ice_t.NestedField(
                        f.field_id, f.name, t, f.required, f.doc,
                        f.initial_default, f.write_default,
                    )
                    # the unknown->any promotion must not smuggle a
                    # v3-only or nested-unknown target into the schema
                    if t != f.field_type:
                        ice_t.validate_field_types(
                            [nf], int(raw.get("format-version", 2))
                        )
                    fields[i] = nf
                elif op[0] == "identify":
                    _, names = op
                    new_ids = []
                    for n in names:
                        f = fields[idx(n)]
                        if isinstance(
                            f.field_type,
                            (
                                ice_t.StructType,
                                ice_t.ListType,
                                ice_t.MapType,
                                ice_t.VariantType,
                                ice_t.UnknownType,
                            ),
                        ):
                            raise InvalidDataError(
                                f"identifier field {n} must be a primitive type"
                            )
                        if isinstance(
                            f.field_type, (ice_t.FloatType, ice_t.DoubleType)
                        ):
                            raise InvalidDataError(
                                f"identifier field {n} cannot be float/double "
                                "(Iceberg forbids approximate-equality keys)"
                            )
                        if not f.required:
                            # null-proved before the commit loop
                            i = idx(n)
                            fields[i] = ice_t.NestedField(
                                f.field_id, f.name, f.field_type, True, f.doc,
                                f.initial_default, f.write_default,
                            )
                        new_ids.append(f.field_id)
                    identifier_ids = new_ids
            if not any(op[0] == "identify" for op in self._ops):
                # identifiers carry forward by ID (rename-stable); a drop
                # of an identifier field was refused above
                identifier_ids = cur.identifier_field_ids
            new_schema_id = max((sj.get("schema-id", 0) for sj in schemas_json), default=0) + 1
            new_schema = ice_t.Schema(
                fields=fields,
                schema_id=new_schema_id,
                identifier_field_ids=identifier_ids,
            )
            raw["schemas"] = schemas_json + [_schema_to_json(new_schema)]
            raw["current-schema-id"] = new_schema_id
            raw["last-column-id"] = max(next_id, new_schema.highest_field_id)

        self.table._metadata_update(mutate)
        self._ops = []
        return self.table


# --------------------------------------------------------------------------
# TableScan
# --------------------------------------------------------------------------


class TableScan:
    """Snapshot-pinned scan (reference ``lib/iceberg/table_scan.rb``).

    Unlike the reference binding — which exposes *no* filter or projection
    builder (``ext/iceberg/src/table.rs:52-60``) — ``select``/``filter``
    compose here and push down into the Parquet scan via Catalyst."""

    def __init__(self, table: Table, snapshot_id: Optional[int] = None):
        self.table = table
        self._snapshot_id = snapshot_id
        self._selects: list[str] = []
        self._filters: list[Any] = []
        self._limit: Optional[int] = None
        self._row_lineage = False
        self._metadata_columns = False

    def with_metadata_columns(self) -> "TableScan":
        """Append Iceberg's reserved metadata columns ``_file`` (data file
        path) and ``_pos`` (row position in the file) to the scan output —
        the coordinates positional deletes / deletion vectors address, so
        external tooling can build delete artifacts from a query."""
        self._metadata_columns = True
        return self

    def with_row_lineage(self) -> "TableScan":
        """Append Iceberg v3 row-lineage columns to the scan output:
        ``_row_id`` (the file's committed ``first-row-id`` + the row's
        position in the file, or the file's materialized reserved column
        when a rewrite embedded it) and ``_last_updated_sequence_number``
        (the file's data sequence number, ditto).  Row ids are stable
        across appends, merge-on-read deletes, compaction, AND
        copy-on-write DELETE/UPDATE — every rewriting operation
        materializes the lineage columns into its output files exactly as
        spec v3 prescribes.  UPDATE writes a NULL sequence cell for the
        rows it changes, so they inherit the rewrite commit's sequence
        number (v3's "updated rows bump, untouched rows keep")."""
        self._row_lineage = True
        return self

    def snapshot(self) -> Optional[Snapshot]:
        if self._snapshot_id is not None:
            snap = self.table.snapshot_by_id(self._snapshot_id)
            if snap is None:
                raise InvalidDataError(f"no snapshot with id {self._snapshot_id}")
            return snap
        return self.table.current_snapshot()

    def select(self, *cols: str) -> "TableScan":
        self._selects.extend(cols)
        return self

    def filter(self, condition: Any) -> "TableScan":
        self._filters.append(condition)
        return self

    def limit(self, n: int) -> "TableScan":
        self._limit = n
        return self

    def count(self, col: Optional[str] = None) -> int:
        """Row count.  With no filters this is a pure metadata answer —
        the sum of manifest record counts, zero data files opened (what a
        100 TB ``SELECT COUNT(*)`` should cost).  Deletion-vector entries
        SUBTRACT exactly: spec v3 allows at most one DV per data file
        (replacement merges the prior positions), its recorded cardinality
        is the file's dead-row count, and DV entries are dropped with
        their file on rewrite — so ``sum(record-count) − sum(dv
        cardinality)`` is exact, never an estimate.  Equality and
        positional deletes have no such disjointness guarantee and fall
        back to executing the scan.

        ``count(col)`` is SQL ``COUNT(col)`` — non-NULL rows only.  It
        answers from metadata as ``Σ(record-count − null-count)`` when
        every file records a null count for the column and NO deletes are
        outstanding (a DV kills rows without saying whether they were
        NULL, so even exact DV cardinalities can't adjust a per-column
        count); otherwise the scan executes.

        **Filtered COUNT (r11/r12)**: ``WHERE p`` also answers from
        metadata when the manifest stats prove EVERY file either
        fully-matches p (:func:`_bounds_all_match` — every row provably
        satisfies it, zero nulls in the compared columns) or fully-misses
        it (:func:`_bounds_may_match` false) — the partition-aligned
        shape (``WHERE day = X`` against day-partitioned files).  One
        file the predicate SPLITS demotes the whole answer to the scan,
        except under a bare ``col IS [NOT] NULL`` with no delete
        outstanding, which counts each file from its null count;
        float/double predicates are excluded (NaN breaks bound
        reasoning).  r12: a deletion vector no longer demotes filtered
        COUNT(*) — its dead rows live entirely in its referenced file, so
        it subtracts its exact cardinality when that file full-matches
        and nothing when it full-misses (a split referenced file, a
        non-DV delete, or COUNT(col) still demote).

        All metadata reasoning lives in :meth:`metadata_aggs`; this method
        is the single-item wrapper plus the executed-scan fallback."""
        snap = self.snapshot()
        if snap is None:
            return 0
        if col is not None and self.table.current_schema().field_by_name(col) is None:
            raise InvalidDataError(f"no column {col!r}")
        vals = self.metadata_aggs([("COUNT", col)])
        if vals is not None:
            return vals[0]
        df = self.to_df()
        n = (
            df.count()
            if col is None
            else int(df.agg(F.count(F.col(col)).alias("n")).first()["n"])
        )
        return min(n, self._limit) if self._limit is not None else n

    def _filter_trees(self) -> tuple[list, bool]:
        """The scan's filters parsed and bound to the table's columns
        (:func:`_bind`) — the one parse every planner reads: (the bound
        trees of the filters that parse, whether every filter did).  A
        filter outside the parser's shape prunes nothing."""
        if not self._filters:
            return [], True
        trees = [t for t in self.table._bind_filters(self._filters) if t is not None]
        return trees, len(trees) == len(self._filters)

    def _provable_filter_trees(self) -> Optional[list]:
        """The scan's bound filter trees, or None when a filter is outside
        the provable shape (unparseable, on a shredded variant path, or
        comparing a float/double column — bounds from outside writers
        leave NaN out, so they prove nothing in either direction)."""
        trees, every = self._filter_trees()
        if not every:
            return None
        schema = self.table.current_schema()
        for leaf in (x for t in trees for x in _leaves(t)):
            field = schema.field_by_name(leaf[1])
            if field is None or isinstance(
                field.field_type, (ice_t.FloatType, ice_t.DoubleType)
            ):
                return None
        return trees

    # sentinel: "this item is NOT answerable from metadata" — distinct
    # from None, which is a legitimate aggregate value (all-NULL MIN)
    _UNPROVABLE = object()

    def metadata_aggs(
        self, specs: list[tuple[str, Optional[str]]]
    ) -> Optional[list]:
        """All-or-nothing metadata answers for a ``[(fn, col)]`` spec list
        (fn ∈ COUNT/MIN/MAX, col None = COUNT(*)) — ONE manifest-list
        read shared across every item (r12, VERDICT r11 #2; Iceberg-
        Spark's SupportsPushDownAggregates is likewise all-or-nothing).
        Returns the value list when EVERY item is provable from manifest
        stats alone, else None — the caller then runs ONE generic scan
        for the whole statement instead of one fallback scan per item."""
        if self._limit is not None:
            return None
        snap = self.snapshot()
        if snap is None:
            return [0 if fn == "COUNT" else None for fn, _ in specs]
        trees = None
        if self._filters:
            trees = self._provable_filter_trees()
            if trees is None:
                return None
        # manifest pruning: manifests whose stored summary proves every
        # file full-misses the filter never open — filtered metadata
        # planning scales with MATCHING manifests, not table history
        entries, _ = self.table.ops.read_manifest_filtered(
            snap.manifest_list, trees
        )
        data, mor = Table._split_entries(entries)
        vals = []
        for fn, c in specs:
            if fn == "COUNT":
                v = self._meta_count(data, mor, trees, c)
            else:
                v = self._meta_bound(data, mor, trees, c, lo=(fn == "MIN"))
            if v is TableScan._UNPROVABLE:
                return None
            vals.append(v)
        return vals

    def _dv_refs(self, mor) -> Optional[list]:
        """One absolute referenced-data-file path per MoR entry, or None
        when any entry is not a cardinality-bearing deletion vector or a
        reference repeats (over-subtraction hazard) — the shared guard of
        every DV-exact metadata aggregate."""
        if not all(
            e.get("content") == "deletion-vector"
            and e.get("deleted-records") is not None
            for e in mor
        ):
            return None
        refs = [
            self.table.ops._abs(
                os.path.join(e["base-location"], e["referenced-data-file"])
                if e.get("base-location")
                else e["referenced-data-file"]
            )
            for e in mor
        ]
        if len(refs) != len(set(refs)):
            return None
        return refs

    def _meta_count(self, data, mor, trees, col):
        """COUNT from pre-read manifest entries, or ``_UNPROVABLE``.
        ``trees`` None = unfiltered; see :meth:`count` for the proof
        obligations (DV-exactness, full-match/full-miss classification,
        the COUNT(col) null-count requirement).  Stats are demanded only
        of files that CONTRIBUTE — a stats-less file the filter provably
        excludes cannot demote the answer (r12 review)."""
        U = TableScan._UNPROVABLE
        if col is not None:
            if mor:
                return U  # a delete kills rows without recording NULL-ness
            total = 0
            for e in data:
                m = _classify_entry(e, trees)
                if m is None:
                    return U  # the predicate splits this file
                if not m:
                    continue  # provably zero matching rows
                rc = e.get("record-count")
                nc = (e.get("null-counts") or {}).get(col)
                if "path" not in e or rc is None or nc is None:
                    return U
                total += rc - nc
            return total
        # COUNT(*): only deletion vectors have the exactness guarantee
        refs = self._dv_refs(mor) if mor else []
        if refs is None:
            return U
        matched: dict[str, bool] = {}  # abs data path → counted?
        total = 0
        for e in data:
            m = _classify_entry(e, trees)
            if m is None:
                # the predicate splits this file: exact only for a bare
                # IS [NOT] NULL with no delete outstanding
                n = None if mor else _null_leaf_count(e, trees)
                if n is None:
                    return U
                total += n
                continue
            matched[self.table.ops._abs(e["path"])] = m
            if m:
                rc = e.get("record-count")
                if rc is None:
                    return U
                total += rc
        if refs:
            # soundness guard: every DV must reference a live data file
            if not set(refs) <= set(matched):
                return U
            # a DV's dead rows live entirely in its referenced file: they
            # were all counted iff that file full-matched (r12)
            total -= sum(
                e["deleted-records"] for e, r in zip(mor, refs) if matched[r]
            )
        return total

    # bound-exact types for metadata min/max (exactly these classes, not
    # the nanosecond subclasses): float/double excluded (NaN sorts above
    # +inf in Iceberg bounds but is MAX in SQL — and bounds never witness
    # NaN), strings excluded (truncate(16) metrics make the upper bound a
    # bumped prefix, not a value from the file)
    _BOUND_EXACT_TYPES = (ice_t.IntType, ice_t.LongType, ice_t.DateType,
                          ice_t.TimestampType, ice_t.DecimalType)

    def _meta_bound(self, data, mor, trees, col, lo):
        """MIN/MAX from pre-read manifest entries, or ``_UNPROVABLE``.
        Exact only when: the column is int/long/date/timestamp/decimal,
        no merge-on-read delete is outstanding (any delete may kill the
        extreme row), and every data file either records a bound or is
        provably all-NULL.  Filtered (trees non-None): a full-match
        file's every row satisfies p so its own bound is eligible, a
        full-miss file contributes nothing, one split file demotes."""
        U = TableScan._UNPROVABLE
        field = self.table.current_schema().field_by_name(col)
        if field is None or type(field.field_type) not in self._BOUND_EXACT_TYPES:
            return U
        if mor:
            return U
        vals = []
        for e in data:
            m = _classify_entry(e, trees)
            if m is None:
                return U  # the predicate splits this file
            if not m:
                continue  # no row matches — contributes nothing
            b = (e.get("lower-bounds" if lo else "upper-bounds") or {}).get(col)
            if b is not None:
                vals.append(b)
                continue
            # no bound: exact only if the file is provably all-NULL
            nc = (e.get("null-counts") or {}).get(col)
            if nc is None or nc != e.get("record-count"):
                return U
        if not vals:
            return None  # every eligible row NULL (SQL: aggregate is NULL)
        t = field.field_type
        key = stat_order(t)
        try:
            b = min(vals, key=key) if lo else max(vals, key=key)
            return parse_value(b, t) if isinstance(b, str) else b
        except BOUND_ERRORS:
            return U

    def min(self, col: str) -> Any:
        """MIN(col), from manifest bounds when that is provably exact
        (Iceberg-Spark's aggregate pushdown) — see :meth:`_meta_bound`
        for the exactness conditions.  Falls back to the scan otherwise.
        SQL semantics: NULLs ignored; all-NULL → None."""
        return self._agg_one("MIN", col)

    def max(self, col: str) -> Any:
        """MAX(col) — see :meth:`min` for the exactness conditions."""
        return self._agg_one("MAX", col)

    def _agg_one(self, fn: str, col: str) -> Any:
        if self.snapshot() is None:
            return None
        if self.table.current_schema().field_by_name(col) is None:
            raise InvalidDataError(f"no column {col!r}")
        vals = self.metadata_aggs([(fn, col)])
        if vals is not None:
            return vals[0]
        row = self.to_df().agg(
            (F.min(col) if fn == "MIN" else F.max(col)).alias("v")
        ).first()
        return row["v"]

    # group-count types: _BOUND_EXACT_TYPES plus string — a stored
    # lo == hi under truncate(N) metrics PROVES min == max (the upper
    # bound of a longer-than-N max is prefix-BUMPED, so it can only equal
    # the lower bound when the value is its own untruncated form)
    _GROUP_EXACT_TYPES = (*_BOUND_EXACT_TYPES, ice_t.StringType)

    def metadata_group_counts(
        self, col: str
    ) -> Optional[list[tuple[Any, int]]]:
        """``SELECT col, COUNT(*) … GROUP BY col`` from manifest stats
        alone — the partition-histogram statement; the single-agg wrapper
        over :meth:`metadata_group_aggs`."""
        rows = self.metadata_group_aggs(col, [("COUNT", None)])
        if rows is None:
            return None
        return [(r[0], r[1]) for r in rows]

    def metadata_group_aggs(
        self, col: str, specs: list[tuple[str, Optional[str]]]
    ) -> Optional[list[tuple]]:
        """``SELECT col, <aggs> … GROUP BY col`` from manifest stats alone
        — the partitions-metadata-table rollup shape (r13, VERDICT r12
        #4), zero data files opened.  ``specs`` is a ``[(fn, arg)]`` list,
        fn ∈ COUNT/MIN/MAX, arg None = COUNT(*).

        Group-column proof as before (every contributing file
        SINGLE-VALUED on ``col``: lower == upper, an identity-partitioned
        table by construction; all-NULL files feed the NULL group; a
        null-split file splits by its null count).  Column aggregates add:

        - COUNT(x)/MIN(x)/MAX(x) need every contributing file
          SINGLE-GROUP (zero nulls or all nulls in ``col``) — a
          null-split file's x-stats span two groups and can't be
          attributed — and NO merge-on-read entry outstanding (a delete
          may kill the extreme row / change x's null census);
        - MIN/MAX: bound-exact type (int/long/date/timestamp/decimal)
          and per contributing file a recorded bound or a provable
          all-NULL on x (:meth:`_meta_bound`'s rule, per group);
        - COUNT(x): x's null count recorded per contributing file.

        COUNT(*)-only statements keep the DV-exact subtraction.  Filters
        classify files full-match/full-miss; anything unprovable returns
        None and the caller runs ONE generic scan (all-or-nothing).
        Rows sort NULL-first; groups whose COUNT(*) reaches zero drop."""
        if self._limit is not None:
            return None
        schema = self.table.current_schema()
        field = schema.field_by_name(col)
        if field is None or type(field.field_type) not in self._GROUP_EXACT_TYPES:
            return None
        agg_fields = {}
        for fn, c in specs:
            if fn == "COUNT":
                if c is not None and schema.field_by_name(c) is None:
                    return None
            elif fn in ("MIN", "MAX"):
                f2 = schema.field_by_name(c) if c is not None else None
                if f2 is None or type(f2.field_type) not in self._BOUND_EXACT_TYPES:
                    return None
                agg_fields[c] = f2
            else:
                return None
        needs_single_group = any(c is not None for _fn, c in specs)
        snap = self.snapshot()
        if snap is None:
            return []
        trees = None
        if self._filters:
            trees = self._provable_filter_trees()
            if trees is None:
                return None
        entries, _ = self.table.ops.read_manifest_filtered(
            snap.manifest_list, trees
        )
        data, mor = Table._split_entries(entries)
        if mor and needs_single_group:
            return None

        def _decode(raw, t):
            """A stored bound as the value a collected row holds, or None."""
            try:
                return parse_value(raw, t) if isinstance(raw, str) else raw
            except ValueError:
                return None

        counts: dict = {}          # group key → COUNT(*) census
        accs: dict = {}            # group key → per-spec accumulator list
        file_group: dict = {}      # abs path → (key, nulls, records, matched)

        def _acc(key):
            if key not in accs:
                accs[key] = [
                    0 if fn == "COUNT" else None for fn, _c in specs
                ]
            return accs[key]

        for e in data:
            m = _classify_entry(e, trees)
            if m is None:
                return None  # the predicate splits this file
            if not m:
                # provably zero contributing rows: no stats demanded of a
                # file the filter excludes (r12 review)
                file_group[self.table.ops._abs(e["path"])] = (
                    None, None, None, False
                )
                continue
            rc = e.get("record-count")
            nc = (e.get("null-counts") or {}).get(col)
            if rc is None or nc is None:
                return None
            if needs_single_group and 0 < nc < rc:
                return None  # x-stats would span two groups
            key = None
            if nc < rc:  # at least one non-null value: must be single
                lo = (e.get("lower-bounds") or {}).get(col)
                hi = (e.get("upper-bounds") or {}).get(col)
                if lo is None or hi is None or lo != hi:
                    return None
                key = _decode(lo, field.field_type)
                if key is None:
                    return None
            file_group[self.table.ops._abs(e["path"])] = (key, nc, rc, True)
            if nc:
                counts[None] = counts.get(None, 0) + nc
            if nc < rc:
                counts[key] = counts.get(key, 0) + (rc - nc)
            # single-group files put every row (and every x value) in one
            # group; null-split files reach here only for pure COUNT(*)
            fkey = None if nc == rc else key
            for i, (fn, c) in enumerate(specs):
                if c is None:
                    continue  # COUNT(*) comes from the census above
                acc = _acc(fkey)
                nc_c = (e.get("null-counts") or {}).get(c)
                if fn == "COUNT":
                    if nc_c is None:
                        return None
                    acc[i] += rc - nc_c
                    continue
                b = (
                    e.get("lower-bounds" if fn == "MIN" else "upper-bounds")
                    or {}
                ).get(c)
                if b is None:
                    # exact only if the file is provably all-NULL on c
                    if nc_c is None or nc_c != rc:
                        return None
                    continue
                typed = _decode(b, agg_fields[c].field_type)
                if typed is None:
                    return None
                cur = acc[i]
                if cur is None:
                    acc[i] = typed
                elif fn == "MIN":
                    acc[i] = min(cur, typed)
                else:
                    acc[i] = max(cur, typed)
        if mor:
            refs = self._dv_refs(mor)
            if refs is None or not set(refs) <= set(file_group):
                return None
            for e, r in zip(mor, refs):
                key, nc, rc, matched = file_group[r]
                if not matched:
                    continue  # dead rows were never counted
                if nc == 0:
                    dead_key = key  # every row (dead ones included) = key
                elif nc == rc:
                    dead_key = None  # all-NULL file: dead rows are NULLs
                else:
                    return None  # dead rows' group (value vs NULL) unknown
                counts[dead_key] = counts.get(dead_key, 0) - e["deleted-records"]
        out = []
        for k, n in counts.items():
            if n <= 0:
                continue
            acc = accs.get(k) or [
                0 if fn == "COUNT" else None for fn, _c in specs
            ]
            vals = [n if (fn == "COUNT" and c is None) else acc[i]
                    for i, (fn, c) in enumerate(specs)]
            out.append((k, *vals))
        out.sort(key=lambda kv: (kv[0] is not None, kv[0]))
        return out

    def _prune_entries(
        self, entries: list[dict[str, Any]], trees: list
    ) -> list[dict[str, Any]]:
        """Drop files whose commit-time column bounds prove a bound filter
        tree of the scan (:meth:`_filter_trees`) matches nothing there.
        Top-level equality conjuncts additionally consult the column's
        Bloom key index when one is registered (:meth:`Table.
        build_key_bloom`) — the point-lookup pruning bounds can't do."""
        for tree in trees:
            entries = self.table._prune_by_stats(entries, tree)
            entries = self._prune_by_bloom(entries, tree)
        return entries

    def _prune_by_bloom(
        self, entries: list[dict[str, Any]], tree
    ) -> list[dict[str, Any]]:
        """Bloom file pruning per top-level CONJUNCT: a bare
        ``col = literal`` prunes files whose bloom rejects the value, and
        an OR-tree whose leaves are ALL equalities on the SAME column
        (the ``col IN (…)`` shape) prunes files rejecting EVERY value —
        a mixed-column disjunct may be satisfied elsewhere and never
        prunes.  Sound by construction: a bloom 'absent' answer is
        definitive for the immutable file it was built from, and files
        the index doesn't know (appended/rewritten since the build) are
        kept."""

        def conjuncts(node):
            if node[0] == "and":
                yield from conjuncts(node[1])
                yield from conjuncts(node[2])
            else:
                yield node

        def eq_set(node):
            """(col, values) when the node is equalities on ONE column
            joined by OR (or a single equality); None otherwise."""
            if node[0] == "cmp":
                _, col, op, _lit, _key, value = node
                return (col, [value]) if op == "=" and value is not None else None
            if node[0] == "or":
                l, r = eq_set(node[1]), eq_set(node[2])
                if l and r and l[0] == r[0]:
                    return (l[0], l[1] + r[1])
            return None

        for node in conjuncts(tree):
            es = eq_set(node)
            if es is None:
                continue
            col, vals = es
            field = self.table.current_schema().field_by_name(col)
            # the bloom holds str() of each key; only for these types is
            # that the spelling of the bound value (a timestamp's, say,
            # differs from Spark's string cast of it)
            if field is None or not isinstance(
                field.field_type, (ice_t.IntType, ice_t.LongType, ice_t.StringType)
            ):
                continue
            idx = self.table._bloom_index(col)
            if not idx:
                continue
            val_strs = [str(v) for v in vals]
            kept = []
            for e in entries:
                if "path" not in e:
                    kept.append(e)
                    continue
                b = idx.get(self.table.ops._rel(e["path"]))
                if b is None or any(
                    _bloom_maybe_contains(b[2], b[0], b[1], v) for v in val_strs
                ):
                    kept.append(e)
            entries = kept
        return entries

    def plan_files(self) -> list[dict[str, Any]]:
        """File-level scan plan from manifest entries — record counts and
        column bounds come from commit-time stats, no filesystem walk; scan
        filters prune files by their bounds (reference ``scan.plan_files``
        → FileScanTask list, ``ext/iceberg/src/scan.rs:82-109``)."""
        snap = self.snapshot()
        if snap is None:
            return []
        trees, _ = self._filter_trees()
        entries, _ = self.table.ops.read_manifest_filtered(
            snap.manifest_list, trees or None, allow_mor=True
        )
        entries = self._prune_entries(entries, trees)
        dfile_entries = [e for e in entries if "delete-file" in e]
        io = self.table.ops.io
        # expand each delete entry to its files once, not per task
        # (positional/equality parquet; v3 deletion vectors are .puffin)
        dfile_paths = {
            id(e): [
                f
                for f in io.list(e["delete-file"])
                if f.endswith(".parquet") or f.endswith(".puffin")
            ]
            for e in dfile_entries
        }
        schema = self.table.current_schema()
        dfile_scopes = {
            id(e): _compile_seq_scope(e, schema)
            if e.get("content") == "equality-deletes"
            else None
            for e in dfile_entries
        }

        def deletes_for(de: dict[str, Any]) -> list[str]:
            path = de["path"]
            out = []
            for e in dfile_entries:
                scope = dfile_scopes[id(e)]
                if scope is not None:
                    # equality: applies iff the data file's sequence is
                    # strictly lower (key-bounds pruned)
                    if _seq_scope_applies(scope, de):
                        out.extend(dfile_paths[id(e)])
                elif path in e.get("applies-to", (path,)):
                    out.extend(dfile_paths[id(e)])
            return out

        tasks = []
        for e in entries:
            if "path" in e:
                tasks.append(
                    {
                        "data_file_path": e["path"],
                        "file_size_in_bytes": e.get("file-size-bytes"),
                        "record_count": e.get("record-count"),
                        "lower_bounds": e.get("lower-bounds", {}),
                        "upper_bounds": e.get("upper-bounds", {}),
                        "delete_files": deletes_for(e),
                    }
                )
        return tasks

    def to_df(self) -> DataFrame:
        snap = self.snapshot()
        # explicit time travel reads with the pinned snapshot's schema;
        # a current-table scan always uses the current schema (so schema
        # evolution is visible even though the snapshot predates it)
        if self._snapshot_id is not None and snap is not None:
            schema = self.table.schema_by_id(snap.schema_id)
        else:
            schema = self.table.current_schema()
        if schema is None:
            schema = self.table.current_schema()
        spark = self.table.spark
        if snap is None:
            st = schema.to_spark()
            extra_fields = []
            if self._metadata_columns:
                extra_fields += [
                    _T.StructField("_file", _T.StringType()),
                    _T.StructField("_pos", _T.LongType()),
                ]
            if self._row_lineage:
                extra_fields += [
                    _T.StructField("_row_id", _T.LongType()),
                    _T.StructField("_last_updated_sequence_number", _T.LongType()),
                ]
            if extra_fields:
                st = _T.StructType(list(st.fields) + extra_fields)
            df = spark.createDataFrame([], st)
        else:
            trees, _ = self._filter_trees()
            entries, _ = self.table.ops.read_manifest_filtered(
                snap.manifest_list, trees or None, allow_mor=True
            )
            entries = self._prune_entries(entries, trees)
            # _read_entries reads each file under its written schema and
            # projects it onto ``schema``'s column order and types
            if self._row_lineage:
                df = self.table._read_entries_with_lineage(
                    entries, schema=schema, keep_coords=self._metadata_columns
                )
            elif self._metadata_columns:
                df = self.table._read_entries(
                    entries, schema=schema, file_col="_file", pos_col="_pos"
                )
            else:
                df = self.table._read_entries(entries, schema=schema)
        for c in self._filters:
            df = df.filter(c)
        if self._selects:
            sel = list(self._selects)
            if self._metadata_columns:
                sel += ["_file", "_pos"]
            if self._row_lineage:
                sel += ["_row_id", "_last_updated_sequence_number"]
            df = df.select(*sel)
        if self._limit is not None:
            df = df.limit(self._limit)
        return df


    def to_arrow(self):
        return self.to_df().toArrow()

    def collect(self) -> Result:
        return Result(self.to_df())

    def to_a(self) -> list[dict[str, Any]]:
        return self.collect().to_a()
