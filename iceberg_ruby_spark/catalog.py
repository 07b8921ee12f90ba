"""Catalog — namespace + table DDL and the SQL entry point.

Reference: ``lib/iceberg/catalog.rb`` (+5 backend subclasses —
rest/glue/s3tables/sql/memory).  As there, the registry API is written
once, in :class:`Catalog`; a backend (``sql_catalog``, ``rest``, ``aws``)
supplies only its registry store and its version pointer.  This module's
own store is the **filesystem warehouse** (the analog of the reference's
``MemoryCatalog(warehouse:)``, ``lib/iceberg/memory_catalog.rb:4-10``).

Warehouse layout::

    <warehouse>/<ns>[/<ns2>...]/.namespace.json     # namespace marker + props
    <warehouse>/<ns...>/<table>/metadata, /data     # see table.py

Namespaces are multi-level (list of levels, dots forbidden inside a level —
reference ``ext/iceberg/src/utils.rs:25-41``).

``catalog.sql(sql, params)`` registers catalog tables as temp views and
executes via Spark SQL — the analog of the reference's DataFusion
delegation (``ext/iceberg/src/catalog.rs:443-508``), with the same
positional ``$1..$n`` parameter convention (``test/sql_test.rb:29-43``).
"""

from __future__ import annotations

import json
import os
import re
import uuid as uuid_mod
from typing import Any, Optional, Union

from pyspark.sql import DataFrame, SparkSession

from iceberg_ruby_spark.errors import (
    InvalidDataError,
    NamespaceAlreadyExistsError,
    NoSuchNamespaceError,
    NoSuchTableError,
    TableAlreadyExistsError,
    UnsupportedFeatureError,
)
from iceberg_ruby_spark.result import Result
from iceberg_ruby_spark._localdf import small_local_df
from iceberg_ruby_spark import types as ice_t
from iceberg_ruby_spark.session import get_spark
from iceberg_ruby_spark.table import (
    ALL,
    Table,
    TableMetadata,
    _now_ms,
    ancestors,
    _parse_predicate,
    _schema_to_json,
)
from iceberg_ruby_spark.table_definition import schema_from_any
from iceberg_ruby_spark.transforms import PartitionSpec, SortOrder

Ident = Union[str, list[str]]

_NS_FILE = ".namespace.json"
_POINTER_FILE = ".pointer.json"


def _norm_ident(ident: Ident) -> list[str]:
    """Normalize a namespace/table identifier: str with dots → levels; levels
    must not contain dots (reference ``ext/iceberg/src/utils.rs:25-41``)."""
    if isinstance(ident, str):
        parts = ident.split(".")
    else:
        parts = list(ident)
        for p in parts:
            if "." in p:
                # reference message: ``catalog.rb`` raises ArgumentError
                # "Unsupported namespace" for a dotted level
                # (test/namespace_test.rb:52-56)
                raise InvalidDataError(f"Unsupported namespace: level contains '.': {p!r}")
    if not parts or any(not p for p in parts):
        raise InvalidDataError(f"invalid identifier: {ident!r}")
    return parts


def _no_namespace(parts: list[str]) -> NoSuchNamespaceError:
    return NoSuchNamespaceError(f"namespace does not exist: {'.'.join(parts)}")


def _no_table(parts: list[str]) -> NoSuchTableError:
    return NoSuchTableError(f"table does not exist: {'.'.join(parts)}")


def _table_taken(parts: list[str]) -> TableAlreadyExistsError:
    return TableAlreadyExistsError(f"table already exists: {'.'.join(parts)}")


def _parse_partition_transform_sql(txt: str) -> tuple[str, str]:
    """iceberg-spark partition-transform DDL → (source_col, transform spec
    string): ``bucket(16, col)`` → ``bucket[16]``, ``truncate(col, 4)`` /
    ``truncate(4, col)`` → ``truncate[4]``, ``years(col)``/``year(col)`` →
    ``year`` (likewise months/days/hours), bare ``col`` → identity."""
    txt = txt.strip()
    m = re.match(r"(\w+)\s*\(\s*([^()]+?)\s*\)\s*$", txt)
    if not m:
        if not re.match(r"^\w+$", txt):
            raise InvalidDataError(f"bad partition transform: {txt!r}")
        return txt, "identity"
    fn = m.group(1).lower()
    args = [a.strip() for a in m.group(2).split(",")]
    unit = {"years": "year", "months": "month", "days": "day", "hours": "hour"}
    if fn in ("year", "month", "day", "hour") or fn in unit:
        if len(args) != 1:
            raise InvalidDataError(f"{fn} takes one column: {txt!r}")
        return args[0], unit.get(fn, fn)
    if fn in ("bucket", "truncate"):
        if len(args) != 2:
            raise InvalidDataError(f"{fn} takes (N, col): {txt!r}")
        nums = [a for a in args if a.isdigit()]
        cols = [a for a in args if not a.isdigit()]
        if len(nums) != 1 or len(cols) != 1:
            raise InvalidDataError(f"{fn} takes one width and one column: {txt!r}")
        return cols[0], f"{fn}[{nums[0]}]"
    raise InvalidDataError(f"unknown partition transform: {fn!r}")


def _parse_call_literal(src: str):
    """A CALL argument literal: quoted string ('' escape), integer, float,
    true/false, or a bare word (kept as string)."""
    if src.startswith("'") and src.endswith("'"):
        return src[1:-1].replace("''", "'")
    low = src.lower()
    if low in ("true", "false"):
        return low == "true"
    try:
        return int(src)
    except ValueError:
        pass
    try:
        return float(src)
    except ValueError:
        pass
    return src


def _split_top_level(src: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` only at paren depth 0 and outside single-quoted
    strings ('' escapes a quote) — shared by CREATE TABLE column defs and
    UPDATE SET assignments (round-2 advisory: a naive comma split mangled
    ``SET a = concat(x, ', ')``)."""
    out: list[str] = []
    piece = ""
    depth = 0
    in_str = False
    i = 0
    while i < len(src):
        ch = src[i]
        if in_str:
            if ch == "'" and i + 1 < len(src) and src[i + 1] == "'":
                piece += "''"
                i += 2
                continue
            if ch == "'":
                in_str = False
            piece += ch
        elif ch == "'":
            in_str = True
            piece += ch
        elif ch == "(":
            depth += 1
            piece += ch
        elif ch == ")":
            depth -= 1
            piece += ch
        elif ch == sep and depth == 0:
            out.append(piece)
            piece = ""
        else:
            piece += ch
        i += 1
    if piece.strip():
        out.append(piece)
    return out


class Catalog:
    """One namespace-and-table contract over a pluggable registry store.

    The public registry calls (``create_namespace``, ``list_namespaces``,
    ``namespace_exists``, ``namespace_properties``, ``update_namespace``,
    ``drop_namespace``, ``list_tables``, ``table_exists``, ``drop_table``,
    ``purge_table``, ``rename_table``, ``register_table``) are defined
    here once: argument handling, the default namespace, check order and
    error types.  A backend overrides only the private store hooks —

    - namespaces: ``_ns_props`` (properties, ``None`` when absent),
      ``_ns_create`` (``FileExistsError`` when present), ``_ns_store``,
      ``_ns_delete``, ``_ns_children``;
    - tables: ``_table_names``, ``_detach``, ``_rename``, ``_attach``;

    — beside its version pointer (``_table_location`` / ``_table_ops``).
    A hook raises the contract's typed error when the store itself finds
    that another client got there between the check and the call.  This
    class's own hooks are the filesystem warehouse store:
    ``.namespace.json`` markers, ``.pointer.json`` files for tables whose
    files live elsewhere, and ``.dropped-*`` tombstones."""

    def __init__(
        self,
        warehouse: str,
        namespace: Optional[Ident] = None,
        spark: Optional[SparkSession] = None,
        name: str = "iceberg",
        io: Optional["FileIO"] = None,
    ):
        from iceberg_ruby_spark.io import LocalFileIO

        self.name = name
        self.warehouse = os.path.abspath(warehouse)
        self.io = io or LocalFileIO()
        os.makedirs(self.warehouse, exist_ok=True)
        self.spark = spark or get_spark()
        self.default_namespace = _norm_ident(namespace) if namespace else None

    # ------------------------------------------------------------------ utils
    def _table_ops(self, location: str, parts: Optional[list[str]] = None):
        """The metadata plane for a table at ``location`` — the pointer
        seam beside the registry store hooks.  Every backend returns an
        :class:`FsTableOps`, which owns the table's files and its commit;
        a backend only attaches its version pointer (``ops.pointer``: the
        SQL row, the Glue / S3 Tables metadata location).  This FS catalog
        attaches none, so the table's ``version-hint.text`` is its
        pointer.  RestCatalog returns the subclass RestTableOps, because
        its server owns the metadata document itself.  ``parts`` is the
        catalog identifier when the caller knows it (registry-backed
        backends need it)."""
        from iceberg_ruby_spark.table import FsTableOps

        return FsTableOps(location, io=self.io)

    def _warehouse_ident(self, location: str) -> list[str]:
        """Identifier of the warehouse-resident table at ``location``."""
        return os.path.relpath(os.path.abspath(location), self.warehouse).split(os.sep)

    def _ns_dir(self, ns: list[str]) -> str:
        return os.path.join(self.warehouse, *ns)

    def _ns_marker(self, ns: list[str]) -> str:
        return os.path.join(self._ns_dir(ns), _NS_FILE)

    def _with_namespace(self, ident: Ident) -> list[str]:
        """Unqualified table name → ``[*default_ns, name]`` (reference
        ``lib/iceberg/catalog.rb:117-123``)."""
        parts = _norm_ident(ident)
        if len(parts) == 1:
            if not self.default_namespace:
                raise InvalidDataError(
                    f"unqualified name {parts[0]!r} requires a default namespace"
                )
            return [*self.default_namespace, parts[0]]
        return parts

    def _table_location(self, ident: Ident) -> tuple[list[str], str]:
        """Resolve identifier → (parts, physical location).  A table whose
        data lives outside the warehouse (create_table(location=...) or
        register_table) is reachable through a small pointer file at its
        warehouse path — round-1 review: custom-location tables used to be
        unreachable after creation."""
        parts = self._with_namespace(ident)
        default_loc = os.path.join(self.warehouse, *parts)
        pointer = os.path.join(default_loc, _POINTER_FILE)
        if self.io.exists(pointer):
            return parts, json.loads(self.io.read(pointer))["location"]
        return parts, default_loc

    def _require_namespace(self, parts: list[str]) -> dict[str, str]:
        props = self._ns_props(parts)
        if props is None:
            raise _no_namespace(parts)
        return props

    # ------------------------------------------------------------- namespaces
    def create_namespace(
        self,
        ns: Ident,
        properties: Optional[dict[str, str]] = None,
        if_not_exists: bool = False,
    ) -> None:
        parts = _norm_ident(ns)
        if self._ns_props(parts) is None:
            # parents must exist for nested namespaces (reference
            # test/namespace_test.rb:32-49)
            if len(parts) > 1 and self._ns_props(parts[:-1]) is None:
                raise NoSuchNamespaceError(
                    f"parent namespace does not exist: {'.'.join(parts[:-1])}"
                )
            try:
                self._ns_create(parts, dict(properties or {}))
                return
            except FileExistsError:
                pass  # created since the check above
        if not if_not_exists:
            raise NamespaceAlreadyExistsError(f"namespace already exists: {'.'.join(parts)}")

    def list_namespaces(self, parent: Optional[Ident] = None) -> list[list[str]]:
        base = _norm_ident(parent) if parent else []
        if base:
            self._require_namespace(base)
        return sorted([*base, child] for child in self._ns_children(base))

    def namespace_exists(self, ns: Ident) -> bool:
        try:
            return self._ns_props(_norm_ident(ns)) is not None
        except InvalidDataError:
            return False

    def namespace_properties(self, ns: Ident) -> dict[str, str]:
        return dict(self._require_namespace(_norm_ident(ns)))

    def update_namespace(self, ns: Ident, properties: dict[str, str]) -> None:
        """Replace the namespace's property map with ``properties``."""
        parts = _norm_ident(ns)
        self._ns_store(parts, self._require_namespace(parts), dict(properties))

    def drop_namespace(self, ns: Ident, if_exists: bool = False) -> None:
        parts = _norm_ident(ns)
        if self._ns_props(parts) is None:
            if if_exists:
                return
            raise _no_namespace(parts)
        if self._ns_children(parts) or self._table_names(parts):
            raise InvalidDataError(f"namespace is not empty: {'.'.join(parts)}")
        self._ns_delete(parts)

    # ------------------------------------------- the FS store: namespace hooks
    def _ns_props(self, parts: list[str]) -> Optional[dict[str, str]]:
        """The namespace's properties; ``None`` when it does not exist."""
        try:
            return json.loads(self.io.read(self._ns_marker(parts))).get("properties", {})
        except (FileNotFoundError, NotADirectoryError):
            return None

    def _ns_create(self, parts: list[str], props: dict[str, str]) -> None:
        """Create the namespace; ``FileExistsError`` when it exists."""
        self.io.write_atomic(self._ns_marker(parts), json.dumps({"properties": props}))

    def _ns_store(self, parts: list[str], old: dict[str, str], new: dict[str, str]) -> None:
        """Replace the namespace's properties ``old`` with ``new``."""
        self.io.write_atomic(
            self._ns_marker(parts), json.dumps({"properties": new}), overwrite=True
        )

    def _ns_delete(self, parts: list[str]) -> None:
        """Delete the (empty) namespace."""
        self.io.delete_prefix(self._ns_dir(parts))

    def _ns_children(self, parts: list[str]) -> list[str]:
        """Names of the namespaces directly under ``parts`` (``[]``: the root)."""
        root = self._ns_dir(parts)
        return [
            d
            for d in self.io.list_children(root)
            if self.io.exists(os.path.join(root, d, _NS_FILE))
        ]

    # ----------------------------------------------------------------- tables
    def create_table(
        self,
        ident: Ident,
        schema: Any = None,
        location: Optional[str] = None,
        partition_spec: Optional[Union[PartitionSpec, list]] = None,
        sort_order: Optional[Union[SortOrder, list]] = None,
        properties: Optional[dict[str, str]] = None,
        if_not_exists: bool = False,
        or_replace: bool = False,
    ) -> Table:
        """Create a table (reference ``lib/iceberg/catalog.rb:46-70``).
        ``schema`` accepts a Schema / TableDefinition / {name: type} hash /
        Spark StructType / DSL callable.  ``or_replace`` applies Iceberg's
        CREATE OR REPLACE semantics to an existing table: same UUID,
        snapshot history retained (time travel to pre-replace state still
        works, reading the old schema), data cleared, schema/spec/order/
        properties swapped for the new definition under fresh ids."""
        parts, loc = self._table_location(ident)
        ns = parts[:-1]
        if not self.namespace_exists(ns):
            raise _no_namespace(ns)
        if self.table_exists(parts):
            if or_replace:
                return self._replace_table(
                    parts, schema, partition_spec, sort_order, properties
                )
            if if_not_exists:
                return self.load_table(parts)
            raise _table_taken(parts)
        # no schema → EMPTY-schema table, the reference's behavior
        # (test/create_table_test.rb:108-111: ``create_table("events")``
        # yields a table whose schema has zero fields)
        ice_schema = schema_from_any(schema if schema is not None else {})
        if location is not None:
            loc = location

        props = dict(properties or {})
        fv = int(props.pop("format-version", 2))
        if fv not in (1, 2, 3):
            raise InvalidDataError(f"invalid format-version: {fv}")
        ice_t.validate_field_types(ice_schema.fields, fv)

        spec_json: list[dict] = []
        if partition_spec is not None:
            if isinstance(partition_spec, PartitionSpec):
                partition_spec.validate(ice_schema)
                spec_json = partition_spec.to_json()
            else:
                ps = PartitionSpec(fields=list(partition_spec))
                ps.validate(ice_schema)
                spec_json = ps.to_json()
        order_json: list[dict] = []
        if sort_order is not None:
            so = sort_order if isinstance(sort_order, SortOrder) else SortOrder(fields=list(sort_order))
            so.validate(ice_schema)
            order_json = so.to_json()

        now = _now_ms()
        meta = {
            "format-version": fv,
            "table-uuid": str(uuid_mod.uuid4()),
            "location": loc,
            "last-updated-ms": now,
            "last-column-id": ice_schema.highest_field_id,
            "schemas": [_schema_to_json(ice_schema)],
            "current-schema-id": ice_schema.schema_id,
            # Spec numbering: partition field ids start at 1000 for spec 0;
            # top-level last-partition-id tracks the high-water mark so
            # external readers (and our own StaticTableOps) see spec-complete
            # metadata (iceberg spec "Table Metadata Fields").
            "partition-specs": [
                {
                    "spec-id": 0,
                    "fields": [
                        {**f, "field-id": 1000 + i} for i, f in enumerate(spec_json)
                    ],
                }
            ],
            "default-spec-id": 0,
            "last-partition-id": 999 + len(spec_json),
            "sort-orders": [{"order-id": 1 if order_json else 0, "fields": order_json}],
            "default-sort-order-id": 1 if order_json else 0,
            "properties": props,
            "current-snapshot-id": None,
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
            "refs": {},
            "next-row-id": 0,
            "statistics": [],
            "partition-statistics": [],
            "encryption-keys": {},
        }
        ops = self._table_ops(loc, parts)
        os.makedirs(ops.data_dir, exist_ok=True)
        ops.commit(0, meta)
        if location is not None and not ops.registered_by_commit:
            # this FS warehouse: the table's files live elsewhere, so its
            # warehouse entry is the pointer file _attach writes
            self._attach(parts, loc, ops.load())
        return Table(self.spark, loc, identifier=parts, catalog=self, io=self.io, ops=ops)

    def _replace_table(
        self,
        parts: list[str],
        schema: Any,
        partition_spec: Optional[Union[PartitionSpec, list]],
        sort_order: Optional[Union[SortOrder, list]],
        properties: Optional[dict[str, str]],
    ) -> Table:
        """CREATE OR REPLACE on an existing table: ONE atomic commit
        (Iceberg's replace transaction) that both clears the data — an
        ``overwrite`` snapshot; history and UUID survive, so time travel
        to the pre-replace state still reads the OLD schema — and swaps
        in the new schema / partition spec / sort order / properties
        under fresh never-reused ids (Iceberg's id-assignment rule).
        A crash or concurrent reader can never observe the truncated
        table still carrying the old definition (ADVICE r7 low)."""
        t = self.load_table(parts)
        new_schema = schema_from_any(schema if schema is not None else {})
        # the same gates the plain-create path runs — a REPLACE must not
        # be the unguarded spelling (review r13: CREATE OR REPLACE could
        # plant a variant column in a v2 table).  A format-version in the
        # new properties upgrades the table (spec: upgrades only).
        repl_props = dict(properties or {})
        fv_req = repl_props.pop("format-version", None)
        cur_fv = t.format_version
        new_fv = cur_fv
        if fv_req is not None:
            new_fv = int(fv_req)
            if new_fv not in (1, 2, 3):
                raise InvalidDataError(f"invalid format-version: {new_fv}")
            if new_fv < cur_fv:
                raise InvalidDataError(
                    f"cannot downgrade format-version {cur_fv} -> {new_fv}"
                )
        ice_t.validate_field_types(new_schema.fields, new_fv)
        spec_fields: list[dict] = []
        if partition_spec is not None:
            ps = (
                partition_spec
                if isinstance(partition_spec, PartitionSpec)
                else PartitionSpec(fields=list(partition_spec))
            )
            ps.validate(new_schema)
            spec_fields = ps.to_json()
        order_fields: list[dict] = []
        if sort_order is not None:
            so = (
                sort_order
                if isinstance(sort_order, SortOrder)
                else SortOrder(fields=list(sort_order))
            )
            so.validate(new_schema)
            order_fields = so.to_json()

        def mutate(raw: dict) -> None:
            base = raw.get("last-column-id", 0)
            fields = [
                ice_t.NestedField(
                    base + i + 1, f.name, f.field_type, f.required, f.doc,
                    f.initial_default, f.write_default,
                )
                for i, f in enumerate(new_schema.fields)
            ]
            sid = (
                max((s.get("schema-id", 0) for s in raw.get("schemas", [])), default=0)
                + 1
            )
            raw["schemas"] = list(raw.get("schemas", [])) + [
                _schema_to_json(
                    ice_t.Schema(fields=fields, schema_id=sid)
                )
            ]
            raw["current-schema-id"] = sid
            raw["last-column-id"] = base + len(fields)
            # partition spec: CREATE OR REPLACE without PARTITIONED BY
            # resets to unpartitioned — a NEW (possibly empty) spec either
            # way, with partition-field ids continuing the high-water mark
            new_spec_id = (
                max(
                    (s.get("spec-id", 0) for s in raw.get("partition-specs", [])),
                    default=0,
                )
                + 1
            )
            last_pid = raw.get("last-partition-id", 999)
            raw["partition-specs"] = list(raw.get("partition-specs", [])) + [
                {
                    "spec-id": new_spec_id,
                    "fields": [
                        {**f, "field-id": last_pid + 1 + i}
                        for i, f in enumerate(spec_fields)
                    ],
                }
            ]
            raw["default-spec-id"] = new_spec_id
            raw["last-partition-id"] = last_pid + len(spec_fields)
            new_order_id = (
                max(
                    (o.get("order-id", 0) for o in raw.get("sort-orders", [])),
                    default=0,
                )
                + 1
            ) if order_fields else 0
            if order_fields:
                raw["sort-orders"] = list(raw.get("sort-orders", [])) + [
                    {"order-id": new_order_id, "fields": order_fields}
                ]
            elif not any(
                o.get("order-id") == 0 for o in raw.get("sort-orders", [])
            ):
                # replace back to unsorted on a table created WITH a sort
                # order: make sure the unsorted order exists to point at
                raw["sort-orders"] = list(raw.get("sort-orders", [])) + [
                    {"order-id": 0, "fields": []}
                ]
            raw["default-sort-order-id"] = new_order_id
            raw["properties"] = dict(repl_props)
            if new_fv > int(raw.get("format-version", 2)):
                raw["format-version"] = new_fv

        t._check_writable()
        t._commit_snapshot(
            "overwrite", [], ALL, {"added-records": 0}, raw_extra=mutate
        )
        self._invalidate_views()
        return self.load_table(parts)

    def load_table(self, ident: Ident) -> Table:
        parts, loc = self._table_location(ident)
        ops = self._table_ops(loc, parts)
        if not ops.exists():
            raise _no_table(parts)
        return Table(self.spark, loc, identifier=parts, catalog=self, io=self.io, ops=ops)

    def table_exists(self, ident: Ident) -> bool:
        try:
            parts, loc = self._table_location(ident)
        except InvalidDataError:
            return False
        return self._table_ops(loc, parts).exists()

    def list_tables(self, ns: Optional[Ident] = None) -> list[list[str]]:
        if ns is None:
            if not self.default_namespace:
                raise InvalidDataError("no namespace given and no default namespace set")
            parts = self.default_namespace
        else:
            parts = _norm_ident(ns)
        self._require_namespace(parts)
        return sorted([*parts, name] for name in self._table_names(parts))

    def _existing_table(self, ident: Ident) -> tuple[list[str], str]:
        parts, loc = self._table_location(ident)
        if not self._table_ops(loc, parts).exists():
            raise _no_table(parts)
        return parts, loc

    def drop_table(self, ident: Ident, if_exists: bool = False) -> None:
        """Take the table out of the catalog; its files stay (reference
        semantics: ``purge_table`` deletes them)."""
        try:
            parts, loc = self._existing_table(ident)
        except NoSuchTableError:
            if if_exists:
                return
            raise
        self._detach(parts, loc, purge=False)

    def purge_table(self, ident: Ident) -> None:
        """Drop the table, then delete its location through ``self.io``."""
        parts, loc = self._existing_table(ident)
        self._detach(parts, loc, purge=True)
        self.io.delete_prefix(loc)

    def rename_table(self, old: Ident, new: Ident) -> None:
        old_parts, loc = self._existing_table(old)
        new_parts = self._with_namespace(new)
        if not self.namespace_exists(new_parts[:-1]):
            raise _no_namespace(new_parts[:-1])
        if self.table_exists(new_parts):
            raise _table_taken(new_parts)
        try:
            self._rename(old_parts, new_parts, loc)
        except FileExistsError:
            raise _table_taken(new_parts)

    def register_table(self, ident: Ident, metadata_location: str) -> Table:
        """Attach an existing table to a catalog name **by reference**, at
        its current version, matching the reference's semantics
        (``catalog.rb:99-101``) — no O(data) copy (round-1 review item).
        ``metadata_location`` is the table directory or one of its
        ``metadata/v{N}.json`` files."""
        from iceberg_ruby_spark.table import FsTableOps

        parts, loc = self._table_location(ident)
        if not self.namespace_exists(parts[:-1]):
            raise _no_namespace(parts[:-1])
        if self._table_ops(loc, parts).exists():
            raise _table_taken(parts)
        src = metadata_location
        if src.endswith(".json"):
            src = os.path.dirname(os.path.dirname(src))  # .../metadata/vN.json → table dir
        source = FsTableOps(os.path.abspath(src), io=self.io)
        if not source.exists():
            raise NoSuchTableError(f"no table metadata at {metadata_location}")
        try:
            self._attach(parts, source.location, source.load())
        except FileExistsError:
            raise _table_taken(parts)
        return self.load_table(parts)

    # ----------------------------------------------- the FS store: table hooks
    def _table_names(self, parts: list[str]) -> list[str]:
        """Names of the tables in namespace ``parts``."""
        from iceberg_ruby_spark.table import FsTableOps

        root = self._ns_dir(parts)
        # FsTableOps.exists covers the hint file AND hint-lost tables
        # recoverable from committed v{N}.json files (tombstones stay
        # authoritative) — a loadable table must also be listable
        return [
            d
            for d in self.io.list_children(root)
            if FsTableOps(os.path.join(root, d), io=self.io).exists()
            or (
                self.io.exists(os.path.join(root, d, _POINTER_FILE))
                and self.table_exists([*parts, d])
            )
        ]

    def _detach(self, parts: list[str], location: str, purge: bool) -> None:
        """Take the table at ``location`` out of the registry.  ``purge``
        says its files are deleted next (REST forwards it to the server)."""
        from iceberg_ruby_spark.table import FsTableOps

        entry = os.path.join(self.warehouse, *parts)
        if self.io.exists(os.path.join(entry, _POINTER_FILE)):
            # registered/custom-location table: the pointer goes, the files stay
            self.io.delete_prefix(entry)
            return
        # the tombstone stops FsTableOps' hint recovery from bringing the
        # table back; it records current_version() so a
        # hint-lost-but-recoverable table drops cleanly too
        meta_dir = os.path.join(location, "metadata")
        hint = os.path.join(meta_dir, "version-hint.text")
        version = FsTableOps(location, io=self.io).current_version()
        self.io.write_atomic(
            os.path.join(meta_dir, f".dropped-{uuid_mod.uuid4().hex}"),
            str(version),
            overwrite=True,
        )
        if self.io.exists(hint):
            self.io.delete(hint)

    def _rename(self, old: list[str], new: list[str], location: str) -> None:
        """Move the registry entry ``old`` (files at ``location``) to ``new``."""
        # the warehouse entry moves: the data dir, or the pointer file of a
        # registered/custom-location table, whose files stay in place
        self.io.move_prefix(
            os.path.join(self.warehouse, *old), os.path.join(self.warehouse, *new)
        )

    def _attach(self, parts: list[str], location: str, meta: TableMetadata) -> None:
        """Register the table at ``location``, whose current metadata is
        ``meta``; ``FileExistsError`` when the name is taken."""
        self.io.write_atomic(
            os.path.join(self.warehouse, *parts, _POINTER_FILE),
            json.dumps({"location": os.path.abspath(location)}),
            overwrite=True,
        )

    # -------------------------------------------------------------------- sql
    _PARAM_RE = re.compile(r"\$(\d+)")
    _DDL_RE = re.compile(
        r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
        r"([\w.]+)\s*\((.*?)\)\s*"
        r"(?:TBLPROPERTIES\s*\((.*?)\)\s*)?;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _INSERT_RE = re.compile(
        r"^\s*INSERT\s+(INTO|OVERWRITE)\s+(?:TABLE\s+)?([\w.]+)\s*"
        r"(?:\(([^)]*)\))?\s+(.*)$",
        re.IGNORECASE | re.DOTALL,
    )
    _TRUNCATE_RE = re.compile(
        r"^\s*TRUNCATE\s+TABLE\s+([\w.]+)\s*;?\s*$", re.IGNORECASE
    )
    _UPDATE_RE = re.compile(
        r"^\s*UPDATE\s+([\w.]+)\s+SET\s+(.*?)\s+WHERE\s+(.*?)\s*;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _DELETE_RE = re.compile(
        r"^\s*DELETE\s+FROM\s+([\w.]+)\s+WHERE\s+(.*?)\s*;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _ALTER_RE = re.compile(
        r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+(.*)$",
        re.IGNORECASE | re.DOTALL,
    )
    _MERGE_RE = re.compile(
        r"^\s*MERGE\s+INTO\s+([\w.]+)(?:\s+(?:AS\s+)?(\w+))?"
        r"\s+USING\s+(?:\((.+?)\)|([\w.]+))(?:\s+(?:AS\s+)?(\w+))?"
        r"\s+ON\s+(.+?)"
        r"\s+(WHEN\s+.+?)\s*;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _MERGE_MATCHED_RE = re.compile(
        r"WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+(.+?)"
        r"(?=\s+WHEN\s+(?:NOT\s+)?MATCHED|\s*$)",
        re.IGNORECASE | re.DOTALL,
    )
    _MERGE_INSERT_RE = re.compile(
        r"WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*", re.IGNORECASE
    )
    # the AND-condition groups exclude THEN/WHEN keywords: a lazy (.+?)
    # would otherwise swallow a whole preceding clause of the same prefix
    # ("WHEN MATCHED AND c THEN UPDATE ... WHEN MATCHED THEN DELETE")
    _MERGE_DELETE_RE = re.compile(
        r"WHEN\s+MATCHED\s+(?:AND\s+((?:(?!\bTHEN\b|\bWHEN\b).)+?)\s+)?THEN\s+DELETE",
        re.IGNORECASE | re.DOTALL,
    )
    _MERGE_NMBS_DELETE_RE = re.compile(
        r"WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE\s+"
        r"(?:AND\s+((?:(?!\bTHEN\b|\bWHEN\b).)+?)\s+)?THEN\s+DELETE",
        re.IGNORECASE | re.DOTALL,
    )
    _MERGE_NMBS_UPDATE_RE = re.compile(
        r"WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE\s+"
        r"(?:AND\s+((?:(?!\bTHEN\b|\bWHEN\b).)+?)\s+)?"
        r"THEN\s+UPDATE\s+SET\s+(.+?)"
        r"(?=\s+WHEN\s+(?:NOT\s+)?MATCHED|\s*$)",
        re.IGNORECASE | re.DOTALL,
    )
    _WRITE_KEYWORDS = re.compile(
        r"^\s*(CREATE|INSERT|UPDATE|DELETE|DROP|ALTER|MERGE|TRUNCATE|REPLACE)\b",
        re.IGNORECASE,
    )
    _VIEW_RE = re.compile(
        r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+([\w.]+)\s+AS\s+(.*?)\s*;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _DROP_VIEW_RE = re.compile(
        r"^\s*DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*$", re.IGNORECASE
    )
    _SHOW_TABLES_RE = re.compile(
        r"^\s*SHOW\s+TABLES(?:\s+(?:IN|FROM)\s+([\w.]+))?\s*;?\s*$", re.IGNORECASE
    )
    _SHOW_NS_RE = re.compile(
        r"^\s*SHOW\s+(?:NAMESPACES|DATABASES|SCHEMAS)"
        r"(?:\s+(?:IN|FROM)\s+([\w.]+))?\s*;?\s*$",
        re.IGNORECASE,
    )
    _CREATE_NS_RE = re.compile(
        r"^\s*CREATE\s+(?:NAMESPACE|DATABASE|SCHEMA)\s+"
        r"(IF\s+NOT\s+EXISTS\s+)?([\w.]+)"
        r"(?:\s+WITH\s+(?:DB)?PROPERTIES\s*\((.*)\))?\s*;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _DROP_NS_RE = re.compile(
        r"^\s*DROP\s+(?:NAMESPACE|DATABASE|SCHEMA)\s+"
        r"(IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*$",
        re.IGNORECASE,
    )
    _DESCRIBE_RE = re.compile(
        r"^\s*(?:DESCRIBE|DESC)\s+(EXTENDED\s+|FORMATTED\s+)?(?:TABLE\s+)?"
        r"([\w.]+)\s*;?\s*$",
        re.IGNORECASE,
    )
    _SHOW_CREATE_RE = re.compile(
        r"^\s*SHOW\s+CREATE\s+TABLE\s+([\w.]+)\s*;?\s*$", re.IGNORECASE
    )
    _SHOW_PARTITIONS_RE = re.compile(
        r"^\s*SHOW\s+PARTITIONS\s+([\w.]+)\s*;?\s*$", re.IGNORECASE
    )
    _SHOW_PROPS_RE = re.compile(
        r"^\s*SHOW\s+TBLPROPERTIES\s+([\w.]+)"
        r"(?:\s*\(\s*'((?:[^']|'')*)'\s*\))?\s*;?\s*$",
        re.IGNORECASE,
    )
    _CALL_RE = re.compile(
        r"^\s*CALL\s+(?:\w+\.)?system\.(\w+)\s*\((.*)\)\s*;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    # the GENERAL single-table aggregate statement the scan layer can
    # serve (iceberg-spark pushes exactly this shape through
    # SupportsPushDownAggregates): any comma list of COUNT(*)/COUNT(1)/
    # COUNT(col)/MIN(col)/MAX(col) with optional aliases, one bare
    # table, optional WHERE.  All-or-nothing (r12, VERDICT r11 #2): the
    # statement is served from ONE shared manifest read only when EVERY
    # item is provable from metadata; otherwise the fast path declines
    # and generic Spark SQL runs the statement as a SINGLE scan — the
    # r11 version executed one fallback scan PER item, a 3× read
    # amplification on `SELECT MIN(a), MAX(a), COUNT(*) … WHERE <p>`.
    _AGG_ITEM_RE = re.compile(
        r"^(?P<fn>COUNT|MIN|MAX)\s*\(\s*(?P<arg>\*|1|[A-Za-z_]\w*)\s*\)"
        r"(?:\s+AS\s+(?P<alias>\w+))?$",
        re.IGNORECASE,
    )
    _AGG_STMT_RE = re.compile(
        r"^\s*SELECT\s+(?P<items>[^;]+?)"
        r"\s+FROM\s+(?P<tbl>[\w.]+)"
        r"(?:\s+(?:FOR\s+)?(?P<tkind>SYSTEM_VERSION|VERSION|SYSTEM_TIME"
        r"|TIMESTAMP)\s+AS\s+OF\s+(?P<tval>'(?:[^']|'')*'|\d+))?"
        r"(?:\s+WHERE\s+(?P<where>[^;]+?))?\s*;?\s*$",
        re.IGNORECASE,
    )

    @staticmethod
    def _time_travel_scan(t, m):
        """A TableScan pinned per the statement's optional ``VERSION AS
        OF`` / ``TIMESTAMP AS OF`` clause (a historical COUNT/MIN/MAX is
        exactly as metadata-answerable as a current one — the r12 reason
        the aggregate fast path understands the travel spellings)."""
        kind, val = m.group("tkind"), m.group("tval")
        if kind is None:
            return t.scan()
        if val.startswith("'"):
            val = val[1:-1].replace("''", "'")
            if kind.upper() in ("SYSTEM_VERSION", "VERSION"):
                return t.scan(ref=val)  # branch/tag name
            return t.scan(as_of=val)
        if kind.upper() in ("SYSTEM_VERSION", "VERSION"):
            return t.scan(snapshot_id=int(val))
        # bare numeric TIMESTAMP literal: Spark's numeric→timestamp cast
        # is epoch-SECONDS; the engine's as_of ints are epoch-millis
        return t.scan(as_of=int(val) * 1000)
    # the partition-rollup statement: SELECT col, <COUNT/MIN/MAX list> …
    # GROUP BY col — served from manifest stats when every file is
    # single-valued on col (identity-partitioned tables are, by
    # construction); r13 widened the r12 COUNT(*)-histogram shape to the
    # partitions-metadata-table rollup (VERDICT r12 #4)
    _GROUP_AGG_RE = re.compile(
        r"^\s*SELECT\s+(?P<col>[A-Za-z_]\w*)(?:\s+AS\s+(?P<colalias>\w+))?"
        r"\s*,\s*(?P<items>[^;]+?)"
        r"\s+FROM\s+(?P<tbl>[\w.]+)"
        r"(?:\s+(?:FOR\s+)?(?P<tkind>SYSTEM_VERSION|VERSION|SYSTEM_TIME"
        r"|TIMESTAMP)\s+AS\s+OF\s+(?P<tval>'(?:[^']|'')*'|\d+))?"
        r"(?:\s+WHERE\s+(?P<where>[^;]+?))?"
        r"\s+GROUP\s+BY\s+(?P<grp>1|[A-Za-z_]\w*)\s*;?\s*$",
        re.IGNORECASE,
    )

    def _sql_group_agg_fast_path(self, m) -> Optional["Result"]:
        """``SELECT col, <aggs> FROM tbl [WHERE p] GROUP BY col`` from
        metadata (:meth:`TableScan.metadata_group_aggs`), or None —
        all-or-nothing like the scalar aggregate route."""
        col, grp = m.group("col"), m.group("grp")
        alias = m.group("colalias")
        if grp.lower() not in ("1", col.lower(), (alias or col).lower()):
            return None
        items = []
        for it in (s.strip() for s in m.group("items").split(",")):
            im = self._AGG_ITEM_RE.match(it)
            if im is None:
                return None
            fn, arg = im.group("fn").upper(), im.group("arg")
            if fn in ("MIN", "MAX") and arg in ("*", "1"):
                return None
            items.append((fn, arg, im.group("alias")))
        if not items:
            return None
        try:
            t = self.load_table(self._sql_table_ident(m.group("tbl")))
        except Exception:
            return None
        where = m.group("where")
        if where is not None and (
            "$" in where or _parse_predicate(where) is None
        ):
            return None
        schema_t = t.current_schema()
        field = schema_t.field_by_name(col)
        if field is None:
            return None
        specs = []
        for fn, arg, _a in items:
            c = None if arg in ("*", "1") else arg
            if c is not None and schema_t.field_by_name(c) is None:
                return None
            specs.append((fn, c))
        try:
            scan = self._time_travel_scan(t, m)
        except Exception:
            return None  # unknown ref / bad timestamp → generic path errors
        if where is not None:
            scan = scan.filter(where)
        rows = scan.metadata_group_aggs(col, specs)
        if rows is None:
            return None
        from pyspark.sql import types as ST

        out_fields = [
            ST.StructField(
                m.group("colalias") or col, field.to_spark().dataType
            )
        ]
        for (fn, arg, a), (_fn, c) in zip(items, specs):
            if fn == "COUNT":
                name = a or f"count({'1' if c is None else c})"
                typ = ST.LongType()
            else:
                name = a or f"{fn.lower()}({c})"
                typ = schema_t.field_by_name(c).to_spark().dataType
            out_fields.append(ST.StructField(name, typ))
        return Result(
            small_local_df(self.spark, rows, ST.StructType(out_fields))
        )

    def _sql_agg_fast_path(self, m) -> Optional["Result"]:
        """Serve ``SELECT <aggs> FROM tbl [WHERE p]`` from metadata alone,
        or None when the statement is outside the supported shape OR any
        single aggregate is not provable from manifest stats — the caller
        then falls through to generic Spark SQL, which runs the whole
        statement as ONE scan (all-or-nothing, r12)."""
        specs = []
        for it in (s.strip() for s in m.group("items").split(",")):
            im = self._AGG_ITEM_RE.match(it)
            if im is None:
                return None
            fn, arg = im.group("fn").upper(), im.group("arg")
            if fn in ("MIN", "MAX") and arg in ("*", "1"):
                return None
            specs.append((fn, arg, im.group("alias")))
        if not specs:
            return None
        try:
            t = self.load_table(self._sql_table_ident(m.group("tbl")))
        except Exception:
            return None  # Spark temp view / metadata table — generic path
        where = m.group("where")
        if where is not None and (
            "$" in where or _parse_predicate(where) is None
        ):
            return None
        from pyspark.sql import types as ST

        fields_by_name = {f.name: f for f in t.current_schema().fields}
        agg_specs = []
        for fn, arg, _alias in specs:
            col = None if arg in ("*", "1") else arg
            if col is not None and col not in fields_by_name:
                return None
            agg_specs.append((fn, col))
        try:
            scan = self._time_travel_scan(t, m)
        except Exception:
            return None  # unknown ref / bad timestamp → generic path errors
        if where is not None:
            scan = scan.filter(where)
        vals = scan.metadata_aggs(agg_specs)
        if vals is None:
            return None  # one generic Spark scan beats N fallback scans
        out_fields = []
        for (fn, _arg, alias), (_, col) in zip(specs, agg_specs):
            if fn == "COUNT":
                # Spark names the bare aggregate count(1) / count(col)
                name = alias or ("count(1)" if col is None else f"count({col})")
                typ = ST.LongType()
            else:
                name = alias or f"{fn.lower()}({col})"
                typ = fields_by_name[col].to_spark().dataType
            out_fields.append(ST.StructField(name, typ))
        return Result(
            small_local_df(self.spark, 
                [tuple(vals)], ST.StructType(out_fields)
            )
        )

    def sql(self, query: str, params: Optional[list[Any]] = None) -> Result:
        """Execute SQL against the catalog (reference ``catalog.rb:103-108`` →
        DataFusion; here → Spark SQL).  Positional params ``$1..$n`` are
        bound Spark-side; extra params are ignored (reference
        ``test/sql_test.rb:29-43``).

        DDL/DML routes to the *warehouse* catalog — ``CREATE TABLE``/
        ``INSERT INTO`` (reference ``test/sql_test.rb:46-47``) plus
        ``UPDATE``/``DELETE`` (beyond the reference, whose versions error);
        other write statements raise ``UnsupportedFeatureError`` instead of
        silently landing in Spark's session catalog (round-1 review item)."""
        # single-statement only (reference test/sql_test.rb:95-100); ignore
        # semicolons inside string literals
        stripped = re.sub(r"'(?:[^']|'')*'", "''", query)
        if re.search(r";\s*\S", stripped):
            raise InvalidDataError(
                "This feature is not implemented: The context currently"
                " only supports a single SQL statement"
            )  # exact reference message (test/sql_test.rb:95-100)
        if self._WRITE_KEYWORDS.match(query):
            return self._sql_write(query, params)
        m = re.match(
            r"^\s*ANALYZE\s+TABLE\s+([\w.]+)\s+COMPUTE\s+STATISTICS\s*;?\s*$",
            query,
            re.IGNORECASE,
        )
        if m:
            t = self.load_table(self._sql_table_ident(m.group(1)))
            st = t.compute_statistics()
            return Result(
                small_local_df(self.spark, 
                    [(st.get("record-count"), len(st.get("columns", {})))],
                    "row_count long, columns_analyzed int",
                )
            )
        m = self._SHOW_NS_RE.match(query)
        if m:
            parent = m.group(1).split(".") if m.group(1) else None
            rows = [(".".join(p),) for p in self.list_namespaces(parent)]
            return Result(
                small_local_df(self.spark, rows, "namespace string")
            )
        m = self._SHOW_TABLES_RE.match(query)
        if m:
            ns = m.group(1)
            ns_parts = ns.split(".") if ns else None
            rows = [(".".join(p),) for p in self.list_tables(ns_parts)]
            return Result(
                small_local_df(self.spark, rows, "table_name string")
            )
        m = self._SHOW_PROPS_RE.match(query)
        if m:
            t = self.load_table(self._sql_table_ident(m.group(1)))
            props = t.properties
            if m.group(2) is not None:
                key = m.group(2).replace("''", "'")
                rows = [(key, props.get(key))]
            else:
                rows = sorted(props.items())
            return Result(
                small_local_df(self.spark, rows, "key string, value string")
            )
        m = self._SHOW_CREATE_RE.match(query)
        if m:
            t = self.load_table(self._sql_table_ident(m.group(1)))
            return Result(
                small_local_df(self.spark, 
                    [(self._show_create_ddl(t, m.group(1)),)],
                    "createtab_stmt string",
                )
            )
        m = self._SHOW_PARTITIONS_RE.match(query)
        if m:
            # SHOW PARTITIONS spelling over the partitions metadata
            # table — name=value strings plus per-partition counts,
            # metadata-only.  Deliberate deviations from Spark's
            # statement: an unpartitioned table answers one summary row
            # (partition='') instead of raising, and record_count/
            # file_count columns ride along — closer to Iceberg's
            # `$partitions` table than to Spark's bare listing.
            t = self.load_table(self._sql_table_ident(m.group(1)))
            rows = sorted(
                (
                    "/".join(f"{k}={v}" for k, v in sorted(r["partition"].items())),
                    r["record_count"],
                    r["file_count"],
                )
                for r in t.inspect.partitions().collect()
            )
            return Result(
                small_local_df(self.spark, 
                    rows,
                    "partition string, record_count long, file_count long",
                )
            )
        m = self._DESCRIBE_RE.match(query)
        if m:
            t = self.load_table(self._sql_table_ident(m.group(2)))
            rows = [
                (f.name, f.field_type.name, not f.required, f.doc)
                for f in t.current_schema().fields
            ]
            if m.group(1):  # DESCRIBE EXTENDED/FORMATTED: detail rows
                spec = t.default_partition_spec() or {}
                parts = ", ".join(
                    f"{pf.get('transform', 'identity')}({pf['source']})"
                    for pf in spec.get("fields", [])
                ) or "(unpartitioned)"
                rows += [
                    ("", "", None, None),
                    ("# Partitioning", parts, None, None),
                    ("# Location", t.location, None, None),
                    ("# Format version", str(t.format_version), None, None),
                    ("# Current snapshot", str(t.current_snapshot_id), None, None),
                ] + [
                    (f"# prop:{k}", v, None, None)
                    for k, v in sorted(t.properties.items())
                ]
            return Result(
                small_local_df(self.spark, 
                    rows, "col_name string, data_type string, nullable boolean, "
                    "comment string"
                )
            )
        m = self._CALL_RE.match(query)
        if m:
            return self._sql_call(m.group(1), m.group(2))
        m = self._GROUP_AGG_RE.match(query)
        if m and m.group("tbl").lower() not in ("dual",):
            routed = self._sql_group_agg_fast_path(m)
            if routed is not None:
                return routed
        m = self._AGG_STMT_RE.match(query)
        if m and m.group("tbl").lower() not in ("dual",):
            # metadata-served aggregate statements — Iceberg-Spark's
            # SupportsPushDownAggregates shape: COUNT/MIN/MAX lists over
            # one bare table with an optional provable WHERE; served ONLY
            # when every item answers from one shared manifest read, else
            # the statement falls through to Spark as a single scan
            routed = self._sql_agg_fast_path(m)
            if routed is not None:
                return routed
        self._register_views()
        query = self._rewrite_time_travel(query)
        query = self._rewrite_metadata_tables(query)
        args: dict[str, Any] = {}
        if params:
            used = {int(m) for m in self._PARAM_RE.findall(query)}
            for i, v in enumerate(params, start=1):
                if i in used:
                    args[f"p{i}"] = v
            query = self._PARAM_RE.sub(lambda m: f":p{m.group(1)}", query)
        df = self.spark.sql(query, args=args or None)
        dup = {c for c in df.columns if df.columns.count(c) > 1}
        if dup:
            # reference test/sql_test.rb:103-107 (DataFusion: "Projections
            # require unique expression names")
            raise InvalidDataError(
                f"Projections require unique expression names: duplicate {sorted(dup)}"
            )
        return Result(df)

    _TRAVEL_RE = re.compile(
        r"\b([\w.]+)\s+(?:FOR\s+)?(SYSTEM_VERSION|VERSION|SYSTEM_TIME|TIMESTAMP)"
        r"\s+AS\s+OF\s+('(?:[^']|'')*'|\d+)",
        re.IGNORECASE,
    )

    def _rewrite_time_travel(self, query: str) -> str:
        """``t VERSION AS OF <id|'ref'>`` / ``t TIMESTAMP AS OF '<ts>'`` —
        plus Spark's ``FOR SYSTEM_VERSION AS OF`` / ``FOR SYSTEM_TIME AS
        OF`` spellings — → a dedicated temp view pinned to that snapshot
        (Spark's own syntax only works for DSv2 tables, not temp views).
        A quoted VERSION literal names a branch/tag (Iceberg SQL allows
        both).  Matches that start inside a string literal are left
        untouched."""
        lit_spans = [m.span() for m in re.finditer(r"'(?:[^']|'')*'", query)]

        def sub(m: re.Match) -> str:
            if any(a <= m.start() < b for a, b in lit_spans):
                return m.group(0)
            name, kind, lit = m.group(1), m.group(2).upper(), m.group(3)
            kind = {"SYSTEM_VERSION": "VERSION", "SYSTEM_TIME": "TIMESTAMP"}.get(
                kind, kind
            )
            tbl = self.load_table(self._sql_table_ident(name))
            if kind == "VERSION":
                if lit.startswith("'"):
                    ref = lit[1:-1].replace("''", "'")
                    df = tbl.to_df(ref=ref)
                    view = f"{name.replace('.', '_')}__r{abs(hash(ref))}"
                else:
                    df = tbl.to_df(snapshot_id=int(lit))
                    view = f"{name.replace('.', '_')}__v{lit}"
            else:
                if lit.startswith("'"):
                    ts = lit[1:-1].replace("''", "'")
                else:
                    # bare numeric literal: Spark casts it as epoch-
                    # SECONDS (the old lit[1:-1] stripped the first and
                    # last DIGIT of an unquoted literal — r12 review)
                    ts = int(lit) * 1000  # engine as_of ints = epoch-ms
                df = tbl.to_df(as_of=ts)
                view = f"{name.replace('.', '_')}__t{abs(hash(str(ts)))}"
            df.createOrReplaceTempView(view)
            return view

        return self._TRAVEL_RE.sub(sub, query)

    _META_TABLE_RE = re.compile(
        r"\b([\w.]+)\$(snapshots|history|refs|files|manifests|partitions|"
        r"delete_entries|entries|metadata_log_entries|position_deletes|"
        r"data_files|delete_files|all_entries|all_files|all_data_files|"
        r"all_delete_files|all_manifests)\b"
    )

    def _rewrite_metadata_tables(self, query: str) -> str:
        """``SELECT * FROM t$snapshots`` — Iceberg's metadata-table SQL
        syntax, routed through :class:`TableInspect` (same columns as
        iceberg-spark's ``tbl.snapshots``/``refs``/… tables).  Each match
        materializes the metadata view fresh, so the query always sees the
        table's current state.  Matches inside string literals are left
        untouched."""
        lit_spans = [m.span() for m in re.finditer(r"'(?:[^']|'')*'", query)]

        def sub(m: re.Match) -> str:
            if any(a <= m.start() < b for a, b in lit_spans):
                return m.group(0)
            name, kind = m.group(1), m.group(2)
            tbl = self.load_table(self._sql_table_ident(name))
            df = getattr(tbl.inspect, kind)()
            view = f"{name.replace('.', '_')}__meta_{kind}"
            df.createOrReplaceTempView(view)
            return view

        return self._META_TABLE_RE.sub(sub, query)

    @staticmethod
    def _merge_canonical_aliases(expr, talias, salias, tname, sname):
        """merge_into evaluates expressions against aliases t/s — rewrite
        the user's explicit aliases AND bare table names to those."""
        for user, canon in (
            (talias, "t"), (salias, "s"), (tname, "t"), (sname, "s")
        ):
            if user:
                expr = re.sub(rf"\b{re.escape(user)}\.", f"{canon}.", expr)
        return expr

    def _sql_table_ident(self, name: str) -> list[str]:
        parts = name.split(".")
        return self._with_namespace(parts)

    @staticmethod
    def _show_create_ddl(t: Table, name: str) -> str:
        """Reconstruct iceberg-spark-style DDL from table metadata (SHOW
        CREATE TABLE)."""
        cols = ",\n".join(
            f"  {f.name} {f.field_type.name}"
            + ("" if not f.required else " NOT NULL")
            for f in t.current_schema().fields
        )
        out = f"CREATE TABLE {name} (\n{cols})\nUSING iceberg"
        spec = t.default_partition_spec() or {}
        if spec.get("fields"):
            parts = []
            for pf in spec["fields"]:
                tr, src = pf.get("transform", "identity"), pf["source"]
                if tr == "identity":
                    parts.append(src)
                else:
                    m = re.match(r"^(bucket|truncate)\[(\d+)\]$", tr)
                    if m:
                        parts.append(f"{m.group(1)}({m.group(2)}, {src})")
                    else:
                        parts.append(f"{tr}s({src})" if tr in (
                            "year", "month", "day", "hour") else f"{tr}({src})")
            out += f"\nPARTITIONED BY ({', '.join(parts)})"
        order = t.default_sort_order() or {}
        if order.get("fields"):
            parts = [
                f"{sf['source']} {sf.get('direction', 'asc').upper()}"
                for sf in order["fields"]
            ]
            out += f"\nSORTED BY ({', '.join(parts)})"
        out += f"\nLOCATION '{t.location}'"
        props = t.properties
        if props:
            kv = ",\n  ".join(
                f"'{k}' = '{v}'" for k, v in sorted(props.items())
            )
            out += f"\nTBLPROPERTIES (\n  {kv})"
        return out

    def create_view(self, ident: Ident, select_sql: str, replace: bool = False) -> None:
        """Persist a named view definition in the warehouse (the reference's
        ``CREATE VIEW`` is half-broken — returns empty results and cannot
        reference tables with data, ``test/sql_test.rb:71-86``; here views
        are first-class: stored as SQL text, re-resolved per query)."""
        parts = self._with_namespace(ident)
        if not self.namespace_exists(parts[:-1]):
            raise _no_namespace(parts[:-1])
        path = os.path.join(self.warehouse, *parts[:-1], f"{parts[-1]}.view.json")
        if self.io.exists(path) and not replace:
            raise TableAlreadyExistsError(f"view already exists: {'.'.join(parts)}")
        self.io.write_atomic(path, json.dumps({"sql": select_sql}), overwrite=True)
        self._invalidate_views()

    def drop_view(self, ident: Ident, if_exists: bool = False) -> None:
        parts = self._with_namespace(ident)
        path = os.path.join(self.warehouse, *parts[:-1], f"{parts[-1]}.view.json")
        if not self.io.exists(path):
            if if_exists:
                return
            raise NoSuchTableError(f"view does not exist: {'.'.join(parts)}")
        self.io.delete(path)
        self._invalidate_views()

    def list_views(self, ns: Optional[Ident] = None) -> list[list[str]]:
        namespaces = [_norm_ident(ns)] if ns else self._all_namespaces()
        out = []
        for nsp in namespaces:
            d = os.path.join(self.warehouse, *nsp)
            for fn in self.io.list_children(d):
                if fn.endswith(".view.json"):
                    out.append(nsp + [fn[: -len(".view.json")]])
        return out

    def _sql_write(self, query: str, params: Optional[list[Any]] = None) -> Result:
        from iceberg_ruby_spark.errors import UnsupportedFeatureError

        m = self._VIEW_RE.match(query)
        if m:
            replace = bool(re.search(r"OR\s+REPLACE", query, re.IGNORECASE))
            self.create_view(self._sql_table_ident(m.group(1)), m.group(2), replace=replace)
            return Result(small_local_df(self.spark, [], "ok string"))
        m = self._DROP_VIEW_RE.match(query)
        if m:
            if_exists = bool(re.search(r"IF\s+EXISTS", query, re.IGNORECASE))
            self.drop_view(self._sql_table_ident(m.group(1)), if_exists=if_exists)
            return Result(small_local_df(self.spark, [], "ok string"))
        m = re.match(
            r"^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s+"
            r"LIKE\s+([\w.]+)\s*;?\s*$",
            query,
            re.IGNORECASE,
        )
        if m:
            srct = self.load_table(self._sql_table_ident(m.group(2)))
            spec = srct.default_partition_spec() or {}
            self.create_table(
                self._sql_table_ident(m.group(1)),
                schema=srct.current_schema(),
                partition_spec=[
                    (pf["source"], pf.get("transform", "identity"))
                    for pf in spec.get("fields", [])
                ]
                or None,
                properties=dict(srct.properties),
                if_not_exists=bool(
                    re.search(r"IF\s+NOT\s+EXISTS", query, re.IGNORECASE)
                ),
            )
            return Result(small_local_df(self.spark, [], "ok string"))
        m = self._CREATE_NS_RE.match(query)
        if m:
            props = None
            if m.group(3):
                props = {}
                for p in _split_top_level(m.group(3)):
                    k, _, v = p.partition("=")
                    props[k.strip().strip("'")] = v.strip().strip("'")
            self.create_namespace(
                m.group(2).split("."),
                properties=props,
                if_not_exists=bool(m.group(1)),
            )
            return Result(small_local_df(self.spark, [], "ok string"))
        m = self._DROP_NS_RE.match(query)
        if m:
            self.drop_namespace(m.group(2).split("."), if_exists=bool(m.group(1)))
            return Result(small_local_df(self.spark, [], "ok string"))
        m = self._DDL_RE.match(query)
        if m:
            name, cols_src = m.group(1), m.group(2)
            cols: dict[str, str] = {}
            for p in _split_top_level(cols_src):
                toks = p.strip().split(None, 1)
                if len(toks) != 2:
                    raise UnsupportedFeatureError(f"cannot parse column definition: {p!r}")
                cols[toks[0]] = toks[1].strip()
            if_not_exists = bool(re.search(r"IF\s+NOT\s+EXISTS", query, re.IGNORECASE))
            or_replace = bool(
                re.match(r"^\s*CREATE\s+OR\s+REPLACE\b", query, re.IGNORECASE)
            )
            props = None
            if m.group(3):
                # TBLPROPERTIES ('k'='v', ...) — iceberg-spark's CREATE
                # TABLE spelling (how SQL callers reach format-version 3)
                props = {}
                for p in _split_top_level(m.group(3)):
                    k, eq, v = p.partition("=")
                    if not eq:
                        raise UnsupportedFeatureError(
                            "TBLPROPERTIES expects 'key'='value' pairs"
                        )
                    props[k.strip().strip("'")] = v.strip().strip("'")
            self.create_table(
                self._sql_table_ident(name),
                schema=cols,
                if_not_exists=if_not_exists,
                or_replace=or_replace,
                properties=props,
            )
            return Result(small_local_df(self.spark, [], "ok string"))
        m = self._TRUNCATE_RE.match(query)
        if m:
            tbl = self.load_table(self._sql_table_ident(m.group(1)))
            n = tbl.scan().count()
            tbl.overwrite([])
            self._invalidate_views()
            return Result(small_local_df(self.spark, [(n,)], "deleted long"))
        m = self._INSERT_RE.match(query)
        if m:
            verb, name, col_list, rest = (
                m.group(1).upper(),
                m.group(2),
                m.group(3),
                m.group(4).rstrip().rstrip(";"),
            )
            tbl = self.load_table(self._sql_table_ident(name))
            self._register_views()
            # Spark SQL evaluates both `VALUES (...), (...)` and `SELECT ...`
            df = self.spark.sql(rest)
            if col_list:
                # explicit column list: align positionally, missing columns
                # take their write defaults via the normal append path
                names = [c.strip() for c in col_list.split(",") if c.strip()]
                if len(names) != len(df.columns):
                    raise InvalidDataError(
                        f"INSERT column list has {len(names)} names but the "
                        f"source produces {len(df.columns)} columns"
                    )
                df = df.toDF(*names)
            elif all(c.startswith("col") for c in df.columns):
                # positional VALUES come back as col1..colN — align by position
                df = df.toDF(*[f.name for f in tbl.current_schema().fields][: len(df.columns)])
            if verb == "OVERWRITE":
                # INSERT OVERWRITE: full-table replace in one snapshot
                tbl.overwrite(df)
            else:
                tbl.append(df)
            self._invalidate_views()
            return Result(small_local_df(self.spark, [], "ok string"))
        m = self._ALTER_RE.match(query)
        if m:
            name, action = m.group(1), m.group(2).strip().rstrip(";").strip()
            if (mm := re.match(
                r"ADD\s+COLUMNS?\s+\(?\s*(\w+)\s+([\w()\s,]+?)"
                r"(?:\s+DEFAULT\s+('(?:[^']|'')*'|[-\w.]+))?\s*\)?\s*$",
                action, re.IGNORECASE,
            )):
                tbl = self.load_table(self._sql_table_ident(name))
                default = mm.group(3)
                if default is not None:
                    if default.startswith("'"):
                        default = default[1:-1].replace("''", "'")
                    else:
                        try:
                            default = json.loads(default.lower())
                        except ValueError:
                            pass
                tbl.update_schema().add_column(
                    mm.group(1), mm.group(2).strip(), default=default
                ).commit()
            elif (mm := re.match(r"DROP\s+COLUMNS?\s+\(?\s*(\w+)\s*\)?\s*$", action, re.IGNORECASE)):
                tbl = self.load_table(self._sql_table_ident(name))
                tbl.update_schema().drop_column(mm.group(1)).commit()
            elif (mm := re.match(
                r"RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*$", action, re.IGNORECASE
            )):
                tbl = self.load_table(self._sql_table_ident(name))
                tbl.update_schema().rename_column(mm.group(1), mm.group(2)).commit()
            elif (mm := re.match(r"RENAME\s+TO\s+([\w.]+)\s*$", action, re.IGNORECASE)):
                self.rename_table(self._sql_table_ident(name), self._sql_table_ident(mm.group(1)))
            elif (mm := re.match(
                r"SET\s+TBLPROPERTIES\s*\(\s*(.+?)\s*\)\s*$", action,
                re.IGNORECASE | re.DOTALL,
            )):
                # SQL '' escapes inside quoted strings ('it''s fine')
                kvs = re.findall(
                    r"'((?:[^']|'')+)'\s*=\s*'((?:[^']|'')*)'", mm.group(1)
                )
                if not kvs:
                    raise InvalidDataError(
                        "SET TBLPROPERTIES expects 'key'='value' pairs"
                    )
                tbl = self.load_table(self._sql_table_ident(name))
                tbl.update_properties(
                    {k.replace("''", "'"): v.replace("''", "'") for k, v in kvs}
                )
            elif (mm := re.match(
                r"UNSET\s+TBLPROPERTIES\s*\(\s*(.+?)\s*\)\s*$", action,
                re.IGNORECASE | re.DOTALL,
            )):
                keys = re.findall(r"'([^']+)'", mm.group(1))
                tbl = self.load_table(self._sql_table_ident(name))
                tbl.update_properties(removals=keys)
            elif (mm := re.match(
                r"ADD\s+PARTITION\s+FIELD\s+(.+?)(?:\s+AS\s+(\w+))?\s*$",
                action, re.IGNORECASE,
            )):
                # iceberg-spark DDL extension: evolve the default spec by
                # appending one field (existing fields keep their ids)
                tbl = self.load_table(self._sql_table_ident(name))
                src, tr = _parse_partition_transform_sql(mm.group(1))
                cur = tbl.partition_spec_by_id(tbl.default_spec_id) or {"fields": []}
                fields = [
                    {"source": f["source"], "transform": f["transform"],
                     "name": f.get("name")}
                    for f in cur["fields"]
                ]
                fields.append({"source": src, "transform": tr, "name": mm.group(2)})
                tbl.update_spec(fields)
            elif (mm := re.match(
                r"DROP\s+PARTITION\s+FIELD\s+(.+?)\s*$", action, re.IGNORECASE
            )):
                tbl = self.load_table(self._sql_table_ident(name))
                src, tr = _parse_partition_transform_sql(mm.group(1))
                cur = tbl.partition_spec_by_id(tbl.default_spec_id) or {"fields": []}
                keep = [
                    {"source": f["source"], "transform": f["transform"],
                     "name": f.get("name")}
                    for f in cur["fields"]
                    if not (f["source"] == src and f["transform"] == tr)
                ]
                if len(keep) == len(cur["fields"]):
                    raise InvalidDataError(
                        f"partition field not found: {mm.group(1).strip()}"
                    )
                tbl.update_spec(keep)
            elif (mm := re.match(
                r"WRITE\s+ORDERED\s+BY\s+(.+)$", action, re.IGNORECASE
            )):
                from iceberg_ruby_spark.transforms import SortField

                tbl = self.load_table(self._sql_table_ident(name))
                sort_fields = []
                for part in _split_top_level(mm.group(1)):
                    sm = re.match(
                        r"\s*(\w+)(?:\s+(ASC|DESC))?"
                        r"(?:\s+NULLS\s+(FIRST|LAST))?\s*$",
                        part, re.IGNORECASE,
                    )
                    if not sm:
                        raise InvalidDataError(f"bad sort field: {part.strip()!r}")
                    sort_fields.append(
                        SortField(
                            sm.group(1),
                            direction=(sm.group(2) or "asc").lower(),
                            null_order=(sm.group(3) or "").lower() or None,
                        )
                    )
                tbl.replace_sort_order(sort_fields)
            elif (mm := re.match(
                r"ALTER\s+COLUMN\s+(\w+)\s+TYPE\s+([\w()\s,]+?)\s*$",
                action, re.IGNORECASE,
            )):
                tbl = self.load_table(self._sql_table_ident(name))
                tbl.update_schema().update_column(
                    mm.group(1), mm.group(2).strip()
                ).commit()
            elif (mm := re.match(
                # iceberg-spark branch/tag DDL: CREATE BRANCH|TAG
                # [IF NOT EXISTS] name [AS OF VERSION v] [RETAIN n DAYS]
                # [WITH SNAPSHOT RETENTION n SNAPSHOTS [m DAYS] | m DAYS]
                r"CREATE\s+(BRANCH|TAG)\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)"
                r"(?:\s+AS\s+OF\s+VERSION\s+(\d+))?"
                r"(?:\s+RETAIN\s+(\d+)\s+DAYS)?"
                r"(?:\s+WITH\s+SNAPSHOT\s+RETENTION\s+"
                r"(?:(\d+)\s+SNAPSHOTS)?\s*(?:(\d+)\s+DAYS)?)?\s*$",
                action, re.IGNORECASE,
            )):
                kind, ref, ver, retain_d, keep_n, keep_d = mm.groups()
                tbl = self.load_table(self._sql_table_ident(name))
                if_not_exists = bool(
                    re.search(r"IF\s+NOT\s+EXISTS", action, re.IGNORECASE)
                )
                if ref in tbl.refs and not if_not_exists:
                    raise InvalidDataError(f"ref already exists: {ref}")
                if if_not_exists and ref in tbl.refs:
                    pass
                else:
                    day_ms = 86_400_000
                    sid = int(ver) if ver else None
                    age = int(retain_d) * day_ms if retain_d else None
                    if kind.upper() == "TAG":
                        tbl.create_tag(ref, snapshot_id=sid, max_ref_age_ms=age)
                    else:
                        tbl.create_branch(
                            ref,
                            snapshot_id=sid,
                            max_ref_age_ms=age,
                            min_snapshots_to_keep=int(keep_n) if keep_n else None,
                            max_snapshot_age_ms=int(keep_d) * day_ms
                            if keep_d
                            else None,
                        )
            elif (mm := re.match(
                # iceberg-spark: ALTER TABLE t SET IDENTIFIER FIELDS a, b
                r"SET\s+IDENTIFIER\s+FIELDS\s+(.+)$", action, re.IGNORECASE
            )):
                tbl = self.load_table(self._sql_table_ident(name))
                cols = [c.strip() for c in mm.group(1).split(",") if c.strip()]
                tbl.update_schema().set_identifier_fields(*cols).commit()
            elif re.match(
                r"DROP\s+IDENTIFIER\s+FIELDS?\s*$", action, re.IGNORECASE
            ):
                tbl = self.load_table(self._sql_table_ident(name))
                tbl.update_schema().set_identifier_fields().commit()
            elif (mm := re.match(
                r"DROP\s+(BRANCH|TAG)\s+(?:IF\s+EXISTS\s+)?(\w+)\s*$",
                action, re.IGNORECASE,
            )):
                tbl = self.load_table(self._sql_table_ident(name))
                if mm.group(2) in tbl.refs:
                    tbl.drop_ref(mm.group(2))
                elif "IF EXISTS" not in action.upper():
                    raise InvalidDataError(f"no such ref: {mm.group(2)}")
            else:
                raise UnsupportedFeatureError(
                    f"unsupported ALTER TABLE action: {action[:60]!r}"
                )
            self._invalidate_views()
            return Result(small_local_df(self.spark, [], "ok string"))
        m = self._MERGE_RE.match(query)
        if m:
            name, talias, sub_src, src_name, salias, on_src, when_src = m.groups()
            tbl = self.load_table(self._sql_table_ident(name))
            self._register_views()
            source = self.spark.sql(sub_src if sub_src else f"SELECT * FROM {src_name}")
            # equality-conjunction ON → key columns (both sides must name
            # the same column, optionally alias-qualified)
            keys = []
            for part in re.split(r"\bAND\b", on_src, flags=re.IGNORECASE):
                em = re.match(
                    r"^\s*(?:\w+\.)?(\w+)\s*=\s*(?:\w+\.)?(\w+)\s*$", part
                )
                if not em or em.group(1) != em.group(2):
                    raise UnsupportedFeatureError(
                        "MERGE ON must be an equality conjunction on same-named "
                        f"columns, got: {part.strip()!r}"
                    )
                keys.append(em.group(1))
            def _parse_assignments(src: str) -> dict:
                out = {}
                for p in _split_top_level(src):
                    k, eq, v = p.partition("=")
                    k = re.sub(r"^\s*\w+\.", "", k).strip()  # drop target alias
                    if not eq or not re.match(r"^[A-Za-z_][A-Za-z_0-9]*$", k):
                        raise UnsupportedFeatureError(
                            f"cannot parse MERGE SET assignment: {p.strip()!r}"
                        )
                    # merge_into evaluates expressions against aliases t/s —
                    # rewrite the user's aliases (or bare table names) to those
                    out[k] = self._merge_canonical_aliases(
                        v.strip(), talias, salias, name, src_name
                    )
                return out

            # by-source UPDATE parses (and strips) FIRST: its clause text
            # shares the WHEN NOT MATCHED BY SOURCE prefix with the
            # by-source DELETE regex, whose lazy AND-group would otherwise
            # swallow the UPDATE clause
            nmbs_update = None
            nmbs_ucond = None
            num_ = self._MERGE_NMBS_UPDATE_RE.search(when_src)
            if num_:
                if num_.group(1):
                    nmbs_ucond = self._merge_canonical_aliases(
                        num_.group(1).strip(), talias, salias, name, src_name
                    )
                nmbs_update = _parse_assignments(num_.group(2))
                when_src = self._MERGE_NMBS_UPDATE_RE.sub("", when_src)
            assignments = None
            mm = self._MERGE_MATCHED_RE.search(when_src)
            if mm:
                assignments = _parse_assignments(mm.group(1))
            insert = bool(self._MERGE_INSERT_RE.search(when_src))
            nmbs_delete = None
            nm_ = self._MERGE_NMBS_DELETE_RE.search(when_src)
            if nm_:
                nmbs_delete = True
                if nm_.group(1):
                    nmbs_delete = self._merge_canonical_aliases(
                        nm_.group(1).strip(), talias, salias, name, src_name
                    )
                # strip before the plain MATCHED-DELETE regex sees it
                when_src = self._MERGE_NMBS_DELETE_RE.sub("", when_src)
            delete = None
            dm = self._MERGE_DELETE_RE.search(when_src)
            if dm:
                delete = True
                if dm.group(1):
                    delete = self._merge_canonical_aliases(
                        dm.group(1).strip(), talias, salias, name, src_name
                    )
            covered = (self._MERGE_MATCHED_RE.sub("", when_src))
            covered = self._MERGE_INSERT_RE.sub("", covered)
            covered = self._MERGE_DELETE_RE.sub("", covered).strip()
            if covered.upper().startswith("WHEN"):
                raise UnsupportedFeatureError(
                    "MERGE supports WHEN MATCHED [AND cond] THEN DELETE, WHEN "
                    "MATCHED THEN UPDATE SET ..., WHEN NOT MATCHED THEN "
                    "INSERT *, and WHEN NOT MATCHED BY SOURCE [AND cond] "
                    f"THEN DELETE | UPDATE SET ...; unsupported clause: {covered[:60]!r}"
                )
            tbl.merge_into(
                source,
                on=keys,
                when_matched_update=assignments,
                when_not_matched_insert=insert,
                when_matched_delete=delete,
                when_not_matched_by_source_delete=nmbs_delete,
                when_not_matched_by_source_update=nmbs_update,
                when_not_matched_by_source_condition=nmbs_ucond,
            )
            self._invalidate_views()
            return Result(small_local_df(self.spark, [], "ok string"))
        m = self._UPDATE_RE.match(query)
        if m:
            name, set_src, where_src = m.groups()
            tbl = self.load_table(self._sql_table_ident(name))
            assignments = {}
            for p in _split_top_level(set_src):
                k, eq, v = p.partition("=")
                if not eq or not re.match(r"^[A-Za-z_][A-Za-z_0-9]*$", k.strip()):
                    raise UnsupportedFeatureError(
                        f"cannot parse SET assignment: {p.strip()!r}"
                    )
                assignments[k.strip()] = v.strip()
            n = tbl.update_where(assignments, where_src)
            self._invalidate_views()
            return Result(small_local_df(self.spark, [(n,)], "updated long"))
        m = self._DELETE_RE.match(query)
        if m:
            name, where_src = m.groups()
            tbl = self.load_table(self._sql_table_ident(name))
            n = tbl.delete_where(where_src)
            self._invalidate_views()
            return Result(small_local_df(self.spark, [(n,)], "deleted long"))
        raise UnsupportedFeatureError(
            f"unsupported write statement (use the catalog/table API): {query[:80]!r}"
        )

    def _sql_call(self, proc: str, args_src: str) -> Result:
        """``CALL <cat>.system.<procedure>(...)`` — the iceberg-spark
        stored-procedure surface for maintenance operations.  Arguments
        are positional or named (``name => value``); the first is always
        the table identifier."""
        pos: list[Any] = []
        named: dict[str, Any] = {}
        for part in _split_top_level(args_src):
            part = part.strip()
            if not part:
                continue
            k, arrow, v = part.partition("=>")
            if arrow:
                named[k.strip().lower()] = _parse_call_literal(v.strip())
            else:
                pos.append(_parse_call_literal(part))

        def arg(name: str, idx: int, default: Any = None) -> Any:
            if name in named:
                return named[name]
            if idx < len(pos):
                return pos[idx]
            return default

        table_ident = arg("table", 0)
        if table_ident is None:
            raise InvalidDataError(f"CALL system.{proc}: table argument required")
        proc = proc.lower()
        # procedures whose target table does not exist yet
        if proc == "register_table":
            t = self.register_table(
                self._sql_table_ident(str(table_ident)),
                str(arg("metadata_file", 1)),
            )
            self._invalidate_views()
            return Result(
                small_local_df(self.spark, 
                    [(t.current_snapshot_id,
                      len(t.snapshots),
                      len([e for e in t._current_entries() if "path" in e]))],
                    "current_snapshot_id long, total_snapshot_count long, "
                    "total_data_files_count long",
                )
            )
        if proc == "snapshot":
            # our flavor of iceberg-spark's snapshot migration procedure:
            # source is a parquet path (or parquet.`path`); creates the
            # table with the files' schema and imports them by reference
            src = str(arg("source_table", 1))
            m_src = re.match(r"^parquet\.`(.+)`$", src)
            path = m_src.group(1) if m_src else src
            import glob as _glob

            expanded = sorted(_glob.glob(path)) or [path]
            df = self.spark.read.parquet(*expanded)
            t = self.create_table(
                self._sql_table_ident(str(table_ident)), schema=df.schema
            )
            n = t.add_files(expanded)
            self._invalidate_views()
            return Result(
                small_local_df(self.spark, 
                    [(n,)], "imported_files_count long"
                )
            )
        tbl = self.load_table(self._sql_table_ident(str(table_ident)))
        if proc == "ancestors_of":
            start = arg("snapshot_id", 1)
            by_id = {s.snapshot_id: s for s in tbl.snapshots}
            head = by_id.get(
                int(start) if start is not None else tbl.current_snapshot_id
            )
            rows = [(s.snapshot_id, s.timestamp_ms) for s in ancestors(by_id, head)]
            return Result(
                small_local_df(self.spark, 
                    rows, "snapshot_id long, timestamp long"
                )
            )
        if proc == "expire_snapshots":
            # iceberg-spark's procedure deletes files reachable ONLY from
            # the expired snapshots — reference-counted, never an
            # mtime-unbounded orphan sweep (which would race a concurrent
            # writer's not-yet-committed files; that sweep stays behind the
            # explicit remove_orphan_files procedure + its safety window).
            # iceberg-spark positional order: (table, older_than, retain_last)
            retain = arg("retain_last", 2)
            n = tbl.expire_snapshots(
                # None lets the table's history.expire.* properties supply
                # the retention defaults, exactly like the Python API
                keep_last=None if retain is None else int(retain),
                older_than=arg("older_than", 1),
                clean_data_files=True,
            )
            files = tbl.last_expire_cleaned_files
            data = sum(
                1
                for f in files
                if f.endswith((".parquet", ".orc")) and "/deletes-" not in f
            )
            dels = sum(
                1
                for f in files
                if (f.endswith(".parquet") or f.endswith(".puffin"))
                and "/deletes-" in f
            )
            out = (
                [(n, data, dels)],
                "deleted_snapshots_count long, deleted_data_files_count long,"
                " deleted_delete_files_count long",
            )
        elif proc == "remove_orphan_files":
            removed = tbl.remove_orphan_files(
                older_than=arg("older_than", 1),
                dry_run=str(arg("dry_run", 2) or "false").lower() == "true",
            )
            out = [(len(removed),)], "removed long"
        elif proc == "rewrite_data_files":
            zorder = arg("zorder", 1)
            where = arg("where", 2)
            tbl.compact(
                zorder=[c.strip() for c in str(zorder).split(",")] if zorder else None,
                where=str(where) if where is not None else None,
            )
            s = tbl.refresh().current_snapshot().summary
            out = (
                [(
                    int(s.get("rewritten-data-files-count", 0)),
                    int(s.get("added-data-files-count", 0)),
                )],
                "rewritten_data_files_count long, added_data_files_count long",
            )
        elif proc == "rollback_to_snapshot":
            tbl.rollback_to_snapshot(int(arg("snapshot_id", 1)))
            out = [(tbl.current_snapshot_id,)], "current_snapshot_id long"
        elif proc == "rollback_to_timestamp":
            tbl.rollback_to_timestamp(arg("timestamp", 1))
            out = [(tbl.current_snapshot_id,)], "current_snapshot_id long"
        elif proc == "set_current_snapshot":
            tbl.rollback_to_snapshot(int(arg("snapshot_id", 1)))
            out = [(tbl.current_snapshot_id,)], "current_snapshot_id long"
        elif proc == "fast_forward":
            tbl.fast_forward(str(arg("branch", 1)), arg("to", 2))
            out = [(tbl.current_snapshot_id,)], "current_snapshot_id long"
        elif proc == "cherrypick_snapshot":
            src_id = int(arg("snapshot_id", 1))
            tbl.cherrypick_snapshot(src_id)
            out = (
                [(src_id, tbl.refresh().current_snapshot_id)],
                "source_snapshot_id long, current_snapshot_id long",
            )
        elif proc == "publish_changes":
            tbl.publish_changes(str(arg("wap_id", 1)))
            out = [(tbl.current_snapshot_id,)], "current_snapshot_id long"
        elif proc == "compute_table_stats":
            stats = tbl.compute_statistics()
            out = [(stats["record-count"],)], "record_count long"
        elif proc == "compute_partition_stats":
            pstats = tbl.compute_partition_statistics()
            out = (
                [(len(pstats.get("partitions", pstats)),)],
                "partitions_analyzed long",
            )
        elif proc == "rewrite_manifests":
            res = tbl.rewrite_manifests()
            out = (
                [(res["rewritten_manifests_count"],
                  res["added_manifests_count"])],
                "rewritten_manifests_count long, added_manifests_count long",
            )
        elif proc == "maintain":
            rep = tbl.maintain(dry_run=bool(arg("dry_run", 1, False)))
            out = (
                [(json.dumps(sorted(rep)), json.dumps(rep, default=str))],
                "steps string, report string",
            )
        elif proc == "rewrite_position_delete_files":
            res = tbl.rewrite_position_deletes()
            out = (
                [(res["rewritten_delete_files_count"],
                  res["added_delete_files_count"])],
                "rewritten_delete_files_count long, added_delete_files_count long",
            )
        elif proc == "add_files":
            # iceberg-spark: add_files(table, source_table) with
            # source_table like parquet.`/path/*.parquet`
            src = str(arg("source_table", 1))
            m_src = re.match(r"^parquet\.`(.+)`$", src)
            path = m_src.group(1) if m_src else src
            import glob as _glob

            expanded = sorted(_glob.glob(path)) or [path]
            n = tbl.add_files(expanded)
            out = [(n,)], "added_files_count long"
        elif proc == "ivf_index_drift":
            # staleness metric for an ivf_table_index table (r8): cell
            # skew + assign-distance drift vs the stamped build stats
            from iceberg_ruby_spark.operators.similarity import ivf_table_drift

            d = ivf_table_drift(tbl)
            out = (
                [(
                    d["n_vectors"], d["n_cells"], d["n_cells_used"],
                    float(d["cell_skew"]), float(d["mean_dist_ratio"]),
                    bool(d["stale"]),
                )],
                "n_vectors long, n_cells long, n_cells_used long, "
                "cell_skew double, mean_dist_ratio double, stale boolean",
            )
        elif proc == "ivf_retrain":
            from iceberg_ruby_spark.operators.similarity import ivf_table_retrain

            t2 = ivf_table_retrain(tbl)
            n_rows = int(t2.current_snapshot().summary.get("total-records", 0))
            out = [(n_rows,)], "reassigned_vectors long"
        elif proc == "pq_index_drift":
            # staleness metric for a pq_table_index table (r9):
            # reconstruction-error drift vs the stamped build value
            from iceberg_ruby_spark.operators.similarity import pq_table_drift

            d = pq_table_drift(tbl)
            out = (
                [(
                    d["n_vectors"], float(d["recon_err"]),
                    float(d["build_recon_err"]),
                    float(d["recon_err_ratio"]), bool(d["stale"]),
                )],
                "n_vectors long, recon_err double, build_recon_err double, "
                "recon_err_ratio double, stale boolean",
            )
        elif proc == "pq_retrain":
            from iceberg_ruby_spark.operators.similarity import pq_table_retrain

            t2 = pq_table_retrain(tbl)
            n_rows = int(t2.current_snapshot().summary.get("total-records", 0))
            out = [(n_rows,)], "reencoded_vectors long"
        elif proc == "build_key_bloom":
            r = tbl.build_key_bloom(
                str(arg("col", 1)), fpp=float(arg("fpp", 2, 0.01))
            )
            out = (
                [(r["column"], r["files"], r["bytes"])],
                "column string, indexed_files long, index_bytes long",
            )
        elif proc == "refresh_key_bloom":
            r = tbl.refresh_key_bloom(str(arg("col", 1)))
            out = (
                [(
                    r["column"], r["files"], r.get("built", r["files"]),
                    r.get("dropped", 0), r["bytes"],
                )],
                "column string, indexed_files long, built long, "
                "dropped long, index_bytes long",
            )
        elif proc == "drop_key_bloom":
            tbl.drop_key_bloom(str(arg("col", 1)))
            out = [(str(arg("col", 1)),)], "dropped_column string"
        elif proc == "create_changelog_view":
            # iceberg-spark: registers a queryable changelog view and
            # returns its name.  Window bounds come as named args
            # (start_snapshot_id exclusive, end_snapshot_id inclusive)
            # instead of iceberg-spark's options map.
            view = str(
                arg("changelog_view", 1, f"{str(table_ident).replace('.', '_')}_changes")
            )
            start = arg("start_snapshot_id", 2)
            end = arg("end_snapshot_id", 3)
            # iceberg-spark's net_changes: window-cancelling changes drop
            net = str(arg("net_changes", 4, "false")).lower() == "true"
            fn = tbl.changelog_net if net else tbl.changelog_scan
            fn(
                from_snapshot_id=None if start is None else int(start),
                to_snapshot_id=None if end is None else int(end),
            ).createOrReplaceTempView(view)
            out = [(view,)], "changelog_view string"
        else:
            raise UnsupportedFeatureError(f"unknown procedure: system.{proc}")
        self._invalidate_views()
        rows, schema = out
        return Result(small_local_df(self.spark, rows, schema))

    def _invalidate_views(self) -> None:
        self._view_cache: dict[str, int] = {}

    def _register_views(self) -> None:
        """Expose catalog tables to Spark SQL as temp views: default-namespace
        tables by bare name, everything else as ``ns_table``.  Views are
        cached by table metadata version — re-registered only when a table
        committed a new version (round-1 review: O(all tables) per query)."""
        cache = getattr(self, "_view_cache", None)
        if cache is None:
            cache = self._view_cache = {}
        seen = set()
        for ns in self._all_namespaces():
            for parts in self.list_tables(ns):
                key = ".".join(parts)
                seen.add(key)
                # version check reads only the tiny version-hint file — full
                # metadata loads (and re-registration) happen only for
                # tables that actually committed since last seen
                _p, loc = self._table_location(parts)
                version = self._table_ops(loc, parts).current_version()
                if cache.get(key) == version:
                    continue
                df = self.load_table(parts).to_df()
                if self.default_namespace and parts[:-1] == self.default_namespace:
                    df.createOrReplaceTempView(parts[-1])
                df.createOrReplaceTempView("_".join(parts))
                cache[key] = version
        for gone in set(cache) - seen:
            del cache[gone]
        # stored views resolve after tables (their SQL references the
        # freshly registered table views)
        for parts in self.list_views():
            path = os.path.join(self.warehouse, *parts[:-1], f"{parts[-1]}.view.json")
            try:
                view_sql = json.loads(self.io.read(path))["sql"]
            except (OSError, KeyError, ValueError):
                continue
            names = ["_".join(parts)]
            if self.default_namespace and parts[:-1] == self.default_namespace:
                names.append(parts[-1])
            for name in names:
                self.spark.sql(
                    f"CREATE OR REPLACE TEMPORARY VIEW {name} AS {view_sql}"
                )

    def _all_namespaces(self) -> list[list[str]]:
        out: list[list[str]] = []

        def walk(parent: Optional[list[str]]) -> None:
            for ns in self.list_namespaces(parent):
                out.append(ns)
                walk(ns)

        walk(None)
        return out


class MemoryCatalog(Catalog):
    """Analog of the reference's in-memory/FS catalog
    (``lib/iceberg/memory_catalog.rb:4-10``) — a Catalog over a temp dir."""

    def __init__(self, warehouse: Optional[str] = None, **kw: Any):
        import tempfile

        self._tmp = None
        if warehouse is None:
            self._tmp = tempfile.mkdtemp(prefix="iceberg_ruby_spark_wh_")
            warehouse = self._tmp
        super().__init__(warehouse, **kw)
