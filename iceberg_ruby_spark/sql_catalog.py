"""SQL catalog backend — namespaces and table pointers in a SQL database,
matching the reference's SQL backend surface (``lib/iceberg/sql_catalog.rb:
2-12``: uri, warehouse, name, properties; sqlite/postgres via sqlx in
``ext/iceberg/src/catalog.rs:170-186``).  This implementation ships the
sqlite profile on the stdlib driver; the SQL statements are portable, so a
DB-API connection factory for another engine can be dropped in.

Protocol (the same split Iceberg's JDBC catalog uses):

- the DATABASE holds the registry — namespace rows, table rows, and each
  table's current metadata VERSION pointer;
- metadata/manifest/data FILES stay on FileIO storage under the table
  location, written by FsTableOps (``v{N}.json`` + manifests), so a table
  is freely re-registerable between FS/SQL/REST catalogs.

A table's ops are FsTableOps with a :class:`_SqlPointer` attached; its
commit compare-and-swaps the version pointer::

    UPDATE iceberg_tables SET version = N+1
     WHERE catalog = ? AND ns = ? AND name = ? AND version = N

zero rows updated → a concurrent committer won → ``FileExistsError``, which
the optimistic retry loops in ``table.py`` already handle.
"""

from __future__ import annotations

import json
import os
import sqlite3
import threading
from typing import Optional

from iceberg_ruby_spark.catalog import Catalog, Ident, _norm_ident
from iceberg_ruby_spark.errors import (
    InvalidDataError,
    NamespaceAlreadyExistsError,
    NoSuchNamespaceError,
    NoSuchTableError,
    TableAlreadyExistsError,
)

_SCHEMA = [
    """CREATE TABLE IF NOT EXISTS iceberg_namespaces (
        catalog TEXT NOT NULL,
        ns TEXT NOT NULL,
        properties TEXT NOT NULL DEFAULT '{}',
        PRIMARY KEY (catalog, ns)
    )""",
    """CREATE TABLE IF NOT EXISTS iceberg_tables (
        catalog TEXT NOT NULL,
        ns TEXT NOT NULL,
        name TEXT NOT NULL,
        location TEXT NOT NULL,
        version INTEGER NOT NULL,
        PRIMARY KEY (catalog, ns, name)
    )""",
]

_NS_SEP = "\x1f"


class _Db:
    """One sqlite file, serialized writes (sqlite locks the file anyway;
    the Python-side lock keeps commit CAS + error mapping race-free within
    this process)."""

    def __init__(self, path: str):
        self.path = path
        self.lock = threading.Lock()
        with self.connect() as conn:
            for ddl in _SCHEMA:
                conn.execute(ddl)

    def connect(self) -> sqlite3.Connection:
        conn = sqlite3.connect(self.path, timeout=30)
        conn.isolation_level = None  # autocommit; explicit BEGIN when needed
        return conn


def _parse_uri(uri: str) -> str:
    """'sqlite:///path/db.sqlite' / 'sqlite:path' / bare path → file path."""
    if uri.startswith("sqlite:"):
        rest = uri[len("sqlite:"):]
        return rest.lstrip("/") if rest.startswith("///") else rest.lstrip("/") or rest
    if "://" in uri:
        raise InvalidDataError(
            f"unsupported SQL catalog uri (sqlite profile only): {uri!r}"
        )
    return uri


class _SqlPointer:
    """A table's version pointer in its ``iceberg_tables`` row — the
    :class:`~iceberg_ruby_spark.table.FsTableOps` pointer seam."""

    def __init__(self, db: _Db, catalog: str, parts: list[str], location: str):
        self.db = db
        self.key = (catalog, _NS_SEP.join(parts[:-1]), parts[-1])
        self.ident = ".".join(parts)
        self.location = location

    def read(self) -> Optional[int]:
        with self.db.connect() as conn:
            row = conn.execute(
                "SELECT version FROM iceberg_tables "
                "WHERE catalog = ? AND ns = ? AND name = ?",
                self.key,
            ).fetchone()
        return None if row is None else int(row[0])

    def swap(self, base: Optional[int], new: int) -> None:
        with self.db.lock, self.db.connect() as conn:
            if not base:
                try:
                    conn.execute(
                        "INSERT INTO iceberg_tables "
                        "(catalog, ns, name, location, version) VALUES (?,?,?,?,?)",
                        (*self.key, self.location, new),
                    )
                except sqlite3.IntegrityError:
                    raise FileExistsError(f"table row exists: {self.ident}")
                return
            cur = conn.execute(
                "UPDATE iceberg_tables SET version = ? "
                "WHERE catalog = ? AND ns = ? AND name = ? AND version = ?",
                (new, *self.key, base),
            )
            if cur.rowcount == 0:
                raise FileExistsError(f"version CAS lost: {self.ident} @ v{base}")


class SqlCatalog(Catalog):
    """Catalog registry in a SQL database (reference
    ``lib/iceberg/sql_catalog.rb``); files under ``warehouse``."""

    def __init__(
        self,
        uri: str,
        warehouse: Optional[str] = None,
        name: str = "main",
        properties: Optional[dict[str, str]] = None,
        namespace: Optional[Ident] = None,
        spark=None,
        io=None,
    ):
        import tempfile

        self._tmp = None
        if warehouse is None:
            self._tmp = tempfile.mkdtemp(prefix="iceberg_ruby_spark_sql_wh_")
            warehouse = self._tmp
        db_path = _parse_uri(uri)
        os.makedirs(os.path.dirname(os.path.abspath(db_path)), exist_ok=True)
        self.db = _Db(db_path)
        self.properties = dict(properties or {})
        super().__init__(warehouse, namespace=namespace, spark=spark, name=name, io=io)

    # -- seam --------------------------------------------------------------
    def _table_ops(self, location: str, parts: Optional[list[str]] = None):
        from iceberg_ruby_spark.table import FsTableOps

        parts = parts or self._warehouse_ident(location)
        ops = FsTableOps(location, io=self.io)
        ops.pointer = _SqlPointer(self.db, self.name, parts, location)
        return ops

    def _table_location(self, ident: Ident) -> tuple[list[str], str]:
        parts = self._with_namespace(ident)
        with self.db.connect() as conn:
            row = conn.execute(
                "SELECT location FROM iceberg_tables "
                "WHERE catalog = ? AND ns = ? AND name = ?",
                (self.name, _NS_SEP.join(parts[:-1]), parts[-1]),
            ).fetchone()
        if row:
            return parts, row[0]
        return parts, os.path.join(self.warehouse, *parts)

    # -- namespaces --------------------------------------------------------
    def create_namespace(self, ns, properties=None, if_not_exists=False) -> None:
        parts = _norm_ident(ns)
        key = _NS_SEP.join(parts)
        with self.db.lock, self.db.connect() as conn:
            if len(parts) > 1:
                parent = conn.execute(
                    "SELECT 1 FROM iceberg_namespaces WHERE catalog = ? AND ns = ?",
                    (self.name, _NS_SEP.join(parts[:-1])),
                ).fetchone()
                if parent is None:
                    raise NoSuchNamespaceError(
                        f"parent namespace does not exist: {'.'.join(parts[:-1])}"
                    )
            try:
                conn.execute(
                    "INSERT INTO iceberg_namespaces (catalog, ns, properties) "
                    "VALUES (?,?,?)",
                    (self.name, key, json.dumps(properties or {})),
                )
            except sqlite3.IntegrityError:
                if if_not_exists:
                    return
                raise NamespaceAlreadyExistsError(
                    f"namespace already exists: {'.'.join(parts)}"
                )

    def list_namespaces(self, parent=None) -> list[list[str]]:
        base = _norm_ident(parent) if parent else []
        if base and not self.namespace_exists(base):
            raise NoSuchNamespaceError(f"namespace does not exist: {'.'.join(base)}")
        with self.db.connect() as conn:
            rows = conn.execute(
                "SELECT ns FROM iceberg_namespaces WHERE catalog = ?", (self.name,)
            ).fetchall()
        out = []
        for (key,) in rows:
            levels = key.split(_NS_SEP)
            if len(levels) == len(base) + 1 and levels[: len(base)] == base:
                out.append(levels)
        return sorted(out)

    def namespace_exists(self, ns) -> bool:
        try:
            parts = _norm_ident(ns)
        except InvalidDataError:
            return False
        with self.db.connect() as conn:
            row = conn.execute(
                "SELECT 1 FROM iceberg_namespaces WHERE catalog = ? AND ns = ?",
                (self.name, _NS_SEP.join(parts)),
            ).fetchone()
        return row is not None

    def namespace_properties(self, ns) -> dict[str, str]:
        parts = _norm_ident(ns)
        with self.db.connect() as conn:
            row = conn.execute(
                "SELECT properties FROM iceberg_namespaces "
                "WHERE catalog = ? AND ns = ?",
                (self.name, _NS_SEP.join(parts)),
            ).fetchone()
        if row is None:
            raise NoSuchNamespaceError(f"namespace does not exist: {'.'.join(parts)}")
        return json.loads(row[0])

    def update_namespace(self, ns, properties) -> None:
        parts = _norm_ident(ns)
        with self.db.lock, self.db.connect() as conn:
            cur = conn.execute(
                "UPDATE iceberg_namespaces SET properties = ? "
                "WHERE catalog = ? AND ns = ?",
                (json.dumps(properties), self.name, _NS_SEP.join(parts)),
            )
            if cur.rowcount == 0:
                raise NoSuchNamespaceError(
                    f"namespace does not exist: {'.'.join(parts)}"
                )

    def drop_namespace(self, ns, if_exists=False) -> None:
        parts = _norm_ident(ns)
        key = _NS_SEP.join(parts)
        with self.db.lock, self.db.connect() as conn:
            row = conn.execute(
                "SELECT 1 FROM iceberg_namespaces WHERE catalog = ? AND ns = ?",
                (self.name, key),
            ).fetchone()
            if row is None:
                if if_exists:
                    return
                raise NoSuchNamespaceError(
                    f"namespace does not exist: {'.'.join(parts)}"
                )
            child = conn.execute(
                "SELECT 1 FROM iceberg_namespaces "
                "WHERE catalog = ? AND ns LIKE ? LIMIT 1",
                (self.name, key + _NS_SEP + "%"),
            ).fetchone()
            tbl = conn.execute(
                "SELECT 1 FROM iceberg_tables WHERE catalog = ? AND ns = ? LIMIT 1",
                (self.name, key),
            ).fetchone()
            if child or tbl:
                raise InvalidDataError(f"namespace is not empty: {'.'.join(parts)}")
            conn.execute(
                "DELETE FROM iceberg_namespaces WHERE catalog = ? AND ns = ?",
                (self.name, key),
            )

    # -- tables ------------------------------------------------------------
    def list_tables(self, ns=None) -> list[list[str]]:
        if ns is None:
            if not self.default_namespace:
                raise InvalidDataError(
                    "no namespace given and no default namespace set"
                )
            parts = self.default_namespace
        else:
            parts = _norm_ident(ns)
        if not self.namespace_exists(parts):
            raise NoSuchNamespaceError(f"namespace does not exist: {'.'.join(parts)}")
        with self.db.connect() as conn:
            rows = conn.execute(
                "SELECT name FROM iceberg_tables WHERE catalog = ? AND ns = ? "
                "ORDER BY name",
                (self.name, _NS_SEP.join(parts)),
            ).fetchall()
        return [[*parts, r[0]] for r in rows]

    def drop_table(self, ident, if_exists=False) -> None:
        parts = self._with_namespace(ident)
        with self.db.lock, self.db.connect() as conn:
            cur = conn.execute(
                "DELETE FROM iceberg_tables WHERE catalog = ? AND ns = ? AND name = ?",
                (self.name, _NS_SEP.join(parts[:-1]), parts[-1]),
            )
        if cur.rowcount == 0 and not if_exists:
            raise NoSuchTableError(f"table does not exist: {'.'.join(parts)}")

    def purge_table(self, ident) -> None:
        parts, loc = self._table_location(ident)
        if not self.table_exists(parts):
            raise NoSuchTableError(f"table does not exist: {'.'.join(parts)}")
        self.drop_table(parts)
        self.io.delete_prefix(loc)

    def rename_table(self, old, new) -> None:
        old_parts = self._with_namespace(old)
        new_parts = self._with_namespace(new)
        if not self.namespace_exists(new_parts[:-1]):
            raise NoSuchNamespaceError(
                f"namespace does not exist: {'.'.join(new_parts[:-1])}"
            )
        with self.db.lock, self.db.connect() as conn:
            dst = conn.execute(
                "SELECT 1 FROM iceberg_tables WHERE catalog = ? AND ns = ? AND name = ?",
                (self.name, _NS_SEP.join(new_parts[:-1]), new_parts[-1]),
            ).fetchone()
            if dst is not None:
                raise TableAlreadyExistsError(
                    f"table already exists: {'.'.join(new_parts)}"
                )
            cur = conn.execute(
                "UPDATE iceberg_tables SET ns = ?, name = ? "
                "WHERE catalog = ? AND ns = ? AND name = ?",
                (
                    _NS_SEP.join(new_parts[:-1]),
                    new_parts[-1],
                    self.name,
                    _NS_SEP.join(old_parts[:-1]),
                    old_parts[-1],
                ),
            )
            if cur.rowcount == 0:
                raise NoSuchTableError(f"table does not exist: {'.'.join(old_parts)}")

    def register_table(self, ident, metadata_location: str):
        """Attach an existing FS-layout table by pointer row (no copy)."""
        from iceberg_ruby_spark.table import FsTableOps

        parts = self._with_namespace(ident)
        if self.table_exists(parts):
            raise TableAlreadyExistsError(f"table already exists: {'.'.join(parts)}")
        src = metadata_location
        if src.endswith(".json"):
            src = os.path.dirname(os.path.dirname(src))
        src = os.path.abspath(src)
        fs_ops = FsTableOps(src, io=self.io)
        if not fs_ops.exists():
            raise NoSuchTableError(f"no table metadata at {metadata_location}")
        with self.db.lock, self.db.connect() as conn:
            try:
                conn.execute(
                    "INSERT INTO iceberg_tables (catalog, ns, name, location, version) "
                    "VALUES (?,?,?,?,?)",
                    (
                        self.name,
                        _NS_SEP.join(parts[:-1]),
                        parts[-1],
                        src,
                        fs_ops.current_version(),
                    ),
                )
            except sqlite3.IntegrityError:
                raise TableAlreadyExistsError(
                    f"table already exists: {'.'.join(parts)}"
                )
        return self.load_table(parts)
