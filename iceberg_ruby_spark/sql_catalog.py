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

from iceberg_ruby_spark.catalog import Catalog, Ident, _no_namespace, _no_table
from iceberg_ruby_spark.errors import InvalidDataError

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
    """SQL catalog uri → sqlite file path, read as sqlx reads it: the path
    follows ``sqlite://`` (or ``sqlite:``), so ``sqlite:///abs/c.db`` and
    ``sqlite:////abs/c.db`` open ``/abs/c.db`` while ``sqlite:rel.db`` and
    a bare path stay relative to the working directory."""
    if uri.startswith("sqlite:"):
        path = uri[len("sqlite:"):]
        if path.startswith("//"):
            path = path[2:]
        return "/" + path.lstrip("/") if path.startswith("/") else path
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
    ``lib/iceberg/sql_catalog.rb``); files under ``warehouse``.  It
    supplies :class:`Catalog`'s store hooks as statements on the two
    registry tables and its version pointer as :class:`_SqlPointer`."""

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
        rows = self._query(
            "SELECT location FROM iceberg_tables "
            "WHERE catalog = ? AND ns = ? AND name = ?",
            *self._key(parts),
        )
        return parts, rows[0][0] if rows else os.path.join(self.warehouse, *parts)

    # -- registry store ----------------------------------------------------
    def _key(self, parts: list[str]) -> tuple[str, str, str]:
        return (self.name, _NS_SEP.join(parts[:-1]), parts[-1])

    def _query(self, sql: str, *args) -> list[tuple]:
        with self.db.connect() as conn:
            return conn.execute(sql, args).fetchall()

    def _write(self, sql: str, *args) -> int:
        """Run one write statement; the number of rows it changed.  A
        uniqueness violation raises ``FileExistsError``."""
        with self.db.lock, self.db.connect() as conn:
            try:
                return conn.execute(sql, args).rowcount
            except sqlite3.IntegrityError as e:
                raise FileExistsError(str(e)) from e

    def _ns_props(self, parts):
        rows = self._query(
            "SELECT properties FROM iceberg_namespaces WHERE catalog = ? AND ns = ?",
            self.name, _NS_SEP.join(parts),
        )
        return json.loads(rows[0][0]) if rows else None

    def _ns_create(self, parts, props) -> None:
        self._write(
            "INSERT INTO iceberg_namespaces (catalog, ns, properties) VALUES (?,?,?)",
            self.name, _NS_SEP.join(parts), json.dumps(props),
        )

    def _ns_store(self, parts, old, new) -> None:
        if not self._write(
            "UPDATE iceberg_namespaces SET properties = ? WHERE catalog = ? AND ns = ?",
            json.dumps(new), self.name, _NS_SEP.join(parts),
        ):
            raise _no_namespace(parts)

    def _ns_delete(self, parts) -> None:
        self._write(
            "DELETE FROM iceberg_namespaces WHERE catalog = ? AND ns = ?",
            self.name, _NS_SEP.join(parts),
        )

    def _ns_children(self, parts) -> list[str]:
        rows = self._query("SELECT ns FROM iceberg_namespaces WHERE catalog = ?", self.name)
        levels = [key.split(_NS_SEP) for (key,) in rows]
        return [lv[-1] for lv in levels if lv[:-1] == parts]

    def _table_names(self, parts) -> list[str]:
        rows = self._query(
            "SELECT name FROM iceberg_tables WHERE catalog = ? AND ns = ?",
            self.name, _NS_SEP.join(parts),
        )
        return [name for (name,) in rows]

    def _detach(self, parts, location, purge) -> None:
        if not self._write(
            "DELETE FROM iceberg_tables WHERE catalog = ? AND ns = ? AND name = ?",
            *self._key(parts),
        ):
            raise _no_table(parts)

    def _rename(self, old, new, location) -> None:
        if not self._write(
            "UPDATE iceberg_tables SET ns = ?, name = ? "
            "WHERE catalog = ? AND ns = ? AND name = ?",
            *self._key(new)[1:], *self._key(old),
        ):
            raise _no_table(old)

    def _attach(self, parts, location, meta) -> None:
        self._write(
            "INSERT INTO iceberg_tables (catalog, ns, name, location, version) "
            "VALUES (?,?,?,?,?)",
            *self._key(parts), location, meta.version,
        )
