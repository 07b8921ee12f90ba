"""AWS catalog backends: Glue Data Catalog and S3 Tables.

Reference surface: ``lib/iceberg/glue_catalog.rb:2-10`` (GlueCatalog,
``warehouse:`` = storage URI) and ``lib/iceberg/s3_tables_catalog.rb:2-9``
(S3TablesCatalog, ``arn:``), dispatched in ``ext/iceberg/src/catalog.rs``
behind the ``glue``/``s3tables`` features.  Both follow the published AWS
conventions for Iceberg tables:

- **Glue**: databases are (single-level) namespaces; a table is an entry
  with ``table_type=ICEBERG`` and a ``metadata_location`` parameter.
  Commits swap ``metadata_location`` via ``update_table`` with the
  previous ``VersionId`` — Glue's optimistic lock; a lost race raises
  ``ConcurrentModificationException``, surfaced here as ``FileExistsError``
  so the engine's existing retry loops apply unchanged.
- **S3 Tables**: namespaces/tables live under a table-bucket ARN; the
  metadata pointer moves via ``update_table_metadata_location`` guarded by
  a ``versionToken`` (``ConflictException`` on a lost race).

The data plane (metadata json, manifests, parquet) stays on FileIO
storage under the warehouse location — the same registry/file split as
the SQL and REST backends, so tables re-register freely across catalogs.

Clients are INJECTED (any object with the boto3 method surface).  With
``client=None`` the catalog builds a real boto3 client — boto3 ships in
this environment, but no AWS endpoint does, so tests exercise the full
DDL/commit/conflict matrix against in-process fakes
(tests/support/aws_stubs.py), the same role the REST fixture plays for
the REST backend.
"""

from __future__ import annotations

import os
import re
import tempfile
from typing import Optional

from iceberg_ruby_spark.catalog import Catalog, Ident, _norm_ident
from iceberg_ruby_spark.errors import (
    InvalidDataError,
    NamespaceAlreadyExistsError,
    NoSuchNamespaceError,
    NoSuchTableError,
    TableAlreadyExistsError,
)


def _err_name(exc: Exception) -> str:
    """botocore errors carry the service error code in response metadata;
    fakes just use the class name.  Normalize both."""
    code = getattr(exc, "response", {}).get("Error", {}).get("Code", "")
    return code or type(exc).__name__


def _version_of(pointer: Optional[str]) -> Optional[int]:
    """The version number of a ``.../v{N}.json`` metadata location."""
    m = re.match(r"^v(\d+)\.json$", os.path.basename(pointer or ""))
    return int(m.group(1)) if m else None


class _ServicePointer:
    """A table's version pointer held by the service — the
    :class:`~iceberg_ruby_spark.table.FsTableOps` pointer seam over a
    store's ``get_pointer``/``set_pointer``.  The service stores what AWS
    stores, the absolute path of the current ``v{N}.json``; the version
    number is parsed back out of it."""

    def __init__(self, store, parts: list[str], location: str):
        self.store = store
        self.parts = list(parts)
        self.location = location

    def _file(self, v: int) -> str:
        return os.path.join(self.location, "metadata", f"v{v}.json")

    def read(self) -> Optional[int]:
        return _version_of(self.store.get_pointer(self.parts))

    def swap(self, base: Optional[int], new: int) -> None:
        expected = self._file(base) if base else None
        self.store.set_pointer(self.parts, expected, self._file(new), self.location)


class _AwsCatalogBase(Catalog):
    """Shared skeleton: single-level namespaces, service-held pointers."""

    def _write_pointer(self, parts, location) -> None:
        # custom locations live in the service registry (StorageDescriptor /
        # warehouseLocation), not in an FS pointer file
        return

    def _flat_ns(self, ns: Ident) -> str:
        parts = _norm_ident(ns)
        if len(parts) != 1:
            raise InvalidDataError(
                f"{type(self).__name__} namespaces are single-level: "
                f"{'.'.join(parts)!r}"
            )
        return parts[0]

    def _table_ops(self, location: str, parts: Optional[list[str]] = None):
        from iceberg_ruby_spark.table import FsTableOps

        parts = parts or self._warehouse_ident(location)
        ops = FsTableOps(location, io=self.io)
        ops.pointer = _ServicePointer(self._store(), parts, location)
        return ops

    def _table_location(self, ident: Ident) -> tuple[list[str], str]:
        parts = self._with_namespace(ident)
        if len(parts) != 2:
            raise InvalidDataError(
                f"expected namespace.table identifier, got: {'.'.join(parts)}"
            )
        loc = self._store().get_location(parts)
        return parts, loc or os.path.join(self.warehouse, *parts)

    def register_table(self, ident: Ident, metadata_location: str):
        parts = self._with_namespace(ident)
        if os.path.isdir(metadata_location):
            # table-location form (the FS catalog's register convention):
            # resolve the current v{N}.json through the FS version hint
            from iceberg_ruby_spark.table import FsTableOps

            ops = FsTableOps(metadata_location, io=self.io)
            metadata_location = ops.load().metadata_file
        if _version_of(metadata_location) is None:
            raise InvalidDataError(
                f"not a v{{N}}.json metadata location: {metadata_location!r}"
            )
        location = os.path.dirname(os.path.dirname(os.path.abspath(metadata_location)))
        if not self.namespace_exists([parts[-2]]):
            raise NoSuchNamespaceError(f"namespace does not exist: {parts[-2]}")
        if self._store().get_pointer(parts) is not None:
            raise TableAlreadyExistsError(f"table already exists: {'.'.join(parts)}")
        self._store().set_pointer(
            parts, None, os.path.abspath(metadata_location), location
        )
        return self.load_table(parts)


# ---------------------------------------------------------------------------
# Glue
# ---------------------------------------------------------------------------


class _GlueStore:
    """Pointer/registry operations over a (real or fake) Glue client."""

    def __init__(self, client):
        self.client = client

    def get_pointer(self, parts: list[str]) -> Optional[str]:
        try:
            t = self.client.get_table(DatabaseName=parts[-2], Name=parts[-1])
        except Exception as e:  # noqa: BLE001 — mapped by error code
            if _err_name(e) == "EntityNotFoundException":
                return None
            raise
        return t["Table"].get("Parameters", {}).get("metadata_location")

    def get_location(self, parts: list[str]) -> Optional[str]:
        try:
            t = self.client.get_table(DatabaseName=parts[-2], Name=parts[-1])
        except Exception as e:  # noqa: BLE001
            if _err_name(e) == "EntityNotFoundException":
                return None
            raise
        return (t["Table"].get("StorageDescriptor") or {}).get("Location")

    def set_pointer(
        self,
        parts: list[str],
        expected: Optional[str],
        new_pointer: str,
        location: str,
    ) -> None:
        db, name = parts[-2], parts[-1]
        table_input = {
            "Name": name,
            "TableType": "EXTERNAL_TABLE",
            "Parameters": {
                "table_type": "ICEBERG",
                "metadata_location": new_pointer,
            },
            "StorageDescriptor": {"Location": location},
        }
        if expected is None:
            try:
                self.client.create_table(DatabaseName=db, TableInput=table_input)
            except Exception as e:  # noqa: BLE001
                if _err_name(e) == "AlreadyExistsException":
                    raise FileExistsError(f"table exists in Glue: {db}.{name}")
                raise
            return
        try:
            current = self.client.get_table(DatabaseName=db, Name=name)
        except Exception as e:  # noqa: BLE001
            if _err_name(e) == "EntityNotFoundException":
                raise NoSuchTableError(f"table does not exist: {db}.{name}")
            raise
        if current["Table"].get("Parameters", {}).get("metadata_location") != expected:
            raise FileExistsError(f"metadata pointer moved: {db}.{name}")
        try:
            self.client.update_table(
                DatabaseName=db,
                TableInput=table_input,
                VersionId=current["Table"].get("VersionId"),
            )
        except Exception as e:  # noqa: BLE001
            if _err_name(e) == "ConcurrentModificationException":
                raise FileExistsError(f"Glue version CAS lost: {db}.{name}")
            raise


class GlueCatalog(_AwsCatalogBase):
    """AWS Glue Data Catalog backend (reference
    ``lib/iceberg/glue_catalog.rb``): databases as namespaces, Iceberg
    tables as Glue table entries carrying a ``metadata_location``."""

    def __init__(
        self,
        warehouse: Optional[str] = None,
        client=None,
        name: str = "glue",
        namespace: Optional[Ident] = None,
        spark=None,
        io=None,
    ):
        if client is None:
            import boto3  # baked into the environment; endpoint comes from env

            client = boto3.client("glue")
        self.client = client
        self._glue_store = _GlueStore(client)
        if warehouse is None:
            warehouse = tempfile.mkdtemp(prefix="iceberg_ruby_spark_glue_wh_")
        super().__init__(warehouse, namespace=namespace, spark=spark, name=name, io=io)

    def _store(self) -> _GlueStore:
        return self._glue_store

    # -- namespaces (Glue databases) --------------------------------------
    def create_namespace(self, ns, properties=None, if_not_exists=False) -> None:
        db = self._flat_ns(ns)
        try:
            self.client.create_database(
                DatabaseInput={"Name": db, "Parameters": dict(properties or {})}
            )
        except Exception as e:  # noqa: BLE001
            if _err_name(e) == "AlreadyExistsException":
                if if_not_exists:
                    return
                raise NamespaceAlreadyExistsError(f"namespace already exists: {db}")
            raise

    def list_namespaces(self, parent=None) -> list[list[str]]:
        if parent:
            raise NoSuchNamespaceError(
                f"Glue namespaces are single-level; no children under "
                f"{'.'.join(_norm_ident(parent))}"
            )
        out, token = [], None
        while True:
            kw = {"NextToken": token} if token else {}
            resp = self.client.get_databases(**kw)
            out += [[d["Name"]] for d in resp.get("DatabaseList", [])]
            token = resp.get("NextToken")
            if not token:
                return sorted(out)

    def namespace_exists(self, ns) -> bool:
        try:
            db = self._flat_ns(ns)
        except InvalidDataError:
            return False
        try:
            self.client.get_database(Name=db)
            return True
        except Exception as e:  # noqa: BLE001
            if _err_name(e) == "EntityNotFoundException":
                return False
            raise

    def namespace_properties(self, ns) -> dict[str, str]:
        db = self._flat_ns(ns)
        try:
            resp = self.client.get_database(Name=db)
        except Exception as e:  # noqa: BLE001
            if _err_name(e) == "EntityNotFoundException":
                raise NoSuchNamespaceError(f"namespace does not exist: {db}")
            raise
        return dict(resp["Database"].get("Parameters", {}))

    def update_namespace(self, ns, properties) -> None:
        db = self._flat_ns(ns)
        merged = {**self.namespace_properties(db), **dict(properties)}
        self.client.update_database(
            Name=db, DatabaseInput={"Name": db, "Parameters": merged}
        )

    def drop_namespace(self, ns, if_exists=False) -> None:
        db = self._flat_ns(ns)
        if not self.namespace_exists(db):
            if if_exists:
                return
            raise NoSuchNamespaceError(f"namespace does not exist: {db}")
        if self.list_tables([db]):
            raise InvalidDataError(f"namespace is not empty: {db}")
        self.client.delete_database(Name=db)

    # -- tables ------------------------------------------------------------
    def list_tables(self, ns=None) -> list[list[str]]:
        db = self._flat_ns(ns) if ns else (self.namespace or [None])[0]
        if db is None:
            raise NoSuchNamespaceError("no namespace given and no default set")
        if not self.namespace_exists(db):
            raise NoSuchNamespaceError(f"namespace does not exist: {db}")
        out, token = [], None
        while True:
            kw = {"NextToken": token} if token else {}
            resp = self.client.get_tables(DatabaseName=db, **kw)
            out += [[db, t["Name"]] for t in resp.get("TableList", [])]
            token = resp.get("NextToken")
            if not token:
                return sorted(out)

    def drop_table(self, ident, if_exists=False) -> None:
        parts = self._with_namespace(ident)
        if not self.table_exists(parts):
            if if_exists:
                return
            raise NoSuchTableError(f"table does not exist: {'.'.join(parts)}")
        self.client.delete_table(DatabaseName=parts[-2], Name=parts[-1])

    def purge_table(self, ident) -> None:
        parts, loc = self._table_location(ident)
        self.drop_table(parts)
        if os.path.isdir(loc):
            import shutil

            shutil.rmtree(loc, ignore_errors=True)

    def rename_table(self, old, new) -> None:
        # Glue has no rename API (documented AWS limitation): re-create the
        # entry under the new name pointing at the same metadata, then
        # delete the old one.  Not atomic — same caveat as AWS's own docs.
        old_p = self._with_namespace(old)
        new_p = self._with_namespace(new)
        pointer = self._store().get_pointer(old_p)
        if pointer is None:
            raise NoSuchTableError(f"table does not exist: {'.'.join(old_p)}")
        if not self.namespace_exists([new_p[-2]]):
            raise NoSuchNamespaceError(f"namespace does not exist: {new_p[-2]}")
        if self._store().get_pointer(new_p) is not None:
            raise TableAlreadyExistsError(f"table already exists: {'.'.join(new_p)}")
        loc = self._store().get_location(old_p) or os.path.join(
            self.warehouse, *old_p
        )
        self._store().set_pointer(new_p, None, pointer, loc)
        self.client.delete_table(DatabaseName=old_p[-2], Name=old_p[-1])


# ---------------------------------------------------------------------------
# S3 Tables
# ---------------------------------------------------------------------------


class _S3TablesStore:
    """Pointer/registry operations over a (real or fake) s3tables client."""

    def __init__(self, client, arn: str):
        self.client = client
        self.arn = arn

    def _get(self, parts: list[str]):
        try:
            return self.client.get_table(
                tableBucketARN=self.arn, namespace=parts[-2], name=parts[-1]
            )
        except Exception as e:  # noqa: BLE001
            if _err_name(e) == "NotFoundException":
                return None
            raise

    def get_pointer(self, parts: list[str]) -> Optional[str]:
        t = self._get(parts)
        return t.get("metadataLocation") if t else None

    def get_location(self, parts: list[str]) -> Optional[str]:
        t = self._get(parts)
        return t.get("warehouseLocation") if t else None

    def set_pointer(
        self,
        parts: list[str],
        expected: Optional[str],
        new_pointer: str,
        location: str,
    ) -> None:
        ns, name = parts[-2], parts[-1]
        t = self._get(parts)
        if expected is None:
            if t is None:
                try:
                    t = self.client.create_table(
                        tableBucketARN=self.arn,
                        namespace=ns,
                        name=name,
                        format="ICEBERG",
                        warehouseLocation=location,
                    )
                except Exception as e:  # noqa: BLE001
                    if _err_name(e) == "ConflictException":
                        raise FileExistsError(f"table exists: {ns}.{name}")
                    raise
            elif t.get("metadataLocation"):
                raise FileExistsError(f"table exists: {ns}.{name}")
        elif t is None:
            raise NoSuchTableError(f"table does not exist: {ns}.{name}")
        elif t.get("metadataLocation") != expected:
            raise FileExistsError(f"metadata pointer moved: {ns}.{name}")
        try:
            self.client.update_table_metadata_location(
                tableBucketARN=self.arn,
                namespace=ns,
                name=name,
                metadataLocation=new_pointer,
                versionToken=t["versionToken"],
            )
        except Exception as e:  # noqa: BLE001
            if _err_name(e) == "ConflictException":
                raise FileExistsError(f"version token CAS lost: {ns}.{name}")
            raise


class S3TablesCatalog(_AwsCatalogBase):
    """Amazon S3 Tables backend (reference
    ``lib/iceberg/s3_tables_catalog.rb``): namespaces/tables under a
    table-bucket ARN; commits move the metadata location with a
    version-token CAS (``update_table_metadata_location``)."""

    def __init__(
        self,
        arn: str,
        client=None,
        warehouse: Optional[str] = None,
        name: str = "s3tables",
        namespace: Optional[Ident] = None,
        spark=None,
        io=None,
    ):
        if client is None:
            import boto3

            client = boto3.client("s3tables")
        self.client = client
        self.arn = arn
        self._s3t_store = _S3TablesStore(client, arn)
        if warehouse is None:
            warehouse = tempfile.mkdtemp(prefix="iceberg_ruby_spark_s3t_wh_")
        super().__init__(warehouse, namespace=namespace, spark=spark, name=name, io=io)

    def _store(self) -> _S3TablesStore:
        return self._s3t_store

    # -- namespaces --------------------------------------------------------
    def create_namespace(self, ns, properties=None, if_not_exists=False) -> None:
        n = self._flat_ns(ns)
        if properties:
            raise InvalidDataError("S3 Tables namespaces do not take properties")
        try:
            self.client.create_namespace(tableBucketARN=self.arn, namespace=[n])
        except Exception as e:  # noqa: BLE001
            if _err_name(e) == "ConflictException":
                if if_not_exists:
                    return
                raise NamespaceAlreadyExistsError(f"namespace already exists: {n}")
            raise

    def list_namespaces(self, parent=None) -> list[list[str]]:
        if parent:
            raise NoSuchNamespaceError(
                "S3 Tables namespaces are single-level; no children under "
                f"{'.'.join(_norm_ident(parent))}"
            )
        out, token = [], None
        while True:
            kw = {"continuationToken": token} if token else {}
            resp = self.client.list_namespaces(tableBucketARN=self.arn, **kw)
            out += [list(n["namespace"]) for n in resp.get("namespaces", [])]
            token = resp.get("continuationToken")
            if not token:
                return sorted(out)

    def namespace_exists(self, ns) -> bool:
        try:
            n = self._flat_ns(ns)
        except InvalidDataError:
            return False
        try:
            self.client.get_namespace(tableBucketARN=self.arn, namespace=n)
            return True
        except Exception as e:  # noqa: BLE001
            if _err_name(e) == "NotFoundException":
                return False
            raise

    def namespace_properties(self, ns) -> dict[str, str]:
        if not self.namespace_exists(ns):
            raise NoSuchNamespaceError(
                f"namespace does not exist: {'.'.join(_norm_ident(ns))}"
            )
        return {}  # the service stores none

    def update_namespace(self, ns, properties) -> None:
        raise InvalidDataError("S3 Tables namespaces do not take properties")

    def drop_namespace(self, ns, if_exists=False) -> None:
        n = self._flat_ns(ns)
        if not self.namespace_exists(n):
            if if_exists:
                return
            raise NoSuchNamespaceError(f"namespace does not exist: {n}")
        if self.list_tables([n]):
            raise InvalidDataError(f"namespace is not empty: {n}")
        self.client.delete_namespace(tableBucketARN=self.arn, namespace=n)

    # -- tables ------------------------------------------------------------
    def list_tables(self, ns=None) -> list[list[str]]:
        n = self._flat_ns(ns) if ns else (self.namespace or [None])[0]
        if n is None:
            raise NoSuchNamespaceError("no namespace given and no default set")
        if not self.namespace_exists(n):
            raise NoSuchNamespaceError(f"namespace does not exist: {n}")
        out, token = [], None
        while True:
            kw = {"continuationToken": token} if token else {}
            resp = self.client.list_tables(
                tableBucketARN=self.arn, namespace=n, **kw
            )
            out += [[n, t["name"]] for t in resp.get("tables", [])]
            token = resp.get("continuationToken")
            if not token:
                return sorted(out)

    def drop_table(self, ident, if_exists=False) -> None:
        parts = self._with_namespace(ident)
        if not self.table_exists(parts):
            if if_exists:
                return
            raise NoSuchTableError(f"table does not exist: {'.'.join(parts)}")
        self.client.delete_table(
            tableBucketARN=self.arn, namespace=parts[-2], name=parts[-1]
        )

    def purge_table(self, ident) -> None:
        parts, loc = self._table_location(ident)
        self.drop_table(parts)
        if os.path.isdir(loc):
            import shutil

            shutil.rmtree(loc, ignore_errors=True)

    def rename_table(self, old, new) -> None:
        old_p = self._with_namespace(old)
        new_p = self._with_namespace(new)
        if not self.table_exists(old_p):
            raise NoSuchTableError(f"table does not exist: {'.'.join(old_p)}")
        if not self.namespace_exists([new_p[-2]]):
            raise NoSuchNamespaceError(f"namespace does not exist: {new_p[-2]}")
        if self.table_exists(new_p):
            raise TableAlreadyExistsError(f"table already exists: {'.'.join(new_p)}")
        t = self._s3t_store._get(old_p)
        self.client.rename_table(
            tableBucketARN=self.arn,
            namespace=old_p[-2],
            name=old_p[-1],
            newNamespaceName=new_p[-2],
            newName=new_p[-1],
            versionToken=t["versionToken"],
        )
