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

from iceberg_ruby_spark.catalog import Catalog, Ident
from iceberg_ruby_spark.errors import InvalidDataError, NoSuchTableError


def _err_name(exc: Exception) -> str:
    """botocore errors carry the service error code in response metadata;
    fakes just use the class name.  Normalize both."""
    code = getattr(exc, "response", {}).get("Error", {}).get("Code", "")
    return code or type(exc).__name__


def _pages(call, items: str, token: str, **kw) -> list:
    """Every item of a paginated AWS list call; ``token`` names the
    continuation key of both the request and the response."""
    out, tok = [], None
    while True:
        resp = call(**kw, **({token: tok} if tok else {}))
        out += resp.get(items, [])
        tok = resp.get(token)
        if not tok:
            return out


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

    def _flat(self, parts: list[str]) -> str:
        """The service's namespace name; a nested namespace is refused."""
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

    def _attach(self, parts, location, meta) -> None:
        self._store().set_pointer(parts, None, meta.metadata_file, location)


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

    # -- registry store (databases are namespaces) --------------------------
    def _ns_props(self, parts):
        try:
            db = self.client.get_database(Name=self._flat(parts))
        except Exception as e:  # noqa: BLE001
            if _err_name(e) == "EntityNotFoundException":
                return None
            raise
        return dict(db["Database"].get("Parameters", {}))

    def _ns_create(self, parts, props) -> None:
        try:
            self.client.create_database(
                DatabaseInput={"Name": parts[0], "Parameters": props}
            )
        except Exception as e:  # noqa: BLE001
            if _err_name(e) == "AlreadyExistsException":
                raise FileExistsError(parts[0]) from e
            raise

    def _ns_store(self, parts, old, new) -> None:
        self.client.update_database(
            Name=parts[0], DatabaseInput={"Name": parts[0], "Parameters": new}
        )

    def _ns_delete(self, parts) -> None:
        self.client.delete_database(Name=parts[0])

    def _ns_children(self, parts) -> list[str]:
        if parts:
            return []
        dbs = _pages(self.client.get_databases, "DatabaseList", "NextToken")
        return [d["Name"] for d in dbs]

    def _table_names(self, parts) -> list[str]:
        tables = _pages(
            self.client.get_tables, "TableList", "NextToken", DatabaseName=parts[0]
        )
        return [t["Name"] for t in tables]

    def _detach(self, parts, location, purge) -> None:
        self.client.delete_table(DatabaseName=parts[0], Name=parts[1])

    def _rename(self, old, new, location) -> None:
        # Glue has no rename API (documented AWS limitation): re-create the
        # entry under the new name pointing at the same metadata, then
        # delete the old one.  Not atomic — same caveat as AWS's own docs.
        self._store().set_pointer(new, None, self._store().get_pointer(old), location)
        self.client.delete_table(DatabaseName=old[0], Name=old[1])


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

    # -- registry store ----------------------------------------------------
    def _ns_props(self, parts):
        try:
            self.client.get_namespace(tableBucketARN=self.arn, namespace=self._flat(parts))
        except Exception as e:  # noqa: BLE001
            if _err_name(e) == "NotFoundException":
                return None
            raise
        return {}  # the service stores none

    def _ns_create(self, parts, props) -> None:
        self._ns_store(parts, {}, props)  # refuses any properties
        try:
            self.client.create_namespace(tableBucketARN=self.arn, namespace=parts)
        except Exception as e:  # noqa: BLE001
            if _err_name(e) == "ConflictException":
                raise FileExistsError(parts[0]) from e
            raise

    def _ns_store(self, parts, old, new) -> None:
        if new:
            raise InvalidDataError("S3 Tables namespaces do not take properties")

    def _ns_delete(self, parts) -> None:
        self.client.delete_namespace(tableBucketARN=self.arn, namespace=parts[0])

    def _ns_children(self, parts) -> list[str]:
        if parts:
            return []
        spaces = _pages(
            self.client.list_namespaces, "namespaces", "continuationToken",
            tableBucketARN=self.arn,
        )
        return [n["namespace"][0] for n in spaces]

    def _table_names(self, parts) -> list[str]:
        tables = _pages(
            self.client.list_tables, "tables", "continuationToken",
            tableBucketARN=self.arn, namespace=parts[0],
        )
        return [t["name"] for t in tables]

    def _detach(self, parts, location, purge) -> None:
        self.client.delete_table(
            tableBucketARN=self.arn, namespace=parts[0], name=parts[1]
        )

    def _rename(self, old, new, location) -> None:
        self.client.rename_table(
            tableBucketARN=self.arn,
            namespace=old[0],
            name=old[1],
            newNamespaceName=new[0],
            newName=new[1],
            versionToken=self._s3t_store._get(old)["versionToken"],
        )
