"""One metadata plane and one catalog plane: every catalog commits
through ``FsTableOps`` and differs only in its version pointer, and runs
one namespace-and-table contract over its own registry store.  Crash
consistency of the FS pointer's commit (a version file is published whole
or not at all, and a stale hint never hides a published version), and two
conformance tests that run the same table lifecycle and the same registry
contract on every catalog backend."""

from __future__ import annotations

import glob
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import textwrap

import pytest

import iceberg_ruby_spark as ice
from iceberg_ruby_spark.aws import GlueCatalog, S3TablesCatalog
from iceberg_ruby_spark.errors import (
    InvalidDataError,
    NamespaceAlreadyExistsError,
    NoSuchNamespaceError,
    NoSuchTableError,
    TableAlreadyExistsError,
)
from tests.support.aws_stubs import FakeGlueClient, FakeS3TablesClient
from tests.support.rest_server import StubRestServer

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A child process that commits one metadata version and is killed by the
# kernel halfway through writing the version file: RLIMIT_FSIZE at half
# the document's size, SIGXFSZ restored to its default (terminate).
_CRASH_COMMIT = textwrap.dedent(
    """
    import json, resource, signal, sys
    from iceberg_ruby_spark.table import FsTableOps

    ops = FsTableOps(sys.argv[1])
    meta = ops.load()
    raw = dict(meta.raw, properties={**meta.properties, "crashed": "yes"})
    half = len(json.dumps(raw, indent=1)) // 2
    signal.signal(signal.SIGXFSZ, signal.SIG_DFL)
    resource.setrlimit(resource.RLIMIT_FSIZE, (half, half))
    ops.commit(meta.version, raw)
    """
)


def test_crash_mid_write_leaves_no_version_file(catalog):
    t = catalog.create_table("crash", schema={"k": "int"})
    t.append([{"k": 1}])
    head = t.ops.current_version()
    proc = subprocess.run(
        [sys.executable, "-c", _CRASH_COMMIT, t.ops.location],
        cwd=REPO,
        env={**os.environ, "PYTHONDONTWRITEBYTECODE": "1"},
        capture_output=True,
    )
    assert proc.returncode == -signal.SIGXFSZ, proc.stderr.decode()[-2000:]
    assert not os.path.exists(os.path.join(t.ops.metadata_dir, f"v{head + 1}.json"))
    t2 = catalog.load_table("crash")
    assert t2.metadata.version == head
    assert "crashed" not in t2.properties
    t2.append([{"k": 2}])
    assert sorted(r["k"] for r in catalog.load_table("crash").to_a()) == [1, 2]


def test_remove_orphan_files_reclaims_crashed_metadata_temp(catalog):
    """The hidden temp file a commit killed mid-write leaves under
    ``metadata/`` is an orphan: cleanup reclaims it once it is older than
    the cutoff, reports it under ``dry_run`` without deleting it, and
    leaves the table's own files alone."""
    import time

    t = catalog.create_table("crash_orphan", schema={"k": "int"})
    t.append([{"k": 1}])
    proc = subprocess.run(
        [sys.executable, "-c", _CRASH_COMMIT, t.ops.location],
        cwd=REPO,
        env={**os.environ, "PYTHONDONTWRITEBYTECODE": "1"},
        capture_output=True,
    )
    assert proc.returncode == -signal.SIGXFSZ, proc.stderr.decode()[-2000:]
    head = t.ops.current_version()
    temps = glob.glob(os.path.join(t.ops.metadata_dir, f".v{head + 1}.json.*"))
    assert len(temps) == 1, os.listdir(t.ops.metadata_dir)
    now_ms = int(time.time() * 1000)
    # inside the safety window: a writer may still be publishing it
    assert t.remove_orphan_files(older_than=now_ms - 60_000) == []
    assert t.remove_orphan_files(
        older_than=now_ms + 60_000, dry_run=True, return_files=True
    ) == temps
    assert os.path.exists(temps[0])
    assert t.remove_orphan_files(older_than=now_ms + 60_000) == temps
    assert not os.path.exists(temps[0])
    t2 = catalog.load_table("crash_orphan")
    t2.append([{"k": 2}])
    assert sorted(r["k"] for r in catalog.load_table("crash_orphan").to_a()) == [1, 2]


def test_version_published_without_hint_swap_does_not_wedge(catalog):
    """A committer that published v{N+1}.json and died before moving the
    hint: readers see v{N+1} (the hint is advisory) and appends go on."""
    t = catalog.create_table("stale_hint", schema={"k": "int"})
    t.append([{"k": 1}])
    t.append([{"k": 2}])
    head = t.ops.current_version()
    with open(os.path.join(t.ops.metadata_dir, "version-hint.text"), "w") as f:
        f.write(str(head - 1))
    catalog.load_table("stale_hint").append([{"k": 3}])
    t2 = catalog.load_table("stale_hint")
    assert t2.metadata.version == head + 1
    assert sorted(r["k"] for r in t2.to_a()) == [1, 2, 3]


ARN = "arn:aws:s3tables:us-east-1:000000000000:bucket/conformance"


@pytest.fixture(params=["fs", "memory", "sql", "rest", "glue", "s3tables"])
def anycat(request, spark):
    kind = request.param
    wh = tempfile.mkdtemp(prefix=f"conformance_{kind}_")
    kw = {"namespace": "default", "spark": spark}
    server = None
    if kind == "fs":
        cat = ice.Catalog(wh, **kw)
    elif kind == "memory":
        cat = ice.MemoryCatalog(wh, **kw)
    elif kind == "sql":
        cat = ice.SqlCatalog(uri=f"sqlite:///{wh}/catalog.db", warehouse=wh, **kw)
    elif kind == "rest":
        server = StubRestServer(warehouse=wh).__enter__()
        cat = ice.RestCatalog(server.uri, warehouse=wh, **kw)
    elif kind == "glue":
        cat = GlueCatalog(warehouse=wh, client=FakeGlueClient(), **kw)
    else:
        cat = S3TablesCatalog(arn=ARN, client=FakeS3TablesClient(), warehouse=wh, **kw)
    cat.create_namespace("default")
    yield kind, cat
    if server is not None:
        server.__exit__(None, None, None)
    shutil.rmtree(wh, ignore_errors=True)


def test_backend_conformance(anycat):
    """Append ×3, a merge-on-read delete, time travel and changelog_scan
    give the same rows on every backend; where the metadata files live
    under the table location, delete-after-commit keeps exactly
    previous-versions-max + 1 version files."""
    kind, cat = anycat
    t = cat.create_table(
        "conf",
        schema={"k": "int", "v": "string"},
        properties={
            "write.metadata.delete-after-commit.enabled": "true",
            "write.metadata.previous-versions-max": "1",
        },
    )
    for i in range(3):
        t.append([{"k": 2 * i, "v": f"a{i}"}, {"k": 2 * i + 1, "v": f"b{i}"}])
    second = t.snapshots[1].snapshot_id
    t.delete_where("k IN (1, 4)", mode="merge-on-read")

    t = cat.load_table("conf")
    assert sorted(r["k"] for r in t.to_a()) == [0, 2, 3, 5]
    assert sorted(r["k"] for r in t.to_a(snapshot_id=second)) == [0, 1, 2, 3]
    order = {s.snapshot_id: i for i, s in enumerate(t.snapshots)}
    changes = sorted(
        (order[r["_commit_snapshot_id"]], r["_change_type"], r["k"], r["v"])
        for r in t.changelog_scan().collect()
    )
    assert changes == [
        (0, "insert", 0, "a0"),
        (0, "insert", 1, "b0"),
        (1, "insert", 2, "a1"),
        (1, "insert", 3, "b1"),
        (2, "insert", 4, "a2"),
        (2, "insert", 5, "b2"),
        (3, "delete", 1, "b0"),
        (3, "delete", 4, "a2"),
    ]
    if kind != "rest":  # the REST server keeps the metadata documents
        versions = glob.glob(os.path.join(t.ops.metadata_dir, "v*.json"))
        assert len(versions) == 2, sorted(versions)


# The one namespace-and-table contract, on every backend.  Glue and S3
# Tables refuse nested namespaces (and S3 Tables any namespace
# properties) up front.


def test_contract_sql(anycat):
    """SQL reads the catalog's tables, by bare name in the default
    namespace."""
    _, cat = anycat
    cat.create_table("events", schema={"k": "int"}).append([{"k": 2}, {"k": 1}])
    assert cat.sql("SELECT k FROM events ORDER BY k").rows == [[1], [2]]


def test_contract_default_namespace(anycat, monkeypatch):
    """list_tables() and unqualified names use the default namespace; with
    none set they raise InvalidDataError."""
    _, cat = anycat
    cat.create_table("events", schema={"k": "int"})
    assert cat.list_tables() == [["default", "events"]]
    monkeypatch.setattr(cat, "default_namespace", None)
    with pytest.raises(InvalidDataError):
        cat.list_tables()
    with pytest.raises(InvalidDataError):
        cat.drop_table("events")


def test_contract_namespaces(anycat):
    """Namespace CRUD: typed errors, sorted listings, property replace and
    the non-empty drop guard."""
    kind, cat = anycat
    nested = kind not in ("glue", "s3tables")
    props = {} if kind == "s3tables" else {"a": "1"}
    cat.create_namespace("ns1", properties=props)
    with pytest.raises(NamespaceAlreadyExistsError):
        cat.create_namespace("ns1")
    cat.create_namespace("ns1", if_not_exists=True)
    assert cat.namespace_properties("ns1") == props
    if kind == "s3tables":
        with pytest.raises(InvalidDataError):
            cat.update_namespace("ns1", {"b": "2"})
    else:
        cat.update_namespace("ns1", {"b": "2"})  # replaces, never merges
        assert cat.namespace_properties("ns1") == {"b": "2"}
    for call in (cat.namespace_properties, lambda ns: cat.update_namespace(ns, {})):
        with pytest.raises(NoSuchNamespaceError):
            call("missing")
    with pytest.raises(NoSuchNamespaceError if nested else InvalidDataError):
        cat.create_namespace("missing.child")

    cat.create_namespace("b_ns")
    assert cat.list_namespaces() == [["b_ns"], ["default"], ["ns1"]]
    assert cat.list_namespaces("ns1") == []
    with pytest.raises(NoSuchNamespaceError):
        cat.list_namespaces("missing")
    if nested:
        cat.create_namespace("ns1.z")
        cat.create_namespace("ns1.y")
        assert cat.list_namespaces("ns1") == [["ns1", "y"], ["ns1", "z"]]
        with pytest.raises(InvalidDataError, match="namespace is not empty"):
            cat.drop_namespace("ns1")
        cat.drop_namespace("ns1.z")
        cat.drop_namespace("ns1.y")

    with pytest.raises(NoSuchNamespaceError):
        cat.drop_namespace("missing")
    cat.drop_namespace("missing", if_exists=True)
    cat.create_table("t", schema={"k": "int"})
    with pytest.raises(InvalidDataError, match="namespace is not empty"):
        cat.drop_namespace("default")
    cat.drop_namespace("ns1")
    assert not cat.namespace_exists("ns1")


def test_contract_tables(anycat, monkeypatch):
    """list_tables is sorted; drop_table keeps the files; purge_table
    deletes them through the catalog's FileIO; rename_table checks the
    source, then the destination namespace, then the destination."""
    _, cat = anycat
    cat.create_table("events", schema={"k": "int"}).append([{"k": 2}, {"k": 1}])
    cat.create_table("alpha", schema={"k": "int"}).append([{"k": 3}])
    assert cat.list_tables("default") == [["default", "alpha"], ["default", "events"]]
    with pytest.raises(NoSuchNamespaceError):
        cat.list_tables("missing")

    data_dir = cat.load_table("alpha").ops.data_dir
    cat.drop_table("alpha")
    assert not cat.table_exists("alpha")
    assert glob.glob(os.path.join(data_dir, "**", "*.parquet"), recursive=True)
    with pytest.raises(NoSuchTableError):
        cat.drop_table("alpha")
    cat.drop_table("alpha", if_exists=True)

    purged = cat.create_table("purged", schema={"k": "int"})
    purged.append([{"k": 4}])
    deleted = []
    real_delete = cat.io.delete_prefix
    monkeypatch.setattr(
        cat.io, "delete_prefix", lambda p: (deleted.append(p), real_delete(p))
    )
    cat.purge_table("purged")
    assert purged.location in deleted and not os.path.exists(purged.location)
    assert not cat.table_exists("purged")
    with pytest.raises(NoSuchTableError):
        cat.purge_table("purged")

    cat.create_table("other", schema={"k": "int"})
    cat.create_namespace("b_ns")
    with pytest.raises(NoSuchTableError):
        cat.rename_table("nope", "missing.x")
    with pytest.raises(NoSuchNamespaceError):
        cat.rename_table("events", "missing.x")
    with pytest.raises(TableAlreadyExistsError):
        cat.rename_table("events", "other")
    cat.rename_table("events", "b_ns.ev")
    assert not cat.table_exists("events")
    assert cat.list_tables("b_ns") == [["b_ns", "ev"]]
    assert sorted(r["k"] for r in cat.load_table("b_ns.ev").to_a()) == [1, 2]

    # a custom-location table leaves nothing at its warehouse path once
    # dropped (only the FS store records it there)
    elsewhere = os.path.join(cat.warehouse, "elsewhere")
    custom = cat.create_table("custom", schema={"k": "int"}, location=elsewhere)
    assert custom.location == elsewhere
    assert cat.load_table("custom").location == elsewhere
    cat.drop_table("custom")
    assert not cat.table_exists("custom")
    assert not os.path.exists(os.path.join(cat.warehouse, "default", "custom"))


def test_contract_register_table(anycat, tmp_path):
    """register_table checks the namespace, then the name, then the
    source; a table directory and a metadata file both resolve."""
    _, cat = anycat
    src_cat = ice.Catalog(str(tmp_path / "src"), spark=cat.spark)
    src_cat.create_namespace("s")
    src = src_cat.create_table("s.t", schema={"k": "int"})
    src.append([{"k": 7}])
    cat.create_table("other", schema={"k": "int"})
    nothing = str(tmp_path / "nothing")
    with pytest.raises(NoSuchNamespaceError):
        cat.register_table("missing.r", src.location)
    assert not cat.table_exists("missing.r")
    with pytest.raises(TableAlreadyExistsError):
        cat.register_table("other", nothing)
    with pytest.raises(NoSuchTableError):
        cat.register_table("r0", nothing)
    for name, where in (("r1", src.location), ("r2", src.metadata.metadata_file)):
        assert [r["k"] for r in cat.register_table(name, where).to_a()] == [7]
    assert cat.list_tables() == [
        ["default", "other"], ["default", "r1"], ["default", "r2"]
    ]
