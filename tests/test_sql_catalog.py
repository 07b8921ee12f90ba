"""SqlCatalog (sqlite profile) — the DDL/write/read matrix against a SQL
registry, mirroring the reference's SQL backend tests (its CI runs the
suite against sqlite, ``lib/iceberg/sql_catalog.rb``)."""

from __future__ import annotations

import os
import shutil
import tempfile
import threading

import pytest

import iceberg_ruby_spark as ice
from iceberg_ruby_spark.errors import (
    InvalidDataError,
    NamespaceAlreadyExistsError,
    NoSuchNamespaceError,
    NoSuchTableError,
    TableAlreadyExistsError,
)


@pytest.fixture()
def sqlcat(spark):
    wh = tempfile.mkdtemp(prefix="sql_wh_")
    cat = ice.SqlCatalog(
        uri=f"sqlite:///{wh}/catalog.db", warehouse=wh, namespace="default", spark=spark
    )
    cat.create_namespace("default")
    yield cat
    shutil.rmtree(wh, ignore_errors=True)


def test_namespace_crud(sqlcat):
    sqlcat.create_namespace("ns1", properties={"owner": "a"})
    assert sqlcat.namespace_exists("ns1")
    assert sqlcat.namespace_properties("ns1") == {"owner": "a"}
    sqlcat.update_namespace("ns1", {"owner": "b"})
    assert sqlcat.namespace_properties("ns1") == {"owner": "b"}
    assert ["ns1"] in sqlcat.list_namespaces()
    with pytest.raises(NamespaceAlreadyExistsError):
        sqlcat.create_namespace("ns1")
    sqlcat.create_namespace("ns1.child")
    assert sqlcat.list_namespaces("ns1") == [["ns1", "child"]]
    with pytest.raises(NoSuchNamespaceError):
        sqlcat.create_namespace("missing.child")
    with pytest.raises(InvalidDataError):
        sqlcat.drop_namespace("ns1")  # non-empty
    sqlcat.drop_namespace("ns1.child")
    sqlcat.drop_namespace("ns1")
    assert not sqlcat.namespace_exists("ns1")


def test_table_roundtrip_and_mutations(sqlcat):
    t = sqlcat.create_table("t1", schema={"a": "int", "b": "string"})
    with pytest.raises(TableAlreadyExistsError):
        sqlcat.create_table("t1", schema={"a": "int"})
    t.append([{"a": i, "b": "x"} for i in range(10)])
    assert t.delete_where("a < 3") == 3
    assert t.delete_where("a = 5", mode="merge-on-read-positional") == 1
    assert sorted(r["a"] for r in sqlcat.load_table("t1").to_a()) == [3, 4, 6, 7, 8, 9]
    assert [p[-1] for p in sqlcat.list_tables("default")] == ["t1"]
    t.compact()
    assert sorted(r["a"] for r in t.to_a()) == [3, 4, 6, 7, 8, 9]
    with pytest.raises(NoSuchTableError):
        sqlcat.load_table("missing")


def test_concurrent_appends_cas(sqlcat):
    """Version-pointer CAS in SQL: racing writers all land (lost-update
    safety matches the FS backend)."""
    t = sqlcat.create_table("cc", schema={"w": "int", "i": "int"})
    errors = []

    def writer(w):
        try:
            h = sqlcat.load_table("cc")
            for i in range(3):
                h.append([{"w": w, "i": i}])
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    rows = {(r["w"], r["i"]) for r in t.refresh().to_a()}
    assert rows == {(w, i) for w in range(4) for i in range(3)}


def test_rename_and_drop(sqlcat):
    sqlcat.create_table("t2", schema={"a": "int"}).append([{"a": 7}])
    sqlcat.create_namespace("other")
    sqlcat.rename_table("t2", "other.t2r")
    assert not sqlcat.table_exists("t2")
    assert [r["a"] for r in sqlcat.load_table("other.t2r").to_a()] == [7]
    with pytest.raises(TableAlreadyExistsError):
        sqlcat.create_table("x", schema={"a": "int"})  # set up collision
        sqlcat.rename_table("other.t2r", "x")
    sqlcat.drop_table("x")
    with pytest.raises(NoSuchTableError):
        sqlcat.drop_table("x")
    sqlcat.drop_table("x", if_exists=True)


def test_register_between_backends(sqlcat, spark):
    """FS table → SQL catalog by pointer; SQL-written table dir is itself a
    valid FS-layout table (version-hint kept alongside)."""
    fs = ice.MemoryCatalog(namespace="d", spark=spark)
    try:
        fs.create_namespace("d")
        src = fs.create_table("src", schema={"a": "int"})
        src.append([{"a": 42}])
        reg = sqlcat.register_table("reg", src.ops.location)
        assert [r["a"] for r in reg.to_a()] == [42]
        # and back: a SQL-created table registers into an FS catalog
        t = sqlcat.create_table("roundtrip", schema={"a": "int"})
        t.append([{"a": 1}])
        back = fs.register_table("back", t.ops.location)
        assert [r["a"] for r in back.to_a()] == [1]
    finally:
        shutil.rmtree(fs.warehouse, ignore_errors=True)


def test_time_travel_refs_and_sql(sqlcat):
    t = sqlcat.create_table("t3", schema={"a": "int"})
    t.append([{"a": 1}])
    first = t.current_snapshot_id
    t.create_tag("v1")
    t.append([{"a": 2}])
    assert [r["a"] for r in t.to_a(snapshot_id=first)] == [1]
    assert [r["a"] for r in t.to_a(ref="v1")] == [1]
    assert sqlcat.sql("SELECT sum(a) AS s FROM t3").rows == [[3]]


def test_purge_removes_files(sqlcat):
    t = sqlcat.create_table("t4", schema={"a": "int"})
    t.append([{"a": 1}])
    loc = t.ops.location
    sqlcat.purge_table("t4")
    assert not sqlcat.table_exists("t4")
    assert not os.path.exists(os.path.join(loc, "data"))


def test_uri_parsing_rejects_other_engines(spark):
    with pytest.raises(InvalidDataError):
        ice.SqlCatalog(uri="postgres://host/db", spark=spark)


def test_sql_insert_overwrite_and_truncate(spark):
    import iceberg_ruby_spark as ice

    cat = ice.MemoryCatalog(namespace="ns")
    cat.create_namespace("ns")
    try:
        cat.create_table("ns.iot", schema={"a": "int", "b": "string"})
        cat.sql("INSERT INTO iot VALUES (1, 'x'), (2, 'y')")
        assert cat.sql("SELECT * FROM iot ORDER BY a").rows == [[1, "x"], [2, "y"]]
        # INSERT OVERWRITE replaces the whole table in one snapshot
        cat.sql("INSERT OVERWRITE iot VALUES (9, 'z')")
        assert cat.sql("SELECT * FROM iot").rows == [[9, "z"]]
        # TRUNCATE returns the removed count, table stays queryable and
        # writable, history (snapshots) is preserved for time travel
        assert cat.sql("TRUNCATE TABLE iot").rows == [[1]]
        assert cat.sql("SELECT * FROM iot").rows == []
        cat.sql("INSERT INTO iot VALUES (5, 'w')")
        assert cat.sql("SELECT * FROM iot").rows == [[5, "w"]]
        t = cat.load_table("iot")
        assert len(t.snapshots) >= 4
    finally:
        import shutil

        shutil.rmtree(cat.warehouse, ignore_errors=True)


def test_namespace_sql_ddl(catalog):
    catalog.sql(
        "CREATE NAMESPACE IF NOT EXISTS analytics WITH PROPERTIES ('owner' = 'data')"
    )
    catalog.sql("CREATE SCHEMA analytics.raw")  # DATABASE/SCHEMA synonyms
    names = {r[0] for r in catalog.sql("SHOW NAMESPACES").rows}
    assert "analytics" in names
    assert [r[0] for r in catalog.sql("SHOW NAMESPACES IN analytics").rows] == [
        "analytics.raw"
    ]
    assert catalog.namespace_properties("analytics") == {"owner": "data"}
    # idempotent spellings
    catalog.sql("CREATE NAMESPACE IF NOT EXISTS analytics")
    catalog.sql("DROP NAMESPACE analytics.raw")
    catalog.sql("DROP NAMESPACE IF EXISTS nothere")
    assert [r[0] for r in catalog.sql("SHOW NAMESPACES IN analytics").rows] == []
    import pytest

    from iceberg_ruby_spark.errors import NoSuchNamespaceError

    with pytest.raises(NoSuchNamespaceError):
        catalog.sql("DROP NAMESPACE nothere")


def test_describe_extended(catalog):
    t = catalog.create_table(
        "dx",
        schema={"a": "int"},
        partition_spec=[("a", "bucket[4]")],
        properties={"k": "v"},
    )
    t.append([{"a": 1}])
    plain = catalog.sql("DESC dx").rows
    assert plain == [["a", "int", True, None]]
    ext = {r[0]: r[1] for r in catalog.sql("DESCRIBE EXTENDED dx").rows}
    assert ext["# Partitioning"] == "bucket[4](a)"
    assert ext["# Location"] == t.location
    assert ext["# prop:k"] == "v"
    assert int(ext["# Current snapshot"]) == t.current_snapshot_id


def test_show_tblproperties(catalog):
    catalog.create_table("props", schema={"a": "int"}, properties={"k": "v", "x": "1"})
    assert catalog.sql("SHOW TBLPROPERTIES props").rows == [["k", "v"], ["x", "1"]]
    assert catalog.sql("SHOW TBLPROPERTIES props ('k')").rows == [["k", "v"]]
    assert catalog.sql("SHOW TBLPROPERTIES props ('nope')").rows == [["nope", None]]


def test_analyze_table_and_create_like(catalog):
    t = catalog.create_table(
        "an_src",
        schema={"a": "int", "b": "string"},
        partition_spec=[("a", "identity")],
        properties={"k": "v"},
    )
    t.append([{"a": 1, "b": "x"}, {"a": 2, "b": "y"}])
    r = catalog.sql("ANALYZE TABLE an_src COMPUTE STATISTICS").rows
    assert r[0][0] == 2 and r[0][1] >= 2
    assert t.refresh().statistics  # stats file registered
    catalog.sql("CREATE TABLE an_clone LIKE an_src")
    c = catalog.load_table("an_clone")
    assert [(f.name, f.field_type.name) for f in c.current_schema().fields] == [
        ("a", "int"), ("b", "string")
    ]
    assert c.default_partition_spec()["fields"][0]["source"] == "a"
    assert c.properties == {"k": "v"} and c.to_a() == []
    # idempotent spelling
    catalog.sql("CREATE TABLE IF NOT EXISTS an_clone LIKE an_src")


def test_call_compute_partition_stats(catalog):
    t = catalog.create_table(
        "cps", schema={"k": "int", "g": "string"},
        partition_spec=[("g", "identity")],
    )
    t.append([{"k": 1, "g": "a"}, {"k": 2, "g": "b"}])
    assert catalog.sql("CALL system.compute_partition_stats('cps')").rows == [[2]]
    assert t.refresh().partition_statistics


def test_uri_absolute_path_opens_absolute_file(spark, tmp_path, monkeypatch):
    """The path follows ``sqlite://``: an absolute path stays absolute, so
    the database never lands under the working directory."""
    from iceberg_ruby_spark.sql_catalog import _parse_uri

    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    ice.SqlCatalog(
        uri=f"sqlite:///{tmp_path}/c.db", warehouse=str(tmp_path / "wh"), spark=spark
    )
    assert (tmp_path / "c.db").is_file()
    assert list(cwd.iterdir()) == []
    assert _parse_uri("sqlite:///abs/c.db") == "/abs/c.db"
    assert _parse_uri("sqlite:////abs/c.db") == "/abs/c.db"
    assert _parse_uri("sqlite:rel.db") == "rel.db"
