"""Table write/read round-trips — mirrors reference ``test/table_test.rb``
(type grid incl. nulls/decimal/date/timestamp/binary, missing-column
backfill, extra-column rejection, metadata accessors, time travel)."""

import datetime
import decimal

import pytest

from iceberg_ruby_spark.errors import InvalidDataError

FULL_SCHEMA = {
    "boolean": "boolean",
    "int": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "decimal": "decimal(38, 8)",
    "date": "date",
    "timestamp": "timestamp",
    "string": "string",
    "binary": "binary",
}


def test_append_type_grid_roundtrip(catalog):
    t = catalog.create_table("events", schema=FULL_SCHEMA)
    today = datetime.date(2026, 8, 13)
    rows = [
        {
            "boolean": True,
            "int": 1,
            "long": 1,
            "float": 1.5,
            "double": 1.5,
            "decimal": decimal.Decimal("1000"),
            "date": today,
            "timestamp": datetime.datetime(1970, 1, 1),
            "string": "one",
            "binary": b"one",
        },
        {k: None for k in FULL_SCHEMA},
        {
            "boolean": False,
            "int": 3,
            "long": 3,
            "float": 3.5,
            "double": 3.5,
            "decimal": decimal.Decimal("-1.23456789"),
            "date": today + datetime.timedelta(days=2),
            "timestamp": datetime.datetime(1970, 1, 1, 0, 0, 2),
            "string": "three",
            "binary": b"three",
        },
    ]
    t.append(rows)
    got = sorted(t.to_a(), key=lambda r: (r["int"] is None, r["int"] or 0))
    exp = sorted(rows, key=lambda r: (r["int"] is None, r["int"] or 0))
    for g, e in zip(got, exp):
        for k, v in e.items():
            if isinstance(v, decimal.Decimal):
                assert g[k] == v.quantize(decimal.Decimal("1e-8"))
            elif isinstance(v, bytes):
                assert bytes(g[k]) == v
            else:
                assert g[k] == v, (k, g[k], v)


def test_append_decimal_coercion(catalog):
    # reference test_append_decimal: int / float / string all coerce
    t = catalog.create_table("d", schema={"a": "decimal(38, 8)"})
    t.append([{"a": 1000}, {"a": -1.23456789}, {"a": "-1.23456789"}])
    vals = sorted(r["a"] for r in t.to_a())
    assert vals == [
        decimal.Decimal("-1.23456789"),
        decimal.Decimal("-1.23456789"),
        decimal.Decimal("1000.00000000"),
    ]


def test_append_missing_column_backfills_null(catalog):
    t = catalog.create_table("m", schema={"a": "int", "b": "string"})
    t.append([{"a": 1}, {"a": 2}])
    assert sorted(t.to_a(), key=lambda r: r["a"]) == [
        {"a": 1, "b": None},
        {"a": 2, "b": None},
    ]


def test_append_extra_column_rejected(catalog):
    t = catalog.create_table("x", schema={"a": "int"})
    with pytest.raises(InvalidDataError):
        t.append([{"a": 1, "zz": 2}])


def test_append_dataframe_and_pandas_and_arrow(catalog, spark):
    import pandas as pd
    import pyarrow as pa

    t = catalog.create_table("multi", schema={"a": "long", "b": "string"})
    t.append(spark.createDataFrame([(1, "df")], ["a", "b"]))
    t.append(pd.DataFrame({"a": [2], "b": ["pandas"]}))
    t.append(pa.table({"a": [3], "b": ["arrow"]}))
    assert sorted(t.to_a(), key=lambda r: r["a"]) == [
        {"a": 1, "b": "df"},
        {"a": 2, "b": "pandas"},
        {"a": 3, "b": "arrow"},
    ]


def test_to_arrow_and_pandas(catalog):
    t = catalog.create_table("conv", schema={"a": "int"})
    t.append([{"a": 1}, {"a": 2}])
    at = t.to_arrow()
    assert at.num_rows == 2
    pdf = t.to_pandas()
    assert sorted(pdf["a"].tolist()) == [1, 2]


def test_time_travel(catalog):
    t = catalog.create_table("tt", schema={"a": "int"})
    t.append([{"a": 1}])
    snap1 = t.current_snapshot_id
    t.append([{"a": 2}])
    assert sorted(r["a"] for r in t.to_a()) == [1, 2]
    assert [r["a"] for r in t.to_a(snapshot_id=snap1)] == [1]


def test_snapshot_history_and_refs(catalog):
    t = catalog.create_table("h", schema={"a": "int"})
    assert t.current_snapshot() is None
    t.append([{"a": 1}])
    t.append([{"a": 2}])
    assert len(t.snapshots) == 2
    assert t.snapshots[0].operation == "append"
    assert t.current_snapshot().snapshot_id == t.current_snapshot_id
    assert t.refs["main"]["snapshot-id"] == t.current_snapshot_id
    assert t.snapshot_for_ref("main").snapshot_id == t.current_snapshot_id
    assert len(t.history()) == 2
    # parent linkage
    assert t.snapshots[1].parent_snapshot_id == t.snapshots[0].snapshot_id


def test_metadata_accessors(catalog):
    t = catalog.create_table("meta", schema={"a": "int"}, properties={"k": "v"})
    assert t.format_version == 2
    assert t.uuid
    assert t.properties["k"] == "v"
    assert t.current_schema_id == 0
    assert t.last_sequence_number == 0
    t.append([{"a": 1}])
    t = t.refresh()
    assert t.last_sequence_number == 1
    assert t.next_row_id == 1


def test_overwrite(catalog):
    t = catalog.create_table("ow", schema={"a": "int"})
    t.append([{"a": 1}, {"a": 2}])
    t.overwrite([{"a": 9}])
    assert t.to_a() == [{"a": 9}]


def test_partitioned_write_identity_string_keeps_type(catalog):
    # round-1 advisory: identity-partitioned string '123' must not come
    # back as an integer via partition-column type inference
    t = catalog.create_table(
        "ps",
        schema={"k": "string", "v": "int"},
        partition_spec=[("k", "identity")],
    )
    t.append([{"k": "123", "v": 1}, {"k": "abc", "v": 2}])
    rows = sorted(t.to_a(), key=lambda r: r["k"])
    assert rows == [{"k": "123", "v": 1}, {"k": "abc", "v": 2}]
    assert isinstance(rows[0]["k"], str)


def test_next_row_id_counts_only_added_rows(catalog):
    """Replace commits advance next-row-id by rows in ADDED files only
    (Iceberg v3 row-lineage accounting), not the whole new manifest."""
    t = catalog.create_table("nri", schema={"a": "int"})
    t.append([{"a": i} for i in range(10)])
    t = t.refresh()
    assert t.next_row_id == 10
    t.append([{"a": i} for i in range(10, 15)])
    t = t.refresh()
    assert t.next_row_id == 15
    # CoW delete of a few rows rewrites only the hit files: next-row-id
    # grows by the rewritten survivors, never re-counts carried files
    before = t.next_row_id
    t.delete_where("a = 3")
    t = t.refresh()
    growth = t.next_row_id - before
    assert 0 <= growth <= 1  # at most the survivor rewrite of a=3's file
    # MoR delete adds no files at all
    before = t.next_row_id
    t.delete_where("a = 4", mode="merge-on-read")
    assert t.refresh().next_row_id == before


def test_add_files_registers_by_reference(catalog, spark, tmp_path):
    ext = str(tmp_path / "external")
    spark.createDataFrame(
        [(i, f"r{i}") for i in range(100)], "a int, b string"
    ).repartition(3).write.parquet(ext)
    t = catalog.create_table("af", schema={"a": "int", "b": "string"})
    t.append([{"a": 1000, "b": "own"}])
    import glob

    files = sorted(glob.glob(f"{ext}/*.parquet"))
    n = t.add_files(files)
    assert n == len(files)
    assert len(t.to_a()) == 101
    # the external files were NOT copied into the warehouse
    assert all(p.startswith(ext) for p in files)
    ext_entries = [
        e for e in t._current_entries() if e.get("path", "").startswith(ext)
    ]
    assert len(ext_entries) == len(files)
    # bounds captured → scans prune; mutations work across the boundary
    assert all(e.get("lower-bounds") for e in ext_entries)
    assert t.delete_where("a = 5") == 1
    assert len(t.refresh().to_a()) == 100


def test_add_files_rejects_schema_mismatch(catalog, spark, tmp_path):
    from iceberg_ruby_spark.errors import InvalidDataError

    ext = str(tmp_path / "bad")
    spark.createDataFrame([(1,)], "a bigint").write.parquet(ext)
    t = catalog.create_table("af2", schema={"a": "int"})
    import glob

    with pytest.raises(InvalidDataError, match="as-is"):
        t.add_files(glob.glob(f"{ext}/*.parquet"))

    ext2 = str(tmp_path / "extra")
    spark.createDataFrame([(1, 2)], "a int, zz int").write.parquet(ext2)
    with pytest.raises(InvalidDataError, match="zz"):
        t.add_files(glob.glob(f"{ext2}/*.parquet"))


def test_write_distribution_modes(catalog):
    """write.distribution-mode: hash (default for partitioned) → one file
    per partition value; none → input-partitioning fan-out; max-records
    rolls files inside a task."""
    t = catalog.create_table(
        "dist_hash",
        schema={"k": "int", "v": "string"},
        partition_spec=[{"source": "k", "transform": "identity"}],
    )
    rows = [{"k": i % 4, "v": f"x{i}"} for i in range(400)]
    t.append(rows)
    files = t.scan().plan_files()
    assert len(files) == 4  # one per partition value, not 4 × shuffle-parallelism
    assert sorted(r["k"] for r in t.to_a()) == sorted(r["k"] for r in rows)

    t2 = catalog.create_table(
        "dist_none",
        schema={"k": "int", "v": "string"},
        partition_spec=[{"source": "k", "transform": "identity"}],
        properties={"write.distribution-mode": "none"},
    )
    t2.append(rows)
    assert len(t2.scan().plan_files()) >= 4

    t3 = catalog.create_table(
        "dist_roll",
        schema={"k": "int", "v": "string"},
        partition_spec=[{"source": "k", "transform": "identity"}],
        properties={"write.spark.max-records-per-file": "40"},
    )
    t3.append(rows)  # 100 rows per partition value / 40 → 3 files each
    assert len(t3.scan().plan_files()) == 12
    assert len(t3.to_a()) == 400


def test_write_rebalance_enabled(catalog, spark):
    """write.spark.rebalance-enabled swaps the static exchange for AQE
    REBALANCE: a 32-partition unpartitioned input coalesces to a few
    right-sized files instead of one tiny file per input partition, and a
    partitioned write still lands one file per (small) partition value.
    (The skew-splitting half of rebalance needs partitions past the
    advisory size — exercised implicitly by AQE, not reproducible at
    test scale.)"""
    t = catalog.create_table(
        "reb_none",
        schema={"k": "int", "v": "string"},
        properties={"write.spark.rebalance-enabled": "true"},
    )
    src = spark.range(0, 1000, 1, 32).selectExpr(
        "cast(id as int) k", "repeat('x', 8) v"
    )
    t.append(src)
    assert len(t.scan().plan_files()) < 8  # 32 without rebalance
    assert t.scan().count() == 1000

    t2 = catalog.create_table(
        "reb_hash",
        schema={"k": "int", "v": "string"},
        partition_spec=[{"source": "k", "transform": "identity"}],
        properties={"write.spark.rebalance-enabled": "true"},
    )
    t2.append(spark.range(0, 400, 1, 16).selectExpr(
        "cast(id % 4 as int) k", "'y' v"
    ))
    assert len(t2.scan().plan_files()) == 4
    assert t2.scan().count() == 400


def test_parquet_bloom_filter_property(catalog, spark):
    """write.parquet.bloom-filter-enabled.column.<col> reaches the parquet
    writer — verified in the file footer (bloom offset present only for
    the enabled column)."""
    t = catalog.create_table(
        "bloomed",
        schema={"k": "long", "v": "string"},
        properties={
            "write.parquet.bloom-filter-enabled.column.k": "true",
            "write.parquet.bloom-filter-expected-ndv.column.k": "1000",
        },
    )
    t.append([{"k": i, "v": f"x{i}"} for i in range(1000)])
    path = t.scan().plan_files()[0]["data_file_path"]
    jvm = spark._jvm
    infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path(path), spark._jsc.hadoopConfiguration()
    )
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
    try:
        cols = reader.getRowGroups().get(0).getColumns()
        offsets = {
            cols.get(i).getPath().toDotString(): cols.get(i).getBloomFilterOffset()
            for i in range(cols.size())
        }
    finally:
        reader.close()
    assert offsets["k"] >= 0
    assert offsets["v"] == -1


def test_timestamp_time_travel_and_rollback(catalog):
    import time

    t = catalog.create_table("ttravel", schema={"a": "int"})
    t.append([{"a": 1}])
    s1 = t.current_snapshot().snapshot_id
    ts_after_s1 = t.metadata.snapshot_log[-1]["timestamp-ms"]
    time.sleep(0.01)
    t.append([{"a": 2}])
    # timestamp travel: state as of the first commit
    assert [r["a"] for r in t.to_a(as_of=ts_after_s1)] == [1]
    assert sorted(r["a"] for r in t.to_a()) == [1, 2]
    import pytest as _p

    from iceberg_ruby_spark.errors import InvalidDataError

    with _p.raises(InvalidDataError):
        t.to_a(as_of=ts_after_s1 - 1_000_000)  # before table creation
    with _p.raises(InvalidDataError):
        t.scan(snapshot_id=s1, as_of=ts_after_s1)  # mutually exclusive
    # rollback: current state returns to s1; rolled-back snapshot stays
    t.rollback_to_snapshot(s1)
    assert [r["a"] for r in t.to_a()] == [1]
    assert t.current_snapshot().snapshot_id == s1
    # forward history still reachable by id until expired
    later = [s.snapshot_id for s in t.snapshots if s.snapshot_id != s1]
    assert sorted(r["a"] for r in t.to_a(snapshot_id=later[0])) == [1, 2]
    # rollback_to_timestamp composes the two
    t.append([{"a": 3}])
    t.rollback_to_timestamp(ts_after_s1)
    assert [r["a"] for r in t.to_a()] == [1]


def test_inspect_metadata_tables(catalog):
    t = catalog.create_table(
        "insp",
        schema={"k": "int", "v": "string"},
        partition_spec=[{"source": "k", "transform": "identity"}],
    )
    t.append([{"k": i % 3, "v": f"x{i}"} for i in range(30)])
    t.create_tag("v1", t.current_snapshot().snapshot_id)
    t.append([{"k": 0, "v": "y"}])
    t.delete_where("v = 'x0'", mode="merge-on-read")

    snaps = t.inspect.snapshots().collect()
    assert [r["operation"] for r in snaps] == ["append", "append", "delete"]
    assert snaps[1]["parent_id"] == snaps[0]["snapshot_id"]

    hist = t.inspect.history().collect()
    assert [r["snapshot_id"] for r in hist] == [r["snapshot_id"] for r in snaps]
    assert all(r["is_current_ancestor"] for r in hist)

    refs = {r["name"]: r["snapshot_id"] for r in t.inspect.refs().collect()}
    assert refs["v1"] == snaps[0]["snapshot_id"]

    files = t.inspect.files().collect()
    assert sum(r["record_count"] for r in files) == 31
    assert all(r["file_size_in_bytes"] > 0 for r in files)

    dels = t.inspect.delete_entries().collect()
    assert len(dels) == 1 and dels[0]["kind"] == "predicate"

    parts = {r["partition"]["k"]: r["record_count"] for r in t.inspect.partitions().collect()}
    assert parts == {"0": 11, "1": 10, "2": 10}


def test_inspect_manifests_and_ref_retention(catalog):
    t = catalog.create_table(
        "insp2",
        schema={"a": "int"},
        properties={"write.metadata.manifest-format": "avro"},
    )
    t.append([{"a": i} for i in range(5)])
    t.create_branch("dev", min_snapshots_to_keep=2, max_snapshot_age_ms=60_000)
    refs = {r["name"]: r for r in t.inspect.refs().collect()}
    assert refs["dev"]["min_snapshots_to_keep"] == 2
    assert refs["dev"]["max_snapshot_age_in_ms"] == 60_000
    assert refs["main"]["min_snapshots_to_keep"] is None
    mans = t.inspect.manifests().collect()
    assert len(mans) >= 1
    assert all(m["path"].endswith(".avro") and m["length"] > 0 for m in mans)
    # JSON-manifest tables expose their single flattened manifest document
    tj = catalog.create_table("insp3", schema={"a": "int"})
    tj.append([{"a": 1}])
    mj = tj.inspect.manifests().collect()
    assert len(mj) == 1 and mj[0]["existing_data_files_count"] == 1


def test_sql_metadata_tables(catalog):
    t = catalog.create_table("insp4", schema={"a": "int"})
    t.append([{"a": 1}])
    t.append([{"a": 2}])
    t.create_tag("v1", snapshot_id=t.snapshots[0].snapshot_id)
    ops = catalog.sql(
        "SELECT operation FROM insp4$snapshots ORDER BY committed_at"
    ).rows
    assert ops == [["append"], ["append"]]
    joined = catalog.sql(
        "SELECT s.operation FROM insp4$snapshots s JOIN insp4$refs r"
        " ON s.snapshot_id = r.snapshot_id WHERE r.name = 'v1'"
    ).rows
    assert joined == [["append"]]
    assert catalog.sql("SELECT count(*) AS n FROM insp4$files").rows == [[2]]


def test_scan_count_metadata_only(catalog):
    t = catalog.create_table("cnt", schema={"a": "int"})
    t.append([{"a": i} for i in range(500)])
    t.append([{"a": i} for i in range(100)])
    assert t.scan().count() == 600          # manifest-stats path
    assert t.scan().filter("a < 10").count() == 20  # falls back to scan
    t.delete_where("a = 0", mode="merge-on-read")   # MoR entry → fallback
    assert t.scan().count() == 598
    assert t.scan().limit(5).count() == 5


def test_fast_forward(catalog):
    import pytest as _p

    from iceberg_ruby_spark.errors import InvalidDataError

    t = catalog.create_table("ffwd", schema={"a": "int"})
    t.append([{"a": 1}])
    s1 = t.current_snapshot().snapshot_id
    t.append([{"a": 2}])
    s2 = t.current_snapshot().snapshot_id
    # rollback then publish forward again (the un-rollback flow)
    t.rollback_to_snapshot(s1)
    assert [r["a"] for r in t.to_a()] == [1]
    t.fast_forward("main", s2)
    assert sorted(r["a"] for r in t.to_a()) == [1, 2]
    # branch fast-forward along the chain
    t.create_branch("audit", s1)
    t.fast_forward("audit", s2)
    assert t.snapshot_for_ref("audit").snapshot_id == s2
    # non-descendant target refuses
    t.rollback_to_snapshot(s1)
    t.append([{"a": 3}])  # diverged head
    with _p.raises(InvalidDataError):
        t.fast_forward("main", s2)


def test_snapshot_summary_counters(catalog):
    t = catalog.create_table("summ", schema={"a": "int"})
    t.append([{"a": i} for i in range(10)])
    s = t.current_snapshot().summary
    assert s["operation"] == "append"
    assert s["added-records"] == 10
    assert s["total-records"] == "10"
    t.append([{"a": 99}])
    s = t.current_snapshot().summary
    assert s["total-records"] == "11"
    assert int(s["total-data-files"]) >= 1
    t.delete_where("a < 5", mode="merge-on-read")
    s = t.current_snapshot().summary
    assert s["total-delete-entries"] == "1"
    assert s["total-records"] == "11"  # data-file records; MoR entry separate


def test_inspect_entries_and_metadata_log(catalog):
    t = catalog.create_table("insp_ent", schema={"k": "int", "v": "string"})
    t.append([{"k": 1, "v": "a"}, {"k": 2, "v": "b"}])
    s1 = t.current_snapshot().snapshot_id
    t.append([{"k": 3, "v": "c"}])
    s2 = t.current_snapshot().snapshot_id

    ents = t.inspect.entries().collect()
    assert len(ents) == 3 and all(e["content"] == 0 for e in ents)
    # adder snapshots reconstructed from carried sequence numbers
    by_snap = {}
    for e in ents:
        by_snap.setdefault(e["snapshot_id"], []).append(e)
    assert len(by_snap[s1]) == 2 and all(e["status"] == 0 for e in by_snap[s1])
    assert len(by_snap[s2]) == 1 and by_snap[s2][0]["status"] == 1

    # a MoR positional delete is an added content=1 entry; after the NEXT
    # commit it reads as carried-forward (status 0), not re-added
    t.delete_where("k = 1", mode="merge-on-read-positional")
    dent = [e for e in t.inspect.entries().collect() if e["content"] == 1]
    assert len(dent) == 1 and dent[0]["status"] == 1
    t.append([{"k": 9, "v": "z"}])
    dent = [e for e in t.inspect.entries().collect() if e["content"] == 1]
    assert dent[0]["status"] == 0 and dent[0]["record_count"] == 1

    log = t.inspect.metadata_log_entries().collect()
    assert len(log) == 5  # create + 4 commits
    assert [r["latest_sequence_number"] for r in log] == [None, 1, 2, 3, 4]
    assert log[2]["latest_snapshot_id"] == s2
    assert all(r["file"] for r in log)


def test_inspect_position_deletes(catalog, spark):
    from pyspark.sql import functions as F

    t = catalog.create_table("insp_pd", schema={"k": "int"})
    t.append([{"k": i} for i in range(8)])
    t.delete_where("k in (2, 5)", mode="merge-on-read-positional")
    pd = t.inspect.position_deletes().collect()
    assert len(pd) == 2
    assert all(r["delete_file_path"].endswith(".parquet") for r in pd)
    # each (file_path, pos) names the physical row that was deleted: the
    # row at that row_index of that data file carries a deleted key (the
    # file layout, and so the positions, depend on the core count)
    hit = sorted(
        spark.read.parquet(r["file_path"])
        .filter(F.col("_metadata.row_index") == r["pos"])
        .first()["k"]
        for r in pd
    )
    assert hit == [2, 5]
    # SQL metadata-table syntax routes all three new tables
    assert t.to_a(snapshot_id=None) is not None  # table loads fine
    c = catalog
    assert c.sql("SELECT count(*) AS n FROM insp_pd$position_deletes").rows == [[2]]
    assert c.sql(
        "SELECT count(*) AS n FROM insp_pd$entries WHERE status = 1"
    ).rows == [[1]]
    assert c.sql(
        "SELECT count(*) AS n FROM insp_pd$metadata_log_entries"
    ).rows == [[3]]


def test_inspect_all_tables(catalog):
    t = catalog.create_table("insp_all", schema={"k": "int"})
    t.append([{"k": 1}, {"k": 2}])
    s1 = t.current_snapshot().snapshot_id
    t.append([{"k": 3}])
    s2 = t.current_snapshot().snapshot_id
    t.delete_where("k = 1", mode="merge-on-read-positional")

    # all_entries: each snapshot re-lists what it references
    ae = t.inspect.all_entries().collect()
    per_ref = {}
    for r in ae:
        per_ref.setdefault(r["ref_snapshot_id"], []).append(r)
    n1 = len(per_ref[s1])  # files written by the first append (≥1)
    assert all(r["status"] == 1 for r in per_ref[s1])
    # at s2, the s1 files read as carried-forward, adder still s1
    carried = [r for r in per_ref[s2] if r["snapshot_id"] == s1]
    assert len(carried) == n1 and all(r["status"] == 0 for r in carried)
    added2 = [r for r in per_ref[s2] if r["snapshot_id"] == s2]
    assert added2 and all(r["status"] == 1 for r in added2)
    assert len(per_ref) == 3

    # splits of the current snapshot
    n_data = n1 + len(added2)
    assert t.inspect.data_files().count() == n_data
    dels = t.inspect.delete_files().collect()
    assert len(dels) == 1 and dels[0]["content"] in (1, 2)

    # all_files: reachable census, deduped by (content, path)
    af = t.inspect.all_files().collect()
    assert len(af) == n_data + 1  # data files + 1 delete, no repetition
    assert t.inspect.all_data_files().count() == n_data
    assert t.inspect.all_delete_files().count() == 1

    am = t.inspect.all_manifests().collect()
    assert {r["reference_snapshot_id"] for r in am} == {
        s.snapshot_id for s in t.snapshots
    }
    assert all(r["path"] for r in am)

    # SQL $-routing for the new names
    c = catalog
    assert c.sql("SELECT count(*) AS n FROM insp_all$all_data_files").rows == [
        [n_data]
    ]
    assert c.sql(
        "SELECT count(*) AS n FROM insp_all$all_manifests"
    ).rows[0][0] >= 3
    assert c.sql("SELECT count(*) AS n FROM insp_all$delete_files").rows == [[1]]


def test_apply_changelog_replication(catalog):
    import pytest

    from iceberg_ruby_spark.errors import InvalidDataError

    src = catalog.create_table("cdc_src_t", schema={"k": "int", "v": "string"})
    rep = catalog.create_table("cdc_rep_t", schema={"k": "int", "v": "string"})
    src.append([{"k": 1, "v": "a"}, {"k": 2, "v": "b"}])
    rep.apply_changelog(src.changelog_scan(), on="k")
    assert sorted((r["k"], r["v"]) for r in rep.refresh().to_a()) == [
        (1, "a"), (2, "b")
    ]
    mark = src.current_snapshot_id
    src.update_where({"v": "'a2'"}, "k = 1")
    src.delete_where("k = 2")
    src.append([{"k": 3, "v": "c"}])
    window = src.changelog_scan(from_snapshot_id=mark)
    rep.apply_changelog(window, on="k")
    expect = sorted((r["k"], r["v"]) for r in src.refresh().to_a())
    assert sorted((r["k"], r["v"]) for r in rep.refresh().to_a()) == expect
    # replaying the same window converges (idempotent consumer)
    rep.apply_changelog(src.changelog_scan(from_snapshot_id=mark), on="k")
    assert sorted((r["k"], r["v"]) for r in rep.refresh().to_a()) == expect
    # merge-on-read apply reaches the same state
    rep2 = catalog.create_table("cdc_rep2_t", schema={"k": "int", "v": "string"})
    rep2.apply_changelog(
        src.changelog_scan(to_snapshot_id=mark), on="k", mode="merge-on-read"
    )
    rep2.apply_changelog(
        src.changelog_scan(from_snapshot_id=mark), on="k", mode="merge-on-read"
    )
    assert sorted((r["k"], r["v"]) for r in rep2.refresh().to_a()) == expect
    with pytest.raises(InvalidDataError, match="lacks key column"):
        rep.apply_changelog(src.changelog_scan(), on="nope")


def test_apply_changelog_empty_target_fast_path(catalog):
    # first batch of a replication (empty replica): ONE append commit,
    # no delete commit, no merge — even when the window carries deletes
    src = catalog.create_table("cdc_fp_src", schema={"k": "int", "v": "string"})
    src.append([{"k": 1, "v": "a"}, {"k": 2, "v": "b"}, {"k": 3, "v": "c"}])
    src.delete_where("k = 2")
    mark = src.refresh().current_snapshot_id
    rep = catalog.create_table("cdc_fp_rep", schema={"k": "int", "v": "string"})
    rep.apply_changelog(src.changelog_scan(), on="k")
    rep = rep.refresh()
    assert sorted((r["k"], r["v"]) for r in rep.to_a()) == [(1, "a"), (3, "c")]
    snaps = rep.snapshots
    assert len(snaps) == 1, "empty-target apply must be a single commit"
    assert snaps[-1].operation == "append"
    assert snaps[-1].summary.get("total-delete-files", "0") == "0"
    # second batch (non-empty target) still routes through delete+merge
    src.update_where({"v": "'a2'"}, "k = 1")
    src.delete_where("k = 3")
    rep.apply_changelog(src.changelog_scan(from_snapshot_id=mark), on="k")
    expect = sorted((r["k"], r["v"]) for r in src.refresh().to_a())
    assert sorted((r["k"], r["v"]) for r in rep.refresh().to_a()) == expect


def test_compact_where_and_compression(catalog):
    import pyarrow.parquet as pq

    t = catalog.create_table(
        "cmpw",
        schema={"k": "int", "v": "string"},
        properties={"write.parquet.compression-codec": "zstd"},
    )
    for i in range(6):
        t.append([{"k": i * 10 + j, "v": f"r{i}-{j}"} for j in range(3)])
    ents = t._current_entries()
    # write.parquet.compression-codec reaches the parquet writer
    assert (
        pq.ParquetFile(ents[0]["path"]).metadata.row_group(0).column(0).compression
        == "ZSTD"
    )
    high_before = {
        e["path"] for e in ents if "path" in e and e["lower-bounds"]["k"] >= 30
    }
    t.delete_where("k = 1", mode="merge-on-read-positional")
    t.compact(where="k < 30")
    data = [e for e in t._current_entries() if "path" in e]
    # low range consolidated to one file; high files carried by reference
    assert len([e for e in data if e["lower-bounds"]["k"] < 30]) == 1
    assert high_before <= {e["path"] for e in data}
    # the MoR delete materialized into the rewrite
    expect = sorted(
        set(i * 10 + j for i in range(6) for j in range(3)) - {1}
    )
    assert sorted(r["k"] for r in t.refresh().to_a()) == expect
    # non-overlapping predicate: no-op, same snapshot
    snap = t.current_snapshot_id
    t.compact(where="k > 10000")
    assert t.refresh().current_snapshot_id == snap
    # CALL procedure routes the where arg
    r = catalog.sql(
        "CALL system.rewrite_data_files('cmpw', where => 'k >= 30')"
    )
    assert r.rows[0][0] >= 1  # rewritten count
    import pytest

    from iceberg_ruby_spark.errors import InvalidDataError

    with pytest.raises(InvalidDataError, match="parseable predicate"):
        t.compact(where="k LIKE 'x%'")


def test_wap_context_manager(catalog):
    t = catalog.create_table("wap_cm", schema={"k": "int"})
    t.append([{"k": 1}])
    with t.wap() as b:
        t.append([{"k": 2}], branch=b)
        # main untouched during the audit window; the branch sees staged
        assert sorted(r["k"] for r in t.to_a()) == [1]
        assert sorted(r["k"] for r in t.to_a(ref=b)) == [1, 2]
    # success: main fast-forwarded, staging branch gone
    assert sorted(r["k"] for r in t.refresh().to_a()) == [1, 2]
    assert list(t.refs) == ["main"]
    # failure: branch dropped, main never moved
    import pytest

    with pytest.raises(RuntimeError, match="audit failed"):
        with t.wap("audit2") as b:
            t.append([{"k": 99}], branch=b)
            raise RuntimeError("audit failed")
    assert sorted(r["k"] for r in t.refresh().to_a()) == [1, 2]
    assert list(t.refs) == ["main"]


def test_apply_changelog_composite_keys(catalog):
    src = catalog.create_table(
        "cdc_ck_src", schema={"a": "int", "b": "string", "v": "double"}
    )
    rep = catalog.create_table(
        "cdc_ck_rep", schema={"a": "int", "b": "string", "v": "double"}
    )
    src.append([{"a": 1, "b": "x", "v": 1.0}, {"a": 1, "b": "y", "v": 2.0}])
    rep.apply_changelog(src.changelog_scan(), on=["a", "b"])
    mark = src.current_snapshot_id
    src.update_where({"v": "9.0"}, "a = 1 AND b = 'x'")
    src.append([{"a": 2, "b": "x", "v": 3.0}])
    src.delete_where("b = 'y'")
    rep.apply_changelog(src.changelog_scan(from_snapshot_id=mark), on=["a", "b"])
    expect = sorted(
        (r["a"], r["b"], r["v"]) for r in src.refresh().to_a()
    )
    assert sorted((r["a"], r["b"], r["v"]) for r in rep.refresh().to_a()) == expect


def test_wap_id_stage_and_publish(catalog):
    """iceberg-spark's spark.wap.id flow: staged appends never move main
    until publish_changes cherry-picks them."""
    import pytest

    from iceberg_ruby_spark.errors import InvalidDataError

    t = catalog.create_table("wapid", schema={"k": "int"})
    t.append([{"k": 1}])
    sid = t.stage_append([{"k": 2}, {"k": 3}], wap_id="job42")
    assert sorted(r["k"] for r in t.refresh().to_a()) == [1]  # main untouched
    assert t.snapshot_by_id(sid).summary["wap.id"] == "job42"
    # publish via CALL (procedure parity), staging branch cleaned up
    catalog.sql("CALL system.publish_changes('wapid', 'job42')")
    t = t.refresh()
    assert sorted(r["k"] for r in t.to_a()) == [1, 2, 3]
    assert list(t.refs) == ["main"]
    with pytest.raises(InvalidDataError, match="no staged snapshot"):
        t.publish_changes("nope")
    # cherrypick: append-only commits transplant, others refuse
    t.delete_where("k = 1")
    with pytest.raises(InvalidDataError, match="only appends"):
        t.cherrypick_snapshot(t.current_snapshot_id)
    # concurrent-ish cherry-pick of a branch append onto a moved main
    t.create_branch("side")
    t.append([{"k": 9}], branch="side")
    t.append([{"k": 4}])  # main moves independently
    side_head = t.refresh().snapshot_for_ref("side").snapshot_id
    r = catalog.sql(f"CALL system.cherrypick_snapshot('wapid', {side_head})")
    assert r.rows[0][0] == side_head
    assert sorted(x["k"] for x in t.refresh().to_a()) == [2, 3, 4, 9]


def test_wap_enabled_property_stages_plain_appends(catalog, spark):
    t = catalog.create_table(
        "wapprop", schema={"k": "int"},
        properties={"write.wap.enabled": "true"},
    )
    t.append([{"k": 1}])  # no wap.id conf -> publishes normally
    assert sorted(r["k"] for r in t.refresh().to_a()) == [1]
    spark.conf.set("spark.wap.id", "audit7")
    try:
        t.append([{"k": 2}])  # staged, main untouched
        assert sorted(r["k"] for r in t.refresh().to_a()) == [1]
        t.publish_changes("audit7")
        assert sorted(r["k"] for r in t.refresh().to_a()) == [1, 2]
    finally:
        spark.conf.unset("spark.wap.id")


def test_publish_changes_refuses_ambiguous_wap_id(catalog):
    import pytest

    from iceberg_ruby_spark.errors import InvalidDataError

    t = catalog.create_table("wapdup", schema={"k": "int"})
    t.append([{"k": 1}])
    t.stage_append([{"k": 2}], wap_id="j1")
    t.stage_append([{"k": 3}], wap_id="j1")  # second commit, same id
    with pytest.raises(InvalidDataError, match="staged snapshots carry"):
        t.publish_changes("j1")
    assert sorted(r["k"] for r in t.refresh().to_a()) == [1]  # main safe


def test_scan_windows_accept_ref_names(catalog):
    """incremental_scan / changelog_scan window ends take a branch/tag
    name — tag the consumed position, scan from the tag."""
    import pytest

    from iceberg_ruby_spark.errors import InvalidDataError

    t = catalog.create_table("refwin", schema={"k": "int"})
    t.append([{"k": 1}])
    t.create_tag("consumed")
    t.append([{"k": 2}])
    t.append([{"k": 3}])
    assert sorted(
        r[0] for r in t.incremental_scan(from_snapshot_id="consumed").collect()
    ) == [2, 3]
    assert sorted(
        (r["k"], r["_change_type"])
        for r in t.changelog_scan(from_snapshot_id="consumed").collect()
    ) == [(2, "insert"), (3, "insert")]
    # to= end accepts a ref too
    t.create_tag("upto2", snapshot_id=t.snapshots[-2].snapshot_id)
    assert sorted(
        r[0]
        for r in t.incremental_scan(
            from_snapshot_id="consumed", to_snapshot_id="upto2"
        ).collect()
    ) == [2]
    with pytest.raises(InvalidDataError, match="no such ref"):
        t.incremental_scan(from_snapshot_id="nope")


def test_orc_data_files(catalog, spark, tmp_path):
    """ORC data files as first-class read-side citizens: add_files
    registers them by reference, scans/bounds-pruning/CoW/equality
    deletes work, positional/DV deletes refuse (no stable row_index),
    compact() converts to parquet and unlocks them."""
    import glob

    import pytest

    from iceberg_ruby_spark.errors import InvalidDataError

    ext = str(tmp_path / "orcdata")
    spark.createDataFrame(
        [(i, f"r{i}") for i in range(50)], "a int, b string"
    ).repartition(2).write.orc(ext)
    files = sorted(glob.glob(f"{ext}/*.orc"))
    t = catalog.create_table("orct", schema={"a": "int", "b": "string"})
    t.append([{"a": 1000, "b": "own"}])
    assert t.add_files(files, format="orc") == len(files)
    assert len(t.to_a()) == 51
    assert t.scan().filter("a = 7").to_a() == [{"a": 7, "b": "r7"}]
    # positional/DV modes refuse while ORC files are present
    with pytest.raises(InvalidDataError, match="ORC data files"):
        t.delete_where("a = 9", mode="merge-on-read-positional")
    with pytest.raises(InvalidDataError, match="ORC data files"):
        t.delete_where("a = 9", mode="merge-on-read-dv")
    # value-based modes work: equality delete and CoW
    t.delete_by_keys([{"a": 7}], on="a")
    t.delete_where("a < 5")
    assert len(t.refresh().to_a()) == 45
    # compact converts the remainder to parquet; positional unlocks
    t.compact()
    assert not any(
        e.get("path", "").endswith(".orc") for e in t._current_entries()
    )
    t.delete_where("a = 9", mode="merge-on-read-positional")
    assert len(t.refresh().to_a()) == 44
    with pytest.raises(InvalidDataError, match="expected parquet or orc"):
        t.add_files(files, format="csv")


def test_orc_native_writes(catalog, spark):
    """write.format.default=orc (r8): the engine WRITES ORC data files
    natively — append/scan/bounds-pruning/CoW/equality-delete/time-travel
    compose; positional/DV stay refused; compact keeps the table's
    declared format."""
    import pytest

    from iceberg_ruby_spark.errors import InvalidDataError

    t = catalog.create_table(
        "orcw",
        schema={"a": "int", "b": "string"},
        properties={"write.format.default": "orc"},
    )
    t.append([{"a": i, "b": f"r{i}"} for i in range(20)])
    t.append([{"a": 100 + i, "b": f"s{i}"} for i in range(5)])
    entries = [e for e in t._current_entries() if "path" in e]
    assert entries and all(e["path"].endswith(".orc") for e in entries)
    assert len(t.to_a()) == 25
    assert t.scan().filter("a = 7").to_a() == [{"a": 7, "b": "r7"}]
    # per-file bounds were collected → file pruning works on ORC writes:
    # only the second append's files (all a >= 100) are planned
    planned = t.scan().filter("a >= 100").plan_files()
    assert planned and len(planned) < len(entries)
    assert all(f["lower_bounds"]["a"] >= 100 for f in planned)
    sid = t.current_snapshot_id
    # equality delete (MoR) and CoW delete both compose
    t.delete_by_keys([{"a": 7}], on="a")
    t.delete_where("a < 5")
    assert len(t.refresh().to_a()) == 19
    assert len(t.to_a(snapshot_id=sid)) == 25  # time travel
    with pytest.raises(InvalidDataError, match="ORC data files"):
        t.delete_where("a = 9", mode="merge-on-read-positional")
    # compaction honors the declared format: output stays ORC
    t.compact()
    entries = [e for e in t._current_entries() if "path" in e]
    assert entries and all(e["path"].endswith(".orc") for e in entries)
    assert len(t.refresh().to_a()) == 19
    # orphan sweep treats live ORC dirs as live
    assert t.remove_orphan_files(dry_run=True) is not None
    t.expire_snapshots(keep_last=1)
    t.remove_orphan_files()
    assert len(t.refresh().to_a()) == 19
    with pytest.raises(InvalidDataError, match="expected parquet or orc"):
        catalog.create_table(
            "orcbad",
            schema={"a": "int"},
            properties={"write.format.default": "avro"},
        ).append([{"a": 1}])
