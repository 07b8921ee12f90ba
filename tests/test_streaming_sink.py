"""Streaming ingestion into catalog tables (foreachBatch sink with
exactly-once batch-id tracking)."""

import os

import pyspark.sql.functions as F


def test_stream_to_table_ingests_events(catalog, spark, tmp_path):
    from iceberg_ruby_spark.streaming import read_events_stream, stream_to_table

    sf_dir = "/root/testdata/sf0.001"
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    expected = batch.count()

    t = catalog.create_table(
        "events_ingest",
        schema={
            "event_id": "long",
            "ts": "timestamp",
            "user_id": "long",
            "event_type": "string",
            "value": "double",
        },
    )
    stream = read_events_stream(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    q = stream_to_table(stream, t, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination()
    t = t.refresh()
    assert len(t.to_a()) == expected
    # commit carries the streaming batch id
    assert any(
        s.summary.get("streaming-batch-id") is not None for s in t.snapshots
    )


def test_stream_to_table_skips_replayed_batch(catalog, spark, tmp_path):
    from iceberg_ruby_spark.streaming import read_events_stream, stream_to_table

    sf_dir = "/root/testdata/sf0.001"
    t = catalog.create_table(
        "events_replay",
        schema={
            "event_id": "long",
            "ts": "timestamp",
            "user_id": "long",
            "event_type": "string",
            "value": "double",
        },
    )
    # same checkpoint run twice: second run sees no new files AND any
    # replayed epoch is skipped by the batch-id guard
    for _ in range(2):
        stream = read_events_stream(spark, sf_dir).select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        q = stream_to_table(stream, t, checkpoint_dir=str(tmp_path / "ck2"))
        q.awaitTermination()
    t = t.refresh()
    expected = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert len(t.to_a()) == expected


def test_stream_to_table_guards_each_checkpoint(catalog, spark, tmp_path):
    """Batch ids restart at 0 with each checkpoint: a second query into
    the same table commits its batch 0 instead of dropping it as the
    first query's replay."""
    from iceberg_ruby_spark.streaming import stream_to_table

    t = catalog.create_table("two_queries", schema={"k": "long"})
    for n, keys in enumerate(([1, 2], [3, 4])):
        src = tmp_path / f"src{n}"
        spark.createDataFrame([(k,) for k in keys], "k long").write.parquet(str(src))
        stream = spark.readStream.schema("k long").parquet(str(src))
        q = stream_to_table(stream, t, checkpoint_dir=str(tmp_path / f"ck{n}"))
        q.awaitTermination()
    assert sorted(r["k"] for r in t.refresh().to_a()) == [1, 2, 3, 4]


def test_stream_to_table_replay_guard_follows_checkpoint_spelling(
    catalog, spark, tmp_path
):
    """A batch Spark replays after a crash (its commit-log entry lost) is
    skipped when the query restarts from the same checkpoint spelled as
    a ``file:`` URI."""
    from iceberg_ruby_spark.streaming import stream_to_table

    t = catalog.create_table("respelled", schema={"k": "long"})
    src = tmp_path / "src"
    spark.createDataFrame([(1,), (2,)], "k long").write.parquet(str(src))
    ck = tmp_path / "ck"
    for spelling in (str(ck), ck.as_uri()):
        stream = spark.readStream.schema("k long").parquet(str(src))
        stream_to_table(stream, t, checkpoint_dir=spelling).awaitTermination()
        for f in ("0", ".0.crc"):  # the crash: batch 0 runs again
            os.remove(ck / "commits" / f)
    assert sorted(r["k"] for r in t.refresh().to_a()) == [1, 2]


def test_stream_upsert_to_table(catalog, spark, tmp_path):
    """CDC upsert sink: per-batch merge-on-read MERGE — keyed rows update
    in place, new keys insert, and in-batch duplicate keys collapse to the
    last occurrence."""
    import os

    from iceberg_ruby_spark.streaming import stream_upsert_to_table

    t = catalog.create_table("ups", schema={"k": "long", "v": "string"})
    t.append([{"k": 1, "v": "old1"}, {"k": 2, "v": "old2"}])

    src_dir = tmp_path / "cdc"
    os.makedirs(src_dir)
    spark.createDataFrame(
        [(1, "mid1"), (1, "new1"), (3, "new3")], "k long, v string"
    ).coalesce(1).write.parquet(str(src_dir / "batch1"))
    stream = (
        spark.readStream.schema("k long, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir / "batch1"))
    )
    q = stream_upsert_to_table(stream, t, on="k", checkpoint_dir=str(tmp_path / "ck"))
    q.awaitTermination()
    t = t.refresh()
    rows = {r["k"]: r["v"] for r in t.to_a()}
    assert rows == {1: "new1", 2: "old2", 3: "new3"}
    # upsert wrote an equality delete, not a rewrite
    assert any(
        e.get("content") == "equality-deletes" for e in t._current_entries()
    )
    # replay with the same checkpoint is a no-op
    stream = (
        spark.readStream.schema("k long, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir / "batch1"))
    )
    q = stream_upsert_to_table(stream, t, on="k", checkpoint_dir=str(tmp_path / "ck"))
    q.awaitTermination()
    t = t.refresh()
    assert {r["k"]: r["v"] for r in t.to_a()} == {1: "new1", 2: "old2", 3: "new3"}


def test_stream_dedup_ingest_filters_near_dups(catalog, spark, tmp_path):
    """Online near-dup-free ingestion: two micro-batches; batch-2 docs that
    near-dup the already-ingested corpus (via the persisted signature
    table) or each other are dropped; signature state carries forward."""
    import pyspark.sql.types as T

    from iceberg_ruby_spark.streaming import stream_dedup_ingest

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    other = "shared phrase block alpha beta gamma delta epsilon zeta eta theta now"
    b1 = [(1, base), (2, base + " ok")]                      # 2 dups 1 → keep 1
    b2 = [
        (3, base + " !!"),                                    # dups corpus 1 → drop
        (4, "completely unrelated words appear in this single document body"),
        (5, other), (6, other + " x"),                        # intra-batch → keep 5
    ]
    src = tmp_path / "src"
    src.mkdir()
    doc_schema = "doc_id long, text string"
    spark.createDataFrame(b1, doc_schema).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(b2, doc_schema).coalesce(1).write.parquet(str(src / "f2"))

    docs = catalog.create_table("sd_docs", schema={"doc_id": "long", "text": "string"})
    sigs = catalog.create_table(
        "sd_sigs",
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("sig", T.ArrayType(T.LongType())),
            ]
        ),
    )
    stream = (
        spark.readStream.schema(doc_schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    q = stream_dedup_ingest(
        stream, docs, sigs, checkpoint_dir=str(tmp_path / "ckpt"),
        threshold=0.5,
    )
    q.awaitTermination()
    kept = sorted(r["doc_id"] for r in docs.refresh().to_a())
    assert kept == [1, 4, 5]
    assert sorted(r["doc_id"] for r in sigs.refresh().to_a()) == [1, 4, 5]
    # both tables carry per-epoch batch ids (exactly-once guard material)
    assert {s.summary.get("streaming-batch-id") for s in docs.snapshots} >= {"0", "1"}
    assert {s.summary.get("streaming-batch-id") for s in sigs.snapshots} >= {"0", "1"}


def test_native_stream_writer_end_to_end(catalog, spark, tmp_path):
    """writeStream.format("iceberg_table"): executor-written files,
    session-free metadata commit, exactly-once across restarts."""
    from iceberg_ruby_spark.streaming import register_stream_source

    bronze = catalog.create_table("nw_bronze", schema={"k": "int", "v": "string"})
    gold = catalog.create_table("nw_gold", schema={"k": "int", "v": "string"})
    bronze.append([{"k": 1, "v": "aa"}, {"k": 2, "v": "bbb"}])
    register_stream_source(spark)
    ck = str(tmp_path / "ck")

    def run():
        q = (
            spark.readStream.format("iceberg_table")
            .option("location", bronze.ops.location)
            .load()
            .writeStream.format("iceberg_table")
            .option("location", gold.ops.location)
            .option("checkpointLocation", ck)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run()
    assert sorted((r["k"], r["v"]) for r in gold.refresh().to_a()) == [
        (1, "aa"), (2, "bbb")
    ]
    # restart with the same checkpoint: nothing re-ingested, new appends flow
    bronze.append([{"k": 3, "v": "c"}])
    run()
    assert sorted((r["k"], r["v"]) for r in gold.refresh().to_a()) == [
        (1, "aa"), (2, "bbb"), (3, "c")
    ]
    # each micro-batch is one tracked snapshot with file stats for pruning
    marks = [
        (s.summary.get("streaming-sink-id"), s.summary.get("streaming-batch-id"))
        for s in gold.snapshots
    ]
    assert marks == [("default", "0"), ("default", "1")]
    assert all(
        e.get("lower-bounds", {}).get("k") is not None
        for e in gold._current_entries()
    )
    assert gold.scan().filter("k = 3").to_a() == [{"k": 3, "v": "c"}]


def test_native_stream_writer_guards(catalog, spark, tmp_path):
    import pytest

    from iceberg_ruby_spark.errors import InvalidDataError
    from iceberg_ruby_spark.streaming import register_stream_source
    from iceberg_ruby_spark.streaming.sink import EngineTableStreamWriter

    register_stream_source(spark)
    part = catalog.create_table(
        "nw_part",
        schema={"k": "int", "v": "string"},
        partition_spec=[("k", "bucket[4]")],
    )
    plain = catalog.create_table("nw_plain", schema={"k": "int", "v": "string"})
    schema = plain.spark_schema()
    # transformed partition specs are accepted (bucket layout, see
    # test_native_stream_writer_transformed_partitions)
    EngineTableStreamWriter(
        {"location": part.ops.location}, schema, overwrite=False
    )
    # schema mismatch refused at plan time
    wrong = spark.createDataFrame([(1,)], "k int").schema
    with pytest.raises(InvalidDataError, match="does not match table schema"):
        EngineTableStreamWriter(
            {"location": plain.ops.location}, wrong, overwrite=False
        )
    # append-only: complete/update modes refused
    with pytest.raises(InvalidDataError, match="append-only"):
        EngineTableStreamWriter(
            {"location": plain.ops.location}, schema, overwrite=True
        )


def test_native_stream_writer_identity_partitions(catalog, spark, tmp_path):
    """Identity-partitioned sink: executors group rows by value and lay
    out name=value dirs — streamed data partition-prunes like batch."""
    from iceberg_ruby_spark.streaming import register_stream_source

    bronze = catalog.create_table("nwp_bronze", schema={"k": "int", "v": "string"})
    gold = catalog.create_table(
        "nwp_gold",
        schema={"k": "int", "v": "string"},
        partition_spec=[("k", "identity")],
    )
    bronze.append([{"k": 1, "v": "aa"}, {"k": 2, "v": "bbb"}, {"k": 1, "v": "cc"}])
    register_stream_source(spark)
    q = (
        spark.readStream.format("iceberg_table")
        .option("location", bronze.ops.location)
        .load()
        .writeStream.format("iceberg_table")
        .option("location", gold.ops.location)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert sorted((r["k"], r["v"]) for r in gold.refresh().to_a()) == [
        (1, "aa"), (1, "cc"), (2, "bbb")
    ]
    ents = gold._current_entries()
    assert all("/k=" in e["path"] for e in ents)
    # partition value bounds ride the manifest (min = max = the value)
    assert all(
        e["lower-bounds"]["k"] == e["upper-bounds"]["k"] for e in ents
    )
    assert sorted(r["v"] for r in gold.scan().filter("k = 1").to_a()) == [
        "aa", "cc"
    ]


def test_native_stream_writer_sort_order(catalog, spark, tmp_path):
    """Files written by the sink are sorted by the table's identity
    sort order, keeping manifest bounds tight for range predicates."""
    import pyarrow.parquet as pq

    from iceberg_ruby_spark.streaming import register_stream_source

    bronze = catalog.create_table("so_bronze", schema={"k": "int", "v": "string"})
    gold = catalog.create_table(
        "so_gold",
        schema={"k": "int", "v": "string"},
        sort_order=[("k", "desc")],
    )
    bronze.append([{"k": i, "v": f"r{i}"} for i in (5, 1, 9, 3, 7)])
    register_stream_source(spark)
    q = (
        spark.readStream.format("iceberg_table")
        .option("location", bronze.ops.location)
        .load()
        .writeStream.format("iceberg_table")
        .option("location", gold.ops.location)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert sorted(r["k"] for r in gold.refresh().to_a()) == [1, 3, 5, 7, 9]
    for e in gold._current_entries():
        ks = pq.read_table(e["path"]).column("k").to_pylist()
        assert ks == sorted(ks, reverse=True), ks


def test_native_stream_writer_branch_wap(catalog, spark, tmp_path):
    """Streaming write-audit-publish: branch-targeted micro-batch commits
    leave main untouched until fast_forward publishes, restart-safe."""
    from iceberg_ruby_spark.streaming import register_stream_source

    bronze = catalog.create_table("nwb_bronze", schema={"k": "int"})
    gold = catalog.create_table("nwb_gold", schema={"k": "int"})
    gold.append([{"k": 0}])  # pre-existing published data
    bronze.append([{"k": 1}, {"k": 2}])
    register_stream_source(spark)
    ck = str(tmp_path / "ck")

    def run():
        q = (
            spark.readStream.format("iceberg_table")
            .option("location", bronze.ops.location)
            .load()
            .writeStream.format("iceberg_table")
            .option("location", gold.ops.location)
            .option("branch", "audit")
            .option("checkpointLocation", ck)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run()
    gold = gold.refresh()
    # main readers see only the published row; the branch has the stream
    assert sorted(r["k"] for r in gold.to_a()) == [0]
    assert sorted(r["k"] for r in gold.to_a(ref="audit")) == [0, 1, 2]
    # restart replays nothing; new appends land on the branch
    bronze.append([{"k": 3}])
    run()
    gold = gold.refresh()
    assert sorted(r["k"] for r in gold.to_a(ref="audit")) == [0, 1, 2, 3]
    assert sorted(r["k"] for r in gold.to_a()) == [0]
    # audit passed: publish the branch to main
    gold.fast_forward("main", "audit")
    assert sorted(r["k"] for r in gold.refresh().to_a()) == [0, 1, 2, 3]


def test_native_stream_writer_transformed_partitions(catalog, spark, tmp_path):
    """bucket/day-partitioned sink: executors group rows by the spec's
    TRANSFORMED values (transform.scalar ≡ batch apply_typed), identity
    sources live in the path, transformed sources stay in the file —
    streamed files land in the same layout a batch append produces and
    bucket point-lookups prune them."""
    from iceberg_ruby_spark.streaming import register_stream_source

    bronze = catalog.create_table("nwt_bronze", schema={"k": "int", "v": "string"})
    gold = catalog.create_table(
        "nwt_gold",
        schema={"k": "int", "v": "string"},
        partition_spec=[("k", "bucket[4]")],
    )
    bronze.append([{"k": i, "v": f"v{i}"} for i in range(8)])
    register_stream_source(spark)
    q = (
        spark.readStream.format("iceberg_table")
        .option("location", bronze.ops.location)
        .load()
        .writeStream.format("iceberg_table")
        .option("location", gold.ops.location)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    gold = gold.refresh()
    assert sorted((r["k"], r["v"]) for r in gold.to_a()) == [
        (i, f"v{i}") for i in range(8)
    ]
    # streamed layout == batch layout for the same spec: same bucket dir
    # for the same key, transformed source kept inside the file
    import os

    from iceberg_ruby_spark.transforms import parse_transform
    from iceberg_ruby_spark import types as ice_t

    tr = parse_transform("bucket[4]")
    entries = [e for e in gold._current_entries() if "path" in e]
    assert entries
    for e in entries:
        seg = [p for p in e["path"].split(os.sep) if p.startswith("k_bucket")]
        assert seg, e["path"]
        bucket = int(seg[0].split("=", 1)[1])
        import pyarrow.parquet as pq

        tbl = pq.read_table(gold.ops._abs(e["path"]))
        assert "k" in tbl.column_names  # transformed source stays in-file
        for kv in tbl.column("k").to_pylist():
            assert tr.scalar(kv, ice_t.IntType()) == bucket
    # batch append lands in the same directories
    gold.append([{"k": 0, "v": "again"}])
    assert sorted(r["v"] for r in gold.refresh().scan().filter("k = 0").to_a()) == [
        "again", "v0"
    ]


def test_native_stream_writer_void_partition_field(catalog, spark, tmp_path):
    """A void transform in the spec (spec-evolution placeholder) lands in
    the default-partition directory like the batch writer — not a per-row
    NULL-partition refusal."""
    from iceberg_ruby_spark.streaming import register_stream_source

    bronze = catalog.create_table("nwv_bronze", schema={"k": "int"})
    gold = catalog.create_table(
        "nwv_gold", schema={"k": "int"}, partition_spec=[("k", "void")]
    )
    bronze.append([{"k": 1}, {"k": 2}])
    register_stream_source(spark)
    q = (
        spark.readStream.format("iceberg_table")
        .option("location", bronze.ops.location)
        .load()
        .writeStream.format("iceberg_table")
        .option("location", gold.ops.location)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert sorted(r["k"] for r in gold.refresh().to_a()) == [1, 2]
    entries = [e for e in gold._current_entries() if "path" in e]
    assert all("__HIVE_DEFAULT_PARTITION__" in e["path"] for e in entries)


def test_sink_max_records_per_file(catalog, spark, tmp_path):
    """r11: write.spark.max-records-per-file bounds each streamed file —
    a large micro-batch splits into right-sized files with tight
    disjoint sort-key bounds; rows and ordering semantics unchanged."""
    from iceberg_ruby_spark.streaming import register_stream_source

    t = catalog.create_table("sinksplit", schema={"k": "int", "v": "string"})
    t.update_properties({"write.spark.max-records-per-file": "40"})
    t.replace_sort_order([("k", "asc")])
    register_stream_source(spark)
    src = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "k int, v string"
    ).coalesce(1)
    # drive the executor writer directly with Arrow batches
    from iceberg_ruby_spark.streaming.sink import EngineTableStreamWriter

    w = EngineTableStreamWriter({"location": t.ops.location}, src.schema, False)
    import pyarrow as pa

    tbl = pa.table({"k": list(range(100)), "v": [f"v{i}" for i in range(100)]})
    tbl = tbl.cast(pa.schema([pa.field("k", pa.int32()), pa.field("v", pa.string())]))
    msg = w.write(iter(tbl.to_batches(max_chunksize=25)))
    assert len(msg.files) == 3  # ceil(100/40)
    assert [f["record-count"] for f in msg.files] == [40, 40, 20]
    # sorted split => disjoint tight bounds per file
    bounds = sorted(
        (f["lower-bounds"]["k"], f["upper-bounds"]["k"]) for f in msg.files
    )
    assert bounds == [(0, 39), (40, 79), (80, 99)]
    w.commit([msg], 0)
    t = t.refresh()
    assert len(t.scan().plan_files()) == 3
    assert sorted(r["k"] for r in t.to_a()) == list(range(100))


def test_native_stream_writer_upsert(catalog, spark, tmp_path):
    """r12 (VERDICT r11 #5): option('mode','upsert') — each micro-batch
    commits ONE equality delete on the batch's identifier-field keys
    (scoped to pre-batch files) + the batch's data files in a single
    snapshot, the Flink upsert sink shape.  Keyed replays converge to
    last-write-wins; restarts stay exactly-once; the batch's own rows
    survive its delete."""
    from iceberg_ruby_spark.streaming import register_stream_source

    register_stream_source(spark)
    bronze = catalog.create_table("up_bronze", schema={"k": "long", "v": "string"})
    gold = catalog.create_table("up_gold", schema={"k": "long", "v": "string"})
    gold.update_schema().set_identifier_fields("k").commit()
    gold = gold.refresh()
    ck = str(tmp_path / "ck")

    def run():
        q = (
            spark.readStream.format("iceberg_table")
            .option("location", bronze.ops.location)
            .load()
            .writeStream.format("iceberg_table")
            .option("location", gold.ops.location)
            .option("mode", "upsert")
            .option("checkpointLocation", ck)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    bronze.append([{"k": 1, "v": "a1"}, {"k": 2, "v": "a2"}])
    run()
    assert {r["k"]: r["v"] for r in gold.refresh().to_a()} == {1: "a1", 2: "a2"}
    # second batch: k=1 updates, k=3 inserts, k=5 collapses to its LAST
    # in-batch occurrence.  One source file → one sink task: in-task row
    # order is the file order (like Flink, cross-task duplicates within a
    # batch are the keyed-stream contract — the caller's job)
    bronze.append(
        spark.createDataFrame(
            [(1, "b1"), (3, "b3"), (5, "x"), (5, "y")], "k long, v string"
        ).coalesce(1)
    )
    run()
    gold = gold.refresh()
    assert {r["k"]: r["v"] for r in gold.to_a()} == {
        1: "b1", 2: "a2", 3: "b3", 5: "y"
    }
    # one snapshot per micro-batch, upsert-marked, exactly-once ids
    marks = [
        (s.summary.get("mode"), s.summary.get("streaming-batch-id"))
        for s in gold.snapshots
        if s.summary.get("streaming-sink-id")
    ]
    assert marks == [("streaming-upsert", "0"), ("streaming-upsert", "1")]
    # the second batch carries an equality delete at its own commit's
    # sequence (the Iceberg scan-planning rule: it applies only to data
    # files with a strictly LOWER data sequence) — no path list, so the
    # commit's metadata is O(batch) however many files the table holds,
    # and the batch's own rows survived their own delete
    eq = [
        e
        for e in gold._current_entries()
        if e.get("content") == "equality-deletes"
    ]
    assert len(eq) == 1
    assert eq[0]["equality-cols"] == ["k"]
    batch1 = [
        s for s in gold.snapshots if s.summary.get("streaming-batch-id") == "1"
    ]
    assert eq[0]["data-sequence-number"] == batch1[0].sequence_number
    assert "applies-to" not in eq[0]
    # the per-entry key-bounds hint (reader-side pruning) spans the
    # batch's keys
    kb = eq[0]["key-bounds"]
    assert kb["lower"]["k"] == 1 and kb["upper"]["k"] == 5
    own = eq[0]["data-sequence-number"]
    data = [e for e in gold._current_entries() if "path" in e]
    # pre-batch files sit strictly below the delete's sequence (covered);
    # the batch's own files share it (exempt)
    assert any(e["data-sequence-number"] < own for e in data)
    assert any(e["data-sequence-number"] == own for e in data)
    # restart with the same checkpoint: no new source data, nothing changes
    n_snaps = len(gold.snapshots)
    run()
    gold = gold.refresh()
    assert len(gold.snapshots) == n_snaps
    assert {r["k"]: r["v"] for r in gold.to_a()} == {
        1: "b1", 2: "a2", 3: "b3", 5: "y"
    }


def test_native_stream_writer_upsert_requires_identifier_fields(
    catalog, spark, tmp_path
):
    import pytest

    from iceberg_ruby_spark.errors import InvalidDataError
    from iceberg_ruby_spark.streaming.sink import EngineTableStreamWriter

    plain = catalog.create_table("up_plain", schema={"k": "int", "v": "string"})
    with pytest.raises(InvalidDataError, match="identifier fields"):
        EngineTableStreamWriter(
            {"location": plain.ops.location, "mode": "upsert"},
            plain.spark_schema(),
            overwrite=False,
        )
    with pytest.raises(InvalidDataError, match="expected 'append' or 'upsert'"):
        EngineTableStreamWriter(
            {"location": plain.ops.location, "mode": "replace"},
            plain.spark_schema(),
            overwrite=False,
        )


def test_upsert_sink_composes_with_changelog(catalog, spark, tmp_path):
    """An upsert-fed table stays CDC-consumable: changelog_scan over the
    upsert commits emits delete(old version) + insert(new version) —
    the commit is structurally delta-derivable (data files + one
    equality delete added, nothing removed), so the slices planner
    never needs a content diff.  A plain append-mode tail over the same
    table refuses (operation 'overwrite'), matching Iceberg's streaming
    behavior on overwrite snapshots unless skip_rewrite_commits."""
    import pyspark.sql.functions as F

    from iceberg_ruby_spark.streaming import register_stream_source

    register_stream_source(spark)
    bronze = catalog.create_table("cu_bronze", schema={"k": "long", "v": "string"})
    gold = catalog.create_table("cu_gold", schema={"k": "long", "v": "string"})
    gold.update_schema().set_identifier_fields("k").commit()
    gold = gold.refresh()
    ck = str(tmp_path / "ck")

    def run():
        q = (
            spark.readStream.format("iceberg_table")
            .option("location", bronze.ops.location)
            .load()
            .writeStream.format("iceberg_table")
            .option("location", gold.ops.location)
            .option("mode", "upsert")
            .option("checkpointLocation", ck)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    bronze.append([{"k": 1, "v": "a1"}, {"k": 2, "v": "a2"}])
    run()
    bronze.append([{"k": 1, "v": "b1"}, {"k": 3, "v": "b3"}])
    run()
    gold = gold.refresh()
    ch = gold.changelog_scan().select("k", "v", "_change_type")
    events = sorted((r["k"], r["v"], r["_change_type"]) for r in ch.collect())
    assert events == [
        (1, "a1", "delete"),  # old version dies in the upsert commit
        (1, "a1", "insert"),  # batch 0 insert
        (1, "b1", "insert"),  # batch 1 new version
        (2, "a2", "insert"),
        (3, "b3", "insert"),
    ]
    # net view: the a1 insert+delete cancel
    net = sorted(
        (r["k"], r["v"], r["_change_type"])
        for r in gold.changelog_net()
        .select("k", "v", "_change_type")
        .collect()
    )
    assert net == [
        (1, "b1", "insert"), (2, "a2", "insert"), (3, "b3", "insert")
    ]
    # a plain append-mode tail refuses the overwrite commit...
    import pytest

    q = (
        spark.readStream.format("iceberg_table")
        .option("location", gold.ops.location)
        .load()
        .writeStream.format("memory")
        .queryName("cu_tail_refuse")
        .start()
    )
    with pytest.raises(Exception, match="overwrite"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    # ...and passes over it under skip_rewrite_commits (Iceberg's
    # streaming-skip-overwrite-snapshots semantics)
    q = (
        spark.readStream.format("iceberg_table")
        .option("location", gold.ops.location)
        .option("skip_rewrite_commits", "true")
        .load()
        .writeStream.format("memory")
        .queryName("cu_tail_skip")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert spark.sql("SELECT count(*) FROM cu_tail_skip").first()[0] == 0


def test_native_stream_writer_upsert_partitioned_composite_key(
    catalog, spark, tmp_path
):
    """Upsert sink over an identity-PARTITIONED gold table with a
    COMPOSITE identifier key: data files land in partition layout, the
    per-batch equality delete carries both key columns, and keyed waves
    converge last-write-wins."""
    from iceberg_ruby_spark.streaming import register_stream_source

    register_stream_source(spark)
    bronze = catalog.create_table(
        "upc_bronze", schema={"region": "string", "k": "long", "v": "long"}
    )
    gold = catalog.create_table(
        "upc_gold",
        schema={"region": "string", "k": "long", "v": "long"},
        partition_spec=[("region", "identity")],
    )
    gold.update_schema().set_identifier_fields("region", "k").commit()
    gold = gold.refresh()
    ck = str(tmp_path / "ck")

    def run():
        q = (
            spark.readStream.format("iceberg_table")
            .option("location", bronze.ops.location)
            .load()
            .writeStream.format("iceberg_table")
            .option("location", gold.ops.location)
            .option("mode", "upsert")
            .option("checkpointLocation", ck)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    bronze.append(
        [
            {"region": "eu", "k": 1, "v": 10},
            {"region": "us", "k": 1, "v": 20},
            {"region": "eu", "k": 2, "v": 30},
        ]
    )
    run()
    # same k in another region is a DIFFERENT key (composite); eu/1 updates
    bronze.append(
        [{"region": "eu", "k": 1, "v": 11}, {"region": "ap", "k": 9, "v": 90}]
    )
    run()
    gold = gold.refresh()
    state = {
        (r["region"], r["k"]): r["v"] for r in gold.to_a()
    }
    assert state == {
        ("eu", 1): 11, ("us", 1): 20, ("eu", 2): 30, ("ap", 9): 90
    }
    eq = [
        e for e in gold._current_entries()
        if e.get("content") == "equality-deletes"
    ]
    assert eq and all(e["equality-cols"] == ["region", "k"] for e in eq)
    # partition pruning still works over the upsert-written layout
    assert {r["k"] for r in gold.scan().filter("region = 'eu'").to_a()} == {1, 2}


def test_sql_group_counts_time_travel(catalog):
    """r12: the partition-histogram route understands VERSION AS OF —
    a historical histogram is as metadata-answerable as a current one."""
    t = catalog.create_table(
        "gctt",
        schema={"pr": "string", "k": "long"},
        partition_spec=[("pr", "identity")],
    )
    t.append([{"pr": f"p{i % 2}", "k": i} for i in range(10)])
    t = t.refresh()
    s1 = t.current_snapshot_id
    t.append([{"pr": "p9", "k": 99}])
    t = t.refresh()
    import glob
    import os

    for p in glob.glob(
        os.path.join(t.ops.data_dir, "**", "*.parquet"), recursive=True
    ):
        os.remove(p)
    cat = t.catalog
    assert cat.sql(
        f"SELECT pr, COUNT(*) AS n FROM gctt VERSION AS OF {s1} GROUP BY pr"
    ).to_a() == [{"pr": "p0", "n": 5}, {"pr": "p1", "n": 5}]
    assert cat.sql(
        "SELECT pr, COUNT(*) AS n FROM gctt GROUP BY pr"
    ).to_a() == [{"pr": "p0", "n": 5}, {"pr": "p1", "n": 5}, {"pr": "p9", "n": 1}]


def test_upsert_sink_to_changelog_stream_replica(catalog, spark, tmp_path):
    """The full CDC loop over an upsert-fed table: keyed waves enter gold
    through the native upsert sink, a CHANGELOG STREAM replicates gold
    into a replica via per-batch apply_changelog merges — the replica
    must converge to gold's exact last-write-wins state.  Pins that the
    stream planner consumes upsert commits (data files + equality delete
    per commit) structurally, including across restarts."""
    from iceberg_ruby_spark.streaming import (
        register_stream_source,
        stream_changelog_apply,
    )

    register_stream_source(spark)
    bronze = catalog.create_table("ucl_bronze", schema={"k": "long", "v": "long"})
    gold = catalog.create_table("ucl_gold", schema={"k": "long", "v": "long"})
    gold.update_schema().set_identifier_fields("k").commit()
    gold = gold.refresh()
    replica = catalog.create_table("ucl_rep", schema={"k": "long", "v": "long"})
    up_ck = str(tmp_path / "up_ck")
    cl_ck = str(tmp_path / "cl_ck")

    def upsert_drain():
        q = (
            spark.readStream.format("iceberg_table")
            .option("location", bronze.ops.location)
            .load()
            .writeStream.format("iceberg_table")
            .option("location", gold.ops.location)
            .option("mode", "upsert")
            .option("checkpointLocation", up_ck)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    # wave 1 in, replicate
    bronze.append([{"k": i, "v": i} for i in range(10)])
    upsert_drain()
    q = stream_changelog_apply(spark, gold.refresh(), replica, "k", cl_ck)
    q.awaitTermination()
    assert sorted((r["k"], r["v"]) for r in replica.refresh().to_a()) == [
        (i, i) for i in range(10)
    ]
    # wave 2: updates + inserts, replicate incrementally (same checkpoint)
    bronze.append([{"k": 3, "v": 333}, {"k": 7, "v": 777}, {"k": 20, "v": 20}])
    upsert_drain()
    q = stream_changelog_apply(spark, gold.refresh(), replica.refresh(), "k", cl_ck)
    q.awaitTermination()
    gold_state = sorted((r["k"], r["v"]) for r in gold.refresh().to_a())
    rep_state = sorted((r["k"], r["v"]) for r in replica.refresh().to_a())
    assert rep_state == gold_state
    assert dict(gold_state)[3] == 333 and dict(gold_state)[20] == 20


def _direct_upsert_writer(catalog, extra_props=None):
    from iceberg_ruby_spark.streaming.sink import EngineTableStreamWriter

    t = catalog.create_table(
        "up_direct",
        schema={"k": "long", "v": "long"},
        properties=extra_props or {},
    )
    t.update_schema().set_identifier_fields("k").commit()
    t = t.refresh()
    writer = EngineTableStreamWriter(
        {"location": t.ops.location, "mode": "upsert"},
        t.spark_schema(),
        overwrite=False,
    )
    os.makedirs(os.path.join(t.ops.data_dir, "stream-deletes"), exist_ok=True)
    return t, writer


def _direct_commit(t, writer, b, pairs):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_ruby_spark.streaming.sink import _FileMsg

    tbl = pa.table(
        {
            "k": pa.array([k for k, _ in pairs], pa.int64()),
            "v": pa.array([v for _, v in pairs], pa.int64()),
        }
    )
    dpath = os.path.join(t.ops.data_dir, f"d{b}.parquet")
    pq.write_table(tbl, dpath)
    kpath = os.path.join(t.ops.data_dir, "stream-deletes", f"d{b}.parquet")
    pq.write_table(tbl.select(["k"]), kpath)
    ks = [k for k, _ in pairs]
    writer.commit(
        [
            _FileMsg(
                files=[
                    {
                        "path": dpath,
                        "record-count": len(pairs),
                        "file-size-bytes": os.path.getsize(dpath),
                        "lower-bounds": {"k": min(ks)},
                        "upper-bounds": {"k": max(ks)},
                        "null-counts": {},
                    }
                ],
                delete_files=[
                    {
                        "path": kpath,
                        "record-count": len(pairs),
                        "file-size-bytes": os.path.getsize(kpath),
                        "lower-bounds": {"k": min(ks)},
                        "upper-bounds": {"k": max(ks)},
                        "null-counts": {"k": 0},
                    }
                ],
            )
        ],
        b,
    )


def test_deep_upsert_chain_scans_with_one_merged_join(catalog, spark):
    """Regression pin (r13): a LONG unsettled upsert chain must stay
    readable.  Per-delete chained joins blew the JVM stack at plan time
    past ~100 micro-batches (StackOverflowError in SparkPlan.prepare);
    the scan now merges every seq-scoped equality delete sharing a key
    set into ONE broadcast join on MAX(delete sequence) per key —
    constant plan depth however deep the chain.  130 batches with
    rotating keys must converge to last-write-wins exactly."""
    t, writer = _direct_upsert_writer(catalog)
    expect = {}
    for b in range(130):
        pairs = [((b * 7 + i) % 40, b * 100 + i) for i in range(5)]
        for k, v in pairs:
            expect[k] = v
        _direct_commit(t, writer, b, pairs)
    t = t.refresh()
    eqs = [
        e
        for e in t._current_entries()
        if e.get("content") == "equality-deletes"
    ]
    assert len(eqs) == 129  # every batch after the first committed one
    assert {r["k"]: r["v"] for r in t.to_a()} == expect


def test_metadata_log_capped_at_previous_versions_max(catalog, spark):
    """The spec caps the metadata-log list at
    write.metadata.previous-versions-max — without it a streaming sink's
    metadata document grows one row per commit forever (an O(history)
    serialize tax on every later commit)."""
    t = catalog.create_table(
        "meta_log_cap",
        schema={"k": "long"},
        properties={"write.metadata.previous-versions-max": "4"},
    )
    for b in range(9):
        t.append([{"k": b}])
        t = t.refresh()
    log = t.metadata.raw.get("metadata-log", [])
    assert len(log) == 4
    # the retained entries are the NEWEST previous versions, in order
    files = [e["metadata-file"] for e in log]
    assert files == sorted(files, key=lambda p: int(p.split("v")[-1].split(".")[0]))


def test_metadata_log_cap_floor_at_one(catalog, spark):
    """A non-positive previous-versions-max must clamp, not invert: the
    naive ``[-0:]`` slice keeps the WHOLE list (unbounded growth — the
    exact tax the cap bounds) and a negative cap would drop the NEWEST
    entries.  Spec implementations floor the property at 1."""
    t = catalog.create_table(
        "meta_log_floor",
        schema={"k": "long"},
        properties={"write.metadata.previous-versions-max": "0"},
    )
    for b in range(5):
        t.append([{"k": b}])
        t = t.refresh()
    log = t.metadata.raw.get("metadata-log", [])
    assert len(log) == 1  # clamped to 1, not "everything"
    # and the retained entry is the NEWEST previous version — one below
    # the current metadata document's version
    def _v(p):
        return int(p.split("v")[-1].split(".")[0])

    assert _v(log[0]["metadata-file"]) == _v(t.metadata.metadata_file) - 1


def test_native_stream_writer_upsert_with_delete_column(catalog, spark, tmp_path):
    """r13 Flink-parity retractions: option('delete_column', c) marks CDC
    delete rows — marked keys die (equality delete, no data row),
    unmarked rows upsert, last-operation-per-key wins in a batch, a
    pure-retraction batch commits a delete-only snapshot, and the marker
    column never reaches the table."""
    import pytest

    from iceberg_ruby_spark.errors import InvalidDataError
    from iceberg_ruby_spark.streaming import register_stream_source
    from iceberg_ruby_spark.streaming.sink import EngineTableStreamWriter

    register_stream_source(spark)
    bronze = catalog.create_table(
        "del_bronze", schema={"k": "long", "v": "string", "op_del": "boolean"}
    )
    gold = catalog.create_table("del_gold", schema={"k": "long", "v": "string"})
    gold.update_schema().set_identifier_fields("k").commit()
    gold = gold.refresh()
    ck = str(tmp_path / "ck")

    def run():
        q = (
            spark.readStream.format("iceberg_table")
            .option("location", bronze.ops.location)
            .load()
            .writeStream.format("iceberg_table")
            .option("location", gold.ops.location)
            .option("mode", "upsert")
            .option("delete_column", "op_del")
            .option("checkpointLocation", ck)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    bronze.append(
        [
            {"k": 1, "v": "a1", "op_del": False},
            {"k": 2, "v": "a2", "op_del": None},  # NULL marker = upsert
            {"k": 3, "v": "a3", "op_del": False},
        ]
    )
    run()
    assert {r["k"]: r["v"] for r in gold.refresh().to_a()} == {
        1: "a1", 2: "a2", 3: "a3"
    }
    # mixed batch, one source file → one task: k=2 deleted, k=1 updated,
    # k=4 inserted-then-deleted (last op wins → dead), k=5 deleted-then-
    # inserted (last op wins → alive)
    bronze.append(
        spark.createDataFrame(
            [
                (2, None, True),
                (1, "b1", False),
                (4, "x4", False),
                (4, None, True),
                (5, None, True),
                (5, "b5", False),
            ],
            "k long, v string, op_del boolean",
        ).coalesce(1)
    )
    run()
    gold = gold.refresh()
    assert {r["k"]: r["v"] for r in gold.to_a()} == {
        1: "b1", 3: "a3", 5: "b5"
    }
    assert "op_del" not in gold.to_df().columns
    # pure-retraction batch: delete-only snapshot, data-file count flat
    n_data = len([e for e in gold._current_entries() if "path" in e])
    bronze.append([{"k": 3, "v": None, "op_del": True}])
    run()
    gold = gold.refresh()
    assert {r["k"]: r["v"] for r in gold.to_a()} == {1: "b1", 5: "b5"}
    assert len([e for e in gold._current_entries() if "path" in e]) == n_data
    # refusals: delete_column outside upsert mode / wrong placement
    with pytest.raises(InvalidDataError, match="requires\\s+.?mode 'upsert'"):
        EngineTableStreamWriter(
            {"location": gold.ops.location, "delete_column": "op_del"},
            bronze.spark_schema(),
            overwrite=False,
        )
    with pytest.raises(InvalidDataError, match="LAST column"):
        EngineTableStreamWriter(
            {
                "location": gold.ops.location,
                "mode": "upsert",
                "delete_column": "nope",
            },
            bronze.spark_schema(),
            overwrite=False,
        )
