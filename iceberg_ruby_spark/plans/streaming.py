"""Streaming queries (SURVEY.md §7.7): Structured Streaming plans executed
over the bounded events table with the availableNow trigger, hash-compared
against batch-SQL oracles where the semantics are batch-equivalent.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from iceberg_ruby_spark.plans.registry import query


@query(
    "stream_tumbling_window",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
    FROM events GROUP BY 1, 2, 3
    """,
)
def stream_tumbling_window(spark, sf_dir):
    """Tumbling 1-hour event-time windows with a watermark, run as a real
    streaming query (memory sink, complete mode).  Bounded replay makes the
    result batch-equivalent → oracle is a date_trunc GROUP BY."""
    from iceberg_ruby_spark.streaming import (
        read_events_stream,
        run_to_memory_table,
        windowed_counts,
    )

    events = read_events_stream(spark, sf_dir)
    agg = windowed_counts(events, window="1 hour", watermark="2 hours")
    return run_to_memory_table(agg, spark, output_mode="complete")


@query(
    "stream_session_window",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 5 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sess_id
    """,
)
def stream_session_window(spark, sf_dir):
    """Gap-based session windows (5-minute inactivity gap) as a streaming
    query; oracle is the classic gaps-and-islands SQL."""
    from iceberg_ruby_spark.streaming import (
        read_events_stream,
        run_to_memory_table,
        session_windows,
    )

    events = read_events_stream(spark, sf_dir)
    sess = session_windows(events, gap="5 minutes")
    return run_to_memory_table(sess, spark, output_mode="complete")


@query(
    "stream_dedup_watermark",
    oracle="SELECT event_id, user_id, event_type FROM events",
)
def stream_dedup_watermark(spark, sf_dir):
    """dropDuplicatesWithinWatermark over the stream (event_ids are unique
    in the testdata, so the deduped stream equals the input set — the
    assertion is that nothing is dropped or duplicated by the operator)."""
    from iceberg_ruby_spark.streaming import (
        dedup_events_stream,
        read_events_stream,
        run_to_memory_table,
    )

    events = read_events_stream(spark, sf_dir)
    deduped = dedup_events_stream(events, watermark="1 hour").select(
        "event_id", "user_id", "event_type"
    )
    return run_to_memory_table(deduped, spark, output_mode="append")


@query(
    "stream_stateful_user_activity",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           round(SUM(value), 6) AS value_sum,
           MIN(ts) AS first_ts, MAX(ts) AS last_ts
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_user_activity(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState): per-user running
    activity kept in explicit GroupState.  Bounded replay makes the final
    update per key batch-equivalent to a GROUP BY."""
    from iceberg_ruby_spark.streaming import (
        read_events_stream,
        run_to_memory_table,
        user_activity_stateful,
    )

    events = read_events_stream(spark, sf_dir)
    acts = user_activity_stateful(events, spark)
    out = run_to_memory_table(acts, spark, output_mode="update")
    # update mode can emit a row per micro-batch per key; keep the last
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("value_sum", 6).alias("value_sum"),
            "first_ts",
            "last_ts",
        )
    )


@query(
    "stream_table_source_tail",
    oracle="""
    SELECT doc_id, length(text) AS char_len
    FROM documents WHERE doc_id < 120
    """,
)
def stream_table_source_tail(spark, sf_dir):
    """The engine-table STREAMING SOURCE (streaming/source.py): two append
    commits land in an engine table, a readStream over it consumes both
    micro-batches (offsets = snapshot ids), and the drained sink equals a
    batch read of the same rows — so the oracle is plain SQL over the
    slice that was appended."""
    from iceberg_ruby_spark.catalog import MemoryCatalog
    from iceberg_ruby_spark.plans.tables import load
    from iceberg_ruby_spark.streaming import register_stream_source

    cat = MemoryCatalog(namespace="main", spark=spark)
    cat.create_namespace("main", if_not_exists=True)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    t = cat.create_table(
        "stream_src_tail", schema={"doc_id": "long", "text": "string"}
    )
    t.append(docs.filter("doc_id < 60"))
    t.append(docs.filter("doc_id >= 60 AND doc_id < 120"))
    register_stream_source(spark)
    q = (
        spark.readStream.format("iceberg_table")
        .option("location", t.ops.location)
        .load()
        .writeStream.format("memory")
        .queryName("stream_src_tail_sink")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(
        "SELECT doc_id, length(text) AS char_len FROM stream_src_tail_sink"
    )


@query(
    "stream_changelog_tail",
    oracle="""
    SELECT doc_id, length(text) AS char_len,
           'insert' AS _change_type, CAST(0 AS INTEGER) AS _change_ordinal
    FROM documents WHERE doc_id < 60
    UNION ALL
    SELECT doc_id, length(text), 'insert', CAST(1 AS INTEGER)
    FROM documents WHERE doc_id >= 60 AND doc_id < 120
    UNION ALL
    SELECT doc_id, length(text), 'delete', CAST(2 AS INTEGER)
    FROM documents WHERE doc_id < 20
    """,
)
def stream_changelog_tail(spark, sf_dir):
    """Changelog-mode STREAMING SOURCE (streaming/source.py, r8): two
    append commits and one merge-on-read equality delete land in an
    engine table; a ``mode=changelog`` readStream drains them into
    row-level change events — inserts for each append's rows at its
    commit ordinal, deletes carrying the dead rows' full content for the
    equality-delete commit.  The oracle reconstructs the exact expected
    event set in closed form (appended slices as inserts, the deleted
    slice as deletes), so hash equality proves both the event rows and
    their commit ordinals."""
    from iceberg_ruby_spark.catalog import MemoryCatalog
    from iceberg_ruby_spark.plans.tables import load
    from iceberg_ruby_spark.streaming import register_stream_source

    cat = MemoryCatalog(namespace="main", spark=spark)
    cat.create_namespace("main", if_not_exists=True)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    t = cat.create_table(
        "stream_cl_tail", schema={"doc_id": "long", "text": "string"}
    )
    t.append(docs.filter("doc_id < 60"))
    t.append(docs.filter("doc_id >= 60 AND doc_id < 120"))
    t.delete_by_keys(docs.filter("doc_id < 20").select("doc_id"), "doc_id")
    register_stream_source(spark)
    q = (
        spark.readStream.format("iceberg_table")
        .option("location", t.ops.location)
        .option("mode", "changelog")
        .load()
        .writeStream.format("memory")
        .queryName("stream_cl_tail_sink")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(
        "SELECT doc_id, length(text) AS char_len, _change_type,"
        " _change_ordinal FROM stream_cl_tail_sink"
    )


@query(
    "stream_changelog_cow",
    oracle="""
    SELECT doc_id, length(text) AS char_len,
           'insert' AS _change_type, CAST(0 AS INTEGER) AS _change_ordinal
    FROM documents WHERE doc_id < 80
    UNION ALL
    SELECT doc_id, length(text), 'delete', CAST(1 AS INTEGER)
    FROM documents WHERE doc_id < 10
    UNION ALL
    SELECT doc_id, 1, 'insert', CAST(1 AS INTEGER)
    FROM documents WHERE doc_id < 10
    UNION ALL
    SELECT doc_id, length(text), 'delete', CAST(2 AS INTEGER)
    FROM documents WHERE doc_id >= 70 AND doc_id < 80
    """,
)
def stream_changelog_cow(spark, sf_dir):
    """Changelog streaming over a copy-on-write commit, which has NO
    structural row form (r9, streaming/source.py
    ``_content_diff_slices``), followed by a merge-on-read delete: the
    CoW UPDATE streams through the per-commit content-diff fallback and
    emits delete(old)+insert(new) for exactly the updated rows — rows
    the rewrite merely copied cancel in the multiset diff — and the
    positional delete's structural slices emit exactly the rows it
    killed.  The
    oracle reconstructs the full expected event set in closed form
    (updated rows' new text is 'X', char_len 1), so hash equality proves
    event rows AND commit ordinals."""
    from iceberg_ruby_spark.catalog import MemoryCatalog
    from iceberg_ruby_spark.plans.tables import load
    from iceberg_ruby_spark.streaming import register_stream_source

    cat = MemoryCatalog(namespace="main", spark=spark)
    cat.create_namespace("main", if_not_exists=True)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    t = cat.create_table(
        "stream_cl_cow", schema={"doc_id": "long", "text": "string"}
    )
    t.append(docs.filter("doc_id < 80"))
    t.update_where({"text": "'X'"}, "doc_id < 10")              # CoW rewrite
    t.delete_where("doc_id >= 70", mode="merge-on-read")        # positional
    register_stream_source(spark)
    q = (
        spark.readStream.format("iceberg_table")
        .option("location", t.ops.location)
        .option("mode", "changelog")
        .load()
        .writeStream.format("memory")
        .queryName("stream_cl_cow_sink")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(
        "SELECT doc_id, length(text) AS char_len, _change_type,"
        " _change_ordinal FROM stream_cl_cow_sink"
    )


@query(
    "stream_cdc_pipeline",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 1 THEN 1
                ELSE length(text) END AS char_len
    FROM documents
    WHERE doc_id % 10 <> 0
    """,
    bench=True,
)
def stream_cdc_pipeline(spark, sf_dir):
    """The WHOLE CDC loop as one timed pipeline (streaming/cdc.py
    ``stream_changelog_apply``, benched from r10): a source table takes
    three append waves, a copy-on-write UPDATE (streams through the
    DISTRIBUTED content-diff fallback — bounds-grouped slices), and an
    equality delete; one changelog-stream drain replicates everything
    into a second engine table via per-batch ``apply_changelog`` merges.
    The returned frame is the REPLICA's content, so the oracle (the
    surviving rows in closed form) proves end-to-end replication
    fidelity, and the bench wall times source planning + changelog
    reads + apply merges together — the number a 100 TB CDC feed lives
    on."""
    import tempfile

    from iceberg_ruby_spark.catalog import MemoryCatalog
    from iceberg_ruby_spark.plans.tables import load
    from iceberg_ruby_spark.streaming import stream_changelog_apply

    cat = MemoryCatalog(namespace="main", spark=spark)
    cat.create_namespace("main", if_not_exists=True)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    src = cat.create_table(
        "cdc_bench_src", schema={"doc_id": "long", "text": "string"}
    )
    for wave in range(3):
        src.append(docs.filter(F.col("doc_id") % 3 == wave))
    src.update_where({"text": "'U'"}, "doc_id % 7 = 1")          # CoW rewrite
    src.delete_by_keys(
        docs.filter(F.col("doc_id") % 10 == 0).select("doc_id"), "doc_id"
    )
    rep = cat.create_table(
        "cdc_bench_rep", schema={"doc_id": "long", "text": "string"}
    )
    q = stream_changelog_apply(
        spark, src, rep, "doc_id", tempfile.mkdtemp(prefix="cdcbench_ckpt_")
    )
    q.awaitTermination()
    return rep.refresh().to_df().select(
        "doc_id", F.length("text").cast("int").alias("char_len")
    )


@query(
    "stream_upsert_sink",
    oracle="""
    SELECT doc_id,
           CAST(CASE WHEN doc_id % 6 = 0 THEN length(text) + 2000
                     WHEN doc_id % 3 = 0 THEN length(text) + 1000
                     ELSE length(text) END AS BIGINT) AS v
    FROM documents WHERE doc_id < 400
    """,
    bench="tail",
)
def stream_upsert_sink(spark, sf_dir):
    """The native streaming UPSERT sink end-to-end (r12, VERDICT r11 #5 —
    streaming/sink.py ``mode=upsert``, Iceberg's Flink upsert sink shape):
    three keyed waves land in a bronze table; each drain of the bronze
    tail commits ONE SEQUENCE-scoped equality-delete (the batch's
    identifier keys, applying to strictly-lower-sequence files only — the
    Iceberg scan-planning rule; r13 replaced the applies-to path list) +
    ONE append into gold, as a fast-append delta.  Re-delivered keys
    converge to last-write-wins, which the DuckDB twin recomputes in
    closed form — a delete-scope or key-dedup bug leaves stale versions
    alive and breaks the hash.  Benched from r13 (VERDICT r12 #7) so the
    flattened commit path is measurable round-over-round; the audited
    plan is gold's merged-MoR scan (ONE broadcast join for the whole
    equality-delete chain)."""
    import tempfile

    from iceberg_ruby_spark.catalog import MemoryCatalog
    from iceberg_ruby_spark.plans.tables import load
    from iceberg_ruby_spark.streaming import register_stream_source

    cat = MemoryCatalog(namespace="main", spark=spark)
    cat.create_namespace("main", if_not_exists=True)
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    bronze = cat.create_table(
        "upsert_bronze", schema={"doc_id": "long", "v": "long"}
    )
    gold = cat.create_table(
        "upsert_gold", schema={"doc_id": "long", "v": "long"}
    )
    gold.update_schema().set_identifier_fields("doc_id").commit()
    gold = gold.refresh()
    register_stream_source(spark)
    ck = tempfile.mkdtemp(prefix="upsert_sink_ckpt_")

    # ONE long-lived query drains all three waves (r13): this is the
    # production sink shape — a 24/7 upsert feed keeps its query up and
    # micro-batches arrive as the source commits land.  The previous
    # start/stop-per-wave form re-paid the whole streaming-query fixed
    # cost (Python source-runner spawn + engine import + offset-log
    # replay) three times, ~1.5 s per restart at bench scale, while
    # computing the identical batch sequence: each wave is one bronze
    # commit → one micro-batch → one equality-delete + append into gold.
    # Restart/exactly-once recovery stays pinned by the sink pytest suite
    # (tests/test_streaming_sink.py), which restarts queries explicitly.
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
    length = F.length("text").cast("long")
    waves = [
        (docs, length),
        (docs.filter(F.col("doc_id") % 3 == 0), length + 1000),
        (docs.filter(F.col("doc_id") % 6 == 0), length + 2000),
    ]
    try:
        for src, val in waves:
            bronze.append(src.select("doc_id", val.alias("v")))
            q.processAllAvailable()
    finally:
        q.stop()
    return gold.refresh().to_df().select("doc_id", "v")


@query(
    "stream_upsert_retract",
    oracle="""
    SELECT doc_id,
           CAST(CASE WHEN doc_id % 3 = 0 THEN length(text) + 1000
                     ELSE length(text) END AS BIGINT) AS v
    FROM documents WHERE doc_id < 300 AND doc_id % 5 <> 0
    """,
)
def stream_upsert_retract(spark, sf_dir):
    """CDC retractions through the native upsert sink (r13 —
    ``option("delete_column", c)``, Flink-parity): wave 1 inserts the
    corpus, wave 2 upserts every doc_id ≡ 0 (mod 3), wave 3 RETRACTS
    every doc_id ≡ 0 (mod 5) via marked rows (keys die through the
    batch's sequence-scoped equality delete; no data row written).  The
    DuckDB twin states the surviving keyed state in closed form — a
    marker-splitting, keep-last, or delete-scoping bug breaks the
    hash."""
    import tempfile

    from iceberg_ruby_spark.catalog import MemoryCatalog
    from iceberg_ruby_spark.plans.tables import load
    from iceberg_ruby_spark.streaming import register_stream_source

    cat = MemoryCatalog(namespace="main", spark=spark)
    cat.create_namespace("main", if_not_exists=True)
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    bronze = cat.create_table(
        "retract_bronze",
        schema={"doc_id": "long", "v": "long", "op_del": "boolean"},
    )
    gold = cat.create_table(
        "retract_gold", schema={"doc_id": "long", "v": "long"}
    )
    gold.update_schema().set_identifier_fields("doc_id").commit()
    gold = gold.refresh()
    register_stream_source(spark)
    ck = tempfile.mkdtemp(prefix="upsert_retract_ckpt_")

    def drain():
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
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    length = F.length("text").cast("long")
    waves = [
        (docs, length, F.lit(False)),
        (docs.filter(F.col("doc_id") % 3 == 0), length + 1000, F.lit(False)),
        (
            docs.filter(F.col("doc_id") % 5 == 0),
            F.lit(None).cast("long"),
            F.lit(True),
        ),
    ]
    for src, val, mark in waves:
        bronze.append(
            src.select("doc_id", val.alias("v"), mark.alias("op_del"))
        )
        drain()
    return gold.refresh().to_df().select("doc_id", "v")


@query(
    "stream_cdc_scd2",
    oracle="""
    WITH base AS (
        SELECT doc_id FROM documents WHERE doc_id < 600
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(0 AS BIGINT) AS from_pos,
           CAST(CASE WHEN doc_id % 5 = 2 THEN 1
                     WHEN doc_id % 5 = 4 THEN 2 END AS BIGINT) AS to_pos,
           CAST(0 AS BIGINT) AS ver
    FROM base
    UNION ALL
    SELECT CAST(doc_id AS BIGINT), CAST(1 AS BIGINT), CAST(NULL AS BIGINT),
           CAST(1 AS BIGINT)
    FROM base WHERE doc_id % 5 = 2
    """,
)
def stream_cdc_scd2(spark, sf_dir):
    """The STREAMING type-2 history loop (streaming/cdc.py
    ``stream_changelog_scd2``) across two drains: a bulk load + CoW
    UPDATE drain, then a CoW DELETE drain that must close versions left
    open by the FIRST drain.  Snapshot ids map to commit positions;
    ``ver`` disambiguates the two versions an updated key holds.  The
    oracle reconstructs every version bracket relationally."""
    import tempfile

    from iceberg_ruby_spark.catalog import MemoryCatalog
    from iceberg_ruby_spark.plans.tables import load
    from iceberg_ruby_spark.streaming import stream_changelog_scd2

    cat = MemoryCatalog(namespace="main", spark=spark)
    cat.create_namespace("main", if_not_exists=True)
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 600)
    src = cat.create_table("scd2s_src", schema={"doc_id": "long", "ver": "long"})
    hist = cat.create_table(
        "scd2s_hist",
        schema={
            "doc_id": "long",
            "ver": "long",
            "valid_from": "long",
            "valid_to": "long",
        },
    )
    ckpt = tempfile.mkdtemp(prefix="scd2s_ckpt_")
    src.append(docs.select("doc_id", F.lit(0).cast("long").alias("ver")))  # pos 0
    src.update_where({"ver": "1"}, "doc_id % 5 = 2")                       # pos 1
    q = stream_changelog_scd2(spark, src.refresh(), hist, "doc_id", ckpt)
    q.awaitTermination()
    src.delete_where("doc_id % 5 = 4")                                     # pos 2
    q = stream_changelog_scd2(spark, src.refresh(), hist, "doc_id", ckpt)
    q.awaitTermination()
    snaps = sorted(
        src.refresh().ops.load().snapshots, key=lambda s: s.sequence_number
    )
    posmap = F.create_map(
        *[F.lit(x) for i, s in enumerate(snaps) for x in (s.snapshot_id, i)]
    )
    return hist.refresh().to_df().select(
        "doc_id",
        posmap[F.col("valid_from")].cast("long").alias("from_pos"),
        posmap[F.col("valid_to")].cast("long").alias("to_pos"),
        "ver",
    )
