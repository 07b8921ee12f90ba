"""Event-stream building blocks over the driver's events table."""

from __future__ import annotations

import os
import urllib.parse
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_ruby_spark.streaming.sink import (
    BATCH_ID_KEY,
    SINK_ID_KEY,
    last_committed_batch,
)

# inferred-schema memo for the immutable events test file (see
# read_events_stream)
_EVENTS_SCHEMA_MEMO: dict = {}


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a bounded stream (schema taken from a batch probe),
    with ``ts`` normalized to the session-timezone TIMESTAMP type whatever
    the file's physical encoding — the driver has shipped both
    INT64 TIMESTAMP(NANOS) (arrives as long under nanosAsLong) and
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (arrives as TIMESTAMP_NTZ,
    which ``withWatermark`` rejects).  Confs are pinned at runtime so this
    works on any SparkSession, not just our factory's (the correctness
    driver builds a bare one); the UTC pin makes the NTZ→LTZ cast
    value-stable against the naive-timestamp DuckDB oracle.

    SESSION-WIDE SIDE EFFECT: the two confs below stay set on the caller's
    SparkSession after this returns — they CANNOT be save/restored here
    because the returned stream is lazy: both confs are read when the
    streaming query (and its downstream casts) actually executes, long
    after this function exits.  Callers sharing the session with
    timezone-sensitive batch work should run those queries on a separate
    session (``spark.newSession()``) or re-pin the confs afterwards."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # schema memo (r13, guide §1.2): the file is immutable test data, so
    # infer its schema once per path — repeat stream builds skip the
    # footer re-inference (~290 ms each).  Inference runs under the
    # nanosAsLong pin above, so the memoized schema matches it.
    path = f"{sf_dir}/events.parquet"
    schema = _EVENTS_SCHEMA_MEMO.get(path)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _EVENTS_SCHEMA_MEMO[path] = schema
    # file-stream sources take a directory; select the events file by glob
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(sf_dir)
    )
    ts_type = {f.name: f.dataType.simpleString() for f in schema.fields}.get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def windowed_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling event-time windows per event_type: count + exact-decimal
    value sum.  The watermark bounds state for unbounded sources; replayed
    bounded data is unaffected (nothing arrives later than it)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "value_sum",
        )
    )


def session_windows(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """Gap-based session windows per user (session ends after ``gap`` of
    inactivity; window end = last event + gap)."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_events_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming dedup: drop event_id repeats within the watermark window
    (bounded state — the 100 TB-safe streaming dedup)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_to_memory_table(
    df: DataFrame, spark: SparkSession, output_mode: str = "complete"
) -> DataFrame:
    """Execute a (bounded) streaming plan with the availableNow trigger into
    a memory sink; returns the sink contents as a DataFrame."""
    name = f"stream_out_{uuid.uuid4().hex[:12]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def user_activity_stateful(
    events: DataFrame, spark: SparkSession, timeout_ms: int = 0
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running activity (event count, value sum, first/last event time) kept
    in explicit GroupState across micro-batches — the pattern for stateful
    logic Spark's built-in aggregations can't express.

    State per key is a constant-size tuple, so memory is O(active users),
    not O(events); a ProcessingTimeTimeout would evict idle users at scale
    (left NoTimeout here because the bounded replay ends the query)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("n_events", T.LongType(), False),
            T.StructField("value_sum", T.DoubleType(), True),
            T.StructField("first_ts", T.TimestampType(), True),
            T.StructField("last_ts", T.TimestampType(), True),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("vsum", T.DoubleType()),
            T.StructField("first_ts", T.TimestampType()),
            T.StructField("last_ts", T.TimestampType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, vsum, first_ts, last_ts = (
            state.get if state.exists else (0, 0.0, None, None)
        )
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n += len(pdf)
            vsum += float(pdf["value"].fillna(0.0).sum())
            lo, hi = pdf["ts"].min(), pdf["ts"].max()
            first_ts = lo if first_ts is None or lo < first_ts else first_ts
            last_ts = hi if last_ts is None or hi > last_ts else last_ts
        state.update((n, vsum, first_ts, last_ts))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "value_sum": [vsum],
                "first_ts": [first_ts],
                "last_ts": [last_ts],
            }
        )

    return events.select("user_id", "ts", "value").groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _checkpoint_sink_id(checkpoint_dir: str) -> str:
    """The replay-guard scope of a foreachBatch sink: its checkpoint
    location, whose batch ids it continues across restarts.  A local
    checkpoint has one id however it is spelled (``ck``, ``/tmp/ck/``,
    ``file:///tmp/ck``): its absolute path."""
    ckpt = str(checkpoint_dir)
    url = urllib.parse.urlparse(ckpt)
    if url.scheme == "file":
        ckpt = urllib.parse.unquote(url.path)
    elif url.scheme:
        return ckpt.rstrip("/")
    return os.path.abspath(ckpt)


def _batch_summary(sink_id: str, batch_id: int) -> dict:
    return {SINK_ID_KEY: sink_id, BATCH_ID_KEY: str(batch_id)}


def _append_with_batch_id(table, df: DataFrame, sink_id: str, batch_id: int) -> None:
    """Append ``df`` as one snapshot that records ``(sink_id, batch_id)``."""
    df = table._normalize_input(df)
    new_entries = table._write_data_dir(df)
    n = table._entries_rowcount(new_entries)
    table._commit_snapshot(
        "append",
        new_entries,
        summary_extra={"added-records": n, **_batch_summary(sink_id, batch_id)},
    )


def stream_to_table(
    stream_df: DataFrame,
    table,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """Streaming ingestion into a catalog table via ``foreachBatch``, with
    EXACTLY-ONCE effect: each micro-batch commit records its checkpoint
    and epoch id in the snapshot summary, and replayed batches (restart
    after a crash between sink commit and checkpoint advance) are skipped
    when their id is <= the last one committed from the same checkpoint
    (:func:`~iceberg_ruby_spark.streaming.sink.last_committed_batch`).

    Returns the StreamingQuery; callers await/stop it."""
    sink_id = _checkpoint_sink_id(checkpoint_dir)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        t = table.refresh()
        if batch_id <= last_committed_batch(t, sink_id):
            return  # replayed batch — already committed
        _append_with_batch_id(t, batch_df, sink_id, batch_id)

    writer = stream_df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_upsert_to_table(
    stream_df: DataFrame,
    table,
    on,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """Streaming CDC UPSERT into a catalog table: each micro-batch runs a
    merge-on-read MERGE (matched keys → equality delete file, new versions
    + inserts appended — zero rewrites, the Flink-upsert write shape), with
    the same exactly-once replay detection as :func:`stream_to_table`.
    Later occurrences of a key within one batch win (event-order upsert).

    Returns the StreamingQuery; callers await/stop it."""
    keys = [on] if isinstance(on, str) else list(on)
    sink_id = _checkpoint_sink_id(checkpoint_dir)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        t = table.refresh()
        if batch_id <= last_committed_batch(t, sink_id):
            return  # replayed batch — already committed
        cols = [f.name for f in t.current_schema().fields]
        # collapse duplicate keys inside the batch: last occurrence wins
        # (MERGE requires at most one source row per key)
        w = Window.partitionBy(*keys).orderBy(
            F.col("__seq").desc()
        )
        deduped = (
            batch_df.withColumn("__seq", F.monotonically_increasing_id())
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(*[c for c in batch_df.columns])
            # checkpoint the batch-sized frame: merge_into evaluates its
            # source three times (dup check, hit-file semi-join, rewrite),
            # each re-reading the micro-batch — and the __seq tie-break is
            # monotonically_increasing_id(), which is NOT stable across
            # recomputations, so an uncheckpointed plan could hand the
            # three evaluations different per-key winners
            .localCheckpoint()
        )
        t.merge_into(
            deduped,
            on=keys,
            when_matched_update={c: f"s.{c}" for c in cols if c not in keys},
            when_not_matched_insert=True,
            mode="merge-on-read",
            summary_extra=_batch_summary(sink_id, batch_id),
        )

    writer = stream_df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
