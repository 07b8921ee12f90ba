"""Streaming near-duplicate-free ingestion — the online form of the
incremental dedup loop (operators/dedup.py ``minhash_incremental_pairs``).

Each micro-batch of documents is deduped against BOTH the already-ingested
corpus (via the persisted signature table — history is never re-shingled)
and itself, then only the surviving docs and their signatures are
committed.  Exactly-once: both tables carry the streaming batch id in the
snapshot summary and skip replayed epochs independently, so a crash
between the two commits cannot double-ingest either.

Survivor policy (deterministic): near-dup families are closed
transitively (``connected_components``); a batch doc survives iff its
family contains no corpus doc AND it is the family's smallest id.  A
corpus doc always wins over its batch near-dups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from iceberg_ruby_spark.streaming.events import (
    _append_with_batch_id,
    _checkpoint_sink_id,
)
from iceberg_ruby_spark.streaming.sink import last_committed_batch


def stream_dedup_ingest(
    stream_df: DataFrame,
    docs_table,
    sigs_table,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 5,
    threshold: float = 0.6,
    hash_fn: str = "xxhash64",
    trigger_available_now: bool = True,
):
    """Start a streaming query that ingests ``stream_df`` into
    ``docs_table`` with online near-dup filtering; ``sigs_table`` is the
    persisted (id, sig) MinHash state fed forward batch to batch.

    Scale shape per batch: the corpus contributes only its signature
    table to the band join (no text re-scan except the candidate-filtered
    verification); every driver-side list is batch- or pair-sized."""
    from iceberg_ruby_spark.operators.dedup import (
        connected_components,
        minhash_incremental_pairs,
    )

    sink_id = _checkpoint_sink_id(checkpoint_dir)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark import StorageLevel

        dt = docs_table.refresh()
        st = sigs_table.refresh()
        docs_done = batch_id <= last_committed_batch(dt, sink_id)
        sigs_done = batch_id <= last_committed_batch(st, sink_id)
        if docs_done and sigs_done:
            return  # fully replayed epoch
        batch = batch_df.persist(StorageLevel.MEMORY_AND_DISK)
        corpus = dt.to_df().select(F.col(id_col), F.col(text_col))
        stored = st.to_df().select(F.col(id_col), F.col("sig"))
        pairs, batch_sigs = minhash_incremental_pairs(
            corpus,
            batch,
            text_col,
            id_col,
            corpus_sigs=stored,
            num_hashes=num_hashes,
            bands=bands,
            shingle_size=shingle_size,
            threshold=threshold,
            hash_fn=hash_fn,
        )
        comp = connected_components(pairs)
        batch_ids = batch.select(F.col(id_col).cast("long").alias("doc_id"))
        # clusters that contain at least one already-ingested (corpus) doc
        corpus_clusters = (
            comp.join(batch_ids, "doc_id", "left_anti")
            .select("cluster_id")
            .distinct()
        )
        dropped = (
            comp.join(batch_ids, "doc_id", "left_semi")
            .join(corpus_clusters.withColumn("__has_corpus", F.lit(True)), "cluster_id", "left")
            .filter(
                (F.col("doc_id") != F.col("cluster_id"))
                | F.col("__has_corpus").isNotNull()
            )
            .select("doc_id")
        )
        kept = batch.join(
            dropped, batch[id_col].cast("long") == dropped["doc_id"], "left_anti"
        )
        kept_sigs = batch_sigs.join(
            kept.select(F.col(id_col).alias("__k")),
            batch_sigs[id_col] == F.col("__k"),
            "left_semi",
        )
        if not docs_done:
            _append_with_batch_id(dt, kept, sink_id, batch_id)
        if not sigs_done:
            _append_with_batch_id(st, kept_sigs, sink_id, batch_id)
        batch.unpersist()

    writer = stream_df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
