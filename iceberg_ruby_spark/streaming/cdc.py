"""Continuous CDC replication: changelog STREAM → ``apply_changelog``.

Wires the two halves the engine already has — the ``mode=changelog``
streaming source (streaming/source.py) and the idempotent CDC consumer
``Table.apply_changelog`` (table.py) — into a running replication loop:
every micro-batch of row-level changes from the source table is applied
net-effect to the replica, keyed on the primary key.

Exactly-once composition: offsets are snapshot ids in Spark's checkpoint,
and ``apply_changelog`` is idempotent under replay (re-applying a window
converges to the same replica state), so a crash between a batch's apply
and its checkpoint commit is repaired by the replayed batch.

100 TB shape: each micro-batch is O(changed rows) on both sides — the
source side plans from per-commit manifest diffs, each delete scoped
from metadata alone (an equality delete by the spec's sequence rule and
its key-bounds hint, a positional delete or deletion vector by the data
files it names) — never a table scan — and the apply side
routes through equality deletes + keyed merge (never a replica rewrite
when the replica's write modes are merge-on-read).
"""

from __future__ import annotations

from typing import Union


def stream_changelog_apply(
    spark,
    source_table,
    replica,
    on: Union[str, list[str]],
    checkpoint_dir: str,
    mode: str | None = None,
    trigger_available_now: bool = True,
    max_files_per_trigger: int | None = None,
    max_rows_per_trigger: int | None = None,
    max_bytes_per_trigger: int | None = None,
):
    """Start (and return) a streaming query replicating ``source_table``
    into ``replica`` keyed on ``on``.  ``mode`` forwards to
    :meth:`Table.apply_changelog` (merge-mode override).  With
    ``trigger_available_now`` (default) the query drains the current
    backlog and stops — call again to catch up; pass False for a
    continuously-running trigger.

    The ``max_*_per_trigger`` budgets forward to the source's admission
    control (commit-granular in changelog mode, weights from manifest
    entries only) — a month-long 100 TB backfill then replicates as a
    sequence of right-sized micro-batches, each ONE apply-merge on the
    replica, instead of one giant batch whose shuffle must hold the
    whole backlog.

    Budgeted drains pin the source HEAD at start (the reader's
    ``ending_snapshot_id``): the drain consumes the backlog as it stood
    when the call was made and stops, exactly like the unbounded
    ``availableNow`` path — it never chases commits that land DURING the
    drain, so it terminates under continuous concurrent writes (r9
    ADVICE).  Call again to pick up what landed since."""

    def _apply(batch_df, _batch_id: int) -> None:
        # no isEmpty() pre-probe: that is one extra Spark job on EVERY
        # micro-batch (it re-reads the batch's first slice through the
        # Python source), while apply_changelog is already a commit-free
        # no-op on an empty frame — its delete/insert counts ride the
        # checkpoint job via observe(), so an empty batch costs the same
        # one job the probe did, and every non-empty batch saves one
        replica.refresh().apply_changelog(batch_df, on, mode=mode)

    return _changelog_stream(
        spark,
        source_table,
        _apply,
        checkpoint_dir,
        trigger_available_now,
        max_files_per_trigger,
        max_rows_per_trigger,
        max_bytes_per_trigger,
    )


def stream_changelog_scd2(
    spark,
    source_table,
    history,
    on: Union[str, list[str]],
    checkpoint_dir: str,
    mode: str | None = None,
    trigger_available_now: bool = True,
    max_files_per_trigger: int | None = None,
    max_rows_per_trigger: int | None = None,
    max_bytes_per_trigger: int | None = None,
):
    """Continuous type-2 history maintenance: the same changelog-stream
    loop as :func:`stream_changelog_apply`, but each micro-batch folds
    into ``history`` via :meth:`Table.apply_changelog_scd2` — versions
    accumulate instead of netting out.  Exactly-once by the same
    composition: snapshot-id offsets in the checkpoint + a
    replay-idempotent apply (version identity is the opening commit's
    snapshot id, so a crash-replayed batch upserts identical rows).  All
    trigger/budget options behave exactly as in
    :func:`stream_changelog_apply`."""

    def _apply(batch_df, _batch_id: int) -> None:
        # no isEmpty() pre-probe (see stream_changelog_apply): the probe
        # costs one job on every batch; apply_changelog_scd2 commits
        # nothing on an empty frame (its internal upserts.isEmpty() gate),
        # and empty micro-batches only occur on rare replay edges
        # source_table supplies the snapshot→timestamp mapping when the
        # history schema declares valid_from_ts/valid_to_ts brackets
        history.refresh().apply_changelog_scd2(
            batch_df, on, mode=mode, source=source_table
        )

    return _changelog_stream(
        spark,
        source_table,
        _apply,
        checkpoint_dir,
        trigger_available_now,
        max_files_per_trigger,
        max_rows_per_trigger,
        max_bytes_per_trigger,
    )


def _changelog_stream(
    spark,
    source_table,
    apply_fn,
    checkpoint_dir: str,
    trigger_available_now: bool,
    max_files_per_trigger: int | None,
    max_rows_per_trigger: int | None,
    max_bytes_per_trigger: int | None,
):
    from iceberg_ruby_spark.streaming.source import register_stream_source

    register_stream_source(spark)
    bounded = any(
        v is not None
        for v in (max_files_per_trigger, max_rows_per_trigger, max_bytes_per_trigger)
    )
    reader = (
        spark.readStream.format("iceberg_table")
        .option("location", source_table.ops.location)
        .option("mode", "changelog")
    )
    if trigger_available_now and bounded:
        # snapshot the backlog boundary NOW: without the pin,
        # processAllAvailable chases commits landing during the drain and
        # can never terminate under continuous writes
        head = source_table.ops.load().current_snapshot_id
        if head is not None:
            reader = reader.option("ending_snapshot_id", str(head))
    for opt, v in (
        ("max_files_per_trigger", max_files_per_trigger),
        ("max_rows_per_trigger", max_rows_per_trigger),
        ("max_bytes_per_trigger", max_bytes_per_trigger),
    ):
        if v is not None:
            reader = reader.option(opt, str(int(v)))
    stream = reader.load()
    writer = (
        stream.writeStream.foreachBatch(apply_fn)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now and not bounded:
        return writer.trigger(availableNow=True).start()
    q = writer.trigger(processingTime="0 seconds").start()
    if trigger_available_now:
        # bounded drain-and-stop: availableNow would stop after ONE
        # admitted batch; walk the budgeted batches (bounded above by the
        # start-time head pin) until the backlog is consumed, then stop —
        # callers' awaitTermination() returns immediately, same contract
        # as the unbounded drain
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return q
