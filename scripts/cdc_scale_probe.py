"""CDC-loop scale probe (VERDICT r8 #6): a LONG commit history with all
mutation flavors, then the continuous-replication drain.

Builds a source table from ``events`` with ``n_waves`` waves of FOUR
commits each — append, equality delete, positional delete, DV delete —
so a 50-wave run is a 200-commit history mixing every streamable commit
kind.  Then measures:

1. **Per-commit changelog PLANNING time vs commit index** — the
   O(new-files) claim for pure-append commits: planning a late append's
   micro-batch must cost the same as an early one no matter how many
   files the table has accumulated (the structural manifest delta never
   reads the full state).  Delete commits DO read the full manifest pair
   (the prior-delete mask needs it), so their planning grows with table
   file count — reported separately and honestly.
2. **Replication drain wall vs changed-rows volume** — one
   ``stream_changelog_apply`` drain of the whole history; at 10× the
   events volume (tmp/sf1) the wall should scale with changed rows, not
   worse.

3. **Stream-vs-batch changelog equivalence** — a foreachBatch counting
   drain measures the stream's total event count, then the BATCH
   ``changelog_scan().count()`` over the same window (the same slices
   as the stream, run as one job) must complete under default driver
   memory and count exactly what the stream emitted.

Usage: python scripts/cdc_scale_probe.py [sf_dir] [n_waves]
Prints one JSON line; exits 1 if append-commit planning is not flat
(last-fifth mean > 3× first-fifth mean), delete-commit planning is not
flat (> 1.5×), the replica diverges, or batch != stream event count.

r13 (VERDICT r12 #6): ``--upsert-chain [sf_dir] [n_commits]`` runs the
UPSERT-SINK chain variant instead — n_commits direct micro-batch commits
through the native upsert sink (each = one seq-scoped equality delete +
data files) over contiguous event-id ranges in two passes (insert pass,
update pass — the range-aligned CDC shape), then asserts (a) per-commit
changelog PLANNING cost flat across the chain (the delete-view cache +
key-bounds touched-file resolution), (b) one ``stream_changelog_apply``
drain replicates the chain exactly (content diff = 0).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_waves = int(sys.argv[2]) if len(sys.argv) > 2 else 50

    from pyspark.sql import functions as F

    from iceberg_ruby_spark.catalog import MemoryCatalog
    from iceberg_ruby_spark.session import get_spark
    from iceberg_ruby_spark.streaming import stream_changelog_apply
    from iceberg_ruby_spark.streaming.source import EngineTableStreamReader

    spark = get_spark("cdc_scale_probe")
    cat = MemoryCatalog(namespace="main", spark=spark)
    cat.create_namespace("main", if_not_exists=True)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    # wave boundaries from QUANTILES, not the raw id range: contiguous
    # ranges keep every delete predicate bounds-prunable, and quantile
    # cuts keep waves row-balanced and NON-EMPTY for sparse/clustered id
    # distributions too (a range/n_waves cut silently yields empty waves
    # there, turning the flatness measurement into no-op appends)
    cuts = ev.stat.approxQuantile(
        "event_id", [i / n_waves for i in range(n_waves + 1)], 0.001
    )
    bounds = [int(c) for c in cuts]
    bounds[-1] += 1  # make the last wave's half-open range cover max id
    src = cat.create_table(
        "cdc_probe_src",
        schema={"event_id": "long", "user_id": "long", "value": "double"},
    )
    t_build0 = time.time()
    # every wave lands all 4 commit kinds, each mutation scoped to the
    # wave's own id range — deletes prune to the wave's files via bounds
    # (the honest 100 TB shape: mutations hit recent data, not the whole
    # table; a modulus-sliced first cut made the build O(waves × table)
    # and wedged at sf0.1).  The equality delete passes the same range as
    # its `scope` promise so its hit-counting scan prunes identically.
    for w in range(n_waves):
        lo, hi = bounds[w], bounds[w + 1]
        assert hi > lo, f"wave {w} is empty: quantile cut [{lo},{hi})"
        rng = f"event_id >= {lo} AND event_id < {hi}"
        chunk = ev.filter(f"({rng})")
        src.append(chunk)
        src.delete_by_keys(
            chunk.filter(F.col("user_id") % 7 == 0).select("event_id"),
            "event_id",
            scope=rng,
        )
        src.delete_where(
            f"{rng} AND user_id % 7 = 1", mode="merge-on-read-positional"
        )
        src.delete_where(
            f"{rng} AND user_id % 7 = 2", mode="merge-on-read-dv"
        )
    build_wall = time.time() - t_build0
    src = src.refresh()
    meta = src.ops.load()
    snaps = sorted(meta.snapshots, key=lambda s: s.sequence_number)
    n_commits = len(snaps)

    # -- planning-time walk: one changelog micro-batch per commit --------
    reader = EngineTableStreamReader(
        {"location": src.ops.location, "mode": "changelog"}
    )
    plan_ms_append: list[float] = []
    plan_ms_delete: list[float] = []
    prev_id = None
    for s in snaps:
        t0 = time.time()
        reader.partitions(
            {"snapshot_id": prev_id}, {"snapshot_id": s.snapshot_id}
        )
        ms = (time.time() - t0) * 1000.0
        (plan_ms_append if s.operation == "append" else plan_ms_delete).append(ms)
        prev_id = s.snapshot_id

    def fifth_means(xs: list[float]):
        k = max(1, len(xs) // 5)
        return sum(xs[:k]) / k, sum(xs[-k:]) / k

    a_first, a_last = fifth_means(plan_ms_append)
    d_first, d_last = fifth_means(plan_ms_delete)
    append_flat = a_last <= 3.0 * max(a_first, 1.0)
    # delete commits used to read the commit's FULL manifest pair for the
    # prior-delete mask (linear growth, 1.9 -> 7.0 ms across 200 commits,
    # SCALE.md r9); the incremental delete-view cache makes a drain pay
    # one full read total, so the per-commit curve must now be flat too
    delete_flat = d_last <= 1.5 * max(d_first, 1.0)

    # -- replication drain: the continuous CDC loop over the full history
    rep = cat.create_table(
        "cdc_probe_rep",
        schema={"event_id": "long", "user_id": "long", "value": "double"},
    )
    import tempfile

    t0 = time.time()
    q = stream_changelog_apply(spark, src, rep, "event_id", tempfile.mkdtemp())
    q.awaitTermination()
    drain_wall = time.time() - t0
    # replica equivalence by CONTENT (both-direction multiset diff), not
    # just row count — a drain that deleted N wrong rows would keep
    # counts equal
    s_df = src.scan().to_df()
    r_df = rep.refresh().scan().to_df().select(*s_df.columns)
    n_src = s_df.count()
    n_rep = r_df.count()
    n_content_diff = s_df.exceptAll(r_df).union(r_df.exceptAll(s_df)).count()
    # -- stream event count: a second full drain through a foreachBatch
    # counter (driver holds one int per micro-batch, never the rows) —
    # the ground truth the BATCH changelog_scan must reproduce
    from iceberg_ruby_spark.streaming import register_stream_source

    register_stream_source(spark)
    batch_counts: list[int] = []
    t0 = time.time()
    q2 = (
        spark.readStream.format("iceberg_table")
        .option("location", src.ops.location)
        .option("mode", "changelog")
        .load()
        .writeStream.foreachBatch(lambda df, _i: batch_counts.append(df.count()))
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    stream_events_wall = time.time() - t0
    stream_events = sum(batch_counts)
    # -- BATCH changelog_scan over the same 200-commit window: the stream
    # planner's slices run as one job; it must complete under default
    # driver memory and count exactly what the stream emitted
    t0 = time.time()
    batch_events = src.changelog_scan().count()
    batch_scan_wall = time.time() - t0
    # MUTATION volume from SNAPSHOT SUMMARIES (metadata-only, build-side
    # stamps; the denominator for the drain-wall ratio, NOT a measure of
    # what the stream emitted — content equivalence above is what proves
    # the emission correct).
    changed = sum(
        int((s.summary or {}).get("added-records", 0))
        + int((s.summary or {}).get("deleted-records", 0))
        for s in snaps
    )

    out = {
        "metric": "cdc_scale_probe",
        "sf_dir": sf_dir,
        "n_commits": n_commits,
        "n_rows_final": n_src,
        "replica_matches": bool(n_rep == n_src and n_content_diff == 0),
        "content_diff_rows": n_content_diff,
        "changed_rows": changed,
        "build_wall_s": round(build_wall, 2),
        "drain_wall_s": round(drain_wall, 2),
        "plan_ms_append_first5th": round(a_first, 1),
        "plan_ms_append_last5th": round(a_last, 1),
        "plan_ms_delete_first5th": round(d_first, 1),
        "plan_ms_delete_last5th": round(d_last, 1),
        "append_planning_flat": bool(append_flat),
        "delete_planning_flat": bool(delete_flat),
        "stream_events": stream_events,
        "stream_events_wall_s": round(stream_events_wall, 2),
        "batch_changelog_events": batch_events,
        "batch_changelog_wall_s": round(batch_scan_wall, 2),
        "batch_matches_stream": bool(batch_events == stream_events),
    }
    print(json.dumps(out))
    if (
        not append_flat
        or not delete_flat
        or n_rep != n_src
        or n_content_diff
        or batch_events != stream_events
    ):
        sys.exit(1)


def upsert_chain() -> None:
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    n_commits = int(sys.argv[3]) if len(sys.argv) > 3 else 200

    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_ruby_spark.catalog import MemoryCatalog
    from iceberg_ruby_spark.session import get_spark
    from iceberg_ruby_spark.streaming import (
        register_stream_source,
        stream_changelog_apply,
    )
    from iceberg_ruby_spark.streaming.sink import (
        EngineTableStreamWriter,
        _FileMsg,
    )
    from iceberg_ruby_spark.streaming.source import EngineTableStreamReader

    spark = get_spark("cdc_upsert_chain")
    register_stream_source(spark)
    cat = MemoryCatalog(namespace="main", spark=spark)
    cat.create_namespace("main", if_not_exists=True)
    src = cat.create_table(
        "upchain_src", schema={"event_id": "long", "v": "long"}
    )
    src.update_schema().set_identifier_fields("event_id").commit()
    src = src.refresh()
    writer = EngineTableStreamWriter(
        {"location": src.ops.location, "mode": "upsert"},
        src.spark_schema(),
        overwrite=False,
    )
    data_dir = src.ops.data_dir
    os.makedirs(os.path.join(data_dir, "stream-deletes"), exist_ok=True)
    # contiguous event-id ranges (sorted real ids), two passes: pass 1
    # inserts each range, pass 2 updates it — the range-aligned CDC feed
    # whose key-bounds keep each delete's planning scope at the overlap
    ids = (
        pq.read_table(os.path.join(sf_dir, "events.parquet"), columns=["event_id"])
        .column("event_id")
        .to_pylist()
    )
    ids.sort()
    n_ranges = max(1, n_commits // 2)
    per = max(1, len(ids) // n_ranges)
    t0 = time.time()
    b = 0
    for pass_no in range(2):
        for r in range(n_ranges):
            chunk = ids[r * per : (r + 1) * per] if r < n_ranges - 1 else ids[r * per :]
            if not chunk:
                continue
            tbl = pa.table(
                {
                    "event_id": pa.array(chunk, pa.int64()),
                    "v": pa.array([pass_no * 1000 + r] * len(chunk), pa.int64()),
                }
            )
            dpath = os.path.join(data_dir, f"uc-{b}.parquet")
            pq.write_table(tbl, dpath)
            kpath = os.path.join(data_dir, "stream-deletes", f"uc-{b}.parquet")
            pq.write_table(tbl.select(["event_id"]), kpath)
            writer.commit(
                [
                    _FileMsg(
                        files=[
                            {
                                "path": dpath,
                                "record-count": len(chunk),
                                "file-size-bytes": os.path.getsize(dpath),
                                "lower-bounds": {"event_id": chunk[0]},
                                "upper-bounds": {"event_id": chunk[-1]},
                                "null-counts": {},
                            }
                        ],
                        delete_files=[
                            {
                                "path": kpath,
                                "record-count": len(chunk),
                                "file-size-bytes": os.path.getsize(kpath),
                                "lower-bounds": {"event_id": chunk[0]},
                                "upper-bounds": {"event_id": chunk[-1]},
                                "null-counts": {"event_id": 0},
                            }
                        ],
                    )
                ],
                b,
            )
            b += 1
    build_wall = time.time() - t0
    src = src.refresh()
    snaps = sorted(src.ops.load().snapshots, key=lambda s: s.sequence_number)

    # per-commit changelog planning across the whole chain.  Timed at the
    # slices planner (`_commit_change_slices`: manifest delta read +
    # delete-view cache advance + seq/key-bounds touched-file resolution)
    # — the structural O(changed)-vs-O(table) claim under test.  The
    # surrounding partitions() call also re-parses the table METADATA
    # document, which grows one snapshot per commit in this synthetic
    # walk; a live drain pays that once per offset poll against an
    # expiry-bounded history (and can't expire mid-replay here, since the
    # walk still needs the old snapshots), so it's excluded deliberately.
    reader = EngineTableStreamReader(
        {"location": src.ops.location, "mode": "changelog"}
    )
    ops = src.ops
    plan_ms: list[float] = []
    prev = None
    for s in snaps:
        t1 = time.time()
        slices = (
            reader._commit_change_slices(ops, prev, s, 0)
            if prev is not None
            else []
        )
        plan_ms.append((time.time() - t1) * 1000.0)
        assert prev is None or slices, f"commit {s.snapshot_id} planned empty"
        prev = s
    k = max(1, len(plan_ms) // 5)
    p_first = sum(plan_ms[:k]) / k
    p_last = sum(plan_ms[-k:]) / k
    plan_flat = p_last <= 1.5 * max(p_first, 1.0)

    # replication drain over the chain, then content equivalence
    rep = cat.create_table(
        "upchain_rep", schema={"event_id": "long", "v": "long"}
    )
    t1 = time.time()
    q = stream_changelog_apply(spark, src, rep, "event_id", tempfile.mkdtemp())
    q.awaitTermination()
    drain_wall = time.time() - t1
    s_df = src.scan().to_df()
    r_df = rep.refresh().scan().to_df().select(*s_df.columns)
    n_src = s_df.count()
    n_rep = r_df.count()
    n_diff = s_df.exceptAll(r_df).union(r_df.exceptAll(s_df)).count()
    out = {
        "metric": "cdc_upsert_chain_probe",
        "sf_dir": sf_dir,
        "n_commits": len(snaps),
        "n_rows_final": n_src,
        "build_wall_s": round(build_wall, 2),
        "plan_ms_first5th": round(p_first, 1),
        "plan_ms_last5th": round(p_last, 1),
        "planning_flat": bool(plan_flat),
        "drain_wall_s": round(drain_wall, 2),
        "replica_matches": bool(n_rep == n_src and n_diff == 0),
        "content_diff_rows": n_diff,
    }
    print(json.dumps(out))
    if not plan_flat or n_rep != n_src or n_diff:
        sys.exit(1)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--upsert-chain":
        upsert_chain()
    else:
        main()
