"""Spark work budget of merge-on-read writes and reads, counted through
``statusTracker`` job groups and the SQL status store: a MoR upsert
scans the live table once, and a MoR read applies all equality-delete
files sharing a key-column set with one broadcast, never a shuffle."""

import os
import re
import uuid


def _in_group(spark, fn):
    """Run ``fn`` under a fresh job group; (its result, its job ids)."""
    sc = spark.sparkContext
    group = f"mor-jobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def _executions_of(spark, jobs):
    """The SQL executions that ran any of ``jobs``."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    lst = spark._jsparkSession.sharedState().statusStore().executionsList()
    execs = [lst.apply(i) for i in range(lst.size())]
    return [e for e in execs if any(e.jobs().contains(j) for j in jobs)]


def _reads_data_files(plan: str, data_dir: str) -> bool:
    """Whether a physical plan scans the table's data files (its
    equality-delete files live under ``deletes-*`` and do not count)."""
    prefix = "file:" + data_dir.rstrip("/") + "/"
    return any(
        loc.startswith(prefix) and not loc[len(prefix):].startswith("deletes-")
        for loc in re.findall(r"Location: \w+ \[([^,\]]+)", plan)
    )


def test_mor_upsert_scans_live_table_once(catalog, spark):
    t = catalog.create_table("mor_jobs_up", schema={"k": "int", "v": "string"})
    for b in range(3):
        t.append([{"k": b * 10 + i, "v": f"v{b}"} for i in range(10)])
    t.delete_by_keys([(1,), (12,)], on="k")  # the live read applies a delete
    t = t.refresh()
    _, jobs = _in_group(
        spark,
        lambda: t.upsert(
            [{"k": 2, "v": "X"}, {"k": 12, "v": "Y"}, {"k": 99, "v": "Z"}],
            on="k",
            mode="merge-on-read",
        ),
    )
    execs = _executions_of(spark, jobs)
    scans = [
        e.executionId()
        for e in execs
        if _reads_data_files(e.physicalPlanDescription(), t.ops.data_dir)
    ]
    # duplicate-key check, live ⋈ source checkpoint, key-file write,
    # data write — and only the checkpoint reads the live table
    assert len(scans) == 1, scans
    assert len(execs) == 4, [e.description() for e in execs]
    rows = {r["k"]: r["v"] for r in t.refresh().to_a()}
    assert (rows[2], rows[12], rows[99]) == ("X", "Y", "Z")
    assert 1 not in rows and len(rows) == 30


def test_mor_read_has_no_shuffle_per_equality_delete(catalog, spark):
    t = catalog.create_table("mor_jobs_rd", schema={"k": "int", "v": "string"})
    t.append([{"k": i, "v": f"v{i}"} for i in range(40)])
    tracker = spark.sparkContext.statusTracker()

    def read():
        tt = t.refresh()
        n_eq = sum(
            e.get("content") == "equality-deletes" for e in tt._current_entries()
        )
        rows, jobs = _in_group(spark, tt.to_a)
        stages = sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)
        return n_eq, len(rows), len(jobs), stages

    t.delete_by_keys([(1,)], on="k")
    n1, rows1, jobs1, stages1 = read()
    for k in (2, 3, 4):
        t.delete_by_keys([(k,)], on="k")
    n4, rows4, jobs4, stages4 = read()
    assert (rows1, rows4) == (39, 36)
    assert n4 - n1 >= 3
    # every equality delete joins through ONE broadcast of all key files
    # sharing a key-column set: added delete files add no job or stage
    assert (jobs4, stages4) == (jobs1, stages1), (jobs1, jobs4, stages1, stages4)


def _plan_shape(t):
    """(broadcast joins in the executed read plan, whether any data-file
    name appears in it outside the file scans' own location lists)."""
    plan = t.scan().to_df()._jdf.queryExecution().executedPlan().toString()
    joins = len(re.findall(r"Broadcast\w*Join", plan))
    body = re.sub(r"Location: \w+ \[[^\]]*\]", "", plan)
    names = [os.path.basename(p) for p in t._entry_files(t._current_entries())]
    return joins, any(n in body for n in names)


def test_mor_read_plan_constant_in_delete_count(catalog):
    """The read plan of a table carrying 10 chained verified deletes, or
    10 merge-on-read upserts, has as many broadcast joins as after the
    first one, and never inlines a data-file path: equality deletes
    apply by sequence number, not through per-delete file lists."""
    mutations = {
        "verified": lambda t, i: t.delete_by_keys([(i,)], on="k"),
        "upsert": lambda t, i: t.upsert(
            [{"k": i, "v": f"u{i}"}], on="k", mode="merge-on-read"
        ),
    }
    for name, mutate in mutations.items():
        t = catalog.create_table(f"mor_plan_{name}", schema={"k": "int", "v": "string"})
        t.append([{"k": i, "v": f"v{i}"} for i in range(40)])
        shapes = {}
        for i in range(1, 11):
            mutate(t, i)
            t = t.refresh()
            if i in (1, 10):
                shapes[i] = _plan_shape(t)
        assert shapes[1][0] >= 1, (name, shapes)
        assert shapes[1] == shapes[10] == (shapes[1][0], False), (name, shapes)


def test_read_path_starts_no_schema_job(catalog, spark):
    """Building a scan's DataFrame runs no Spark job: every file's read
    schema comes from table metadata, never from footer inference — for a
    300-file table, and for a v3 lineage read over compacted files that
    carry the reserved lineage columns next to files that do not.  File
    listing stays on the driver (the parallel-listing threshold is raised,
    so only schema work could start a job)."""
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "100000")
    try:
        t = catalog.create_table(
            "nojob_flat",
            schema={"k": "int", "v": "string"},
            properties={"write.spark.max-records-per-file": "1"},
        )
        t.append([{"k": i, "v": f"v{i}"} for i in range(300)])
        t = t.refresh()
        assert len(t._entry_files(t._current_entries())) == 300
        df, jobs = _in_group(spark, lambda: t.scan().to_df())
        assert jobs == []
        assert df.count() == 300

        v3 = catalog.create_table(
            "nojob_v3",
            schema={"k": "int", "v": "string"},
            properties={"format-version": "3"},
        )
        for b in range(3):
            v3.append([{"k": b * 10 + i, "v": f"v{b}"} for i in range(10)])
        v3.compact()
        v3.append([{"k": 100 + i, "v": "late"} for i in range(5)])
        v3 = v3.refresh()
        df, jobs = _in_group(
            spark, lambda: v3.scan().with_row_lineage().to_df()
        )
        assert jobs == []
        rows = df.collect()
        assert len(rows) == 35
        assert len({r["_row_id"] for r in rows}) == 35
        assert all(r["_last_updated_sequence_number"] is not None for r in rows)
    finally:
        spark.conf.set(key, prev)
