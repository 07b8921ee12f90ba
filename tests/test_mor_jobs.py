"""Spark work budget of merge-on-read writes and reads, counted through
``statusTracker`` job groups and the SQL status store: a MoR upsert
scans the live table once, and a MoR read applies each equality-delete
file with one broadcast, never a shuffle."""

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
    added = n4 - n1
    assert added >= 3
    # each added delete file costs at most its broadcast's one-stage job
    # (a per-delete distinct/aggregate would add a shuffle job and stage)
    assert jobs4 - jobs1 <= added, (jobs1, jobs4, added)
    assert stages4 - stages1 <= added, (stages1, stages4, added)
