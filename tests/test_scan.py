"""TableScan — select/filter/limit composition, snapshot pinning,
plan_files, and Catalyst pushdown assertions (filters and pruned read
schema must reach the Parquet scan — the 100 TB contract)."""

import pyspark.sql.functions as F


def _make(catalog, name="s", rows=100):
    t = catalog.create_table(name, schema={"a": "int", "b": "string", "c": "double"})
    t.append([{"a": i, "b": f"r{i}", "c": i / 2} for i in range(rows)])
    return t


def test_scan_filter_select_limit(catalog):
    t = _make(catalog)
    rows = t.scan().filter(F.col("a") < 10).select("a").to_a()
    assert sorted(r["a"] for r in rows) == list(range(10))
    assert set(rows[0].keys()) == {"a"}
    assert len(t.scan().limit(5).to_a()) == 5


def test_scan_filter_string_condition(catalog):
    t = _make(catalog)
    rows = t.scan().filter("a = 42").to_a()
    assert rows == [{"a": 42, "b": "r42", "c": 21.0}]


def test_scan_snapshot_pinning(catalog):
    t = _make(catalog, rows=10)
    snap1 = t.current_snapshot_id
    t.append([{"a": 99, "b": "late", "c": 0.0}])
    scan = t.scan(snapshot_id=snap1)
    assert scan.snapshot().snapshot_id == snap1
    assert len(scan.to_a()) == 10


def test_plan_files_reports_stats(catalog):
    t = _make(catalog, rows=10)
    files = t.scan().plan_files()
    assert len(files) >= 1
    total = sum(f["record_count"] for f in files)
    assert total == 10
    f0 = files[0]
    assert "lower_bounds" in f0 and "upper_bounds" in f0
    assert f0["lower_bounds"]["a"] is not None


def test_filter_pushdown_reaches_parquet_scan(catalog):
    t = _make(catalog)
    df = t.scan().filter(F.col("a") > 90).select("a", "b").to_df()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "IsNotNull(a)" in plan or "GreaterThan(a,90)" in plan


def test_projection_prunes_read_schema(catalog):
    t = _make(catalog)
    df = t.scan().select("a").to_df()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # ReadSchema should not include unprojected columns b, c
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    fields = {f.split(":")[0] for f in m.group(1).split(",") if f}
    assert fields == {"a"}, fields


def test_to_arrow_from_scan(catalog):
    t = _make(catalog, rows=10)
    at = t.scan().select("a").to_arrow()
    assert at.num_rows == 10 and at.column_names == ["a"]


def test_manifest_bounds_prune_files(catalog):
    # two commits with disjoint key ranges -> a bounded filter plans only
    # the file(s) whose min/max overlap it
    t = catalog.create_table("pr", schema={"a": "int", "b": "string"})
    t.append([{"a": i, "b": f"lo{i}"} for i in range(100)])
    t.append([{"a": i, "b": f"hi{i}"} for i in range(1000, 1100)])
    all_files = t.scan().plan_files()
    pruned = t.scan().filter("a >= 1000").plan_files()
    assert len(pruned) < len(all_files)
    assert all(f["lower_bounds"]["a"] >= 1000 for f in pruned)
    # the pruned scan still returns exactly the right rows
    rows = t.scan().filter("a >= 1000").to_a()
    assert len(rows) == 100 and min(r["a"] for r in rows) == 1000
    # compound predicates prune too; unparseable ones stay conservative
    assert len(t.scan().filter("a >= 1000 AND b = 'hi1000'").plan_files()) < len(all_files)
    assert len(t.scan().filter("length(b) > 2").plan_files()) == len(all_files)


def test_bounds_prune_never_drops_matching_rows(catalog):
    t = catalog.create_table("pr2", schema={"a": "int"})
    for lo in (0, 50, 100):
        t.append([{"a": lo + i} for i in range(50)])
    got = sorted(r["a"] for r in t.scan().filter("a >= 49 AND a < 101").to_a())
    assert got == list(range(49, 101))
    got_or = sorted(r["a"] for r in t.scan().filter("a < 10 OR a >= 140").to_a())
    assert got_or == list(range(10)) + list(range(140, 150))


def test_incremental_scan_appends_between_snapshots(catalog):
    t = catalog.create_table("inc", schema={"a": "int"})
    t.append([{"a": 1}, {"a": 2}])
    s1 = t.current_snapshot_id
    t.append([{"a": 3}])
    s2 = t.current_snapshot_id
    t.append([{"a": 4}, {"a": 5}])
    # window (s1, s2]: only the second append
    inc = t.incremental_scan(from_snapshot_id=s1, to_snapshot_id=s2)
    assert [r["a"] for r in inc.collect()] == [3]
    # open-ended: everything after s1
    inc2 = t.incremental_scan(from_snapshot_id=s1)
    assert sorted(r["a"] for r in inc2.collect()) == [3, 4, 5]
    # from=None: full history
    assert sorted(r["a"] for r in t.incremental_scan().collect()) == [1, 2, 3, 4, 5]


def test_incremental_scan_empty_window(catalog):
    t = catalog.create_table("inc2", schema={"a": "int"})
    t.append([{"a": 1}])
    s1 = t.current_snapshot_id
    assert t.incremental_scan(from_snapshot_id=s1, to_snapshot_id=s1).count() == 0


def test_result_empty_property(catalog):
    t = catalog.create_table("re", schema={"a": "int"})
    assert catalog.sql("SELECT * FROM re").empty
    t.append([{"a": 1}])
    assert not catalog.sql("SELECT * FROM re").empty


def test_incremental_scan_rejects_rewrite_window(catalog):
    import pytest

    from iceberg_ruby_spark.errors import InvalidDataError

    t = catalog.create_table("incr", schema={"a": "int"})
    t.append([{"a": 1}])
    s1 = t.current_snapshot_id
    t.append([{"a": 2}])
    t.compact()  # replace snapshot inside the window
    with pytest.raises(InvalidDataError):
        t.incremental_scan(from_snapshot_id=s1).collect()
    # windows that stop before the rewrite still work
    t2 = catalog.create_table("incr2", schema={"a": "int"})
    t2.append([{"a": 1}])
    s1 = t2.current_snapshot_id
    t2.append([{"a": 2}])
    s2 = t2.current_snapshot_id
    t2.compact()
    assert [r["a"] for r in t2.incremental_scan(s1, s2).collect()] == [2]


def test_incremental_scan_rejects_non_ancestor(catalog):
    import pytest

    from iceberg_ruby_spark.errors import InvalidDataError

    t = catalog.create_table("incr3", schema={"a": "int"})
    t.append([{"a": 1}])
    other = catalog.create_table("incr4", schema={"a": "int"})
    other.append([{"a": 9}])
    with pytest.raises(InvalidDataError):
        t.incremental_scan(from_snapshot_id=other.current_snapshot_id).collect()


def test_changelog_rejects_non_ancestor(catalog):
    """A changelog window whose ``from`` is not an ancestor of its end
    raises InvalidDataError, in the batch scan and in the stream reader
    alike (both plan through one window walk)."""
    import pytest

    from iceberg_ruby_spark.errors import InvalidDataError
    from iceberg_ruby_spark.streaming.source import EngineTableStreamReader

    t = catalog.create_table("clanc", schema={"a": "int"})
    t.append([{"a": 1}])
    t.append([{"a": 2}], branch="side")  # diverges from main
    side = t.refresh().snapshot_for_ref("side").snapshot_id
    t.append([{"a": 3}])
    head = t.refresh().current_snapshot_id
    other = catalog.create_table("clanc2", schema={"a": "int"})
    other.append([{"a": 9}])
    foreign = other.current_snapshot_id
    r = EngineTableStreamReader({"location": t.ops.location, "mode": "changelog"})
    for start, msg in ((side, "not an ancestor"), (foreign, "no snapshot")):
        with pytest.raises(InvalidDataError, match=msg):
            t.changelog_scan(from_snapshot_id=start)
        with pytest.raises(InvalidDataError, match=msg):
            r.partitions({"snapshot_id": start}, {"snapshot_id": head})


def test_changelog_planner_refusal_raises(catalog, monkeypatch):
    """A window the slices planner refuses raises InvalidDataError with
    the planner's message; an I/O failure while planning propagates as
    itself.  Neither degrades to another plan."""
    import pytest

    from iceberg_ruby_spark.errors import InvalidDataError
    from iceberg_ruby_spark.streaming.source import EngineTableStreamReader

    t = catalog.create_table("clref", schema={"a": "int"})
    t.append([{"a": 1}, {"a": 2}])
    t.delete_where("a = 1", mode="merge-on-read")
    sid = t.current_snapshot_id

    def refuse(self, *args, **kwargs):
        raise ValueError(f"unknown delete kind in commit {sid}")

    monkeypatch.setattr(EngineTableStreamReader, "_delete_slices", refuse)
    with pytest.raises(InvalidDataError, match=f"commit {sid}"):
        t.changelog_scan()

    def unreadable(self, *args, **kwargs):
        raise FileNotFoundError("manifest gone")

    monkeypatch.setattr(EngineTableStreamReader, "_delete_slices", unreadable)
    with pytest.raises(FileNotFoundError, match="manifest gone"):
        t.changelog_scan()


def test_incremental_scan_cow_delete_rejected_mor_allowed(catalog):
    import pytest

    from iceberg_ruby_spark.errors import InvalidDataError

    t = catalog.create_table("incr5", schema={"a": "int"})
    t.append([{"a": i} for i in range(10)])
    s1 = t.current_snapshot_id
    t.append([{"a": 10}])
    t.delete_where("a = 3", mode="merge-on-read")  # no files rewritten
    assert [r["a"] for r in t.incremental_scan(s1).collect()] == [10]
    t.delete_where("a = 5")  # copy-on-write: rewrites survivors
    with pytest.raises(InvalidDataError):
        t.incremental_scan(s1).collect()


def test_bucket_partition_pruning(catalog):
    """Hidden partitioning: an equality predicate on the SOURCE column
    prunes bucket dirs (source bounds can't — a bucket file spans the
    whole key domain)."""
    from iceberg_ruby_spark.transforms import BucketTransform

    t = catalog.create_table(
        "bucketed",
        schema={"k": "long", "v": "string"},
        partition_spec=[{"source": "k", "transform": "bucket[8]"}],
    )
    t.append([{"k": i, "v": f"r{i}"} for i in range(400)])
    total = len(t.scan().plan_files())
    assert total == 8  # hash-distributed write: one file per bucket
    pruned = t.scan().filter("k = 137").plan_files()
    assert len(pruned) == 1
    expected_bucket = BucketTransform(8).bucket_value(137)
    assert f"k_bucket_8={expected_bucket}" in pruned[0]["data_file_path"]
    # correctness preserved end-to-end
    assert [r["v"] for r in t.scan().filter("k = 137").to_df().collect()] == ["r137"]


def test_truncate_and_day_partition_pruning(catalog):
    import datetime as dt

    t = catalog.create_table(
        "truncated",
        schema={"n": "long", "v": "string"},
        partition_spec=[{"source": "n", "transform": "truncate[100]"}],
    )
    t.append([{"n": i, "v": "x"} for i in range(0, 1000, 10)])
    assert len(t.scan().plan_files()) == 10
    assert len(t.scan().filter("n = 555").plan_files()) == 1
    # order-preserving transform → range pruning on the source column
    assert len(t.scan().filter("n < 250").plan_files()) == 3
    assert len(t.scan().filter("n >= 700").plan_files()) == 3

    t2 = catalog.create_table(
        "daily",
        schema={"ts": "timestamp", "v": "string"},
        partition_spec=[{"source": "ts", "transform": "day"}],
    )
    rows = [
        {"ts": dt.datetime(2024, 1, d, h), "v": f"{d}-{h}"}
        for d in (1, 2, 3)
        for h in (0, 12)
    ]
    t2.append(rows)
    assert len(t2.scan().plan_files()) == 3
    assert len(t2.scan().filter("ts = '2024-01-02 12:00:00'").plan_files()) == 1
    assert len(t2.scan().filter("ts >= '2024-01-02 00:00:00'").plan_files()) == 2
    got = t2.scan().filter("ts >= '2024-01-02 00:00:00'").to_df().count()
    assert got == 4


def test_changelog_scan(catalog):
    """Row-level CDC: inserts/deletes per commit; UPDATE emits both sides;
    compaction (pure rewrite) emits nothing."""
    t = catalog.create_table("cdc", schema={"k": "int", "v": "string"})
    t.append([{"k": 1, "v": "a"}, {"k": 2, "v": "b"}])
    s1 = t.current_snapshot().snapshot_id
    t.append([{"k": 3, "v": "c"}])
    t.delete_where("k = 1")                        # copy-on-write rewrite
    t.update_where({"v": "'B'"}, "k = 2")
    t.delete_where("k = 3", mode="merge-on-read")  # no file rewrite
    t.compact()                                    # physical only

    ch = t.changelog_scan(from_snapshot_id=s1).collect()
    by_type = {}
    for r in ch:
        by_type.setdefault(r["_change_type"], []).append((r["k"], r["v"]))
    assert sorted(by_type["insert"]) == [(2, "B"), (3, "c")]
    assert sorted(by_type["delete"]) == [(1, "a"), (2, "b"), (3, "c")]
    # the compaction commit contributed no rows
    compact_id = t.current_snapshot().snapshot_id
    assert all(r["_commit_snapshot_id"] != compact_id for r in ch)
    # ordinals follow commit order within the window
    ords = {r["_commit_snapshot_id"]: r["_change_ordinal"] for r in ch}
    assert list(ords.values()) == sorted(ords.values())
    # net state replay: inserts minus deletes == final table
    final = {(r["k"], r["v"]) for r in t.to_a()}
    start = {(1, "a"), (2, "b")}
    net = (start | set(by_type["insert"])) - set(by_type["delete"])
    assert net == final
    # full-history changelog (from table creation)
    all_ch = t.changelog_scan().collect()
    assert len([r for r in all_ch if r["_change_type"] == "insert"]) == 4
    # empty window
    assert t.changelog_scan(from_snapshot_id=t.current_snapshot().snapshot_id).count() == 0


def test_changelog_replay_property(catalog):
    """Replay invariant over randomized op sequences: for any window,
    multiset(start) + inserts - deletes == multiset(end)."""
    import random
    from collections import Counter

    rng = random.Random(42)
    for trial in range(3):
        t = catalog.create_table(f"cdcprop{trial}", schema={"k": "int", "v": "int"})
        t.append([{"k": i, "v": 0} for i in range(20)])
        s0 = t.current_snapshot().snapshot_id
        start = Counter((r["k"], r["v"]) for r in t.to_a())
        for _ in range(4):
            op = rng.choice(["append", "del_cow", "del_mor", "update", "compact"])
            if op == "append":
                base = rng.randrange(100, 1000)
                t.append([{"k": base + i, "v": trial} for i in range(3)])
            elif op == "del_cow":
                t.delete_where(f"k % 7 = {rng.randrange(7)}")
            elif op == "del_mor":
                t.delete_where(f"k % 5 = {rng.randrange(5)}", mode="merge-on-read")
            elif op == "update":
                t.update_where({"v": "v + 1"}, f"k % 3 = {rng.randrange(3)}")
            else:
                t.compact()
        final = Counter((r["k"], r["v"]) for r in t.to_a())
        ch = t.changelog_scan(from_snapshot_id=s0).collect()
        replayed = Counter(start)
        replayed.update((r["k"], r["v"]) for r in ch if r["_change_type"] == "insert")
        replayed.subtract((r["k"], r["v"]) for r in ch if r["_change_type"] == "delete")
        replayed = +replayed  # drop zero counts
        assert replayed == final, f"trial {trial}: replay mismatch"


def test_partition_pruning_never_drops_rows(catalog):
    """Randomized equivalence: for bucket/truncate/day layouts and random
    predicates, the pruned scan returns exactly the rows a full-table
    filter returns — pruning may only skip files it can PROVE empty."""
    import datetime as dt
    import random

    rng = random.Random(7)
    t_bucket = catalog.create_table(
        "prop_bucket", schema={"k": "long", "v": "int"},
        partition_spec=[{"source": "k", "transform": "bucket[4]"}],
    )
    t_trunc = catalog.create_table(
        "prop_trunc", schema={"k": "long", "v": "int"},
        partition_spec=[{"source": "k", "transform": "truncate[50]"}],
    )
    t_day = catalog.create_table(
        "prop_day", schema={"ts": "timestamp", "v": "int"},
        partition_spec=[{"source": "ts", "transform": "day"}],
    )
    rows = [{"k": rng.randrange(0, 300), "v": i} for i in range(300)]
    t_bucket.append(rows)
    t_trunc.append(rows)
    t_day.append(
        [
            {"ts": dt.datetime(2024, 1, 1 + rng.randrange(5), rng.randrange(24)), "v": i}
            for i in range(300)
        ]
    )
    ops = ["=", "<", "<=", ">", ">=", "!="]
    for _ in range(12):
        k = rng.randrange(0, 300)
        pred = f"k {rng.choice(ops)} {k}"
        for t in (t_bucket, t_trunc):
            got = sorted(r["v"] for r in t.scan().filter(pred).to_df().collect())
            want = sorted(r["v"] for r in t.to_df().filter(pred).collect())
            assert got == want, f"{t.identifier}: {pred}"
    for _ in range(8):
        d = 1 + rng.randrange(5)
        h = rng.randrange(24)
        pred = f"ts {rng.choice(ops)} '2024-01-0{d} {h:02d}:00:00'"
        got = sorted(r["v"] for r in t_day.scan().filter(pred).to_df().collect())
        want = sorted(r["v"] for r in t_day.to_df().filter(pred).collect())
        assert got == want, pred


def test_metadata_columns_expose_delete_coordinates(catalog):
    t = catalog.create_table("metacols", schema={"k": "int"})
    t.append([{"k": i} for i in range(6)])
    rows = t.scan().with_metadata_columns().to_df().collect()
    assert all(r["_file"].endswith(".parquet") and r["_pos"] >= 0 for r in rows)
    # the coordinates are exactly what positional deletes address: delete
    # one row by its (_file, _pos) via the DV path and watch it vanish
    victim = next(r for r in rows if r["k"] == 3)
    assert t.delete_where("k = 3", mode="merge-on-read-positional") == 1
    survivors = t.scan().with_metadata_columns().to_df().collect()
    assert (victim["_file"], victim["_pos"]) not in {
        (r["_file"], r["_pos"]) for r in survivors
    }
    assert sorted(r["k"] for r in survivors) == [0, 1, 2, 4, 5]


def test_metadata_columns_combine_with_row_lineage(catalog):
    t = catalog.create_table("metacols2", schema={"k": "int"})
    t.append([{"k": 1}, {"k": 2}])
    rows = (
        t.scan().with_metadata_columns().with_row_lineage().to_df().collect()
    )
    for r in rows:
        assert r["_file"] and r["_pos"] is not None
        assert r["_row_id"] is not None and r["_last_updated_sequence_number"] == 1
    rows2 = (
        t.scan().with_metadata_columns().filter("k = 2").select("k").to_df().collect()
    )
    assert len(rows2) == 1 and rows2[0]["_pos"] is not None


def test_is_null_pruning_and_scan(catalog):
    t = catalog.create_table("nulls", schema={"k": "int", "v": "string"})
    t.append([{"k": 1, "v": "a"}, {"k": 2, "v": "b"}])   # no nulls
    t.append([{"k": 3, "v": None}, {"k": 4, "v": None}])  # all-null v
    t.append([{"k": 5, "v": "c"}, {"k": 6, "v": None}])   # mixed
    ents = [e for e in t._current_entries() if "path" in e]
    assert all("null-counts" in e for e in ents)
    n_files = len(ents)
    # IS NULL skips zero-null files; IS NOT NULL skips all-null files
    planned_null = len(t.scan().filter("v IS NULL").plan_files())
    planned_notnull = len(t.scan().filter("v IS NOT NULL").plan_files())
    assert planned_null < n_files and planned_notnull < n_files
    assert sorted(r["k"] for r in t.scan().filter("v IS NULL").to_a()) == [3, 4, 6]
    assert sorted(
        r["k"] for r in t.scan().filter("v IS NOT NULL").to_a()
    ) == [1, 2, 5]
    # composes with other predicates
    assert sorted(
        r["k"] for r in t.scan().filter("v IS NULL AND k > 3").to_a()
    ) == [4, 6]
    # avro manifests carry spec null_value_counts (field 110) round trip
    t2 = catalog.create_table(
        "nulls_avro",
        schema={"k": "int", "v": "string"},
        properties={"write.metadata.manifest-format": "avro"},
    )
    t2.append([{"k": 1, "v": None}, {"k": 2, "v": "x"}])
    assert any(
        e.get("null-counts", {}).get("v") == 1
        for e in t2._current_entries()
        if "path" in e
    )


def test_changelog_scan_slices_engine_matches_diff(catalog):
    """The slices engine (stream-planner execution) produces the event
    multiset of the time-travel oracle (each commit's state diffed
    against its parent's) over a window mixing every commit kind."""
    from tests.support.changelog_oracle import changelog_oracle

    t = catalog.create_table("clsl", schema={"k": "int", "v": "string"})
    t.append([{"k": i, "v": f"v{i}"} for i in range(6)])
    t.delete_by_keys([(1,)], on="k")                       # equality MoR
    t.delete_where("k = 2", mode="merge-on-read-positional")
    t.delete_where("k = 3", mode="merge-on-read-dv")
    t.update_where({"v": "'X'"}, "k = 4")                  # CoW rewrite pair
    t.compact()                                            # emits nothing
    t.append([{"k": 9, "v": "z"}])
    ev = lambda df: sorted(
        (r["k"], r["v"], r["_change_type"], r["_change_ordinal"])
        for r in df.collect()
    )
    want = sorted((k, v, ty, o) for k, v, ty, _sid, o in changelog_oracle(t))
    assert ev(t.changelog_scan()) == want
    dead = [(k, ty) for k, _v, ty, _o in ev(t.changelog_scan()) if ty == "delete"]
    assert dead == [(1, "delete"), (2, "delete"), (3, "delete"), (4, "delete")]


def test_changelog_net_cancels_within_window(catalog):
    """changelog_net (iceberg-spark net_changes): window-cancelling
    changes disappear — insert-then-delete nets to nothing, an update
    nets to old-content delete + new-content insert, and each surviving
    event carries the row's LAST change coordinates."""
    t = catalog.create_table("clnet", schema={"k": "int", "v": "string"})
    t.append([{"k": 1, "v": "a"}, {"k": 2, "v": "b"}])
    mark = t.current_snapshot().snapshot_id
    t.append([{"k": 3, "v": "c"}])                 # net: insert (survives)
    t.append([{"k": 4, "v": "d"}])
    t.delete_where("k = 4")                        # net: nothing (in-window)
    t.delete_where("k = 1")                        # net: delete (pre-window row)
    t.update_where({"v": "'B'"}, "k = 2")          # net: delete b + insert B
    ev = sorted(
        (r["k"], r["v"], r["_change_type"])
        for r in t.changelog_net(from_snapshot_id=mark).collect()
    )
    assert ev == [
        (1, "a", "delete"),
        (2, "B", "insert"),
        (2, "b", "delete"),
        (3, "c", "insert"),
    ]
    # a from-table-creation net window IS the current state as inserts
    full = sorted(
        (r["k"], r["v"], r["_change_type"])
        for r in t.changelog_net().collect()
    )
    cur = sorted((r["k"], r["v"], "insert") for r in t.to_a())
    assert full == cur
    # the surviving update-insert carries the UPDATE commit's ordinal
    upd = [
        r
        for r in t.changelog_net(from_snapshot_id=mark).collect()
        if r["k"] == 2 and r["_change_type"] == "insert"
    ][0]
    assert upd["_change_ordinal"] == 4  # 5th commit in the window
    # CALL route registers the net view
    catalog.sql(
        "CALL system.create_changelog_view(table => 'clnet', "
        "changelog_view => 'clnet_net', net_changes => true)"
    )
    n = catalog.spark.sql("SELECT COUNT(*) FROM clnet_net").collect()[0][0]
    assert n == len(full)


def test_changelog_slices_type_fidelity(catalog):
    """r11: timestamp/date/decimal columns are value-identical through
    the Arrow-batched slices engine (structural + DuckDB content-diff
    slices) and the time-travel oracle — the cross-boundary type matrix
    for the mapInArrow/RecordBatch emission."""
    import datetime as dt
    import decimal

    from tests.support.changelog_oracle import changelog_oracle

    t = catalog.create_table(
        "cl_types",
        schema={"k": "int", "ts": "timestamp", "d": "date", "x": "decimal(10,2)"},
    )
    rows = [
        {
            "k": i,
            "ts": dt.datetime(2024, 1, 1 + i % 20, 10, i % 50),
            "d": dt.date(2024, 2, 1 + i % 20),
            "x": decimal.Decimal(f"{i}.25"),
        }
        for i in range(200)
    ]
    t.append(rows)
    t.delete_by_keys([(i,) for i in range(0, 50, 7)], on="k")  # MoR slice
    t.delete_where("k >= 190")  # CoW -> content-diff slice
    t = t.refresh()
    a = sorted(map(tuple, t.changelog_scan().collect()))
    b = sorted(changelog_oracle(t))
    assert a == b and len(a) == 218
    r = a[0]
    assert isinstance(r[1], dt.datetime) and isinstance(r[2], dt.date)
    assert isinstance(r[3], decimal.Decimal)


def test_partition_values_with_uri_special_chars(catalog):
    """r12 regression pin: Spark reports committed file paths URI-encoded
    (space → %20, %25, literal +), and the manifest used to record that
    encoded form — making any space-bearing identity partition
    unreadable (PATH_NOT_FOUND on a path that existed).  Manifest paths
    are now the literal filesystem paths; every Spark-side comparison
    decodes _metadata.file_path the same way."""
    t = catalog.create_table(
        "uri_parts",
        schema={"pr": "string", "k": "long"},
        partition_spec=[("pr", "identity")],
    )
    t.append(
        [
            {"pr": "HAS SPACE", "k": 1},
            {"pr": "plain", "k": 2},
            {"pr": "p%25ct+plus", "k": 3},
        ]
    )
    t = t.refresh()
    assert sorted((r["pr"], r["k"]) for r in t.to_a()) == [
        ("HAS SPACE", 1), ("p%25ct+plus", 3), ("plain", 2)
    ]
    # manifest paths are literal: stats collection found the files
    assert all(
        e["file-size-bytes"] for e in t._current_entries() if "path" in e
    )
    # MoR deletes key on the decoded path consistently
    t.delete_where("k = 1", mode="merge-on-read-positional")
    t = t.refresh()
    t.delete_by_keys([(3,)], on="k")
    t = t.refresh()
    assert sorted((r["pr"], r["k"]) for r in t.to_a()) == [("plain", 2)]
    assert t.scan().filter("pr = 'plain'").to_a() == [{"pr": "plain", "k": 2}]
