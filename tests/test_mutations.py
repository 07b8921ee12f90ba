"""delete_where / update_where / merge_into / maintenance — beyond the
reference surface (its SQL UPDATE/DELETE error, ``test/sql_test.rb:55-69``)
but mandated by the north star.  Includes the file-pruned-CoW assertion:
a one-row delete rewrites only the file(s) containing that row."""

import pytest

from iceberg_ruby_spark.errors import InvalidDataError


def _live_files(t):
    return set(t._entry_files(t._current_entries()))


def test_delete_where(catalog):
    t = catalog.create_table("d", schema={"a": "int", "b": "string"})
    t.append([{"a": i, "b": f"r{i}"} for i in range(10)])
    n = t.delete_where("a >= 8")
    assert n == 2
    assert sorted(r["a"] for r in t.to_a()) == list(range(8))
    assert t.delete_where("a > 100") == 0


def test_delete_is_file_pruned(catalog):
    t = catalog.create_table("fp", schema={"a": "int"})
    for batch in range(4):  # 4 separate commits → ≥4 separate files
        t.append([{"a": batch * 10 + i} for i in range(10)])
    before = _live_files(t)
    assert len(before) >= 4
    t.delete_where("a = 5")  # lives in exactly one file
    after = _live_files(t)
    # all files not containing a=5 survive untouched (carried by reference)
    assert len(before & after) == len(before) - 1
    assert len(t.to_a()) == 39


def test_update_where(catalog):
    t = catalog.create_table("u", schema={"a": "int", "b": "string"})
    t.append([{"a": 1, "b": "one"}, {"a": 2, "b": "two"}])
    n = t.update_where({"b": "'TWO'"}, "a = 2")
    assert n == 1
    assert sorted(t.to_a(), key=lambda r: r["a"]) == [
        {"a": 1, "b": "one"},
        {"a": 2, "b": "TWO"},
    ]


def test_update_expression_assignment(catalog):
    t = catalog.create_table("ue", schema={"a": "int"})
    t.append([{"a": 1}, {"a": 2}])
    t.update_where({"a": "a * 10"}, "a >= 0")
    assert sorted(r["a"] for r in t.to_a()) == [10, 20]


def test_merge_matched_and_unmatched(catalog, spark):
    t = catalog.create_table("m", schema={"k": "int", "v": "string"})
    t.append([{"k": 1, "v": "one"}, {"k": 2, "v": "two"}])
    src = spark.createDataFrame([(2, "TWO"), (3, "three")], ["k", "v"])
    t.merge_into(src, on="k", when_matched_update={"v": "s.v"})
    assert sorted(t.to_a(), key=lambda r: r["k"]) == [
        {"k": 1, "v": "one"},
        {"k": 2, "v": "TWO"},
        {"k": 3, "v": "three"},
    ]


def test_merge_rejects_duplicate_source_keys(catalog, spark):
    t = catalog.create_table("md", schema={"k": "int", "v": "string"})
    t.append([{"k": 1, "v": "one"}])
    src = spark.createDataFrame([(1, "a"), (1, "b")], ["k", "v"])
    with pytest.raises(InvalidDataError):
        t.merge_into(src, on="k")


def test_merge_insert_only(catalog, spark):
    t = catalog.create_table("mi", schema={"k": "int", "v": "string"})
    t.append([{"k": 1, "v": "one"}])
    src = spark.createDataFrame([(5, "five")], ["k", "v"])
    t.merge_into(src, on="k", when_matched_update=None)
    assert sorted(r["k"] for r in t.to_a()) == [1, 5]


def test_compact_coalesces_files(catalog):
    t = catalog.create_table("c", schema={"a": "int"})
    for i in range(3):
        t.append([{"a": i}])
    assert len(_live_files(t)) >= 3
    t.compact()
    assert len(_live_files(t)) == 1
    assert sorted(r["a"] for r in t.to_a()) == [0, 1, 2]


def test_expire_snapshots_and_remove_orphans(catalog):
    t = catalog.create_table("e", schema={"a": "int"})
    for i in range(3):
        t.append([{"a": i}])
    t.compact()
    expired = t.expire_snapshots(keep_last=1)
    assert expired == 3
    t = t.refresh()
    assert len(t.snapshots) == 1
    removed = t.remove_orphan_files()
    assert len(removed) >= 3  # the 3 pre-compaction commit dirs
    assert sorted(r["a"] for r in t.to_a()) == [0, 1, 2]


# -- merge-on-read deletes --------------------------------------------------


def test_mor_delete_no_rewrite(catalog):
    t = catalog.create_table("mor", schema={"a": "int"})
    t.append([{"a": i} for i in range(20)])
    files_before = _live_files(t)
    n = t.delete_where("a >= 15", mode="merge-on-read")
    assert n == 5
    assert _live_files(t) == files_before  # zero data files rewritten
    assert sorted(r["a"] for r in t.to_a()) == list(range(15))
    # plan_files reports the predicate as a delete file
    tasks = t.scan().plan_files()
    assert any(task["delete_files"] for task in tasks)


def test_mor_delete_materialized_by_compact(catalog):
    t = catalog.create_table("morc", schema={"a": "int"})
    t.append([{"a": i} for i in range(10)])
    t.delete_where("a = 3", mode="merge-on-read")
    t.compact()
    assert sorted(r["a"] for r in t.to_a()) == [0, 1, 2] + list(range(4, 10))
    # predicate gone after materialization
    assert all(not task["delete_files"] for task in t.scan().plan_files())


def test_mor_then_cow_no_resurrection(catalog):
    t = catalog.create_table("morx", schema={"a": "int", "b": "string"})
    t.append([{"a": i, "b": "x"} for i in range(10)])
    t.delete_where("a = 7", mode="merge-on-read")
    # CoW delete rewrites the same file; the MoR-deleted row must not return
    t.delete_where("a = 2")
    assert sorted(r["a"] for r in t.to_a()) == [0, 1, 3, 4, 5, 6, 8, 9]
    # and an update into the deleted predicate's value-space is kept
    t.update_where({"a": "7"}, "a = 9")
    assert sorted(r["a"] for r in t.to_a()) == [0, 1, 3, 4, 5, 6, 7, 8]


def test_mor_delete_then_merge_reinserts(catalog, spark):
    t = catalog.create_table("morm", schema={"k": "int", "v": "string"})
    t.append([{"k": 1, "v": "one"}, {"k": 2, "v": "two"}])
    t.delete_where("k = 2", mode="merge-on-read")
    src = spark.createDataFrame([(2, "TWO")], ["k", "v"])
    t.merge_into(src, on="k")
    rows = sorted(t.to_a(), key=lambda r: r["k"])
    assert rows == [{"k": 1, "v": "one"}, {"k": 2, "v": "TWO"}]


def test_mor_time_travel_sees_pre_delete(catalog):
    t = catalog.create_table("mort", schema={"a": "int"})
    t.append([{"a": 1}, {"a": 2}])
    snap1 = t.current_snapshot_id
    t.delete_where("a = 2", mode="merge-on-read")
    assert sorted(r["a"] for r in t.to_a()) == [1]
    assert sorted(r["a"] for r in t.to_a(snapshot_id=snap1)) == [1, 2]


# -- positional delete files -----------------------------------------------


def test_positional_mor_delete_no_rewrite(catalog):
    t = catalog.create_table("morp", schema={"a": "int"})
    t.append([{"a": i} for i in range(20)])
    files_before = _live_files(t)
    n = t.delete_where("a >= 15", mode="merge-on-read-positional")
    assert n == 5
    assert _live_files(t) == files_before  # zero data files rewritten
    assert sorted(r["a"] for r in t.to_a()) == list(range(15))
    # plan_files lists actual positional delete parquet files per task
    tasks = t.scan().plan_files()
    dels = [d for task in tasks for d in task["delete_files"]]
    assert any(d.endswith(".parquet") for d in dels)
    # tasks whose data file has no matching rows carry no delete files
    affected = {task["data_file_path"] for task in tasks if task["delete_files"]}
    assert len(affected) < len(tasks)


def test_positional_mor_delete_twice_counts_delta(catalog):
    t = catalog.create_table("morp2", schema={"a": "int"})
    t.append([{"a": i} for i in range(10)])
    assert t.delete_where("a >= 8", mode="merge-on-read-positional") == 2
    # overlapping second delete only counts still-live rows
    assert t.delete_where("a >= 6", mode="merge-on-read-positional") == 2
    assert t.delete_where("a >= 6", mode="merge-on-read-positional") == 0
    assert sorted(r["a"] for r in t.to_a()) == list(range(6))


def test_positional_mor_materialized_by_compact(catalog):
    t = catalog.create_table("morp3", schema={"a": "int"})
    t.append([{"a": i} for i in range(10)])
    t.delete_where("a = 3", mode="merge-on-read-positional")
    t.compact()
    assert sorted(r["a"] for r in t.to_a()) == [0, 1, 2] + list(range(4, 10))
    assert all(not task["delete_files"] for task in t.scan().plan_files())
    # once no snapshot references them, the delete dirs are orphans
    t.expire_snapshots(keep_last=1)
    removed = t.remove_orphan_files()
    assert any("deletes-" in d for d in removed)


def test_positional_mor_then_cow_no_resurrection(catalog):
    t = catalog.create_table("morp4", schema={"a": "int", "b": "string"})
    t.append([{"a": i, "b": "x"} for i in range(10)])
    t.delete_where("a = 7", mode="merge-on-read-positional")
    t.delete_where("a = 2")  # CoW rewrite of the same file
    assert sorted(r["a"] for r in t.to_a()) == [0, 1, 3, 4, 5, 6, 8, 9]


def test_positional_mor_time_travel(catalog):
    t = catalog.create_table("morp5", schema={"a": "int"})
    t.append([{"a": 1}, {"a": 2}])
    snap1 = t.current_snapshot_id
    t.delete_where("a = 2", mode="merge-on-read-positional")
    assert sorted(r["a"] for r in t.to_a()) == [1]
    assert sorted(r["a"] for r in t.to_a(snapshot_id=snap1)) == [1, 2]


def test_positional_and_predicate_mor_compose(catalog):
    t = catalog.create_table("morp6", schema={"a": "int"})
    t.append([{"a": i} for i in range(10)])
    t.delete_where("a < 2", mode="merge-on-read")
    t.delete_where("a >= 8", mode="merge-on-read-positional")
    assert sorted(r["a"] for r in t.to_a()) == list(range(2, 8))


def test_compact_clusters_by_sort_order(catalog):
    import random

    rnd = random.Random(3)
    t = catalog.create_table(
        "cl",
        schema={"k": "int", "v": "string"},
        sort_order=[("k", "asc")],
    )
    rows = [{"k": i, "v": f"r{i}"} for i in range(400)]
    rnd.shuffle(rows)
    for i in range(0, 400, 100):  # 4 commits, keys interleaved across files
        t.append(rows[i : i + 100])
    # before compaction every file overlaps the full key range
    pre = t.scan().filter("k >= 390").plan_files()
    assert len(pre) >= 4
    t.compact(target_file_rows=100)
    post_all = t.scan().plan_files()
    assert len(post_all) >= 3
    # after cluster-by-sort compaction a narrow range hits few files
    post = t.scan().filter("k >= 390").plan_files()
    assert len(post) == 1, [(-1, f["lower_bounds"]["k"], f["upper_bounds"]["k"]) for f in post]
    assert sorted(r["k"] for r in t.scan().filter("k >= 390").to_a()) == list(range(390, 400))


def test_merge_on_partitioned_table(catalog, spark):
    t = catalog.create_table(
        "mp", schema={"k": "string", "v": "int"}, partition_spec=[("k", "identity")]
    )
    t.append([{"k": "a", "v": 1}, {"k": "b", "v": 2}])
    src = spark.createDataFrame([("a", 10), ("c", 3)], ["k", "v"])
    t.merge_into(src, on="k", when_matched_update={"v": "s.v"})
    rows = sorted(t.to_a(), key=lambda r: r["k"])
    assert rows == [{"k": "a", "v": 10}, {"k": "b", "v": 2}, {"k": "c", "v": 3}]


def test_equality_delete_by_keys(catalog, spark):
    t = catalog.create_table("eqd", schema={"k": "int", "v": "string"})
    t.append([{"k": i, "v": f"v{i}"} for i in range(10)])
    files_before = _live_files(t)
    n = t.delete_by_keys([(2,), (5,), (99,)], on="k")
    assert n == 2  # 99 matches nothing
    assert _live_files(t) == files_before  # no data rewrite
    assert sorted(r["k"] for r in t.to_a()) == [0, 1, 3, 4, 6, 7, 8, 9]
    # delete-file entry carries equality ids; plan_files lists the parquet
    tasks = t.scan().plan_files()
    dels = [d for task in tasks for d in task["delete_files"]]
    assert any(d.endswith(".parquet") for d in dels)
    # delta semantics on repeat
    assert t.delete_by_keys([(2,), (3,)], on="k") == 1
    assert sorted(r["k"] for r in t.to_a()) == [0, 1, 4, 6, 7, 8, 9]


def test_equality_delete_scoped_hit_scan(catalog, spark):
    """delete_by_keys(scope=...) bounds-prunes the hit-finding scan AND
    the delete entry's applies-to: a truthful scope gives identical
    results to the unscoped call, and the equality-delete entry
    references only in-scope files (r9: the ranged-CDC lever)."""
    t = catalog.create_table("eqscope", schema={"k": "int", "v": "string"})
    t.append([{"k": i, "v": f"a{i}"} for i in range(0, 100)])
    t.append([{"k": i, "v": f"b{i}"} for i in range(100, 200)])
    t.append([{"k": i, "v": f"c{i}"} for i in range(200, 300)])
    n = t.delete_by_keys([(210,), (250,), (5000,)], on="k", scope="k >= 200")
    assert n == 2
    survivors = sorted(r["k"] for r in t.to_a())
    assert survivors == sorted(set(range(300)) - {210, 250})
    # the entry's applies-to covers only files whose bounds reach k>=200
    eq_entries = [
        e for e in t._current_entries()
        if e.get("content") == "equality-deletes"
    ]
    assert len(eq_entries) == 1
    applies = eq_entries[0].get("applies-to") or []
    assert applies, "scoped delete must still record applies-to"
    lo_files = {
        e["path"] for e in t._current_entries()
        if "path" in e
        and int((e.get("upper-bounds") or {}).get("k", 10**9)) < 200
    }
    assert lo_files, "expected out-of-scope files with k upper bounds < 200"
    assert not (set(applies) & lo_files)
    # malformed scope is a typed error, not a silent full scan
    import pytest as _pytest

    from iceberg_ruby_spark.errors import InvalidDataError

    with _pytest.raises(InvalidDataError, match="parseable predicate"):
        t.delete_by_keys([(1,)], on="k", scope="k ~~ weird")


def test_equality_delete_broadcast_threshold_paths(catalog, monkeypatch):
    """delete_by_keys broadcasts CDC-sized key frames but falls back to a
    shuffle semi-join past the size budget — both paths, identical results."""
    from iceberg_ruby_spark import table as table_mod

    for name, max_bytes in [("eqbc_small", table_mod._BROADCAST_KEYS_MAX_BYTES), ("eqbc_big", 0)]:
        monkeypatch.setattr(table_mod, "_BROADCAST_KEYS_MAX_BYTES", max_bytes)
        t = catalog.create_table(name, schema={"k": "int", "v": "string"})
        t.append([{"k": i, "v": f"v{i}"} for i in range(20)])
        assert t.delete_by_keys([(3,), (7,), (11,), (99,)], on="k") == 3
        assert sorted(r["k"] for r in t.to_a()) == sorted(
            set(range(20)) - {3, 7, 11}
        )


def test_equality_delete_null_safe_and_df_keys(catalog, spark):
    t = catalog.create_table("eqd2", schema={"k": "int", "g": "string", "v": "int"})
    t.append(
        [
            {"k": 1, "g": "a", "v": 10},
            {"k": 1, "g": None, "v": 20},
            {"k": 2, "g": "a", "v": 30},
        ]
    )
    keys = spark.createDataFrame([(1, None)], "k int, g string")
    assert t.delete_by_keys(keys, on=["k", "g"]) == 1  # null matches null only
    assert sorted(r["v"] for r in t.to_a()) == [10, 30]


def test_equality_delete_materialized_by_compact(catalog):
    t = catalog.create_table("eqd3", schema={"k": "int"})
    t.append([{"k": i} for i in range(6)])
    t.delete_by_keys([(0,), (5,)], on="k")
    t.compact()
    assert sorted(r["k"] for r in t.to_a()) == [1, 2, 3, 4]
    assert all(not task["delete_files"] for task in t.scan().plan_files())


def test_equality_delete_does_not_hit_later_appends(catalog):
    """Scoped to files live at delete time: a re-appended key survives
    (sequence-number semantics of equality deletes)."""
    t = catalog.create_table("eqd4", schema={"k": "int"})
    t.append([{"k": 1}, {"k": 2}])
    t.delete_by_keys([(1,)], on="k")
    t.append([{"k": 1}])  # new file, after the delete
    assert sorted(r["k"] for r in t.to_a()) == [1, 2]


def _external_equality_delete(t, cols, rows, applies):
    """Commit a hand-written (pyarrow) equality-delete file whose
    entry applies to the data files ``applies``."""
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = t.current_schema()
    del_dir = os.path.join(t.ops.data_dir, f"deletes-{uuid.uuid4().hex[:12]}")
    os.makedirs(del_dir)
    pq.write_table(
        pa.Table.from_pylist([dict(zip(cols, r)) for r in rows]),
        os.path.join(del_dir, "part-00000.parquet"),
    )
    entries = t._equality_delete_entries(
        del_dir,
        sorted(t.ops._abs(p) for p in applies),
        [schema.field_by_name(c).field_id for c in cols],
        cols,
    )
    t._commit_snapshot(
        "delete",
        t._current_entries() + entries,
        {"mode": "merge-on-read-equality"},
        base_snapshot_id=t.current_snapshot_id,
    )
    return t.refresh()


def test_equality_delete_file_duplicate_and_null_keys(catalog):
    """A delete file with repeated key tuples and NULL key cells: each
    key tuple kills every row it matches under IS NOT DISTINCT FROM,
    once, and NULL matches only NULL."""
    t = catalog.create_table("eqdupnull", schema={"k": "int", "g": "string", "v": "int"})
    t.append(
        [
            {"k": 1, "g": "a", "v": 1},
            {"k": 1, "g": "a", "v": 2},
            {"k": 1, "g": None, "v": 3},
            {"k": None, "g": "b", "v": 4},
            {"k": None, "g": None, "v": 5},
            {"k": 2, "g": None, "v": 6},
            {"k": 2, "g": "x", "v": 7},
            {"k": 3, "g": "a", "v": 8},
        ]
    )
    t = _external_equality_delete(
        t,
        ["k", "g"],
        [(1, "a"), (1, "a"), (None, "b"), (2, None), (2, None), (None, "b")],
        _live_files(t),
    )
    assert sorted(r["v"] for r in t.to_a()) == [3, 5, 7, 8]
    assert t.scan().count() == 4


def test_equality_delete_applies_to_scope(catalog):
    """An equality delete kills matching rows only in the files its
    entry applies to: a same-key row in a file outside the scope, older
    or appended later, survives."""
    t = catalog.create_table("eqapplies", schema={"k": "int", "v": "string"})
    t.append([{"k": 1, "v": "a1"}, {"k": 2, "v": "a2"}])
    scoped = _live_files(t)
    t.append([{"k": 1, "v": "b1"}])  # older than the delete, out of scope
    t = _external_equality_delete(t, ["k"], [(1,), (2,)], scoped)
    t.append([{"k": 1, "v": "c1"}, {"k": 2, "v": "c2"}])  # after the delete
    assert sorted(r["v"] for r in t.refresh().to_a()) == ["b1", "c1", "c2"]


def test_seq_scoped_deletes_at_two_sequences(catalog):
    """Two blind (sequence-scoped) deletes of one key at different
    sequences: a row dies iff SOME delete holding its key has a higher
    sequence than the row's file — files before, between and after the
    two deletes each see the right subset."""
    t = catalog.create_table("eqseq2", schema={"k": "int", "v": "string"})
    t.append([{"k": k, "v": "f1"} for k in (1, 2, 3)])  # seq 1
    t.delete_by_keys([(1,), (2,)], on="k", verify_hits=False)  # seq 2
    t.append([{"k": k, "v": "f3"} for k in (1, 2, 3)])  # seq 3
    t.delete_by_keys([(1,)], on="k", verify_hits=False)  # seq 4
    t.append([{"k": k, "v": "f5"} for k in (1, 2)])  # seq 5
    t = t.refresh()
    seqs = sorted(
        e["data-sequence-number"]
        for e in t._current_entries()
        if e.get("seq-scoped")
    )
    assert len(seqs) == 2 and seqs[0] < seqs[1]
    rows = sorted((r["k"], r["v"]) for r in t.to_a())
    assert rows == [(1, "f5"), (2, "f3"), (2, "f5"), (3, "f1"), (3, "f3")]
    assert t.scan().filter("k = 1").count() == 1


def test_merge_into_mor_qualified_expressions_and_delete(catalog, spark):
    """merge-on-read MERGE whose update expressions read the target
    (``t.*``), the source (``s.*``, key included) and the unqualified
    key, with a conditional WHEN MATCHED DELETE, over a table that
    already carries an equality delete."""
    t = catalog.create_table(
        "mmor_expr", schema={"k": "int", "v": "int", "tag": "string"}
    )
    t.append([{"k": i, "v": i * 10, "tag": f"t{i}"} for i in range(1, 6)])
    t.delete_by_keys([(5,)], on="k")
    src = spark.createDataFrame(
        [(2, 1, "s2"), (3, 2, "s3"), (4, 3, "drop"), (5, 4, "s5"), (9, 5, "s9")],
        "k int, v int, tag string",
    )
    t.merge_into(
        src,
        on="k",
        when_matched_update={
            "v": "t.v + s.v + k - t.k",
            "tag": "concat(t.tag, '/', s.tag, '/', cast(s.k AS string))",
        },
        when_matched_delete="s.tag = 'drop'",
        mode="merge-on-read",
    )
    rows = sorted((r["k"], r["v"], r["tag"]) for r in t.refresh().to_a())
    assert rows == [
        (1, 10, "t1"),
        (2, 21, "t2/s2/2"),
        (3, 32, "t3/s3/3"),
        (5, 4, "s5"),
        (9, 5, "s9"),
    ]


def test_delete_by_keys_listing_failure_leaks_no_key_dir(catalog, monkeypatch):
    """The key files are written before the hit count; a FileIO listing
    failure right after the write must remove them and commit nothing."""
    import os

    t = catalog.create_table("eqleak", schema={"k": "int", "v": "string"})
    t.append([{"k": i, "v": f"v{i}"} for i in range(10)])
    t = t.refresh()
    before = t.current_snapshot_id
    io_cls = type(t.ops.io)
    orig_list = io_cls.list
    failed = []

    def list_failing_once(self, prefix):
        if "deletes-" in prefix and not failed:
            failed.append(prefix)
            raise OSError("injected listing failure")
        return orig_list(self, prefix)

    monkeypatch.setattr(io_cls, "list", list_failing_once)
    with pytest.raises(OSError, match="injected listing failure"):
        t.delete_by_keys([(2,), (5,)], on="k")
    monkeypatch.undo()
    assert failed
    assert not [d for d in os.listdir(t.ops.data_dir) if d.startswith("deletes-")]
    t = t.refresh()
    assert t.current_snapshot_id == before
    assert sorted(r["k"] for r in t.to_a()) == list(range(10))


def test_merge_into_mor_upsert(catalog, spark):
    t = catalog.create_table("mmor", schema={"k": "int", "v": "string"})
    t.append([{"k": 1, "v": "one"}, {"k": 2, "v": "two"}, {"k": 3, "v": "three"}])
    files_before = _live_files(t)
    src = spark.createDataFrame([(2, "TWO"), (9, "nine")], ["k", "v"])
    t.merge_into(src, on="k", when_matched_update={"v": "s.v"}, mode="merge-on-read")
    rows = {r["k"]: r["v"] for r in t.to_a()}
    assert rows == {1: "one", 2: "TWO", 3: "three", 9: "nine"}
    # every pre-existing data file survives untouched
    assert files_before <= _live_files(t)
    # the matched key rides an equality delete entry
    assert any(
        e.get("content") == "equality-deletes"
        for e in t._current_entries()
    )


def test_merge_into_mor_insert_only(catalog, spark):
    t = catalog.create_table("mmor2", schema={"k": "int", "v": "string"})
    t.append([{"k": 1, "v": "one"}])
    src = spark.createDataFrame([(1, "ONE"), (2, "two")], ["k", "v"])
    t.merge_into(src, on="k", when_matched_update=None, mode="merge-on-read")
    rows = {r["k"]: r["v"] for r in t.to_a()}
    assert rows == {1: "one", 2: "two"}  # matched row untouched, no delete
    assert not any("delete-file" in e for e in t._current_entries())


def test_merge_into_mor_then_compact(catalog, spark):
    t = catalog.create_table("mmor3", schema={"k": "int", "v": "string"})
    t.append([{"k": i, "v": "x"} for i in range(5)])
    src = spark.createDataFrame([(0, "y"), (4, "y")], ["k", "v"])
    t.merge_into(src, on="k", when_matched_update={"v": "s.v"}, mode="merge-on-read")
    t.compact()
    rows = {r["k"]: r["v"] for r in t.to_a()}
    assert rows == {0: "y", 1: "x", 2: "x", 3: "x", 4: "y"}
    assert not any("delete-file" in e for e in t._current_entries())


def test_compact_zorder_prunes_both_dimensions(catalog, spark):
    """Z-order compaction: after clustering on (x, y), a box predicate on
    EITHER dimension prunes most files via manifest bounds — single-key
    sorting can only do this for its leading column."""
    import random

    rnd = random.Random(7)
    t = catalog.create_table("zo", schema={"x": "int", "y": "int", "v": "int"})
    rows = [
        {"x": rnd.randrange(1000), "y": rnd.randrange(1000), "v": i}
        for i in range(4000)
    ]
    t.append(spark.createDataFrame(rows, "x int, y int, v int"))
    t.compact(target_file_rows=250, zorder=["x", "y"])
    t = t.refresh()
    total = len(t.scan().plan_files())
    assert total >= 8
    pruned_x = len(t.scan().filter("x < 50").plan_files())
    pruned_y = len(t.scan().filter("y < 50").plan_files())
    assert pruned_x < total / 2, (pruned_x, total)
    assert pruned_y < total / 2, (pruned_y, total)
    # data intact
    assert len(t.to_a()) == 4000
    assert sorted(r["v"] for r in t.to_a()) == list(range(4000))


def test_compact_zorder_string_and_date(catalog, spark):
    import datetime

    t = catalog.create_table("zo2", schema={"s": "string", "d": "date", "v": "int"})
    rows = [
        (f"{chr(97 + i % 26)}{i}", datetime.date(2024, 1, 1) + datetime.timedelta(days=i % 300), i)
        for i in range(500)
    ]
    t.append(spark.createDataFrame(rows, "s string, d date, v int"))
    t.compact(target_file_rows=100, zorder=["s", "d"])
    assert len(t.refresh().to_a()) == 500


def test_compact_zorder_validates_columns(catalog):
    from iceberg_ruby_spark.errors import InvalidDataError

    t = catalog.create_table("zo3", schema={"a": "int"})
    t.append([{"a": 1}])
    with pytest.raises(InvalidDataError):
        t.compact(zorder=["missing"])
    with pytest.raises(InvalidDataError):
        t.compact(zorder=["a"] * 5)


# -- round-4 advisory regressions ------------------------------------------


def test_positional_mor_delete_survives_rename(catalog):
    """Positional delete files store file_path relative to the table
    location, so rename_table's physical move cannot resurrect deleted
    rows (round-3 advisory)."""
    t = catalog.create_table("morp_mv", schema={"a": "int"})
    t.append([{"a": i} for i in range(10)])
    assert t.delete_where("a >= 7", mode="merge-on-read-positional") == 3
    catalog.rename_table("morp_mv", "morp_mv2")
    t2 = catalog.load_table("morp_mv2")
    assert sorted(r["a"] for r in t2.to_a()) == list(range(7))
    # deletes written at the new location compose with the moved ones
    assert t2.delete_where("a >= 5", mode="merge-on-read-positional") == 2
    assert sorted(r["a"] for r in t2.to_a()) == list(range(5))


def test_cow_delete_counts_only_new_files_as_added(catalog):
    """A file-pruned CoW delete carries untouched files forward by
    reference; snapshot summary 'added-data-files' must count only the
    rewritten file(s), not the carried-forward set (round-3 advisory)."""
    t = catalog.create_table("cnt", schema={"a": "int"})
    for batch in range(4):
        t.append([{"a": batch * 10 + i} for i in range(10)])
    before = _live_files(t)
    t.delete_where("a = 5")  # hits exactly one file
    after = _live_files(t)
    summary = t.current_snapshot().summary
    assert int(summary["total-data-files"]) == len(after)
    # added = files NEW relative to the parent, not the carried-forward set
    assert int(summary["added-data-files"]) == len(after - before)
    assert len(after - before) < len(after)  # some files were carried


def test_rewrite_position_deletes_consolidates(catalog):
    """N merge-on-read positional delete commits → one consolidated
    layout; scan parity is the contract, data files never rewritten."""
    t = catalog.create_table("rpd", schema={"a": "int"})
    t.append([{"a": i} for i in range(20)])
    data_before = sorted(
        e["path"] for e in t._current_entries() if "path" in e
    )
    for lo in (0, 5, 10):
        assert t.delete_where(
            f"a >= {lo} AND a < {lo + 3}", mode="merge-on-read-positional"
        ) == 3
    pos_before = [
        e for e in t._current_entries() if e.get("content") == "position-deletes"
    ]
    assert len(pos_before) >= 3
    res = t.rewrite_position_deletes()
    assert res["rewritten_delete_files_count"] == len(pos_before)
    assert res["added_delete_files_count"] >= 1
    after = t._current_entries()
    pos_after = [e for e in after if e.get("content") == "position-deletes"]
    assert len(pos_after) == res["added_delete_files_count"]
    assert len(pos_after) < len(pos_before)
    # data files untouched; surviving rows identical
    assert sorted(e["path"] for e in after if "path" in e) == data_before
    assert sorted(r["a"] for r in t.to_a()) == [3, 4, 8, 9] + list(range(13, 20))
    # idempotent once consolidated (single delete file → no-op)
    if len(pos_after) == 1:
        assert t.rewrite_position_deletes() == {
            "rewritten_delete_files_count": 0,
            "added_delete_files_count": 0,
        }
    # CALL procedure surface
    t.delete_where("a = 19", mode="merge-on-read-positional")
    rows = catalog.sql(
        "CALL system.rewrite_position_delete_files(table => 'rpd')"
    ).rows
    assert rows[0][0] >= 2 and rows[0][1] >= 1
    assert sorted(r["a"] for r in catalog.load_table("rpd").to_a()) == [3, 4, 8, 9] + list(range(13, 19))


def test_remove_orphans_safety_window(catalog):
    """older_than: freshly-written orphans survive cleanup (an in-flight
    writer's files look orphaned until its commit lands)."""
    import time

    t = catalog.create_table("orph", schema={"a": "int"})
    t.append([{"a": 1}])
    t.overwrite([{"a": 2}])
    t.expire_snapshots(keep_last=1)
    # everything was written "now": a past cutoff deletes nothing
    assert t.remove_orphan_files(older_than=0) == []
    # a future cutoff collects the dead commit dir
    future = int(time.time() * 1000) + 60_000
    removed = t.remove_orphan_files(older_than=future)
    assert len(removed) == 1
    assert t.to_a() == [{"a": 2}]


def test_equality_delete_scope_postcheck(catalog, spark):
    """r10 (r9 ADVICE): a FALSE scope promise no longer silently misses
    deletes — the stats-level post-check sees a scope-excluded file whose
    key-column bounds overlap the key range and raises;
    scope_is_hint=True opts back into unchecked hint semantics."""
    import pytest as _pytest

    from iceberg_ruby_spark.errors import InvalidDataError

    t = catalog.create_table("eqchk", schema={"k": "int", "v": "string"})
    t.append([{"k": i, "v": f"a{i}"} for i in range(0, 100)])
    t.append([{"k": i, "v": f"b{i}"} for i in range(100, 200)])
    # key 50 lives in the first append; scope falsely excludes it
    with _pytest.raises(InvalidDataError, match="unverifiable"):
        t.delete_by_keys([(50,)], on="k", scope="k >= 100")
    assert sorted(r["k"] for r in t.to_a()) == list(range(200))  # nothing died
    # the explicit hint keeps the documented (miss-capable) fast path
    n = t.delete_by_keys([(50,)], on="k", scope="k >= 100", scope_is_hint=True)
    assert n == 0  # silently missed, as the hint contract says
    # a truthful scope still passes the check and deletes
    n = t.delete_by_keys([(150,)], on="k", scope="k >= 100")
    assert n == 1
    assert 150 not in {r["k"] for r in t.to_a()}


def test_maintain_property_driven(catalog):
    """r11: Table.maintain() — one pass, each step gated by its own
    property; an unconfigured table no-ops; dry_run reports without
    mutating; the CALL route returns the report."""
    t = catalog.create_table("maint1", schema={"k": "int", "v": "string"})
    for i in range(4):  # 4 small single-file commits
        t.append([{"k": 10 * i + j, "v": f"v{i}{j}"} for j in range(5)])
    t.delete_where("k = 1", mode="merge-on-read-positional")
    t.delete_where("k = 11", mode="merge-on-read-positional")
    t = t.refresh()
    before_rows = sorted((r["k"], r["v"]) for r in t.to_a())
    # unconfigured: no-op
    assert t.maintain() == {}
    # configure every step
    t.update_properties(
        {
            "maintenance.compact.min-input-files": "3",
            "maintenance.rewrite-deletes.min-delete-files": "2",
            "maintenance.rewrite-manifests.min-manifests": "2",
            "maintenance.expire.enabled": "true",
            "history.expire.min-snapshots-to-keep": "1",
            "maintenance.orphans.older-than-ms": "0",
        }
    )
    t = t.refresh()
    t.build_key_bloom("k")
    t = t.refresh()
    # dry run: triggers report, nothing changes
    plan = t.maintain(dry_run=True)
    assert "compact" in plan and plan["compact"]["input_files"] >= 3
    assert "refresh_blooms" in plan
    n_snaps = len(t.snapshots)
    assert len(t.refresh().snapshots) == n_snaps
    # real run: compaction materializes the MoR deletes (so the delete
    # rewrite step finds none left), manifests consolidate, history
    # expires to the floor, rows survive byte-identical
    rep = t.maintain()
    t = t.refresh()
    assert "compact" in rep and "expire_snapshots" in rep
    # r12 (VERDICT r11 #6): triggers after compact re-evaluate on the
    # SETTLED layout — compaction materialized both positional delete
    # files away, so the delete-rewrite step must NOT fire even though
    # the PRE-compact state met its threshold; and the non-dry-run
    # compact branch reports its result counts like every other step
    assert "rewrite_position_deletes" not in rep
    assert rep["compact"]["rewritten_data_files"] == (
        rep["compact"]["input_files"]
    )
    assert rep["compact"]["added_data_files"] >= 1
    assert sorted((r["k"], r["v"]) for r in t.to_a()) == before_rows
    assert len(t.scan().plan_files()) == 1  # compacted
    assert rep["expire_snapshots"]["expired"] > 0
    # bloom refreshed over the compacted layout: lookups stay correct
    assert [r["v"] for r in t.scan().filter("k = 32").to_a()] == ["v32"]
    # second pass: compaction trigger no longer met (1 file), blooms
    # no-op via the incremental early exit
    rep2 = t.refresh().maintain()
    assert "compact" not in rep2
    if "refresh_blooms" in rep2:
        assert all(v.get("noop") for v in rep2["refresh_blooms"].values())
    # CALL route
    cat = t.catalog
    res = cat.sql("CALL system.maintain('maint1', dry_run => true)").to_a()
    assert res and "steps" in res[0]


def test_maintain_compact_on_delete_entries(catalog):
    """r12: maintenance.compact.min-delete-entries fires compaction on
    accumulated MoR deletes of any kind — the upsert-table nightly
    (each streaming upsert batch adds one equality delete; compaction
    materializes them away)."""
    t = catalog.create_table("maint2", schema={"k": "int", "v": "string"})
    t.append([{"k": i, "v": f"v{i}"} for i in range(10)])
    t.update_properties({"maintenance.compact.min-delete-entries": "2"})
    t = t.refresh()
    t.delete_by_keys([(1,)], on="k")     # equality delete 1
    assert t.refresh().maintain() == {}  # below threshold: no-op
    t = t.refresh()
    t.delete_by_keys([(2,)], on="k")     # equality delete 2
    t = t.refresh()
    plan = t.maintain(dry_run=True)
    assert plan["compact"]["input_delete_entries"] == 2
    rep = t.maintain()
    t = t.refresh()
    assert rep["compact"]["input_delete_entries"] == 2
    # deletes materialized away; rows correct; no MoR entries remain
    assert sorted(r["k"] for r in t.to_a()) == [0] + list(range(3, 10))
    assert not [e for e in t._current_entries() if "path" not in e]
    # settled: a second pass does not fire
    assert "compact" not in t.maintain()


def test_blind_delete_by_keys(catalog, spark):
    """r13: delete_by_keys(verify_hits=False) — the blind CDC delete:
    NO table scan, one fast-append SEQUENCE-scoped equality delete with
    per-file key-bounds.  Matching rows die, later appends are immune
    (strictly-lower-sequence rule), the return value is the distinct
    KEY count, and the no-op shapes behave."""
    import iceberg_ruby_spark.table as T

    t = catalog.create_table("blind1", schema={"k": "long", "v": "string"})
    # empty table: nothing to apply to, nothing committed
    assert t.delete_by_keys([(1,)], on="k", verify_hits=False) == 0
    assert t.refresh().current_snapshot() is None
    t.append([{"k": i, "v": f"x{i}"} for i in range(10)])
    t = t.refresh()
    calls = []
    orig = T.TableScan.to_df

    def spy(self, *a, **kw):
        calls.append(1)
        return orig(self, *a, **kw)

    T.TableScan.to_df = spy
    try:
        # 99 matches nothing — blind mode still counts it (key count,
        # not matched rows) and commits
        n = t.delete_by_keys([(3,), (7,), (99,)], on="k", verify_hits=False)
    finally:
        T.TableScan.to_df = orig
    assert n == 3
    assert not calls, "blind delete must not scan the table"
    t = t.refresh()
    eq = [
        e for e in t._current_entries() if e.get("content") == "equality-deletes"
    ]
    assert len(eq) == 1 and eq[0].get("seq-scoped") is True
    assert eq[0]["key-bounds"] == {"lower": {"k": 3}, "upper": {"k": 99}}
    assert sorted(r["k"] for r in t.to_a()) == [0, 1, 2, 4, 5, 6, 8, 9]
    # rows appended AFTER the delete are immune, including re-used keys
    t.append([{"k": 3, "v": "new3"}, {"k": 20, "v": "x20"}])
    t = t.refresh()
    rows = {r["k"]: r["v"] for r in t.to_a()}
    assert rows[3] == "new3" and 20 in rows and 7 not in rows
    # scope is incompatible with the blind form
    import pytest as _pytest

    from iceberg_ruby_spark.errors import InvalidDataError

    with _pytest.raises(InvalidDataError, match="verify_hits=False"):
        t.delete_by_keys([(1,)], on="k", scope="k < 5", verify_hits=False)
    # changelog over the blind commit emits the dead rows structurally
    ch = t.changelog_scan().select("k", "_change_type")
    dels = sorted(r["k"] for r in ch.collect() if r["_change_type"] == "delete")
    assert dels == [3, 7]


def test_blind_delete_key_files_have_tight_disjoint_bounds(catalog, spark):
    """The blind delete's key files must be RANGE-partitioned: after
    ``.distinct()`` the keys are hash-partitioned, and writing that
    layout gives every file ~the global key range — per-file key-bounds
    pruning (the whole point of the bounds) would never exclude anything.
    With range partitioning each delete entry's bounds are tight and
    pairwise disjoint."""
    t = catalog.create_table("blind_bounds", schema={"k": "long", "v": "long"})
    t.append([{"k": i, "v": i} for i in range(4000)])
    t = t.refresh()
    keys = spark.range(0, 4000, 2).withColumnRenamed("id", "k")
    # a 2000-key batch is small enough that AQE (correctly) coalesces the
    # range shuffle to ONE file — shrink the advisory size so the test
    # exercises the multi-file layout a 100 TB-scale key batch produces
    adv = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(adv, None)
    spark.conf.set(adv, "false")
    try:
        n = t.delete_by_keys(keys, on="k", verify_hits=False)
    finally:
        if prev is None:
            spark.conf.unset(adv)
        else:
            spark.conf.set(adv, prev)
    assert n == 2000
    t = t.refresh()
    eq = [
        e
        for e in t._current_entries()
        if e.get("content") == "equality-deletes"
    ]
    assert eq and all(e.get("key-bounds") for e in eq)
    spans = sorted(
        (e["key-bounds"]["lower"]["k"], e["key-bounds"]["upper"]["k"])
        for e in eq
    )
    assert len(spans) > 1, "advisory shrink should have split the keys"
    # range partitioning ⇒ pairwise disjoint, each a fraction of the
    # global range (hash layout would make every span ~[0, 3998])
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2, f"overlapping key-file bounds: {spans}"
    assert all(hi - lo < 3998 for lo, hi in spans)
    # and the delete is exact
    assert sorted(r["k"] for r in t.to_a())[:5] == [1, 3, 5, 7, 9]
    assert t.refresh().scan().count() == 2000
