"""Concurrent optimistic commits — the round-1 advisory was a lost-update
bug (append retried with a stale entry list).  Appends from many threads
must all land: no dropped files, no duplicated rows."""

import threading


def test_concurrent_appends_no_lost_update(catalog):
    t = catalog.create_table("cc", schema={"w": "int", "i": "int"})
    n_writers, rows_each = 6, 5
    errors = []

    def writer(w):
        try:
            handle = catalog.load_table("cc")
            for i in range(rows_each):
                handle.append([{"w": w, "i": i}])
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(n_writers)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    t = t.refresh()
    rows = t.to_a()
    assert len(rows) == n_writers * rows_each
    got = {(r["w"], r["i"]) for r in rows}
    assert got == {(w, i) for w in range(n_writers) for i in range(rows_each)}
    # every append produced its own snapshot
    assert len(t.snapshots) == n_writers * rows_each


def test_concurrent_ref_and_append(catalog):
    t = catalog.create_table("cr", schema={"a": "int"})
    t.append([{"a": 0}])
    errors = []

    def tagger():
        try:
            h = catalog.load_table("cr")
            for i in range(5):
                h.create_tag(f"tag{i}")
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    def appender():
        try:
            h = catalog.load_table("cr")
            for i in range(1, 6):
                h.append([{"a": i}])
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    th1, th2 = threading.Thread(target=tagger), threading.Thread(target=appender)
    th1.start(); th2.start(); th1.join(); th2.join()
    assert not errors, errors
    t = t.refresh()
    assert len(t.to_a()) == 6
    assert {f"tag{i}" for i in range(5)} <= set(t.refs)


def test_concurrent_append_during_delete_not_lost(catalog):
    """A delete planned against snapshot A must not drop files a
    concurrent append committed between planning and commit: the commit
    applies its delta to the head it lands on."""
    t = catalog.create_table("cd", schema={"a": "int"})
    t.append([{"a": i} for i in range(10)])

    h_del = catalog.load_table("cd")   # plans against the 10-row snapshot
    h_app = catalog.load_table("cd")
    # interleave: append lands AFTER the delete handle loaded its metadata
    h_app.append([{"a": 100}])
    n = h_del.delete_where("a < 3")
    assert n == 3
    t = t.refresh()
    got = sorted(r["a"] for r in t.to_a())
    assert got == [3, 4, 5, 6, 7, 8, 9, 100]  # concurrent append survived


def test_concurrent_compact_and_append_not_lost(catalog):
    t = catalog.create_table("cc2", schema={"a": "int"})
    for i in range(3):
        t.append([{"a": i}])
    h_cmp = catalog.load_table("cc2")
    h_app = catalog.load_table("cc2")
    h_app.append([{"a": 99}])
    h_cmp.compact()
    t = t.refresh()
    assert sorted(r["a"] for r in t.to_a()) == [0, 1, 2, 99]


def test_concurrent_mor_delete_carried_by_replace(catalog):
    """A merge-on-read delete file committed between a rewriting
    mutation's planning and its commit must stay in the new
    manifest (round-2 advisory: it was silently dropped, resurrecting the
    deleted rows)."""
    t = catalog.create_table("cm", schema={"a": "int", "b": "string"})
    t.append([{"a": 1, "b": "x"}, {"a": 2, "b": "x"}])   # file set 1
    t.append([{"a": 5, "b": "x"}, {"a": 6, "b": "x"}])   # file set 2

    h_upd = catalog.load_table("cm")   # plans against the 4-row snapshot
    h_del = catalog.load_table("cm")
    # interleave: MoR delete (file set 1) lands after h_upd loaded metadata
    assert h_del.delete_where("a = 2", mode="merge-on-read") == 1
    # copy-on-write update rewrites file set 2 only
    assert h_upd.update_where({"b": "'y'"}, "a = 5") == 1
    t = t.refresh()
    rows = {(r["a"], r["b"]) for r in t.to_a()}
    assert rows == {(1, "x"), (5, "y"), (6, "x")}  # a=2 stayed deleted


def test_concurrent_mor_delete_conflicts_with_overlapping_rewrite(catalog):
    """If the concurrent MoR delete applies to a file the rewriting
    mutation rewrote, the delete cannot be replayed — the commit must fail
    with a conflict instead of resurrecting or double-applying rows."""
    import pytest

    from iceberg_ruby_spark.errors import InvalidDataError

    t = catalog.create_table("cm2", schema={"a": "int", "b": "string"})
    # both rows must share ONE data file for the scopes to overlap
    df = catalog.spark.createDataFrame(
        [(1, "x"), (2, "x")], "a int, b string"
    ).coalesce(1)
    t.append(df)
    assert len(t.scan().plan_files()) == 1

    h_upd = catalog.load_table("cm2")
    h_del = catalog.load_table("cm2")
    assert h_del.delete_where("a = 2", mode="merge-on-read") == 1
    with pytest.raises(InvalidDataError, match="conflict"):
        h_upd.update_where({"b": "'y'"}, "a = 1")  # rewrites the same file


def test_verified_equality_delete_conflicts_with_matching_append(catalog):
    """A verified delete_by_keys (or merge-on-read merge) counts its hits
    on the snapshot it planned against.  Its equality delete applies to
    every file of lower sequence, so committing over a concurrent append
    whose file may hold a deleted key would kill rows the count never
    saw: that commit raises a conflict (Iceberg's
    ``validateNoConflictingDataFiles``).  An append whose file bounds
    cannot hold any deleted key does not conflict, and its rows survive."""
    import pytest

    from iceberg_ruby_spark.errors import InvalidDataError

    t = catalog.create_table("cvd", schema={"k": "int", "v": "string"})
    t.append([{"k": i, "v": "a"} for i in range(10)])

    h_del = catalog.load_table("cvd")  # plans against the 10-row snapshot
    h_mrg = catalog.load_table("cvd")
    catalog.load_table("cvd").append([{"k": 5, "v": "late"}])
    with pytest.raises(InvalidDataError, match="retry the operation on fresh state"):
        h_del.delete_by_keys([(5,)], on="k")
    with pytest.raises(InvalidDataError, match="retry the operation on fresh state"):
        h_mrg.upsert([{"k": 5, "v": "m"}], on="k", mode="merge-on-read")
    rows = sorted((r["k"], r["v"]) for r in t.refresh().to_a())
    assert rows == sorted([(i, "a") for i in range(10)] + [(5, "late")])

    h_del = catalog.load_table("cvd")
    catalog.load_table("cvd").append([{"k": 100, "v": "late"}])
    assert h_del.delete_by_keys([(3,)], on="k") == 1
    rows = sorted((r["k"], r["v"]) for r in t.refresh().to_a())
    assert rows == sorted(
        [(i, "a") for i in range(10) if i != 3] + [(5, "late"), (100, "late")]
    )


def test_concurrent_appends_assign_disjoint_row_id_ranges(catalog):
    """Row-lineage under the optimistic race: losers retry against fresh
    metadata, so first-row-id ranges must come out dense and disjoint no
    matter how the commits interleave."""
    t = catalog.create_table("cc_lineage", schema={"w": "int", "i": "int"})
    n_writers, rows_each = 5, 4
    errors = []

    def writer(w):
        try:
            handle = catalog.load_table("cc_lineage")
            handle.append([{"w": w, "i": i} for i in range(rows_each)])
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(n_writers)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    t = t.refresh()
    rows = t.scan().with_row_lineage().to_df().collect()
    ids = sorted(r["_row_id"] for r in rows)
    assert ids == list(range(n_writers * rows_each))  # dense + disjoint
    assert t.next_row_id == n_writers * rows_each
    # each commit's rows share one contiguous range
    by_w = {}
    for r in rows:
        by_w.setdefault(r["w"], []).append(r["_row_id"])
    for w, got in by_w.items():
        got = sorted(got)
        assert got == list(range(got[0], got[0] + rows_each)), (w, got)


def test_mixed_append_dv_delete_mor_update_race(catalog):
    """Three workers race append + property-routed DV delete + MoR update
    on disjoint key bands of ONE v3 table: every operation must land (the
    optimistic commit loop absorbs physical races), no update may be
    lost, no row resurrected, and the one-DV-per-file invariant must
    hold across the interleaved vectors."""
    import threading

    t = catalog.create_table(
        "mixed_race",
        schema={"k": "int", "v": "string"},
        properties={
            "format-version": "3",
            "write.delete.mode": "merge-on-read",
            "write.update.mode": "merge-on-read",
        },
    )
    for band in range(3):
        t.append([{"k": band * 100 + i, "v": "old"} for i in range(20)])

    errors = []

    def worker(band):
        try:
            tb = catalog.load_table("mixed_race")
            lo = band * 100
            tb.append([{"k": lo + 50 + i, "v": "new"} for i in range(5)])
            tb.refresh()
            assert tb.delete_where(f"k >= {lo + 15} and k < {lo + 20}") == 5
            tb.refresh()
            assert tb.update_where({"v": "'upd'"}, f"k >= {lo} and k < {lo + 5}") == 5
        except Exception as exc:  # pragma: no cover
            errors.append((band, exc))

    threads = [threading.Thread(target=worker, args=(b,)) for b in range(3)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    t = catalog.load_table("mixed_race")
    rows = {r["k"]: r["v"] for r in t.to_a()}
    assert len(rows) == 60
    for band in range(3):
        lo = band * 100
        assert all(rows.get(lo + i) == "upd" for i in range(5))
        assert all(lo + 15 + i not in rows for i in range(5))
        assert all(rows.get(lo + 50 + i) == "new" for i in range(5))
        assert all(rows.get(lo + i) == "old" for i in range(5, 15))
    dv = [e for e in t._current_entries() if e.get("content") == "deletion-vector"]
    refs = [e["referenced-data-file"] for e in dv]
    assert len(refs) == len(set(refs)), refs


def _two_file_table(catalog, name, version):
    """A table of two data files, a in 1..5 and a in 11..15, and the
    path of the first."""
    t = catalog.create_table(
        name, schema={"a": "int"}, properties={"format-version": version}
    )
    for lo in (1, 11):
        t.append(
            catalog.spark.createDataFrame(
                [(lo + i,) for i in range(5)], "a int"
            ).coalesce(1)
        )
        if lo == 1:
            (file1,) = [e["path"] for e in t._current_entries()]
    assert len(t.scan().plan_files()) == 2
    return t, file1


def test_stale_rewrite_keeps_concurrent_position_delete_rewrite(catalog):
    """A copy-on-write delete planned before a concurrent
    rewrite_position_deletes commits only its own delta: the delete
    entries the rewrite retired stay retired."""
    t, _ = _two_file_table(catalog, "crpd", "2")
    t.delete_where("a = 1", mode="merge-on-read")
    t.delete_where("a = 2", mode="merge-on-read")

    h = catalog.load_table("crpd")  # plans against the two delete entries
    res = catalog.load_table("crpd").rewrite_position_deletes()
    assert res["rewritten_delete_files_count"] == 2
    assert h.delete_where("a = 13") == 1  # rewrites the other file
    t = t.refresh()
    pos = [
        e for e in t._current_entries() if e.get("content") == "position-deletes"
    ]
    assert len(pos) == 1, pos
    assert sorted(r["a"] for r in t.to_a()) == [3, 4, 5, 11, 12, 14, 15]


def test_stale_rewrite_ignores_concurrent_dv_replacement(catalog):
    """A copy-on-write delete of a row in file 2, planned before another
    writer replaced file 1's deletion vector, wrote no vector itself, so
    the replacement is no conflict: the commit lands and file 1 keeps
    the one, newer vector."""
    t, file1 = _two_file_table(catalog, "crdv", "3")
    t.delete_where("a = 1", mode="merge-on-read")

    h = catalog.load_table("crdv")  # plans against the first vector
    catalog.load_table("crdv").delete_where("a = 2", mode="merge-on-read")
    assert h.delete_where("a = 13") == 1
    t = t.refresh()
    dv = [e for e in t._current_entries() if e.get("content") == "deletion-vector"]
    assert [e["applies-to"] for e in dv] == [[file1]], dv
    assert sorted(r["a"] for r in t.to_a()) == [3, 4, 5, 11, 12, 14, 15]
    assert t.scan().count() == 7
