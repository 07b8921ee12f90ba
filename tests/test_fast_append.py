"""Fast-append manifest reuse.

An append commit must not rewrite the table's existing manifests: the new
manifest list carries the parent's manifests forward and adds one delta
manifest, so commit metadata cost is O(new files) — the property
that keeps frequent small appends viable on a 100 TB table.  Reference
behavior being matched: iceberg-rust's fast-append snapshot production
(the reference commits through it, ``ext/iceberg/src/table.rs:62-125``);
the list-length bound mirrors Iceberg's merge-manifests behavior.

Covers: chain shape (carried manifest-list records), read-back
equivalence, the structural delta read (``read_manifest_delta``),
manifest merging at the cap, chain reset on replace commits, row lineage
across chained appends, rename survival, and the O(new) guarantee itself
(the commit never reads the parent's manifests)."""

from __future__ import annotations

from iceberg_ruby_spark import manifests as man
from iceberg_ruby_spark.avro_file import read_ocf
from iceberg_ruby_spark.table import FsTableOps


def _mk(catalog, name, **kw):
    return catalog.create_table(name, schema={"k": "int", "v": "string"}, **kw)


def _list_records(t, snap=None):
    """The manifest_file records of a snapshot's manifest list."""
    snap = snap or t.current_snapshot()
    return read_ocf(t.ops.io.read_bytes(t.ops._abs(snap.manifest_list)))[1]


def _rows(t, **scan_kw):
    return sorted(r[0] for r in t.scan(**scan_kw).select("k").collect().rows)


def test_append_chains_delta_only(catalog):
    t = _mk(catalog, "fa")
    for i in range(4):
        t.append([{"k": i * 10 + j, "v": f"c{i}"} for j in range(3)])
    assert _rows(t) == sorted(i * 10 + j for i in range(4) for j in range(3))
    s = t.current_snapshot()
    # files per append follow the session's core count: take each
    # commit's own count from its summary
    added = [int(x.summary["added-data-files"]) for x in t.snapshots]
    assert len(added) == 4
    assert s.summary["total-data-files"] == str(sum(added))
    assert s.summary["total-records"] == "12"
    recs = _list_records(t)
    # one manifest per append, carried verbatim, each holding only its
    # own commit's files (entries live in the manifests, not the list)
    assert [
        r["added_files_count"] + r["existing_files_count"] for r in recs
    ] == added
    # carried records keep their ORIGINAL snapshot ids — only the last
    # manifest belongs to the newest commit
    sids = [r["added_snapshot_id"] for r in recs]
    assert len(set(sids)) == 4 and sids[-1] == s.snapshot_id


def test_append_never_reads_parent_manifests(catalog, monkeypatch):
    """The O(new files) guarantee: a fast append commits without reading
    a single existing manifest (only the parent's LIST document)."""
    t = _mk(catalog, "fa_oread")
    t.append([{"k": 1, "v": "a"}])
    t.append([{"k": 2, "v": "b"}])
    calls = []
    orig = FsTableOps.read_manifest

    def spy(self, manifest_list):
        calls.append(manifest_list)
        return orig(self, manifest_list)

    monkeypatch.setattr(FsTableOps, "read_manifest", spy)
    t.append([{"k": 3, "v": "c"}])
    assert calls == [], f"append read manifests: {calls}"
    assert _rows(t) == [1, 2, 3]


def test_no_removal_commits_never_read_manifests(catalog, monkeypatch):
    """Every commit that removes nothing chains its delta onto the head's
    manifest list like an append: a verified delete_by_keys, a
    merge-on-read upsert and a positional delete_where read no manifest
    inside the commit when the head has not moved."""
    from iceberg_ruby_spark.table import Table

    t = _mk(catalog, "fa_noread", properties={"format-version": "2"})
    t.append([{"k": i, "v": "a"} for i in range(10)])
    t.append([{"k": i, "v": "b"} for i in range(10, 20)])
    inside, calls = [False], []
    read, commit = FsTableOps.read_manifest, Table._commit_snapshot

    def read_spy(self, manifest_list):
        if inside[0]:
            calls.append(manifest_list)
        return read(self, manifest_list)

    def commit_spy(self, *args, **kwargs):
        inside[0] = True
        try:
            return commit(self, *args, **kwargs)
        finally:
            inside[0] = False

    monkeypatch.setattr(FsTableOps, "read_manifest", read_spy)
    monkeypatch.setattr(Table, "_commit_snapshot", commit_spy)
    assert t.delete_by_keys([(3,)], on="k") == 1
    t.upsert([{"k": 12, "v": "u"}], on="k", mode="merge-on-read")
    assert t.delete_where("k = 15", mode="merge-on-read") == 1
    assert calls == [], f"commits read manifests: {calls}"
    assert len(t.snapshots) == 5
    assert _rows(t) == [k for k in range(20) if k not in (3, 15)]


def test_read_manifest_delta_append_window(catalog):
    t = _mk(catalog, "fa_delta")
    for i in range(5):
        t.append([{"k": i, "v": str(i)}])
    snaps = t.snapshots
    delta = t.ops.read_manifest_delta(
        snaps[-1].manifest_list, snaps[1].manifest_list
    )
    assert delta is not None
    full_end = {e["path"] for e in t.ops.read_manifest(snaps[-1].manifest_list)}
    full_start = {e["path"] for e in t.ops.read_manifest(snaps[1].manifest_list)}
    assert {e["path"] for e in delta} == full_end - full_start
    # same-snapshot window still works through the full diff fallback shape
    assert t.ops.read_manifest_delta(
        snaps[2].manifest_list, snaps[2].manifest_list
    ) == []


def test_read_manifest_delta_refuses_replace_window(catalog):
    t = _mk(catalog, "fa_rp")
    t.append([{"k": i, "v": "x"} for i in range(10)])
    start = t.current_snapshot()
    t.delete_where("k < 3")  # copy-on-write replace: chain resets
    t.append([{"k": 100, "v": "y"}])
    end = t.current_snapshot()
    assert t.ops.read_manifest_delta(end.manifest_list, start.manifest_list) is None
    assert _rows(t) == [3, 4, 5, 6, 7, 8, 9, 100]


def test_segment_merge_at_cap(catalog, monkeypatch):
    monkeypatch.setattr(man, "MANIFEST_SEGMENT_CAP", 6)
    t = _mk(catalog, "fa_cap")
    n = 20
    for i in range(n):
        t.append([{"k": i, "v": str(i)}])
    assert _rows(t) == list(range(n))
    s = t.current_snapshot()
    assert s.summary["total-records"] == str(n)
    assert len(_list_records(t)) <= 6
    # delta across a merge boundary refuses rather than guessing
    snaps = t.snapshots
    d = t.ops.read_manifest_delta(snaps[-1].manifest_list, snaps[0].manifest_list)
    if d is not None:  # merged windows may still be derivable when disjoint
        full_end = {e["path"] for e in t.ops.read_manifest(snaps[-1].manifest_list)}
        full_start = {e["path"] for e in t.ops.read_manifest(snaps[0].manifest_list)}
        assert {e["path"] for e in d} == full_end - full_start


def test_replace_resets_then_chain_resumes(catalog):
    t = _mk(catalog, "fa_reset")
    for i in range(3):
        t.append([{"k": i, "v": "a"}])
    t.compact()  # replace commit: ONE fresh consolidated manifest
    assert len(_list_records(t)) == 1
    t.append([{"k": 50, "v": "b"}])
    t.append([{"k": 51, "v": "b"}])
    assert _rows(t) == [0, 1, 2, 50, 51]
    assert len(_list_records(t)) == 3  # compacted foot + 2 deltas


def test_mor_delete_interplay(catalog):
    """A merge-on-read delete chains onto the fast-append list: the data
    manifests are carried, the position delete file lands in one new
    delete manifest, and the next append carries all three forward."""
    t = _mk(catalog, "fa_mor")
    t.append([{"k": i, "v": "a"} for i in range(10)])
    t.append([{"k": i, "v": "b"} for i in range(10, 20)])
    data_manifests = [r["manifest_path"] for r in _list_records(t)]
    t.delete_where("k = 5", mode="merge-on-read")
    recs = _list_records(t)
    assert [r["manifest_path"] for r in recs[:2]] == data_manifests
    assert [r["content"] for r in recs] == [0, 0, 1]
    t.append([{"k": 100, "v": "c"}])
    carried = [r["manifest_path"] for r in recs]
    recs = _list_records(t)
    assert [r["manifest_path"] for r in recs[:3]] == carried
    assert len(recs) == 4
    dels = [e for e in t.ops.read_manifest(t.current_snapshot().manifest_list)
            if "delete-file" in e]
    assert [e["content"] for e in dels] == ["position-deletes"]
    assert _rows(t) == [k for k in range(20) if k != 5] + [100]


def test_row_lineage_across_chain(catalog):
    t = catalog.create_table(
        "fa_lineage",
        schema={"k": "int"},
        properties={"format-version": "3"},
    )
    for i in range(4):
        t.append([{"k": i * 10 + j} for j in range(5)])
    rows = t.scan().with_row_lineage().to_df().collect()
    ids = sorted(r["_row_id"] for r in rows)
    assert ids == list(range(20))  # contiguous, unique, chain-independent


def test_rename_survives_chain(catalog):
    t = _mk(catalog, "fa_mv")
    for i in range(4):
        t.append([{"k": i, "v": "x"}])
    catalog.rename_table("fa_mv", "fa_mv2")
    t2 = catalog.load_table("fa_mv2")
    assert _rows(t2) == [0, 1, 2, 3]


def test_avro_chain_spec_reader_parity(catalog, spark):
    """An external spec reader (JVM Avro decode, sequence-number delete
    application — tests/support/spec_reader.py) sees the same rows through
    a fast-append chained manifest list, merged manifests included."""
    from tests.support.spec_reader import read_spec_rows

    t = _mk(catalog, "fa_spec")
    for i in range(5):
        t.append([{"k": i * 10 + j, "v": f"c{i}"} for j in range(2)])
    got = sorted(r["k"] for r in read_spec_rows(spark, t.ops._abs(t.current_snapshot().manifest_list)))
    assert got == _rows(t)


def test_avro_merged_manifests_spec_reader_parity(catalog, spark, monkeypatch):
    monkeypatch.setattr(man, "MANIFEST_SEGMENT_CAP", 4)
    from tests.support.spec_reader import read_spec_rows

    t = _mk(catalog, "fa_spec_m")
    for i in range(10):
        t.append([{"k": i, "v": str(i)}])
    assert len(_list_records(t)) <= 4
    got = sorted(
        r["k"]
        for r in read_spec_rows(spark, t.ops._abs(t.current_snapshot().manifest_list))
    )
    assert got == list(range(10))


def test_inspect_manifests_shows_segments(catalog):
    t = _mk(catalog, "fa_insp")
    t.append([{"k": 1, "v": "a"}])
    t.append([{"k": 2, "v": "b"}])
    mans = t.inspect.manifests().collect()
    assert len(mans) == 2  # the carried manifest + the head delta


def test_rewrite_manifests_consolidates(catalog):
    t = _mk(catalog, "rwm")
    for i in range(6):
        t.append([{"k": i, "v": str(i)}])
    files_before = sorted(
        e["path"] for e in t.ops.read_manifest(t.current_snapshot().manifest_list)
    )
    res = t.rewrite_manifests()
    assert res["rewritten_manifests_count"] == 6
    assert res["added_manifests_count"] == 1
    files_after = sorted(
        e["path"] for e in t.ops.read_manifest(t.current_snapshot().manifest_list)
    )
    assert files_after == files_before  # data files untouched
    assert _rows(t) == list(range(6))
    assert len(_list_records(t)) == 1


def test_rewrite_manifests_preserves_mor_deletes(catalog):
    t = _mk(catalog, "rwm_mor")
    t.append([{"k": i, "v": "a"} for i in range(10)])
    t.delete_where("k < 3", mode="merge-on-read")
    t.append([{"k": 100, "v": "b"}])
    # one data manifest plus the position deletes' own delete manifest
    assert t.rewrite_manifests()["added_manifests_count"] == 2
    assert sorted(r["content"] for r in _list_records(t)) == [0, 1]
    assert _rows(t) == [3, 4, 5, 6, 7, 8, 9, 100]


def test_rewrite_manifests_call_procedure(catalog):
    t = _mk(catalog, "rwm_call")
    for i in range(4):
        t.append([{"k": i, "v": "x"}])
    rows = catalog.sql(
        "CALL system.rewrite_manifests(table => 'rwm_call')"
    ).rows
    assert rows == [[4, 1]]
