"""expire_snapshots metadata cleanup (Iceberg's cleanExpiredFiles).

With fast-append manifest sharing, deletion must be reference-counted:
a manifest referenced by BOTH an expired and a retained snapshot
must survive.  Candidates come from the expired snapshots' own reference
sets (never a directory listing), so an in-flight concurrent commit's
freshly-written files can never be collected."""

from __future__ import annotations


def _mk(catalog, name):
    return catalog.create_table(name, schema={"k": "int", "v": "string"})


def _rows(t):
    return sorted(r[0] for r in t.scan().select("k").collect().rows)


def _list_files(t, snap):
    return t._manifest_metadata_files(snap.manifest_list)


def test_append_chain_shares_metadata_nothing_deleted(catalog):
    """On a pure append chain the expired snapshots' list documents ARE
    the head's manifests — all shared, so expire deletes none."""
    t = _mk(catalog, "gc_share")
    for i in range(4):
        t.append([{"k": i, "v": "a"}])
    old_files = set()
    for s in t.snapshots[:-1]:
        old_files |= _list_files(t, s)
    assert t.expire_snapshots(keep_last=1) == 3
    survivors = [f for f in old_files if t.ops.io.exists(f)]
    # every expired snapshot's own delta manifest is shared with the head
    head_files = _list_files(t, t.current_snapshot())
    assert set(survivors) >= (old_files & head_files)
    assert _rows(t) == [0, 1, 2, 3]


def test_replace_orphans_old_chain_files(catalog):
    """append×3 → compact (replace) → append: expiring everything but the
    head deletes the pre-compact chain's metadata files, keeps the
    compacted foot the head still chains onto."""
    t = _mk(catalog, "gc_rp")
    for i in range(3):
        t.append([{"k": i, "v": "a"}])
    pre_compact = set()
    for s in t.snapshots:
        pre_compact |= _list_files(t, s)
    t.compact()
    t.append([{"k": 50, "v": "b"}])
    expired = t.expire_snapshots(keep_last=1)
    assert expired == 4
    head_files = _list_files(t, t.current_snapshot())
    for f in pre_compact - head_files:
        assert not t.ops.io.exists(f), f"orphaned metadata survived: {f}"
    for f in head_files:
        assert t.ops.io.exists(f)
    assert _rows(t) == [0, 1, 2, 50]


def test_clean_metadata_off_keeps_files(catalog):
    t = _mk(catalog, "gc_off")
    for i in range(3):
        t.append([{"k": i, "v": "a"}])
    t.compact()
    old = set()
    for s in t.snapshots[:-1]:
        old |= _list_files(t, s)
    t.expire_snapshots(keep_last=1, clean_metadata=False)
    assert all(t.ops.io.exists(f) for f in old)


def test_statistics_of_expired_snapshot_dropped_and_deleted(catalog):
    t = _mk(catalog, "gc_stats")
    t.append([{"k": 1, "v": "a"}])
    t.compute_statistics()
    stats_path = t.ops._abs(t.statistics[0]["statistics-path"])
    assert t.ops.io.exists(stats_path)
    t.append([{"k": 2, "v": "b"}])
    t.expire_snapshots(keep_last=1)
    t.refresh()
    assert t.statistics == []
    assert not t.ops.io.exists(stats_path)
    assert _rows(t) == [1, 2]


def test_branch_protected_snapshot_files_survive(catalog):
    t = _mk(catalog, "gc_branch")
    t.append([{"k": 1, "v": "a"}])
    t.create_branch("keepme")
    keep_files = _list_files(t, t.current_snapshot())
    t.delete_where("k = 1")  # replace — breaks sharing with the branch head
    t.append([{"k": 9, "v": "z"}])
    t.expire_snapshots(keep_last=1)
    ids = {s.snapshot_id for s in t.snapshots}
    assert t.snapshot_for_ref("keepme").snapshot_id in ids
    assert all(t.ops.io.exists(f) for f in keep_files)
    assert sorted(
        r[0] for r in t.scan(ref="keepme").select("k").collect().rows
    ) == [1]


def test_expired_avro_manifests_unreferenced_after_merge(catalog, monkeypatch):
    """Manifests merged away (cap) and then expired really do get
    collected once no live snapshot references them."""
    from iceberg_ruby_spark import manifests as man

    monkeypatch.setattr(man, "MANIFEST_SEGMENT_CAP", 4)
    t = _mk(catalog, "gc_merge")
    for i in range(10):
        t.append([{"k": i, "v": str(i)}])
    all_files = set()
    for s in t.snapshots:
        all_files |= _list_files(t, s)
    t.expire_snapshots(keep_last=1)
    head_files = _list_files(t, t.current_snapshot())
    gone = [f for f in all_files - head_files if not t.ops.io.exists(f)]
    assert gone, "merge should have orphaned at least one victim manifest"
    for f in head_files:
        assert t.ops.io.exists(f)
    assert _rows(t) == list(range(10))


def test_remove_orphan_files_dry_run(catalog):
    t = catalog.create_table("orph_dry", schema={"a": "int"})
    t.append([{"a": 1}])
    t.append([{"a": 2}])
    t.compact()  # previous commit dirs become orphaned after expiry
    t.expire_snapshots(keep_last=1)
    candidates = t.remove_orphan_files(dry_run=True)
    assert candidates  # something to clean
    # nothing was touched: rows intact, a second dry run sees the same
    assert sorted(r["a"] for r in t.refresh().to_a()) == [1, 2]
    assert t.remove_orphan_files(dry_run=True) == candidates
    # the real pass removes exactly the audited candidates
    removed = t.remove_orphan_files()
    assert removed == candidates
    assert t.remove_orphan_files(dry_run=True) == []
    assert sorted(r["a"] for r in t.refresh().to_a()) == [1, 2]
    # CALL spelling
    r = catalog.sql(
        "CALL system.remove_orphan_files('orph_dry', dry_run => 'true')"
    )
    assert r.rows == [] or r.rows is not None  # no orphans left, no crash


def test_expire_snapshots_dry_run(catalog):
    t = catalog.create_table("exp_dry", schema={"a": "int"})
    for i in range(4):
        t.append([{"a": i}])
    n_before = len(t.refresh().snapshots)
    would = t.expire_snapshots(keep_last=2, dry_run=True)
    assert would == n_before - 2
    # nothing expired, metadata untouched
    assert len(t.refresh().snapshots) == n_before
    # the real pass matches the audit
    assert t.expire_snapshots(keep_last=2) == would
    assert len(t.refresh().snapshots) == 2


def test_expire_clean_data_files_reference_counted(catalog):
    """clean_data_files=True deletes files reachable ONLY from expired
    snapshots (post-compaction originals), keeps everything the head
    references, and NEVER touches unreferenced files in the data dir —
    the concurrent-writer race the orphan sweep could lose."""
    import os

    t = catalog.create_table("exp_data", schema={"a": "int"})
    for i in range(3):
        t.append([{"a": i}])
    originals = {os.path.abspath(f) for f in t._entry_files(t._current_entries())}
    t.compact()
    # a concurrent writer's freshly-written, not-yet-committed file
    inflight = os.path.join(t.ops.data_dir, "commit-inflight", "part-0.parquet")
    os.makedirs(os.path.dirname(inflight), exist_ok=True)
    with open(inflight, "wb") as f:
        f.write(b"not yet committed")
    n = t.expire_snapshots(keep_last=1, clean_data_files=True)
    assert n >= 1
    cleaned = set(t.last_expire_cleaned_files)
    assert originals <= cleaned  # pre-compaction files collected
    assert os.path.exists(inflight)  # in-flight write untouched
    head_files = {os.path.abspath(f) for f in t._entry_files(t._current_entries())}
    assert not (head_files & cleaned)
    assert sorted(r["a"] for r in t.refresh().to_a()) == [0, 1, 2]


def test_expire_proc_spares_inflight_files(catalog):
    """CALL system.expire_snapshots must not sweep unreferenced files —
    it reports reference-counted deletions only (ADVICE r7 high)."""
    import os

    t = catalog.create_table("exp_proc_safe", schema={"a": "int"})
    for i in range(3):
        t.append([{"a": i}])
    t.compact()
    inflight = os.path.join(t.ops.data_dir, "commit-inflight", "part-0.parquet")
    os.makedirs(os.path.dirname(inflight), exist_ok=True)
    with open(inflight, "wb") as f:
        f.write(b"not yet committed")
    rows = catalog.sql(
        "CALL system.expire_snapshots(table => 'exp_proc_safe', retain_last => 1)"
    ).rows
    assert rows[0][0] >= 1 and rows[0][1] >= 3  # snapshots + data files
    assert os.path.exists(inflight)
    assert sorted(
        r["a"] for r in catalog.load_table("exp_proc_safe").to_a()
    ) == [0, 1, 2]


def test_expire_retention_properties_supply_defaults(catalog):
    """history.expire.min-snapshots-to-keep / max-snapshot-age-ms drive an
    argument-less expire_snapshots() (Iceberg ExpireSnapshots defaults);
    explicit arguments still override."""
    t = catalog.create_table(
        "exp_props",
        schema={"a": "int"},
        properties={"history.expire.min-snapshots-to-keep": "3"},
    )
    for i in range(5):
        t.append([{"a": i}])
    assert t.expire_snapshots() == 2          # property floor keeps 3
    assert len(t.refresh().snapshots) == 3
    # a generous age property protects everything regardless of the floor
    t.update_properties({"history.expire.max-snapshot-age-ms": str(10**9)})
    t.append([{"a": 99}])
    assert t.expire_snapshots() == 0          # all snapshots younger than cutoff
    assert len(t.refresh().snapshots) == 4
    # explicit keep_last overrides the property floor; explicit older_than
    # (epoch now) overrides the age property
    import time

    assert t.expire_snapshots(keep_last=1, older_than=int(time.time() * 1000) + 1000) == 3
    assert len(t.refresh().snapshots) == 1
