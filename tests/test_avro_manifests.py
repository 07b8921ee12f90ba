"""Iceberg-spec Avro manifests, the engine's only manifest format.

The reference's metadata interop comes from iceberg-rust's Avro writers
(``ext/iceberg/src/table.rs:62-125``); these tests hold the Avro
manifests to the engine's behaviors — appends, CoW and MoR mutations,
schema evolution, time travel, rename survival — and then
decode every written manifest with the JVM's own ``org.apache.avro``
DataFileReader (an independent decoder from Spark's classpath), checking
spec structure: record/field names, field counts, bound byte values."""

from __future__ import annotations

import datetime
import glob
import json
import os

import pytest

from iceberg_ruby_spark import types as ice_t
from iceberg_ruby_spark.avro_file import read_ocf
from iceberg_ruby_spark.errors import InvalidDataError
from iceberg_ruby_spark.manifests import bound_from_bytes, bound_to_bytes

AVRO_PROPS = {"write.metadata.manifest-format": "avro"}


def _manifest_files(t):
    return sorted(glob.glob(os.path.join(t.ops.metadata_dir, "*.avro")))


def _list_files(t):
    return [p for p in _manifest_files(t) if os.path.basename(p).startswith("snap-")]


def _jvm_read(spark, path):
    """Decode an Avro OCF with org.apache.avro from Spark's classpath."""
    jvm = spark._jvm
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(path), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    try:
        schema = json.loads(reader.getSchema().toString())
        records = []
        while reader.hasNext():
            records.append(json.loads(str(reader.next())))
        return schema, records
    finally:
        reader.close()


def test_append_scan_roundtrip(catalog):
    t = catalog.create_table(
        "av1", schema={"a": "int", "b": "string"}, properties=AVRO_PROPS
    )
    t.append([{"a": i, "b": f"r{i}"} for i in range(10)])
    assert sorted(r["a"] for r in t.to_a()) == list(range(10))
    snap = t.current_snapshot()
    assert snap.manifest_list.endswith(".avro")
    # one data manifest + one manifest list on disk
    files = _manifest_files(t)
    assert any("-m0.avro" in f for f in files)
    assert any(os.path.basename(f).startswith("snap-") for f in files)


def test_manifest_list_is_spec_shaped_via_jvm(catalog, spark):
    t = catalog.create_table(
        "av2", schema={"a": "int", "b": "string"}, properties=AVRO_PROPS
    )
    t.append([{"a": 1, "b": "x"}, {"a": 2, "b": "y"}])
    [list_path] = _list_files(t)
    schema, records = _jvm_read(spark, list_path)
    assert schema["name"] == "manifest_file"
    names = [f["name"] for f in schema["fields"]]
    for expected in (
        "manifest_path", "manifest_length", "partition_spec_id", "content",
        "sequence_number", "min_sequence_number", "added_snapshot_id",
        "added_files_count", "existing_files_count", "deleted_files_count",
        "added_rows_count", "existing_rows_count", "deleted_rows_count",
        "partitions", "key_metadata",
    ):
        assert expected in names
    assert len(records) == 1
    mf = records[0]
    assert mf["content"] == 0
    assert mf["added_rows_count"] == 2
    assert mf["sequence_number"] == 1
    # the manifest it points to is itself JVM-decodable and spec-shaped
    mschema, mrecords = _jvm_read(spark, mf["manifest_path"])
    assert mschema["name"] == "manifest_entry"
    assert [f["name"] for f in mschema["fields"]] == [
        "status", "snapshot_id", "sequence_number", "file_sequence_number", "data_file",
    ]
    # the distributed write may emit 1..n files; entries must cover all rows
    assert len(mrecords) >= 1
    assert sum(r["data_file"]["record_count"] for r in mrecords) == 2
    for rec in mrecords:
        assert rec["data_file"]["content"] == 0
        assert rec["data_file"]["file_format"] == "PARQUET"
        assert rec["status"] == 1
        assert rec["snapshot_id"] == t.current_snapshot().snapshot_id


def test_manifest_metadata_keys(catalog):
    t = catalog.create_table(
        "av3",
        schema={"a": "int", "ts": "timestamp", "d": "date"},
        properties=AVRO_PROPS,
    )
    t.append(
        [
            {
                "a": 1,
                "ts": datetime.datetime(2024, 5, 1, 10, 0, 0),
                "d": datetime.date(2024, 5, 1),
            }
        ]
    )
    [list_path] = _list_files(t)
    _, _, list_meta = read_ocf(open(list_path, "rb").read())
    assert list_meta["format-version"] == b"2"
    assert int(list_meta["snapshot-id"]) == t.current_snapshot().snapshot_id
    m0 = [p for p in _manifest_files(t) if p.endswith("-m0.avro")][0]
    _, _, mmeta = read_ocf(open(m0, "rb").read())
    schema_json = json.loads(mmeta["schema"].decode())
    assert schema_json["type"] == "struct"
    assert [f["name"] for f in schema_json["fields"]] == ["a", "ts", "d"]
    assert mmeta["content"] == b"data"
    assert json.loads(mmeta["partition-spec"].decode()) == []


def test_bounds_binary_single_values(catalog, spark):
    t = catalog.create_table(
        "av4",
        schema={"a": "int", "ts": "timestamp", "d": "date", "s": "string"},
        properties=AVRO_PROPS,
    )
    t.append(
        [
            {
                "a": 5,
                "ts": datetime.datetime(2024, 5, 1, 10, 0, 0),
                "d": datetime.date(2024, 5, 1),
                "s": "mm",
            },
            {
                "a": 9,
                "ts": datetime.datetime(2024, 6, 1, 0, 0, 0, 250000),
                "d": datetime.date(2024, 6, 2),
                "s": "zz",
            },
        ]
    )
    [list_path] = _list_files(t)
    _, [mf] = _jvm_read(spark, list_path)
    # raw python decode (JVM JSON-escapes the bound bytes; decode binary here).
    # The write may split rows across files — aggregate bounds over entries.
    _, entries, _ = read_ocf(open(mf["manifest_path"], "rb").read())
    schema = t.current_schema()
    ids = {f.name: f.field_id for f in schema.fields}

    def agg(bounds_key, fid, typ, pick):
        vals = []
        for entry in entries:
            kv = {p["key"]: p["value"] for p in entry["data_file"][bounds_key]}
            if fid in kv:
                vals.append(bound_from_bytes(kv[fid], typ))
        return pick(vals)

    assert agg("lower_bounds", ids["a"], ice_t.IntType(), min) == 5
    assert agg("upper_bounds", ids["a"], ice_t.IntType(), max) == 9
    assert agg("lower_bounds", ids["d"], ice_t.DateType(), min) == "2024-05-01"
    assert agg("upper_bounds", ids["ts"], ice_t.TimestampType(), max) == (
        "2024-06-01T00:00:00.250000"
    )
    assert agg("upper_bounds", ids["s"], ice_t.StringType(), max) == "zz"
    assert bound_to_bytes(5, ice_t.IntType()) == (5).to_bytes(4, "little")
    # internal entries reconstruct bounds for the pruning path
    es = t._current_entries()
    assert min(e["lower-bounds"]["a"] for e in es) == 5
    assert max(e["upper-bounds"]["d"] for e in es) == "2024-06-02"


def test_partitioned_write_partition_tuples(catalog, spark):
    t = catalog.create_table(
        "av5",
        schema={"a": "int", "cat": "string"},
        partition_spec=[("cat", "identity")],
        properties=AVRO_PROPS,
    )
    t.append([{"a": 1, "cat": "x"}, {"a": 2, "cat": "y"}, {"a": 3, "cat": "y"}])
    [list_path] = _list_files(t)
    _, [mf] = _jvm_read(spark, list_path)
    mschema, mrecords = _jvm_read(spark, mf["manifest_path"])
    parts = sorted(r["data_file"]["partition"]["cat"] for r in mrecords)
    assert parts == ["x", "y"]
    # partition field carried in manifest metadata as spec JSON
    _, _, mmeta = read_ocf(open(mf["manifest_path"], "rb").read())
    spec = json.loads(mmeta["partition-spec"].decode())
    assert spec[0]["name"] == "cat"
    assert spec[0]["transform"] == "identity"
    assert spec[0]["field-id"] == 1000
    # hidden-partition pruning still sees one file for cat='x'
    plan = t.scan().filter("cat = 'x'").plan_files()
    assert len(plan) == 1


def test_mutations_under_avro(catalog, spark):
    t = catalog.create_table(
        "av6", schema={"k": "int", "v": "string"}, properties=AVRO_PROPS
    )
    t.append([{"k": i, "v": f"v{i}"} for i in range(8)])
    assert t.delete_where("k >= 6") == 2
    assert t.update_where({"v": "'X'"}, "k = 0") == 1
    src = spark.createDataFrame([(1, "ONE"), (99, "NEW")], ["k", "v"])
    t.merge_into(src, on="k", when_matched_update={"v": "s.v"})
    rows = {r["k"]: r["v"] for r in t.to_a()}
    assert rows == {0: "X", 1: "ONE", 2: "v2", 3: "v3", 4: "v4", 5: "v5", 99: "NEW"}


def test_mor_deletes_under_avro(catalog, spark):
    t = catalog.create_table(
        "av7", schema={"k": "int", "v": "string"}, properties=AVRO_PROPS
    )
    t.append([{"k": i, "v": f"v{i}"} for i in range(10)])
    # positional MoR delete → deletes manifest (content=1)
    assert t.delete_where("k = 3", mode="merge-on-read-positional") == 1
    # equality MoR delete → content=2 with equality ids
    assert t.delete_by_keys([(5,)], on="k") == 1
    assert sorted(r["k"] for r in t.to_a()) == [0, 1, 2, 4, 6, 7, 8, 9]
    latest_list = max(_list_files(t), key=os.path.getmtime)
    _, mfs = _jvm_read(spark, latest_list)
    assert {m["content"] for m in mfs} == {0, 1}
    # each MoR delete commit removes nothing, so it CHAINS the parent's
    # manifests and adds its own delete manifest: the delete entries
    # spread across the list's content=1 manifests — aggregate them
    del_records = [
        r
        for m in mfs
        if m["content"] == 1
        for r in _jvm_read(spark, m["manifest_path"])[1]
    ]
    contents = sorted(r["data_file"]["content"] for r in del_records)
    assert contents == [1, 2]
    eq = [r for r in del_records if r["data_file"]["content"] == 2][0]
    k_id = t.current_schema().field_by_name("k").field_id
    assert eq["data_file"]["equality_ids"] == [k_id]


def test_mor_delete_carried_through_avro(catalog):
    t = catalog.create_table(
        "av8", schema={"k": "int"}, properties=AVRO_PROPS
    )
    t.append([{"k": i} for i in range(6)])
    assert t.delete_where("k >= 4", mode="merge-on-read") == 2
    assert sorted(r["k"] for r in t.to_a()) == [0, 1, 2, 3]
    dels = [e for e in t._current_entries() if "path" not in e]
    assert [e["content"] for e in dels] == ["position-deletes"]
    # a second commit carries the delete entry forward through avro
    t.append([{"k": 100}])
    assert [e for e in t.refresh()._current_entries() if "path" not in e] == dels
    assert sorted(r["k"] for r in t.to_a()) == [0, 1, 2, 3, 100]


def test_legacy_list_with_predicate_deletes_raises(catalog):
    """A manifest list written by an older engine version whose ``x-irs``
    extras still carry predicate delete entries must raise when read —
    naming the table — instead of silently dropping the deletes, which
    would bring the deleted rows back.  A fast append onto such a list
    raises too, so no new list forgets them either."""
    from iceberg_ruby_spark.avro_file import write_ocf

    t = catalog.create_table("av_legacy", schema={"k": "int"})
    t.append([{"k": i} for i in range(4)])
    path = t.ops._abs(t.current_snapshot().manifest_list)
    schema, records, meta = read_ocf(t.ops.io.read_bytes(path))
    extras = json.loads(meta["x-irs"].decode())
    data_paths = [t.ops._rel(p) for p in t._entry_files(t._current_entries())]
    extras["carried"] = [{"delete-predicate": "k >= 2", "applies-to": data_paths}]
    user_meta = {k: v for k, v in meta.items() if not k.startswith("avro.")}
    user_meta["x-irs"] = json.dumps(extras).encode()
    t.ops.io.write_bytes_atomic(
        path, write_ocf(schema, records, metadata=user_meta), overwrite=True
    )
    for action in (lambda: t.refresh().to_a(), lambda: t.append([{"k": 9}])):
        with pytest.raises(InvalidDataError, match="no longer reads") as err:
            action()
        assert t.ops.location in str(err.value)
        assert "predicate deletes" in str(err.value)


def test_legacy_applies_to_equality_delete_reads_by_sequence(catalog, spark):
    """An older engine wrote verified equality deletes with an engine-only
    ``applies-to`` file list and no sequence marker.  Such a manifest,
    rewritten by hand, must still read — under the spec's sequence rule,
    with the list dropped — and give exactly the rows a spec reader
    (which never saw the list) gives: the matched rows stay dead, rows
    appended after the delete survive."""
    from iceberg_ruby_spark.avro_file import write_ocf
    from tests.support.spec_reader import read_spec_rows

    t = catalog.create_table("av_legacy_eq", schema={"k": "int", "v": "string"})
    t.append([{"k": i, "v": f"a{i}"} for i in range(4)])
    t.append([{"k": i, "v": f"b{i}"} for i in range(10, 14)])
    # what the older engine listed: the files holding a live hit
    hit_files = sorted(
        e["path"] for e in t._current_entries()
        if "path" in e
        and any(
            int(e["lower-bounds"]["k"]) <= k <= int(e["upper-bounds"]["k"])
            for k in (2, 12)
        )
    )
    assert t.delete_by_keys([(2,), (12,)], on="k") == 2
    list_path = t.ops._abs(t.current_snapshot().manifest_list)
    _, list_records, _ = read_ocf(t.ops.io.read_bytes(list_path))
    rewritten = 0
    for rec in list_records:
        mpath = rec["manifest_path"]
        schema, records, meta = read_ocf(t.ops.io.read_bytes(mpath))
        extras = json.loads(meta["x-irs"].decode())
        for ext in extras["entries"]:
            if ext.get("content") == "equality-deletes":
                ext.pop("key-bounds", None)
                ext["applies-to"] = [t.ops._rel(t.ops._abs(p)) for p in hit_files]
                rewritten += 1
        user_meta = {k: v for k, v in meta.items() if not k.startswith("avro.")}
        user_meta["x-irs"] = json.dumps(extras).encode()
        t.ops.io.write_bytes_atomic(
            mpath, write_ocf(schema, records, metadata=user_meta), overwrite=True
        )
    assert rewritten
    t.append([{"k": 2, "v": "c2"}, {"k": 12, "v": "c12"}])
    t = t.refresh()
    eqs = [e for e in t._current_entries() if e.get("content") == "equality-deletes"]
    assert eqs and all("applies-to" not in e and "key-bounds" not in e for e in eqs)
    rows = t.to_a()
    assert sorted(r["v"] for r in rows) == sorted(
        [f"a{i}" for i in (0, 1, 3)] + [f"b{i}" for i in (10, 11, 13)] + ["c2", "c12"]
    )
    spec_rows = read_spec_rows(spark, t.ops._abs(t.current_snapshot().manifest_list))
    assert sorted(tuple(sorted(r.items())) for r in spec_rows) == sorted(
        tuple(sorted(r.items())) for r in rows
    )


def test_schema_evolution_under_avro(catalog):
    t = catalog.create_table("av9", schema={"a": "int"}, properties=AVRO_PROPS)
    t.append([{"a": 1}])
    with t.update_schema() as u:
        u.add_column("b", "string")
    t.append([{"a": 2, "b": "x"}])
    rows = sorted(t.to_a(), key=lambda r: r["a"])
    assert rows == [{"a": 1, "b": None}, {"a": 2, "b": "x"}]
    # the old file's entry keeps its original schema-id through avro
    sids = sorted(e["schema-id"] for e in t._current_entries())
    assert len(set(sids)) == 2


def test_time_travel_and_changelog_under_avro(catalog):
    t = catalog.create_table("av10", schema={"a": "int"}, properties=AVRO_PROPS)
    t.append([{"a": 1}])
    s1 = t.current_snapshot().snapshot_id
    t.append([{"a": 2}])
    assert sorted(r["a"] for r in t.scan(snapshot_id=s1).to_a()) == [1]
    assert sorted(r["a"] for r in t.to_a()) == [1, 2]
    changes = t.changelog_scan(from_snapshot_id=s1).collect()
    assert [r["a"] for r in changes] == [2]


def test_rename_survival_with_positional_deletes(catalog):
    t = catalog.create_table("av11", schema={"k": "int"}, properties=AVRO_PROPS)
    t.append([{"k": i} for i in range(6)])
    t.delete_where("k = 2", mode="merge-on-read-positional")
    catalog.rename_table("av11", "av11renamed")
    t2 = catalog.load_table("av11renamed")
    assert sorted(r["k"] for r in t2.to_a()) == [0, 1, 3, 4, 5]


def test_compaction_under_avro(catalog):
    t = catalog.create_table("av12", schema={"a": "int"}, properties=AVRO_PROPS)
    for i in range(3):
        t.append([{"a": i}])
    assert len(t._entry_files(t._current_entries())) == 3
    t.compact()
    assert len(t._entry_files(t._current_entries())) == 1
    assert sorted(r["a"] for r in t.to_a()) == [0, 1, 2]


@pytest.mark.parametrize(
    "t,value",
    [
        (ice_t.BooleanType(), True),
        (ice_t.IntType(), -2147483648),
        (ice_t.LongType(), 2**62),
        (ice_t.FloatType(), 1.5),
        (ice_t.DoubleType(), -2.5e300),
        (ice_t.DateType(), "1969-07-20"),
        (ice_t.TimestampType(), "2024-05-01T10:30:00.123456"),
        (ice_t.DecimalType(10, 2), "123.45"),
        (ice_t.DecimalType(10, 2), "-0.01"),
        (ice_t.StringType(), "héllo"),
    ],
)
def test_bound_binary_roundtrip(t, value):
    b = bound_to_bytes(value, t)
    assert isinstance(b, bytes)
    assert bound_from_bytes(b, t) == value


@pytest.mark.parametrize("fmt", [None, "avro", "json", "bogus"])
def test_manifest_format_property_contract(catalog, fmt):
    """Spec Avro is the only manifest format: an unset property or
    ``avro`` commits an Avro manifest list, any other value — the retired
    ``json`` included — fails the commit naming the property instead of
    silently writing a format the table did not ask for."""
    props = {"write.metadata.manifest-format": fmt} if fmt else None
    t = catalog.create_table(f"avfmt_{fmt}", schema={"k": "int"}, properties=props)
    if fmt in (None, "avro"):
        t.append([{"k": 1}])
        assert t.current_snapshot().manifest_list.endswith(".avro")
        assert [r["k"] for r in t.to_a()] == [1]
    else:
        with pytest.raises(InvalidDataError, match="write.metadata.manifest-format"):
            t.append([{"k": 1}])
        assert t.refresh().current_snapshot() is None


def test_temporal_partition_values_are_spec_epoch_relative(catalog, spark):
    """The engine's directories use calendar encodings (year=2020,
    day=ISO date); the SPEC tuple must be epoch-relative so external
    engines evaluating year(ts)=50-style residuals prune correctly."""
    t = catalog.create_table(
        "avtemporal",
        schema={"ts": "timestamp", "v": "int"},
        partition_spec=[("ts", "year")],
        properties=AVRO_PROPS,
    )
    t.append([{"ts": datetime.datetime(2020, 5, 5, 10), "v": 1}])
    latest = max(_list_files(t), key=os.path.getmtime)
    _, [mf] = _jvm_read(spark, latest)
    _, recs = _jvm_read(spark, mf["manifest_path"])
    assert recs[0]["data_file"]["partition"]["ts_year"] == 2020 - 1970

    t2 = catalog.create_table(
        "avtemporal_d",
        schema={"ts": "timestamp", "v": "int"},
        partition_spec=[("ts", "day")],
        properties=AVRO_PROPS,
    )
    t2.append([{"ts": datetime.datetime(1970, 1, 3, 1), "v": 1}])
    latest = max(_list_files(t2), key=os.path.getmtime)
    _, [mf] = _jvm_read(spark, latest)
    mschema, recs = _jvm_read(spark, mf["manifest_path"])
    # day() results are dates: int days since epoch with the Avro date
    # logical type (1970-01-03 -> 2)
    assert recs[0]["data_file"]["partition"]["ts_day"] == 2
    part_fields = next(
        f for f in mschema["fields"][-1]["type"]["fields"] if f["name"] == "partition"
    )
    day_field = part_fields["type"]["fields"][0]
    assert day_field["type"][1] == {"type": "int", "logicalType": "date"}


def test_carried_entries_keep_sequence_and_status(catalog, spark):
    """Spec sequence semantics: files from earlier snapshots must keep
    their ORIGINAL data sequence number in the delete commit's manifest
    list — equality deletes apply only to data files with data seq
    strictly below the delete's, so re-stamping carried files at the
    current sequence would disable every equality delete for external
    readers.  A MoR delete commit removes nothing, so it chains and reuses
    the parent's data manifests verbatim (their manifest-list rows keep
    their own sequence_number, which null-seq ADDED entries inherit)
    instead of rewriting carried entries as EXISTING — the same spec
    guarantee through the fast-append shape."""
    t = catalog.create_table("avseq", schema={"k": "int"}, properties=AVRO_PROPS)
    t.append([{"k": 1}])                       # seq 1
    t.append([{"k": 2}])                       # seq 2 (append mode carries seq-1 files)
    t.delete_by_keys([(1,)], on="k")           # seq 3: equality delete file
    assert sorted(r["k"] for r in t.to_a()) == [2]
    latest = max(_list_files(t), key=os.path.getmtime)
    _, mfs = _jvm_read(spark, latest)
    data_mfs = [m for m in mfs if m["content"] == 0]
    [del_mf] = [m for m in mfs if m["content"] == 1]
    # chained data manifests keep their original commit's sequence
    assert sorted(m["sequence_number"] for m in data_mfs) == [1, 2]
    # every data entry's EFFECTIVE sequence (explicit, or inherited from
    # its manifest-list row when null + ADDED) stays the original 1 / 2
    eff_seqs = []
    for m in data_mfs:
        assert m["min_sequence_number"] == m["sequence_number"]
        _, data_recs = _jvm_read(spark, m["manifest_path"])
        for r in data_recs:
            if r["sequence_number"] is None:
                assert r["status"] == 1  # null seq may only inherit on ADDED
                eff_seqs.append(m["sequence_number"])
            else:
                eff_seqs.append(r["sequence_number"])
    assert sorted(eff_seqs) == [1, 2]
    _, del_recs = _jvm_read(spark, del_mf["manifest_path"])
    [eq] = [r for r in del_recs if r["data_file"]["content"] == 2]
    assert eq["status"] == 1  # added THIS commit -> inherits seq 3
    assert eq["sequence_number"] is None
    # spec application: every data file's seq (1,2) < the delete's (3)
    assert del_mf["sequence_number"] == 3
    # delete rows counted in added_rows_count (they are ADDED entries),
    # not the deleted_rows_count slot (which counts status=DELETED files)
    assert del_mf["added_rows_count"] >= 1
    assert del_mf["deleted_rows_count"] == 0


def test_maintenance_cycle_under_avro(catalog):
    """expire_snapshots + remove_orphan_files plan entirely from Avro
    metadata: expiry trims history, orphan removal drops the dirs only
    dead snapshots referenced, and the live data still reads."""
    t = catalog.create_table("avmaint", schema={"a": "int"}, properties=AVRO_PROPS)
    for i in range(3):
        t.append([{"a": i}])
    t.compact()
    assert t.expire_snapshots(keep_last=1) == 3
    removed = t.remove_orphan_files()
    assert removed  # the pre-compaction commit dirs are orphaned
    assert sorted(r["a"] for r in t.to_a()) == [0, 1, 2]
    # metadata still spec Avro after the maintenance cycle
    assert t.current_snapshot().manifest_list.endswith(".avro")


def test_spec_evolution_partition_interop(catalog, spark):
    """Round-4 ADVICE (manifests.py): files written under an earlier spec
    must keep their own spec's partition tuple and spec-id in the Avro
    metadata — one manifest per spec, each file's hive path parsed against
    ITS spec's field names, and partition field-ids unique across specs."""
    t = catalog.create_table(
        "av_spec_evo",
        schema={"a": "int", "cat": "string", "reg": "string"},
        partition_spec=[("cat", "identity")],
        properties=AVRO_PROPS,
    )
    t.append([{"a": 1, "cat": "x", "reg": "e"}, {"a": 2, "cat": "y", "reg": "w"}])
    t.update_spec([("reg", "identity")])
    t.append([{"a": 3, "cat": "z", "reg": "n"}])

    # unique field-ids across evolution: reg must NOT collide with cat's 1000
    specs = {s["spec-id"]: s for s in t.partition_specs}
    assert specs[1]["fields"][0]["field-id"] == 1001
    assert t.metadata.raw["last-partition-id"] == 1001

    list_path = t.ops._abs(t.current_snapshot().manifest_list)
    _, mfs = _jvm_read(spark, list_path)
    data_mfs = [m for m in mfs if m["content"] == 0]
    assert sorted(m["partition_spec_id"] for m in data_mfs) == [0, 1]
    by_spec = {m["partition_spec_id"]: m for m in data_mfs}

    # spec-0 manifest: the old files' cat values, parsed against spec 0
    mschema0, recs0 = _jvm_read(spark, by_spec[0]["manifest_path"])
    assert sorted(r["data_file"]["partition"]["cat"] for r in recs0) == ["x", "y"]
    # spec-1 manifest: the new file's reg value, parsed against spec 1
    mschema1, recs1 = _jvm_read(spark, by_spec[1]["manifest_path"])
    assert [r["data_file"]["partition"]["reg"] for r in recs1] == ["n"]

    # each manifest's own metadata names its spec
    for sid, mf in by_spec.items():
        _, _, mmeta = read_ocf(open(mf["manifest_path"], "rb").read())
        assert int(mmeta["partition-spec-id"].decode()) == sid
        spec_json = json.loads(mmeta["partition-spec"].decode())
        assert [f["field-id"] for f in spec_json] == [1000 + sid]

    # engine reads stay correct across the mixed-spec table
    assert sorted(r["a"] for r in t.to_a()) == [1, 2, 3]
    assert [r["a"] for r in t.scan().filter("cat = 'x'").to_a()] == [1]
    assert [r["a"] for r in t.scan().filter("reg = 'n'").to_a()] == [3]


def test_spec_evolution_reuses_field_ids_for_same_source(catalog):
    """A (source, transform) reappearing in a later spec keeps its
    original field-id (Iceberg v2 rule)."""
    t = catalog.create_table(
        "av_spec_reuse",
        schema={"a": "int", "cat": "string", "reg": "string"},
        partition_spec=[("cat", "identity")],
    )
    t.update_spec([("reg", "identity")])
    t.update_spec([("cat", "identity"), ("reg", "identity")])
    specs = {s["spec-id"]: s for s in t.partition_specs}
    ids2 = {f["source"]: f["field-id"] for f in specs[2]["fields"]}
    assert ids2 == {"cat": 1000, "reg": 1001}
    assert t.metadata.raw["last-partition-id"] == 1001


def test_positional_delete_files_are_spec_shaped(catalog, spark):
    """VERDICT r4 item 5: positional deletes are individual spec
    content=1 parquet FILES — reserved field ids 2147483546/2147483545 in
    the footer, full data-file paths in the content, (file_path, pos)
    sorted — one manifest entry per file, not a per-commit directory."""
    import pyarrow.parquet as pq

    t = catalog.create_table("av_posdel", schema={"k": "int"}, properties=AVRO_PROPS)
    t.append([{"k": i} for i in range(8)])
    assert t.delete_where("k >= 5", mode="merge-on-read-positional") == 3

    list_path = t.ops._abs(t.current_snapshot().manifest_list)
    _, mfs = _jvm_read(spark, list_path)
    del_mfs = [m for m in mfs if m["content"] == 1]
    assert del_mfs
    recs = [r for m in del_mfs for r in _jvm_read(spark, m["manifest_path"])[1]]
    data_paths = {
        r["data_file"]["file_path"]
        for m in mfs
        if m["content"] == 0
        for r in _jvm_read(spark, m["manifest_path"])[1]
    }
    assert all(r["data_file"]["content"] == 1 for r in recs)
    total = 0
    for r in recs:
        path = r["data_file"]["file_path"]
        # a real parquet FILE, not a directory prefix
        assert path.endswith(".parquet") and os.path.isfile(path)
        sch = pq.read_schema(path)
        assert sch.names == ["file_path", "pos"]
        ids = {f.name: int(f.metadata[b"PARQUET:field_id"]) for f in sch}
        assert ids == {"file_path": 2147483546, "pos": 2147483545}
        tbl = pq.read_table(path)
        rows = list(zip(tbl.column("file_path").to_pylist(), tbl.column("pos").to_pylist()))
        assert rows == sorted(rows)  # spec sort order
        # content references the same full paths the manifests publish
        assert set(tbl.column("file_path").to_pylist()) <= data_paths
        assert r["data_file"]["record_count"] == len(rows)
        total += len(rows)
    assert total == 3
    # the engine still reads the survivors
    assert sorted(r["k"] for r in t.to_a()) == [0, 1, 2, 3, 4]


def test_equality_delete_files_are_spec_shaped(catalog, spark):
    """Equality deletes: per-FILE content=2 entries whose parquet carries
    the key columns with their Iceberg field ids, record_count = the
    delete file's own row count (spec semantics, not matched data rows)."""
    import pyarrow.parquet as pq

    t = catalog.create_table("av_eqdel", schema={"k": "int", "v": "string"},
                             properties=AVRO_PROPS)
    t.append([{"k": i, "v": f"v{i}"} for i in range(8)])
    assert t.delete_by_keys([(2,), (5,), (99,)], on="k") == 2

    list_path = t.ops._abs(t.current_snapshot().manifest_list)
    _, mfs = _jvm_read(spark, list_path)
    del_mfs = [m for m in mfs if m["content"] == 1]
    recs = [r for m in del_mfs for r in _jvm_read(spark, m["manifest_path"])[1]]
    assert recs and all(r["data_file"]["content"] == 2 for r in recs)
    key_rows = 0
    for r in recs:
        path = r["data_file"]["file_path"]
        assert path.endswith(".parquet") and os.path.isfile(path)
        sch = pq.read_schema(path)
        assert sch.names == ["k"]
        assert int(sch.field("k").metadata[b"PARQUET:field_id"]) == 1
        n = pq.read_metadata(path).num_rows
        assert r["data_file"]["record_count"] == n
        assert r["data_file"]["equality_ids"] == [1]
        key_rows += n
    assert key_rows == 3  # the 3 distinct key tuples, incl. the no-match 99
    assert sorted(r["k"] for r in t.to_a()) == [0, 1, 3, 4, 6, 7]


def test_seq_scoped_equality_delete_roundtrips_avro(catalog, spark, tmp_path):
    """The streaming upsert sink's equality delete (sequence number +
    key-bounds hint, r13) survives the Avro manifest round-trip, and the scan honors the spec rule (strictly-lower data
    sequence) after re-reading the entries from disk."""
    from iceberg_ruby_spark.streaming.sink import (
        EngineTableStreamWriter,
        _FileMsg,
    )
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = catalog.create_table(
        "av_upsert", schema={"k": "long", "v": "long"}, properties=AVRO_PROPS
    )
    t.update_schema().set_identifier_fields("k").commit()
    t = t.refresh()
    writer = EngineTableStreamWriter(
        {"location": t.ops.location, "mode": "upsert"},
        t.spark_schema(),
        overwrite=False,
    )
    data_dir = t.ops.data_dir
    os.makedirs(os.path.join(data_dir, "stream-deletes"), exist_ok=True)

    def commit_batch(b, pairs):
        tbl = pa.table(
            {
                "k": pa.array([k for k, _ in pairs], pa.int64()),
                "v": pa.array([v for _, v in pairs], pa.int64()),
            }
        )
        dpath = os.path.join(data_dir, f"b{b}.parquet")
        pq.write_table(tbl, dpath)
        kpath = os.path.join(data_dir, "stream-deletes", f"k{b}.parquet")
        pq.write_table(tbl.select(["k"]), kpath)
        ks = [k for k, _ in pairs]
        writer.commit(
            [
                _FileMsg(
                    files=[
                        {
                            "path": dpath,
                            "record-count": len(pairs),
                            "file-size-bytes": os.path.getsize(dpath),
                            "lower-bounds": {"k": min(ks)},
                            "upper-bounds": {"k": max(ks)},
                            "null-counts": {},
                        }
                    ],
                    delete_files=[
                        {
                            "path": kpath,
                            "record-count": len(pairs),
                            "file-size-bytes": os.path.getsize(kpath),
                            "lower-bounds": {"k": min(ks)},
                            "upper-bounds": {"k": max(ks)},
                            "null-counts": {"k": 0},
                        }
                    ],
                )
            ],
            b,
        )

    commit_batch(0, [(1, 10), (2, 20)])
    commit_batch(1, [(2, 21), (3, 30)])
    t = t.refresh()
    # entries re-read from the AVRO manifests, not the in-memory dicts
    eqs = [
        e
        for e in t._current_entries()
        if e.get("content") == "equality-deletes"
    ]
    assert len(eqs) == 1
    e = eqs[0]
    assert e["content"] == "equality-deletes"
    assert e["data-sequence-number"] == t.current_snapshot().sequence_number
    assert "applies-to" not in e
    assert e["key-bounds"] == {"lower": {"k": 2}, "upper": {"k": 3}}
    assert e["equality-cols"] == ["k"]
    assert e["data-sequence-number"] is not None
    data = [x for x in t._current_entries() if "path" in x]
    assert {x["data-sequence-number"] for x in data} == {
        e["data-sequence-number"] - 1,
        e["data-sequence-number"],
    }
    assert {r["k"]: r["v"] for r in t.to_a()} == {1: 10, 2: 21, 3: 30}


def test_manifest_list_partition_field_summaries(catalog, spark):
    """r13: manifest-list rows carry the spec's per-partition-field
    summaries (field_summary: contains_null + binary lower/upper bounds)
    — what an EXTERNAL Iceberg reader prunes whole manifests with.
    Decoded with the JVM's own Avro reader; bounds round-trip through
    the spec's little-endian single-value serialization."""
    import struct

    t = catalog.create_table(
        "av_psum",
        schema={"p": "long", "k": "long"},
        partition_spec=["p"],
        properties=AVRO_PROPS,
    )
    t.append([{"p": 3, "k": 1}, {"p": 7, "k": 2}, {"p": 5, "k": 3}])
    t = t.refresh()
    list_path = t.ops._abs(t.current_snapshot().manifest_list)
    _, mfs = _jvm_read(spark, list_path)
    data_mfs = [m for m in mfs if m["content"] == 0]
    assert data_mfs
    s = data_mfs[0]["partitions"]
    assert s is not None and len(s) == 1
    fs = s[0]
    assert fs["contains_null"] is False
    # GenericRecord.toString renders bytes as a JSON string of
    # codepoints 0-255 - latin-1 recovers the payload
    assert struct.unpack("<q", fs["lower_bound"].encode("latin-1"))[0] == 3
    assert struct.unpack("<q", fs["upper_bound"].encode("latin-1"))[0] == 7
    # a NULL partition value flips contains_null in the NEXT commit's
    # delta manifest (identity spec: nulls land in the hive default dir)
    t.append(
        spark.createDataFrame([(None, 9)], "p long, k long").coalesce(1)
    )
    t = t.refresh()
    _, mfs = _jvm_read(spark, t.ops._abs(t.current_snapshot().manifest_list))
    sums = [m["partitions"] for m in mfs if m["content"] == 0 and m["partitions"]]
    assert any(s2[0]["contains_null"] for s2 in sums)
