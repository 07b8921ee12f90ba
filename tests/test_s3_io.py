"""S3FileIO against the in-process fake client: the FileIO atomicity
contract on ``s3://`` paths, plus the FsTableOps metadata commit
protocol (version CAS, relative manifest paths) running entirely on S3
metadata storage — reference parity: OpenDAL FS-vs-S3 routing at
``ext/iceberg/src/catalog.rs:510-524``.  The parquet data plane needs
``fs.s3a.*`` on a real cluster and is exercised on local paths."""

import json

import pytest

from iceberg_ruby_spark.io import S3FileIO
from tests.support.s3_stub import FakeS3Client


@pytest.fixture()
def io():
    return S3FileIO(client=FakeS3Client())


def test_write_atomic_is_conditional(io):
    io.write_atomic("s3://b/t/metadata/v1.json", "one")
    assert io.read("s3://b/t/metadata/v1.json") == "one"
    with pytest.raises(FileExistsError):
        io.write_atomic("s3://b/t/metadata/v1.json", "two")
    # losing writer did not clobber
    assert io.read("s3://b/t/metadata/v1.json") == "one"
    io.write_atomic("s3://b/t/metadata/v1.json", "three", overwrite=True)
    assert io.read("s3://b/t/metadata/v1.json") == "three"


def test_replace_and_exists_and_size(io):
    assert not io.exists("s3://b/t/hint")
    io.replace("s3://b/t/hint", "1")
    io.replace("s3://b/t/hint", "2")
    assert io.read("s3://b/t/hint") == "2"
    assert io.exists("s3://b/t/hint")
    assert io.size("s3://b/t/hint") == 1
    assert io.size("s3://b/t/missing") is None
    # prefix ("directory") existence via its children
    assert io.exists("s3://b/t")


def test_read_missing_raises(io):
    with pytest.raises(FileNotFoundError):
        io.read("s3://b/none")


def test_list_paginates_and_list_children(io):
    for i in range(5):
        io.replace(f"s3://b/t/data/f{i}.parquet", "x")
    io.replace("s3://b/t/metadata/v1.json", "m")
    # page_size=2 in the fake → listing exercises continuation tokens
    assert len(list(io.list("s3://b/t/data"))) == 5
    assert io.list_children("s3://b/t") == ["data", "metadata"]
    io.delete_prefix("s3://b/t/data")
    assert list(io.list("s3://b/t/data")) == []


def test_list_yields_exact_key_alongside_subtree(io):
    """Round-4 ADVICE regression: an object at the exact key must be
    listed even when other objects exist under key + '/' (legal S3
    layout) — the probe must not be skipped just because the subtree
    listing is non-empty."""
    io.replace("s3://b/t/a", "exact")
    io.replace("s3://b/t/a/child", "nested")
    got = sorted(io.list("s3://b/t/a"))
    assert got == ["s3://b/t/a", "s3://b/t/a/child"]
    # bare file with empty subtree still lists itself
    io.replace("s3://b/t/solo.json", "x")
    assert list(io.list("s3://b/t/solo.json")) == ["s3://b/t/solo.json"]


def test_move_prefix(io):
    io.replace("s3://b/t1/metadata/v1.json", "m")
    io.replace("s3://b/t1/data/f.parquet", "d")
    io.move_prefix("s3://b/t1", "s3://b/t2")
    assert io.read("s3://b/t2/metadata/v1.json") == "m"
    assert io.read("s3://b/t2/data/f.parquet") == "d"
    assert list(io.list("s3://b/t1")) == []


def test_fs_table_ops_metadata_protocol_on_s3(io):
    """The whole optimistic-commit metadata protocol on s3:// storage:
    versioned commits CAS through conditional puts, manifests store
    location-relative paths (prefix-stripped, not os.path-mangled)."""
    from iceberg_ruby_spark.table import FsTableOps

    ops = FsTableOps("s3://b/wh/ns/t", io=io)
    meta1 = {"location": "s3://b/wh/ns/t", "snapshots": []}
    committed = ops.commit(None, meta1)
    assert committed.version == 1
    assert ops.current_version() == 1
    assert ops.load().raw["location"] == "s3://b/wh/ns/t"

    # stale base loses the race
    ops.commit(1, {**meta1, "note": "v2"})
    with pytest.raises(FileExistsError):
        ops.commit(1, {**meta1, "note": "conflict"})
    assert ops.current_version() == 2

    # manifest paths relativize against the URI location and round-trip
    from iceberg_ruby_spark import types as ice_t
    from iceberg_ruby_spark.avro_file import read_ocf
    from iceberg_ruby_spark.manifests import ManifestContext

    schema = ice_t.Schema([ice_t.NestedField(1, "a", ice_t.LongType())])
    ctx = ManifestContext(
        schemas_by_id={0: schema}, current_schema_id=0, spec_fields=[],
        spec_id=0, sequence_number=1, parent_snapshot_id=None,
    )
    paths = ["s3://b/wh/ns/t/data/c1/f.parquet", "s3://elsewhere/external.parquet"]
    entries = [
        {"path": p, "record-count": 10 - 9 * i, "file-size-bytes": 100}
        for i, p in enumerate(paths)
    ]
    mpath = ops.write_manifest(123, entries, ctx)
    assert mpath.startswith("metadata/snap-123-") and mpath.endswith(".avro")
    _, list_recs, list_meta = read_ocf(io.read_bytes("s3://b/wh/ns/t/" + mpath))
    [mf] = list_recs  # entries live in the manifest, not in the list
    assert mf["manifest_path"].startswith("s3://b/wh/ns/t/metadata/")
    assert json.loads(list_meta["x-irs"])["manifests"][0].startswith("metadata/")
    _, _, mmeta = read_ocf(io.read_bytes(mf["manifest_path"]))
    stored = json.loads(mmeta["x-irs"])["entries"]
    assert stored[0]["rel"] == "data/c1/f.parquet"
    assert stored[1]["rel"] == "s3://elsewhere/external.parquet"
    back = ops.read_manifest(mpath)
    assert [e["path"] for e in back] == paths
    assert [e["record-count"] for e in back] == [10, 1]


def test_concurrent_commit_single_winner(io):
    from iceberg_ruby_spark.table import FsTableOps

    ops_a = FsTableOps("s3://b/wh/ns/race", io=io)
    ops_b = FsTableOps("s3://b/wh/ns/race", io=io)
    ops_a.commit(None, {"location": "s3://b/wh/ns/race"})
    ops_a.commit(1, {"location": "s3://b/wh/ns/race", "w": "a"})
    with pytest.raises(FileExistsError):
        ops_b.commit(1, {"location": "s3://b/wh/ns/race", "w": "b"})
    assert ops_a.load().raw["w"] == "a"


def test_binary_bridge_roundtrips_avro_and_puffin(io):
    """The FileIO base class bridges binary reads/writes through the text
    methods via latin-1 for str-based backends; real Avro OCF and Puffin
    payloads (arbitrary bytes incl. NUL and >0x7F) must survive it."""
    from iceberg_ruby_spark.avro_file import read_ocf, write_ocf
    from iceberg_ruby_spark.puffin import read_puffin, write_puffin

    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "a", "type": "long"}],
    }
    ocf = write_ocf(schema, [{"a": -1}, {"a": 2**62}], codec="deflate")
    io.write_bytes_atomic("s3://b/t/metadata/m0.avro", ocf, overwrite=True)
    back = io.read_bytes("s3://b/t/metadata/m0.avro")
    assert back == ocf
    _, records, _ = read_ocf(back)
    assert records == [{"a": -1}, {"a": 2**62}]

    pf = write_puffin(
        [
            {
                "type": "t",
                "fields": [1],
                "snapshot-id": 7,
                "sequence-number": 1,
                "payload": bytes(range(256)),
                "properties": {},
            }
        ]
    )
    io.write_bytes_atomic("s3://b/t/metadata/s.puffin", pf, overwrite=True)
    blobs, _ = read_puffin(io.read_bytes("s3://b/t/metadata/s.puffin"))
    assert blobs[0]["payload"] == bytes(range(256))
