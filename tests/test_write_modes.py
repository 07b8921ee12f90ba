"""``write.delete.mode`` / ``write.update.mode`` / ``write.merge.mode``
table properties route SQL DML and default API calls to CoW or MoR —
Iceberg's TableProperties engine contract (iceberg-spark honors these; a
user setting ``merge-on-read`` must not silently get full file rewrites).

The spec value ``merge-on-read`` resolves by format version for row-level
deletes: deletion vectors on v3 (position delete *files* are illegal
there), positional delete files on v2."""

from __future__ import annotations

import pytest

from iceberg_ruby_spark.errors import InvalidDataError


def _entries(t, content):
    return [e for e in t._current_entries() if e.get("content") == content]


def _data_paths(t):
    return sorted(
        e["path"] for e in t._current_entries() if "path" in e and not e.get("content")
    )


# -- write.delete.mode -------------------------------------------------------


def test_delete_mode_default_is_copy_on_write(catalog):
    t = catalog.create_table("d0", schema={"k": "int"})
    t.append([{"k": i} for i in range(10)])
    before = _data_paths(t)
    assert t.delete_where("k >= 8") == 2
    assert _data_paths(t) != before  # file rewritten
    assert not _entries(t, "position-deletes") and not _entries(t, "deletion-vector")


def test_delete_mode_merge_on_read_resolves_positional_on_v2(catalog):
    t = catalog.create_table(
        "d2", schema={"k": "int"}, properties={"write.delete.mode": "merge-on-read"}
    )
    t.append([{"k": i} for i in range(10)])
    before = _data_paths(t)
    assert t.delete_where("k >= 8") == 2
    assert _data_paths(t) == before  # no rewrite
    assert _entries(t, "position-deletes")
    assert not _entries(t, "deletion-vector")
    assert sorted(r["k"] for r in t.to_a()) == list(range(8))


def test_delete_mode_merge_on_read_resolves_dv_on_v3(catalog):
    t = catalog.create_table(
        "d3",
        schema={"k": "int"},
        properties={"format-version": "3", "write.delete.mode": "merge-on-read"},
    )
    t.append([{"k": i} for i in range(10)])
    before = _data_paths(t)
    assert t.delete_where("k >= 8") == 2
    assert _data_paths(t) == before
    assert _entries(t, "deletion-vector")
    assert not _entries(t, "position-deletes")
    assert sorted(r["k"] for r in t.to_a()) == list(range(8))


@pytest.mark.parametrize("fv", ["2", "3"])
@pytest.mark.parametrize("op", ["delete", "update"])
def test_mor_argument_and_property_write_same_kind(catalog, op, fv):
    """``merge-on-read`` maps through ONE resolver whether it comes from
    the ``mode=`` argument or the ``write.<op>.mode`` property: the same
    spec delete kind — position deletes on v2, deletion vectors on v3 —
    and no data file rewritten.  The retired predicate flavor is an
    unknown mode."""

    def run(t, **kw):
        if op == "delete":
            return t.delete_where("k >= 8", **kw)
        return t.update_where({"v": "'u'"}, "k >= 8", **kw)

    kinds = []
    for src in ("arg", "prop"):
        props = {"format-version": fv}
        if src == "prop":
            props[f"write.{op}.mode"] = "merge-on-read"
        t = catalog.create_table(
            f"mor_{op}_{src}_v{fv}",
            schema={"k": "int", "v": "string"},
            properties=props,
        )
        t.append([{"k": i, "v": "a"} for i in range(10)])
        before = _data_paths(t)
        assert run(t, **({"mode": "merge-on-read"} if src == "arg" else {})) == 2
        assert set(before) <= set(_data_paths(t))
        kinds.append(
            {e["content"] for e in t._current_entries() if "delete-file" in e}
        )
    want = {"deletion-vector" if fv == "3" else "position-deletes"}
    assert kinds == [want, want]
    with pytest.raises(InvalidDataError, match=f"unknown {op} mode"):
        run(t, mode="merge-on-read-predicate")


def test_delete_mode_explicit_arg_overrides_property(catalog):
    t = catalog.create_table(
        "d5", schema={"k": "int"}, properties={"write.delete.mode": "merge-on-read"}
    )
    t.append([{"k": i} for i in range(10)])
    before = _data_paths(t)
    assert t.delete_where("k >= 8", mode="copy-on-write") == 2
    assert _data_paths(t) != before
    assert not _entries(t, "position-deletes")


def test_sql_delete_honors_property_dv(catalog):
    t = catalog.create_table(
        "sqldv",
        schema={"k": "int"},
        properties={"format-version": "3", "write.delete.mode": "merge-on-read"},
    )
    t.append([{"k": i} for i in range(10)])
    res = catalog.sql("DELETE FROM sqldv WHERE k % 3 = 0")
    assert res.rows == [[4]]
    t = catalog.load_table("sqldv")
    assert _entries(t, "deletion-vector")
    assert sorted(r["k"] for r in t.to_a()) == [k for k in range(10) if k % 3]


def test_sql_delete_honors_property_positional(catalog):
    t = catalog.create_table(
        "sqlpos",
        schema={"k": "int"},
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append([{"k": i} for i in range(10)])
    catalog.sql("DELETE FROM sqlpos WHERE k < 2")
    t = catalog.load_table("sqlpos")
    assert _entries(t, "position-deletes")
    assert sorted(r["k"] for r in t.to_a()) == list(range(2, 10))


# -- write.update.mode -------------------------------------------------------


def test_update_mode_merge_on_read_positional_v2(catalog):
    t = catalog.create_table(
        "u2",
        schema={"k": "int", "v": "string"},
        properties={"write.update.mode": "merge-on-read"},
    )
    t.append([{"k": i, "v": "old"} for i in range(10)])
    before = _data_paths(t)
    assert t.update_where({"v": "'new'"}, "k >= 7") == 3
    # old files untouched; updated versions are NEW files; old versions
    # dead via positional deletes
    assert set(before) <= set(_data_paths(t))
    assert len(_data_paths(t)) > len(before)
    assert _entries(t, "position-deletes")
    rows = {r["k"]: r["v"] for r in t.to_a()}
    assert len(rows) == 10
    assert all(v == ("new" if k >= 7 else "old") for k, v in rows.items())


def test_update_mode_merge_on_read_dv_v3_with_lineage(catalog):
    t = catalog.create_table(
        "u3",
        schema={"k": "int", "v": "string"},
        properties={"format-version": "3", "write.update.mode": "merge-on-read"},
    )
    t.append([{"k": i, "v": "old"} for i in range(10)])
    ids_before = {
        r["k"]: r["_row_id"] for r in t.scan().with_row_lineage().to_a()
    }
    before = _data_paths(t)
    assert t.update_where({"v": "'new'"}, "k >= 7") == 3
    assert set(before) <= set(_data_paths(t))
    assert _entries(t, "deletion-vector")
    rows = {r["k"]: r["v"] for r in t.to_a()}
    assert len(rows) == 10
    assert all(v == ("new" if k >= 7 else "old") for k, v in rows.items())
    # v3 row lineage: updated rows KEEP their _row_id through the MoR update
    ids_after = {r["k"]: r["_row_id"] for r in t.scan().with_row_lineage().to_a()}
    assert ids_after == ids_before


def test_sql_update_honors_property(catalog):
    t = catalog.create_table(
        "squ",
        schema={"k": "int", "v": "string"},
        properties={"format-version": "3", "write.update.mode": "merge-on-read"},
    )
    t.append([{"k": i, "v": "a"} for i in range(6)])
    res = catalog.sql("UPDATE squ SET v = 'b' WHERE k >= 4")
    assert res.rows == [[2]]
    t = catalog.load_table("squ")
    assert _entries(t, "deletion-vector")
    assert sorted(r["k"] for r in t.to_a() if r["v"] == "b") == [4, 5]


def test_update_mode_unknown_raises(catalog):
    t = catalog.create_table("ubad", schema={"k": "int"})
    t.append([{"k": 1}])
    with pytest.raises(InvalidDataError):
        t.update_where({"k": "2"}, "k = 1", mode="nope")


# -- write.merge.mode --------------------------------------------------------


def test_merge_mode_merge_on_read_property(catalog, spark):
    t = catalog.create_table(
        "m1",
        schema={"k": "int", "v": "string"},
        properties={"write.merge.mode": "merge-on-read"},
    )
    t.append([{"k": i, "v": "old"} for i in range(6)])
    before = _data_paths(t)
    src = spark.createDataFrame([(4, "upd"), (9, "ins")], "k int, v string")
    t.merge_into(src, on="k", when_matched_update={"v": "s.v"})
    # MoR merge: equality delete + appended files, no rewrite of old files
    assert set(before) <= set(_data_paths(t))
    assert _entries(t, "equality-deletes")
    rows = {r["k"]: r["v"] for r in t.to_a()}
    assert rows[4] == "upd" and rows[9] == "ins" and rows[0] == "old"


def test_merge_mode_default_cow(catalog, spark):
    t = catalog.create_table("m0", schema={"k": "int", "v": "string"})
    t.append([{"k": i, "v": "old"} for i in range(6)])
    src = spark.createDataFrame([(4, "upd")], "k int, v string")
    t.merge_into(src, on="k", when_matched_update={"v": "s.v"})
    assert not _entries(t, "equality-deletes")
    assert {r["k"]: r["v"] for r in t.to_a()}[4] == "upd"


def test_mor_modes_on_partitioned_v3_table(catalog):
    """Property-routed MoR DELETE and UPDATE must hold on hidden-partitioned
    tables: vectors attach to partitioned data files, updated row versions
    land in the right partitions, partition pruning still applies."""
    t = catalog.create_table(
        "part_mor",
        schema={"k": "int", "grp": "string"},
        partition_spec=[("grp", "identity")],
        properties={
            "format-version": "3",
            "write.delete.mode": "merge-on-read",
            "write.update.mode": "merge-on-read",
        },
    )
    t.append([{"k": i, "grp": "ab"[i % 2]} for i in range(20)])
    assert t.delete_where("k >= 14") == 6
    assert _entries(t, "deletion-vector")
    assert sorted(r["k"] for r in t.to_a()) == list(range(14))
    assert t.update_where({"grp": "'z'"}, "k < 2") == 2
    rows = {r["k"]: r["grp"] for r in t.to_a()}
    assert rows[0] == "z" and rows[1] == "z" and rows[2] == "a"
    # updated versions are readable through the partition filter
    assert sorted(r["k"] for r in t.scan().filter("grp = 'z'").to_a()) == [0, 1]
    assert len(rows) == 14


def test_mor_update_never_resurrects_dead_rows(catalog):
    """A MoR UPDATE whose predicate overlaps already-dead rows must skip
    them for every prior delete flavor: DV, equality, and predicate —
    both the returned count (an honest delta) and the new row versions."""
    t = catalog.create_table(
        "nores1",
        schema={"k": "int", "v": "string"},
        properties={
            "format-version": "3",
            "write.delete.mode": "merge-on-read",
            "write.update.mode": "merge-on-read",
        },
    )
    t.append([{"k": i, "v": "old"} for i in range(10)])
    assert t.delete_where("k in (7, 8)") == 2        # DV
    assert t.update_where({"v": "'new'"}, "k >= 6") == 2  # 6 and 9 only
    rows = sorted((r["k"], r["v"]) for r in t.to_a())
    assert (7, "new") not in rows and (8, "new") not in rows
    assert len(rows) == 8 and (6, "new") in rows and (9, "new") in rows

    t2 = catalog.create_table(
        "nores2",
        schema={"k": "int", "v": "string"},
        properties={"format-version": "3", "write.update.mode": "merge-on-read"},
    )
    t2.append([{"k": i, "v": "old"} for i in range(6)])
    t2.delete_by_keys([{"k": 2}], on="k")            # equality delete
    assert t2.update_where({"v": "'x'"}, "k >= 2") == 3
    rows2 = sorted((r["k"], r["v"]) for r in t2.to_a())
    assert (2, "x") not in rows2 and len(rows2) == 5

    t3 = catalog.create_table(
        "nores3",
        schema={"k": "int"},
        properties={"format-version": "3", "write.update.mode": "merge-on-read"},
    )
    t3.append([{"k": i} for i in range(6)])
    t3.delete_where("k = 5", mode="merge-on-read")   # DV delete
    assert t3.update_where({"k": "k + 100"}, "k >= 4") == 1
    assert sorted(r["k"] for r in t3.to_a()) == [0, 1, 2, 3, 104]


def test_branch_scoped_delete_and_update_wap(catalog):
    """Branch-scoped DML (write-audit-publish for mutations, not just
    appends): deletes and updates against a branch are invisible on main
    until fast_forward publishes the branch head."""
    t = catalog.create_table(
        "wap_dml",
        schema={"k": "int", "v": "string"},
        properties={"format-version": "3"},
    )
    t.append([{"k": i, "v": "old"} for i in range(10)])
    t.create_branch("audit")
    assert t.delete_where("k >= 8", mode="merge-on-read-dv", branch="audit") == 2
    assert (
        t.update_where({"v": "'fixed'"}, "k = 0", mode="merge-on-read-dv",
                       branch="audit")
        == 1
    )
    # CoW flavors scope to the branch too
    assert t.delete_where("k = 7", mode="copy-on-write", branch="audit") == 1
    t = t.refresh()
    assert sorted((r["k"], r["v"]) for r in t.to_a()) == [
        (i, "old") for i in range(10)
    ]  # main untouched
    audit = sorted((r["k"], r["v"]) for r in t.to_a(ref="audit"))
    assert audit == [(0, "fixed")] + [(i, "old") for i in range(1, 7)]
    t.fast_forward("main", "audit")
    assert sorted((r["k"], r["v"]) for r in t.refresh().to_a()) == audit


def test_branch_scoped_merge_and_delete_by_keys(catalog, spark):
    t = catalog.create_table(
        "wap_merge",
        schema={"k": "int", "v": "string"},
        properties={"format-version": "3"},
    )
    t.append([{"k": i, "v": "old"} for i in range(6)])
    t.create_branch("stage")
    src = spark.createDataFrame([(2, "upd"), (9, "ins")], "k int, v string")
    t.merge_into(
        src, on="k", when_matched_update={"v": "s.v"}, mode="merge-on-read",
        branch="stage",
    )
    t.delete_by_keys([{"k": 0}], on="k", branch="stage")
    t = t.refresh()
    assert sorted((r["k"], r["v"]) for r in t.to_a()) == [
        (i, "old") for i in range(6)
    ]
    stage = sorted((r["k"], r["v"]) for r in t.to_a(ref="stage"))
    assert stage == [(1, "old"), (2, "upd"), (3, "old"), (4, "old"),
                     (5, "old"), (9, "ins")]
    t.fast_forward("main", "stage")
    assert sorted((r["k"], r["v"]) for r in t.refresh().to_a()) == stage


def test_merge_when_matched_delete(catalog, spark):
    """WHEN MATCHED [AND cond] THEN DELETE, both modes + SQL route."""
    src_rows = [
        {"k": 1, "v": "a2", "op": "upsert"},
        {"k": 2, "v": None, "op": "delete"},
        {"k": 4, "v": "d", "op": "upsert"},
    ]
    expect = [(1, "a2"), (3, "c"), (4, "d")]
    for nm, mode in (("md_cow", None), ("md_mor", "merge-on-read")):
        t = catalog.create_table(nm, schema={"k": "int", "v": "string"})
        t.append([{"k": 1, "v": "a"}, {"k": 2, "v": "b"}, {"k": 3, "v": "c"}])
        src = spark.createDataFrame(
            [(r["k"], r["v"], r["op"]) for r in src_rows],
            "k int, v string, op string",
        )
        t.merge_into(
            src,
            on="k",
            when_matched_update={"v": "s.v"},
            when_matched_delete="s.op = 'delete'",
            mode=mode,
        )
        assert sorted((r["k"], r["v"]) for r in t.refresh().to_a()) == expect
    # SQL spelling, delete clause ahead of update (evaluation order)
    t = catalog.create_table("md_sql", schema={"k": "int", "v": "string"})
    t.append([{"k": 1, "v": "a"}, {"k": 2, "v": "b"}, {"k": 3, "v": "c"}])
    s = catalog.create_table(
        "md_src", schema={"k": "int", "v": "string", "op": "string"}
    )
    s.append(src_rows)
    catalog.sql(
        """MERGE INTO md_sql USING md_src ON md_sql.k = md_src.k
           WHEN MATCHED AND md_src.op = 'delete' THEN DELETE
           WHEN MATCHED THEN UPDATE SET v = md_src.v
           WHEN NOT MATCHED THEN INSERT *"""
    )
    assert sorted(
        (r["k"], r["v"]) for r in catalog.load_table("md_sql").to_a()
    ) == expect
    # unconditional delete-only merge
    t2 = catalog.create_table("md_only", schema={"k": "int", "v": "string"})
    t2.append([{"k": 1, "v": "a"}, {"k": 2, "v": "b"}])
    t2.merge_into(
        spark.createDataFrame([(1,)], "k int"),
        on="k",
        when_matched_delete=True,
        when_not_matched_insert=False,
    )
    assert t2.refresh().to_a() == [{"k": 2, "v": "b"}]


def test_merge_not_matched_by_source_delete(catalog, spark):
    for nm, mode in (("fs_cow", None), ("fs_mor", "merge-on-read")):
        t = catalog.create_table(nm, schema={"k": "int", "v": "string"})
        t.append(
            [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}, {"k": 3, "v": "c"},
             {"k": 9, "v": "keep"}]
        )
        src = spark.createDataFrame([(1, "a2"), (4, "d")], "k int, v string")
        # conditional: only keys < 5 are eligible for pruning
        t.merge_into(
            src,
            on="k",
            when_matched_update={"v": "s.v"},
            when_not_matched_by_source_delete="t.k < 5",
            mode=mode,
        )
        assert sorted((r["k"], r["v"]) for r in t.refresh().to_a()) == [
            (1, "a2"), (4, "d"), (9, "keep")
        ]
    # SQL full sync: target becomes exactly the source snapshot
    t = catalog.create_table("fs_sql", schema={"k": "int", "v": "string"})
    t.append([{"k": 1, "v": "a"}, {"k": 2, "v": "b"}])
    s = catalog.create_table("fs_snap", schema={"k": "int", "v": "string"})
    s.append([{"k": 1, "v": "a2"}, {"k": 3, "v": "c"}])
    catalog.sql(
        """MERGE INTO fs_sql USING fs_snap ON fs_sql.k = fs_snap.k
           WHEN MATCHED THEN UPDATE SET v = fs_snap.v
           WHEN NOT MATCHED BY SOURCE THEN DELETE
           WHEN NOT MATCHED THEN INSERT *"""
    )
    assert sorted(
        (r["k"], r["v"]) for r in catalog.load_table("fs_sql").to_a()
    ) == [(1, "a2"), (3, "c")]


def test_merge_not_matched_by_source_update(catalog, spark):
    """r10: the remaining ANSI by-source clause — WHEN NOT MATCHED BY
    SOURCE [AND cond] THEN UPDATE SET — CoW ≡ MoR, lineage intact, and
    the clause composes with by-source DELETE (delete wins first)."""
    results = {}
    for nm, mode in (("nmu_cow", None), ("nmu_mor", "merge-on-read")):
        t = catalog.create_table(nm, schema={"k": "int", "v": "string"})
        t.append(
            [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}, {"k": 3, "v": "c"},
             {"k": 9, "v": "keep"}]
        )
        src = spark.createDataFrame([(1, "a2"), (4, "d")], "k int, v string")
        # rows absent from the source and k < 5 get stamped stale; k=9
        # fails the clause condition and is untouched
        t.merge_into(
            src,
            on="k",
            when_matched_update={"v": "s.v"},
            when_not_matched_by_source_update={"v": "concat(t.v, '-stale')"},
            when_not_matched_by_source_condition="t.k < 5",
            mode=mode,
        )
        results[nm] = sorted((r["k"], r["v"]) for r in t.refresh().to_a())
    assert results["nmu_cow"] == results["nmu_mor"] == [
        (1, "a2"), (2, "b-stale"), (3, "c-stale"), (4, "d"), (9, "keep")
    ]
    # delete + update composed: delete claims k=2, update stamps k=3
    for nm, mode in (("nmu2_cow", None), ("nmu2_mor", "merge-on-read")):
        t = catalog.create_table(nm, schema={"k": "int", "v": "string"})
        t.append([{"k": 1, "v": "a"}, {"k": 2, "v": "b"}, {"k": 3, "v": "c"}])
        src = spark.createDataFrame([(1, "a2")], "k int, v string")
        t.merge_into(
            src,
            on="k",
            when_matched_update={"v": "s.v"},
            when_not_matched_by_source_delete="t.k = 2",
            when_not_matched_by_source_update={"v": "upper(t.v)"},
            mode=mode,
        )
        assert sorted((r["k"], r["v"]) for r in t.refresh().to_a()) == [
            (1, "a2"), (3, "C")
        ], nm
    # condition without the update clause is a typed error
    t = catalog.load_table("nmu_cow")
    src = spark.createDataFrame([(1, "x")], "k int, v string")
    with pytest.raises(InvalidDataError, match="requires"):
        t.merge_into(src, on="k", when_not_matched_by_source_condition="t.k < 5")
    # SQL spelling
    ts = catalog.create_table("nmu_sql", schema={"k": "int", "v": "string"})
    ts.append([{"k": 1, "v": "a"}, {"k": 2, "v": "b"}])
    ss = catalog.create_table("nmu_src", schema={"k": "int", "v": "string"})
    ss.append([{"k": 1, "v": "a2"}, {"k": 3, "v": "c"}])
    catalog.sql(
        """MERGE INTO nmu_sql USING nmu_src ON nmu_sql.k = nmu_src.k
           WHEN MATCHED THEN UPDATE SET v = nmu_src.v
           WHEN NOT MATCHED BY SOURCE AND nmu_sql.k = 2
             THEN UPDATE SET v = concat(nmu_sql.v, '!')
           WHEN NOT MATCHED THEN INSERT *"""
    )
    assert sorted(
        (r["k"], r["v"]) for r in catalog.load_table("nmu_sql").to_a()
    ) == [(1, "a2"), (2, "b!"), (3, "c")]


def test_merge_by_source_conditional_delete_plus_update_sql(catalog, spark):
    """Regression (r10 review): a conditional by-source DELETE followed by
    a by-source UPDATE in the SAME statement — the UPDATE regex's lazy
    AND-group used to swallow the DELETE clause text, erasing the delete
    and feeding a garbage condition to the update."""
    t = catalog.create_table("nmix_sql", schema={"k": "int", "v": "string"})
    t.append([{"k": 1, "v": "a"}, {"k": 2, "v": "b"}, {"k": 3, "v": "c"}])
    src = spark.createDataFrame([(1, "A")], ["k", "v"])
    src.createOrReplaceTempView("nmix_src")
    catalog.sql(
        """MERGE INTO nmix_sql USING nmix_src s ON nmix_sql.k = s.k
           WHEN MATCHED THEN UPDATE SET v = s.v
           WHEN NOT MATCHED BY SOURCE AND nmix_sql.k = 2 THEN DELETE
           WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'stale'"""
    )
    rows = sorted((r["k"], r["v"]) for r in t.refresh().to_a())
    # k=1 matched-updated; k=2 deleted by the conditional clause; k=3
    # (not matched by source, delete condition false) takes the UPDATE
    assert rows == [(1, "A"), (3, "stale")]
