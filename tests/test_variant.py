"""Iceberg v3 ``variant`` type (the v3 spec's semi-structured type,
mapped onto Spark 4's native VariantType).

Spec rules pinned here: variant is v3-only (create AND evolution gate),
carries no bounds/stats, cannot source a partition transform, and cannot
be an identifier field.  The reference's Rust binding has no variant
support at all (ext/iceberg/src/schema.rs maps primitives/list/map/struct
only) — this is an engine extension aligned with the published v3 spec.
"""

import pyspark.sql.functions as F
import pytest

import iceberg_ruby_spark.types as ice_t
from iceberg_ruby_spark.errors import InvalidDataError
from iceberg_ruby_spark.table_definition import TableDefinition, parse_type


def test_variant_requires_v3(catalog):
    with pytest.raises(InvalidDataError, match="format-version 3"):
        catalog.create_table("var_v2", schema={"id": "long", "m": "variant"})
    # nested variant is just as v3-only
    with pytest.raises(InvalidDataError, match="format-version 3"):
        catalog.create_table(
            "var_v2n",
            schema=ice_t.Schema(
                fields=[
                    ice_t.NestedField(
                        1,
                        "s",
                        ice_t.StructType(
                            [ice_t.NestedField(2, "m", ice_t.VariantType())]
                        ),
                    )
                ]
            ),
        )
    t = catalog.create_table(
        "var_v3",
        schema={"id": "long", "m": "variant"},
        properties={"format-version": "3"},
    )
    assert t.format_version == 3
    f = t.current_schema().field_by_name("m")
    assert isinstance(f.field_type, ice_t.VariantType)


def test_variant_parse_type_and_dsl():
    assert isinstance(parse_type("variant"), ice_t.VariantType)
    td = TableDefinition()
    td.long("id")
    td.variant("payload")
    s = td.schema()
    assert isinstance(s.field_by_name("payload").field_type, ice_t.VariantType)


def test_variant_append_scan_roundtrip(catalog, spark):
    """Dict rows carry JSON text (or plain python dicts); DataFrame input
    accepts a pre-parsed variant column OR a JSON string column; reads
    surface plain python values through to_a and variant_get through
    scans."""
    t = catalog.create_table(
        "var_rt",
        schema={"id": "long", "m": "variant"},
        properties={"format-version": "3"},
    )
    t.append(
        [
            {"id": 1, "m": '{"a": 1, "tags": ["x", "y"]}'},
            {"id": 2, "m": {"a": 7, "tags": []}},
            {"id": 3, "m": None},
        ]
    )
    t = t.refresh()
    # DataFrame input: a string column parse_json's; a variant column
    # passes through untouched
    t.append(
        spark.createDataFrame([(4, '{"a": 9}')], "id long, m string")
    )
    t.append(
        spark.createDataFrame([(5, '{"a": 11}')], "id long, m string").select(
            "id", F.parse_json("m").alias("m")
        )
    )
    t = t.refresh()
    got = t.scan().to_df()
    assert dict(got.dtypes)["m"] == "variant"
    rows = (
        got.select(
            "id", F.variant_get("m", "$.a", "long").alias("a")
        )
        .orderBy("id")
        .collect()
    )
    assert [(r["id"], r["a"]) for r in rows] == [
        (1, 1), (2, 7), (3, None), (4, 9), (5, 11),
    ]
    # row-hash surface: plain python values, not VariantVal
    by_id = {r["id"]: r["m"] for r in t.to_a()}
    assert by_id[1] == {"a": 1, "tags": ["x", "y"]}
    assert by_id[2] == {"a": 7, "tags": []}
    assert by_id[3] is None
    # SQL over the table composes with Spark's variant functions
    r = catalog.sql(
        "SELECT CAST(variant_get(m, '$.a', 'long') AS BIGINT) AS a "
        "FROM var_rt WHERE id = 2"
    )
    assert r.rows == [[7]]


def test_variant_no_stats_no_partition_no_identifier(catalog, spark):
    t = catalog.create_table(
        "var_lim",
        schema={"id": "long", "m": "variant"},
        properties={"format-version": "3"},
    )
    t.append([{"id": 1, "m": '{"a": 1}'}])
    t = t.refresh()
    # no bounds/null-counts recorded for the variant column
    for e in t._current_entries():
        if "path" not in e:
            continue
        assert "m" not in (e.get("lower-bounds") or {})
        assert "m" not in (e.get("null-value-counts") or {})
        assert "id" in (e.get("lower-bounds") or {})
    # COUNT(*) still metadata-served on a variant-bearing table
    assert t.scan().metadata_aggs([("COUNT", None)]) == [1]
    with pytest.raises(InvalidDataError, match="variant"):
        catalog.create_table(
            "var_part",
            schema={"id": "long", "m": "variant"},
            partition_spec=[("m", "identity")],
            properties={"format-version": "3"},
        )
    with pytest.raises(InvalidDataError, match="primitive"):
        t.update_schema().set_identifier_fields("m").commit()


def test_variant_schema_evolution_gate(catalog):
    t2 = catalog.create_table("var_ev2", schema={"id": "long"})
    with pytest.raises(InvalidDataError, match="format-version 3"):
        t2.update_schema().add_column("m", "variant").commit()
    t3 = catalog.create_table(
        "var_ev3",
        schema={"id": "long"},
        properties={"format-version": "3"},
    )
    t3.append([{"id": 1}])
    t3 = t3.refresh()
    t3.update_schema().add_column("m", "variant").commit()
    t3 = t3.refresh()
    t3.append([{"id": 2, "m": '{"b": true}'}])
    # missing-column default fill casts a NULL literal to variant
    t3.append([{"id": 3}])
    t3 = t3.refresh()
    by_id = {r["id"]: r["m"] for r in t3.to_a()}
    assert by_id[1] is None and by_id[2] == {"b": True} and by_id[3] is None


def test_variant_sql_create_with_tblproperties(catalog):
    catalog.sql(
        "CREATE TABLE var_sql (id BIGINT, m VARIANT) "
        "TBLPROPERTIES ('format-version'='3')"
    )
    t = catalog.load_table("var_sql")
    assert t.format_version == 3
    assert isinstance(
        t.current_schema().field_by_name("m").field_type, ice_t.VariantType
    )
    catalog.sql(
        "INSERT INTO var_sql SELECT 1 AS id, parse_json('{\"k\": 5}') AS m"
    )
    r = catalog.sql(
        "SELECT CAST(variant_get(m, '$.k', 'long') AS BIGINT) AS k FROM var_sql"
    )
    assert r.rows == [[5]]
    # and the plain v2 SQL default still gates
    with pytest.raises(InvalidDataError, match="format-version 3"):
        catalog.sql("CREATE TABLE var_sql2 (id BIGINT, m VARIANT)")


# ---------------------------------------------------------------------------
# v3 `unknown` type — always optional, never stored, promotes to any type
# ---------------------------------------------------------------------------


def test_unknown_requires_v3_and_optional(catalog):
    with pytest.raises(InvalidDataError, match="format-version 3"):
        catalog.create_table("unk_v2", schema={"id": "long", "u": "unknown"})
    td = TableDefinition()
    td.long("id")
    td.unknown("u", required=True)
    with pytest.raises(InvalidDataError, match="must be optional"):
        catalog.create_table(
            "unk_req", schema=td.schema(), properties={"format-version": "3"}
        )
    t = catalog.create_table(
        "unk_ok",
        schema={"id": "long", "u": "unknown"},
        properties={"format-version": "3"},
    )
    assert isinstance(
        t.current_schema().field_by_name("u").field_type, ice_t.UnknownType
    )


def test_unknown_never_stored_reads_null(catalog, spark):
    t = catalog.create_table(
        "unk_rt",
        schema={"id": "long", "u": "unknown"},
        properties={"format-version": "3"},
    )
    t.append([{"id": 1}, {"id": 2, "u": None}])
    t = t.refresh()
    # the data files physically omit the column
    import glob
    import os

    pq = glob.glob(
        os.path.join(t.ops.data_dir, "**", "*.parquet"), recursive=True
    )
    assert pq
    raw = spark.read.parquet(*pq)
    assert "u" not in raw.columns
    # reads project null; filters on the column behave
    assert t.to_a() == [{"id": 1, "u": None}, {"id": 2, "u": None}] or sorted(
        r["id"] for r in t.to_a()
    ) == [1, 2]
    assert all(r["u"] is None for r in t.to_a())
    assert t.scan().filter("u IS NULL").count() == 2
    # non-null input refuses loudly on both input paths
    with pytest.raises(InvalidDataError, match="unknown type"):
        t.append([{"id": 3, "u": "boom"}])
    with pytest.raises(InvalidDataError, match="unknown type"):
        t.append(spark.createDataFrame([(3, "boom")], "id long, u string"))


def test_unknown_promotes_to_any_type(catalog):
    t = catalog.create_table(
        "unk_promote",
        schema={"id": "long", "u": "unknown"},
        properties={"format-version": "3"},
    )
    t.append([{"id": 1}])
    t = t.refresh()
    t.update_schema().update_column("u", "string").commit()
    t = t.refresh()
    # existing rows read the new type's null; new rows store real values
    t.append([{"id": 2, "u": "now-a-string"}])
    t = t.refresh()
    by_id = {r["id"]: r["u"] for r in t.to_a()}
    assert by_id == {1: None, 2: "now-a-string"}
    # a widen in the OTHER direction is still refused
    with pytest.raises(InvalidDataError, match="widening"):
        t.update_schema().update_column("id", "unknown").commit()


def test_unknown_declines(catalog):
    t = catalog.create_table(
        "unk_lim",
        schema={"id": "long", "u": "unknown"},
        properties={"format-version": "3"},
    )
    with pytest.raises(InvalidDataError, match="primitive"):
        t.update_schema().set_identifier_fields("u").commit()
    with pytest.raises(InvalidDataError, match="cannot partition by unknown"):
        catalog.create_table(
            "unk_part",
            schema={"id": "long", "u": "unknown"},
            partition_spec=[("u", "identity")],
            properties={"format-version": "3"},
        )
    t.append([{"id": 1}])
    t = t.refresh()
    # no stats recorded, COUNT(*) still metadata-served
    for e in t._current_entries():
        if "path" in e:
            assert "u" not in (e.get("lower-bounds") or {})
    assert t.scan().metadata_aggs([("COUNT", None)]) == [1]


def test_variant_numeric_surface(catalog):
    """parse_json's documented numeric mapping through the python
    surface: integer JSON numbers read back as int, decimal literals as
    Decimal (exact — '0.1' stays 0.1, no binary-float drift), exponent
    forms as float."""
    from decimal import Decimal

    t = catalog.create_table(
        "var_num",
        schema={"id": "long", "m": "variant"},
        properties={"format-version": "3"},
    )
    t.append([{"id": 1, "m": '{"i": 3, "d": 0.1, "e": 1e30}'}])
    t = t.refresh()
    m = t.to_a()[0]["m"]
    assert m["i"] == 3 and isinstance(m["i"], int)
    assert m["d"] == Decimal("0.1") and isinstance(m["d"], Decimal)
    assert m["e"] == 1e30 and isinstance(m["e"], float)


def test_variant_json_roundtrip_fuzz(catalog):
    """Hypothesis: random JSON documents (ints/strings/bools/None nested
    through lists and objects) survive append → parquet → scan → to_a
    structurally intact.  Floats are pinned separately
    (test_variant_numeric_surface) — decimal literals surface as exact
    Decimal, not binary float."""
    import json

    from hypothesis import HealthCheck, given, settings, strategies as st

    leaf = st.one_of(
        st.none(),
        st.booleans(),
        st.integers(-(2**63) + 1, 2**63 - 1),
        st.text(max_size=12),
    )
    value = st.recursive(
        leaf,
        lambda inner: st.one_of(
            st.lists(inner, max_size=4),
            st.dictionaries(st.text(min_size=1, max_size=8), inner, max_size=4),
        ),
        max_leaves=12,
    )

    t = catalog.create_table(
        "var_fuzz",
        schema={"id": "long", "m": "variant"},
        properties={"format-version": "3"},
    )
    state = {"n": 0}

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(value)
    def run(v):
        state["n"] += 1
        i = state["n"]
        t.append([{"id": i, "m": json.dumps(v)}])
        got = {r["id"]: r["m"] for r in t.refresh().to_a()}
        assert got[i] == v, f"variant round-trip mismatch: {v!r} -> {got[i]!r}"

    run()


def test_replace_table_enforces_v3_gates(catalog):
    """CREATE OR REPLACE must not be the unguarded spelling: the same
    variant/unknown gates as plain create, and a format-version in the
    new TBLPROPERTIES upgrades the table (never downgrades)."""
    catalog.create_table("repl_t", schema={"id": "long"})
    with pytest.raises(InvalidDataError, match="format-version 3"):
        catalog.create_table(
            "repl_t", schema={"id": "long", "m": "variant"}, or_replace=True
        )
    # replace WITH the v3 property upgrades and succeeds
    t = catalog.create_table(
        "repl_t",
        schema={"id": "long", "m": "variant"},
        properties={"format-version": "3"},
        or_replace=True,
    )
    assert t.format_version == 3
    assert "format-version" not in t.properties
    t.append([{"id": 1, "m": '{"x": 1}'}])
    assert t.refresh().to_a()[0]["m"] == {"x": 1}
    # downgrade refused
    with pytest.raises(InvalidDataError, match="downgrade"):
        catalog.create_table(
            "repl_t",
            schema={"id": "long"},
            properties={"format-version": "2"},
            or_replace=True,
        )
    # the SQL spelling runs through the same path (fresh v2 table —
    # repl_t is already upgraded to v3 above)
    catalog.create_table("repl_t2", schema={"id": "long"})
    with pytest.raises(InvalidDataError, match="format-version 3"):
        catalog.sql("CREATE OR REPLACE TABLE repl_t2 (id BIGINT, u UNKNOWN)")


def test_nested_unknown_is_refused_everywhere(catalog):
    """unknown below the top level would make the table un-writable
    (parquet has no void encoding; the writer drops only top-level
    columns) — refused at create, add_column, AND the unknown->any
    promotion target."""
    nested = ice_t.Schema(
        fields=[
            ice_t.NestedField(
                1,
                "s",
                ice_t.StructType(
                    [ice_t.NestedField(2, "u", ice_t.UnknownType())]
                ),
            )
        ]
    )
    with pytest.raises(InvalidDataError, match="top-level column only"):
        catalog.create_table(
            "nunk", schema=nested, properties={"format-version": "3"}
        )
    t = catalog.create_table(
        "nunk_ev",
        schema={"id": "long", "u": "unknown"},
        properties={"format-version": "3"},
    )
    with pytest.raises(InvalidDataError, match="top-level column only"):
        t.update_schema().add_column(
            "s",
            ice_t.StructType([ice_t.NestedField(99, "u2", ice_t.UnknownType())]),
        ).commit()
    with pytest.raises(InvalidDataError, match="top-level column only"):
        t.update_schema().update_column(
            "u",
            ice_t.StructType([ice_t.NestedField(99, "u2", ice_t.UnknownType())]),
        ).commit()


def test_sort_order_declines_variant_unknown(catalog):
    with pytest.raises(InvalidDataError, match="cannot sort by unknown"):
        catalog.create_table(
            "so_unk",
            schema={"id": "long", "u": "unknown"},
            sort_order=["u"],
            properties={"format-version": "3"},
        )
    with pytest.raises(InvalidDataError, match="cannot sort by variant"):
        catalog.create_table(
            "so_var",
            schema={"id": "long", "m": "variant"},
            sort_order=["m"],
            properties={"format-version": "3"},
        )
    with pytest.raises(InvalidDataError, match="sort source column"):
        catalog.create_table(
            "so_miss", schema={"id": "long"}, sort_order=["nope"]
        )


def test_add_files_refuses_stored_unknown_column(catalog, spark, tmp_path):
    t = catalog.create_table(
        "af_unk",
        schema={"id": "long", "u": "unknown"},
        properties={"format-version": "3"},
    )
    good = str(tmp_path / "good")
    spark.createDataFrame([(1,)], "id long").write.parquet(good)
    assert t.add_files(good) == 1
    t = t.refresh()
    assert t.to_a() == [{"id": 1, "u": None}]
    bad = str(tmp_path / "bad")
    spark.createDataFrame([(2, "data")], "id long, u string").write.parquet(bad)
    with pytest.raises(InvalidDataError, match="unknown"):
        t.add_files(bad)


def test_nested_variant_surfaces_python_values(catalog, spark):
    """A variant nested inside a struct column (the nested spelling the
    v3 gate allows) converts recursively through to_a/rows."""
    import pyspark.sql.types as T

    t = catalog.create_table(
        "var_nested",
        schema=T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField(
                    "s",
                    T.StructType([T.StructField("m", T.VariantType())]),
                ),
            ]
        ),
        properties={"format-version": "3"},
    )
    src = spark.createDataFrame([(1, '{"k": [1, 2]}')], "id long, j string")
    t.append(
        src.select(
            "id", F.struct(F.parse_json("j").alias("m")).alias("s")
        )
    )
    t = t.refresh()
    rows = t.to_a()
    assert rows == [{"id": 1, "s": {"m": {"k": [1, 2]}}}]
    r = t.scan().collect()
    assert r.rows == [[1, {"m": {"k": [1, 2]}}]]


# ---------------------------------------------------------------------------
# shredded variant statistics — typed extraction columns with manifest
# bounds, so variant_get filters prune files
# ---------------------------------------------------------------------------


def test_variant_shred_prunes_files(catalog, spark):
    t = catalog.create_table(
        "var_shred",
        schema={"id": "long", "m": "variant"},
        properties={
            "format-version": "3",
            "write.variant.shred.m": "$.k:long,$.tag:string",
        },
    )
    lo = [{"id": i, "m": f'{{"k": {i}, "tag": "lo"}}'} for i in range(10)]
    hi = [{"id": i, "m": f'{{"k": {i}, "tag": "hi"}}'} for i in range(100, 110)]
    t.append(lo)
    t = t.refresh()
    t.append(hi)
    t = t.refresh()
    n_total = len(
        [e for e in t._current_entries() if "path" in e]
    )
    assert n_total >= 2
    # shred bounds landed in the manifest for every data file
    for e in t._current_entries():
        if "path" not in e:
            continue
        lbs = e.get("lower-bounds") or {}
        assert any(c.startswith("_shred_m_") for c in lbs), lbs
    # a variant_get filter prunes to the matching file(s) only
    sc = t.scan().filter("variant_get(m, '$.k', 'long') >= 100")
    planned = [p for p in sc.plan_files() if p.get("data_file_path")]
    assert 0 < len(planned) < n_total
    assert sorted(r["id"] for r in sc.to_a()) == list(range(100, 110))
    # try_variant_get spelling prunes identically
    sc2 = t.scan().filter("try_variant_get(m, '$.k', 'long') >= 100")
    assert len([p for p in sc2.plan_files() if p.get("data_file_path")]) == len(planned)
    # string path prunes too
    sc3 = t.scan().filter("variant_get(m, '$.tag', 'string') = 'hi'")
    assert 0 < len([p for p in sc3.plan_files() if p.get("data_file_path")]) < n_total
    assert sc3.to_df().count() == 10
    # the shred columns never surface to readers
    assert set(t.scan().to_df().columns) == {"id", "m"}
    assert set(t.to_a()[0].keys()) == {"id", "m"}


def test_variant_shred_prunes_mutations_like_scans(catalog, spark):
    """A mutation binds its condition as a scan binds a filter: the
    variant_get spelling of a shredded path prunes the files it reads."""
    t = catalog.create_table(
        "var_shred_mut",
        schema={"id": "long", "m": "variant"},
        properties={"format-version": "3", "write.variant.shred.m": "$.k:long"},
    )
    t.append([{"id": i, "m": f'{{"k": {i}}}'} for i in range(5)])
    t = t.refresh()
    t.append([{"id": i, "m": f'{{"k": {i}}}'} for i in range(100, 105)])
    t = t.refresh()
    cond = "variant_get(m, '$.k', 'long') >= 100"
    (tree,), every = t.scan().filter(cond)._filter_trees()
    assert every and t._bound_predicate(cond) == tree
    data = [e for e in t._current_entries() if "path" in e]
    kept = t._prune_by_condition(data, cond)
    assert 0 < len(kept) < len(data)
    assert all(e["lower-bounds"]["id"] >= 100 for e in kept)
    t.delete_where(cond)
    assert sorted(r["id"] for r in t.refresh().to_a()) == list(range(5))


def test_variant_shred_declines_are_conservative(catalog, spark):
    t = catalog.create_table(
        "var_shred2",
        schema={"id": "long", "m": "variant"},
        properties={
            "format-version": "3",
            "write.variant.shred.m": "$.k:long",
        },
    )
    t.append([{"id": 1, "m": '{"k": 1}'}])
    t = t.refresh()
    t.append([{"id": 2, "m": '{"k": 200}'}])
    t = t.refresh()
    n_total = len([e for e in t._current_entries() if "path" in e])
    # an UNDECLARED path or a type mismatch must not prune (and must
    # still answer correctly)
    for f in (
        "variant_get(m, '$.other', 'long') >= 100",
        "variant_get(m, '$.k', 'int') >= 100",  # declared as long
    ):
        sc = t.scan().filter(f)
        assert len([p for p in sc.plan_files() if p.get("data_file_path")]) == n_total
    # files written BEFORE the spec existed keep no shred stats and are
    # conservatively kept
    t2 = catalog.create_table(
        "var_shred3",
        schema={"id": "long", "m": "variant"},
        properties={"format-version": "3"},
    )
    t2.append([{"id": 1, "m": '{"k": 1}'}])
    t2 = t2.refresh()
    t2.update_properties({"write.variant.shred.m": "$.k:long"})
    t2 = t2.refresh()
    t2.append([{"id": 2, "m": '{"k": 200}'}])
    t2 = t2.refresh()
    sc = t2.scan().filter("variant_get(m, '$.k', 'long') >= 100")
    planned = [p for p in sc.plan_files() if p.get("data_file_path")]
    assert len(planned) == 2  # old stat-less file kept, correctness intact
    assert sorted(r["id"] for r in sc.to_a()) == [2]
    # compaction recomputes the shred columns for rewritten files —
    # pruning works across the whole settled table afterwards
    t2.compact()
    t2 = t2.refresh()
    sc = t2.scan().filter("variant_get(m, '$.k', 'long') >= 100")
    assert sorted(r["id"] for r in sc.to_a()) == [2]


def test_variant_shred_bad_spec_raises(catalog):
    t = catalog.create_table(
        "var_shred_bad",
        schema={"id": "long", "m": "variant"},
        properties={
            "format-version": "3",
            "write.variant.shred.m": "$.k:nonsense",
        },
    )
    with pytest.raises(InvalidDataError):
        t.append([{"id": 1, "m": '{"k": 1}'}])
    # a variant-typed shred target records no bounds -> refused
    t2 = catalog.create_table(
        "var_shred_bad2",
        schema={"id": "long", "m": "variant"},
        properties={
            "format-version": "3",
            "write.variant.shred.m": "$.k:variant",
        },
    )
    with pytest.raises(InvalidDataError, match="no bounds"):
        t2.append([{"id": 1, "m": '{"k": 1}'}])
