"""Property-based soundness of manifest bounds pruning: pruning may keep
too much, but must NEVER drop a file containing a matching row.  Pure
Python (no Spark) — hypothesis drives random predicates and file bounds."""

from hypothesis import given, settings
from hypothesis import strategies as st

from iceberg_ruby_spark.table import _bounds_may_match, _parse_predicate

OPS = ["=", "<", "<=", ">", ">=", "!="]


def leaf(col: str, op: str, val: int) -> str:
    return f"{col} {op} {val}"


@st.composite
def predicates(draw, depth=2):
    if depth == 0 or draw(st.booleans()):
        col = draw(st.sampled_from(["a", "b"]))
        op = draw(st.sampled_from(OPS))
        val = draw(st.integers(-20, 20))
        return leaf(col, op, val)
    lhs = draw(predicates(depth=depth - 1))
    rhs = draw(predicates(depth=depth - 1))
    junction = draw(st.sampled_from(["AND", "OR"]))
    return f"({lhs}) {junction} ({rhs})"


def eval_row(pred: str, row: dict) -> bool:
    safe = pred.replace("AND", "and").replace("OR", "or").replace("=", "==")
    safe = safe.replace("<==", "<=").replace(">==", ">=").replace("!==", "!=")
    return bool(eval(safe, {}, dict(row)))


@settings(max_examples=300, deadline=None)
@given(
    pred=predicates(),
    a_lo=st.integers(-15, 15),
    a_len=st.integers(0, 10),
    b_lo=st.integers(-15, 15),
    b_len=st.integers(0, 10),
)
def test_pruning_never_drops_matching_rows(pred, a_lo, a_len, b_lo, b_len):
    tree = _parse_predicate(pred)
    assert tree is not None, pred  # the generator stays inside the grammar
    a_hi, b_hi = a_lo + a_len, b_lo + b_len
    entry = {
        "lower-bounds": {"a": a_lo, "b": b_lo},
        "upper-bounds": {"a": a_hi, "b": b_hi},
    }
    if _bounds_may_match(entry, tree):
        return  # kept — always sound
    # pruned: NO (a, b) inside the bounds box may satisfy the predicate
    for a in range(a_lo, a_hi + 1):
        for b in range(b_lo, b_hi + 1):
            assert not eval_row(pred, {"a": a, "b": b}), (
                pred,
                entry,
                {"a": a, "b": b},
            )


@settings(max_examples=100, deadline=None)
@given(pred=predicates())
def test_parser_accepts_generated_grammar(pred):
    assert _parse_predicate(pred) is not None


def test_parser_rejects_out_of_grammar():
    assert _parse_predicate("length(b) > 2") is None
    assert _parse_predicate("a + 1 > 2") is None
    assert _parse_predicate("a > b") is None  # column-to-column: not supported
    assert _parse_predicate("") is None


# -- round-2 advisory: unsound type coercion ------------------------------

def _cmp(a, op, b):
    return {
        "=": a == b, "<": a < b, "<=": a <= b,
        ">": a > b, ">=": a >= b, "!=": a != b,
    }[op]


def test_timestamp_bounds_vs_space_separated_literal():
    """isoformat() bounds ('T' separator) vs SQL literals (space) must
    compare temporally, not lexicographically ('T' > ' ' pruned files
    that contained matching rows)."""
    entry = {
        "lower-bounds": {"ts": "2024-01-01T05:00:00"},
        "upper-bounds": {"ts": "2024-01-01T07:00:00"},
    }
    assert _bounds_may_match(entry, _parse_predicate("ts = '2024-01-01 06:00:00'"))
    assert _bounds_may_match(entry, _parse_predicate("ts >= '2024-01-01 06:30:00'"))
    assert not _bounds_may_match(entry, _parse_predicate("ts > '2024-01-02 00:00:00'"))
    assert not _bounds_may_match(entry, _parse_predicate("ts < '2024-01-01 04:00:00'"))


def test_numeric_bounds_vs_quoted_literal():
    """int bounds vs a quoted numeric literal compare numerically (SQL
    coerces '9' to 9); non-numeric strings keep the file."""
    entry = {"lower-bounds": {"a": 5}, "upper-bounds": {"a": 20}}
    assert _bounds_may_match(entry, _parse_predicate("a = '9'"))
    assert not _bounds_may_match(entry, _parse_predicate("a = '21'"))
    assert _bounds_may_match(entry, _parse_predicate("a = 'abc'"))  # unprovable


def test_date_only_bounds_vs_datetime_literal():
    entry = {"lower-bounds": {"d": "2024-01-01"}, "upper-bounds": {"d": "2024-01-03"}}
    assert _bounds_may_match(entry, _parse_predicate("d = '2024-01-02 12:00:00'"))
    assert not _bounds_may_match(entry, _parse_predicate("d > '2024-01-05 00:00:00'"))


def test_mixed_temporal_and_plain_string_keeps_file():
    entry = {"lower-bounds": {"s": "2024-01-01"}, "upper-bounds": {"s": "zebra"}}
    assert _bounds_may_match(entry, _parse_predicate("s = 'apple'"))


def test_huge_int_bounds_stay_exact():
    big = 2**60
    entry = {"lower-bounds": {"a": big}, "upper-bounds": {"a": big}}
    assert _bounds_may_match(entry, _parse_predicate(f"a = '{big}'"))
    assert not _bounds_may_match(entry, _parse_predicate(f"a = '{big + 1}'"))


@settings(max_examples=200, deadline=None)
@given(
    lo_h=st.integers(0, 40),
    span=st.integers(0, 20),
    lit_h=st.integers(0, 60),
    op=st.sampled_from(OPS),
)
def test_timestamp_pruning_sound(lo_h, span, lit_h, op):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    lo = base + dt.timedelta(hours=lo_h)
    hi = lo + dt.timedelta(hours=span)
    lit = base + dt.timedelta(hours=lit_h)
    entry = {
        "lower-bounds": {"ts": lo.isoformat()},
        "upper-bounds": {"ts": hi.isoformat()},
    }
    pred = f"ts {op} '{lit.strftime('%Y-%m-%d %H:%M:%S')}'"
    tree = _parse_predicate(pred)
    assert tree is not None
    if _bounds_may_match(entry, tree):
        return
    cur = lo
    while cur <= hi:
        assert not _cmp(cur, op, lit), (pred, entry, cur)
        cur += dt.timedelta(hours=1)


@settings(max_examples=200, deadline=None)
@given(
    a_lo=st.integers(-15, 15),
    a_len=st.integers(0, 10),
    v=st.integers(-20, 20),
    op=st.sampled_from(OPS),
)
def test_quoted_numeric_literal_pruning_sound(a_lo, a_len, v, op):
    a_hi = a_lo + a_len
    entry = {"lower-bounds": {"a": a_lo}, "upper-bounds": {"a": a_hi}}
    tree = _parse_predicate(f"a {op} '{v}'")
    assert tree is not None
    if _bounds_may_match(entry, tree):
        return
    for a in range(a_lo, a_hi + 1):
        assert not _cmp(a, op, v), (op, v, entry, a)


def test_string_bounds_truncation_default(catalog):
    """write.metadata.metrics default truncate(16): long string bounds
    store a 16-char prefix (lower) and an incremented prefix (upper) —
    manifests never carry whole documents — and pruning stays correct."""
    t = catalog.create_table("btrunc", schema={"k": "int", "txt": "string"})
    long_a = "a" * 100 + "LOW"
    long_z = "z" * 100 + "HIGH"
    t.append([{"k": 1, "txt": long_a}, {"k": 2, "txt": long_z}])
    entries = [x for x in t._current_entries() if "path" in x]
    lo = min(x["lower-bounds"]["txt"] for x in entries)
    hi = max(x["upper-bounds"]["txt"] for x in entries)
    assert lo == "a" * 16
    assert hi == "z" * 15 + "{"  # last char bumped: still >= every value
    assert lo <= long_a and hi >= long_z
    assert all(
        len(x["lower-bounds"]["txt"]) <= 16 and len(x["upper-bounds"]["txt"]) <= 16
        for x in entries
    )
    # exact-match scans still find their rows (conservative pruning)
    assert [r["k"] for r in t.scan().filter(f"txt = '{long_z}'").to_a()] == [2]
    # a filter provably outside the truncated range still prunes
    assert t.scan().filter("txt < 'Z'").to_a() == []


def test_string_bounds_metrics_properties(catalog):
    """full mode keeps exact bounds; per-column override beats default."""
    t = catalog.create_table(
        "bfull",
        schema={"a": "string", "b": "string"},
        properties={
            "write.metadata.metrics.default": "full",
            "write.metadata.metrics.column.b": "truncate(4)",
        },
    )
    long = "x" * 50
    t.append([{"a": long, "b": long}])
    e = [x for x in t._current_entries() if "path" in x][0]
    assert e["lower-bounds"]["a"] == long  # full
    assert e["lower-bounds"]["b"] == "xxxx"  # column override
    assert e["upper-bounds"]["b"] == "xxxy"


def test_string_bounds_truncation_streaming_sink(catalog, spark, tmp_path):
    from iceberg_ruby_spark.streaming import register_stream_source

    bronze = catalog.create_table("btr_bronze", schema={"txt": "string"})
    gold = catalog.create_table("btr_gold", schema={"txt": "string"})
    bronze.append([{"txt": "m" * 80}])
    register_stream_source(spark)
    q = (
        spark.readStream.format("iceberg_table")
        .option("location", bronze.ops.location)
        .load()
        .writeStream.format("iceberg_table")
        .option("location", gold.ops.location)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    e = [x for x in gold.refresh()._current_entries() if "path" in x][0]
    assert e["lower-bounds"]["txt"] == "m" * 16
    assert e["upper-bounds"]["txt"] == "m" * 15 + "n"


def test_metrics_modes_none_and_counts(catalog):
    """none: no stats for the column; counts: null counts only (no
    bounds) — bound-less columns are conservatively unprunable."""
    t = catalog.create_table(
        "bmodes",
        schema={"a": "int", "b": "int", "c": "int"},
        properties={
            "write.metadata.metrics.column.a": "none",
            "write.metadata.metrics.column.b": "counts",
        },
    )
    t.append([{"a": 1, "b": None, "c": 3}])
    e = [x for x in t._current_entries() if "path" in x][0]
    assert "a" not in e["lower-bounds"] and "a" not in e["null-counts"]
    assert "b" not in e["lower-bounds"] and e["null-counts"]["b"] == 1
    assert e["lower-bounds"]["c"] == 3 and e["null-counts"]["c"] == 0
    # stat-less columns still scan correctly (pruning keeps the file)
    assert [r["a"] for r in t.scan().filter("a = 1").to_a()] == [1]


def test_numeric_literal_never_prunes_on_string_bounds(catalog):
    """String bounds are lexicographic extrema ("10" < "9"); numeric
    coercion against them falsely pruned matching rows — the pruner now
    keeps the file and lets Spark's cast decide."""
    t = catalog.create_table("slex", schema={"txt": "string"})
    t.append([{"txt": "9"}, {"txt": "10"}])
    # lex bounds are lo="10", hi="9": a numeric-coerced check would call
    # 9 outside [10, 9] and prune the only file
    assert [r["txt"] for r in t.scan().filter("txt = 9").to_a()] == ["9"]


def test_truncate_upper_skips_surrogates():
    from iceberg_ruby_spark.manifests import truncate_upper

    v = "ab" + chr(0xD7FF) + "tail-beyond"
    hi = truncate_upper(v, 3)
    assert hi == "ab" + chr(0xE000)  # never a lone surrogate
    hi.encode("utf-8")  # must stay encodable (Avro manifest export)
    assert hi >= v


def test_nan_merge_is_order_free():
    """One merge for every bound: NaN sorts greatest whatever the order
    of the partial values, so an upper bound over a NaN is NaN and a lower
    bound is NaN only when every value is."""
    import math

    from iceberg_ruby_spark.manifests import merge_bounds

    nan = math.nan
    for vals in ([1.0, nan], [nan, 1.0], [nan, 1.0, -2.0]):
        lo, hi = merge_bounds(vals, vals)
        assert lo == min(v for v in vals if v == v) and math.isnan(hi)
    lo, hi = merge_bounds([nan], [nan])
    assert math.isnan(lo) and math.isnan(hi)
    assert merge_bounds([3, 1], [2, 5]) == (1, 5)


def test_stream_sink_records_nan_upper_bound(catalog, spark, tmp_path):
    """A streamed float column holding NaN records upper bound NaN, so
    ``v > 2`` keeps the file and returns the NaN row, as Spark SQL does."""
    import math

    from iceberg_ruby_spark.streaming import register_stream_source

    bronze = catalog.create_table("nan_bronze", schema={"k": "int", "v": "double"})
    gold = catalog.create_table("nan_gold", schema={"k": "int", "v": "double"})
    bronze.append([{"k": 1, "v": 1.0}, {"k": 2, "v": math.nan}])
    register_stream_source(spark)
    q = (
        spark.readStream.format("iceberg_table")
        .option("location", bronze.ops.location)
        .load()
        .writeStream.format("iceberg_table")
        .option("location", gold.ops.location)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    gold = gold.refresh()
    assert any(math.isnan(e["upper-bounds"]["v"]) for e in gold._current_entries())
    assert [r["k"] for r in gold.scan().filter("v > 2").to_a()] == [2]


def test_manifest_summary_keeps_nan_upper_bound(catalog):
    """A manifest whose files' upper bounds are 1.0 and NaN summarizes to
    NaN, so the NaN file survives manifest pruning for ``v > 2``."""
    import math

    t = catalog.create_table(
        "nan_summary",
        schema={"k": "int", "v": "double"},
        partition_spec=[("k", "identity")],
    )
    t.append([{"k": 1, "v": 1.0}, {"k": 2, "v": math.nan}])
    files = t.scan().filter("v > 2").plan_files()
    assert len(files) == 1 and "/k=2/" in files[0]["data_file_path"]
    assert [r["k"] for r in t.scan().filter("v > 2").to_a()] == [2]
