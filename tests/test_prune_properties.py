"""Soundness of manifest bounds pruning: pruning may keep too much, but
must NEVER drop a file containing a matching row, and a metadata
full-match must never claim a row that does not match.  Hypothesis
drives random predicates and file bounds; the typed literal cases are
checked against Spark SQL itself."""

from hypothesis import given, settings
from hypothesis import strategies as st

from iceberg_ruby_spark import types as ice_t
from iceberg_ruby_spark.table import (
    _bind,
    _bounds_all_match,
    _bounds_may_match,
    _parse_predicate,
)

OPS = ["=", "<", "<=", ">", ">=", "!="]
INT = ice_t.IntType()


def bound(pred: str, **types):
    """``pred`` parsed and bound to the column ``types``."""
    tree = _parse_predicate(pred)
    assert tree is not None, pred
    return _bind(tree, types)


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
    tree = bound(pred, a=INT, b=INT)  # the generator stays inside the grammar
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
    ts = ice_t.TimestampType()
    assert _bounds_may_match(entry, bound("ts = '2024-01-01 06:00:00'", ts=ts))
    assert _bounds_may_match(entry, bound("ts >= '2024-01-01 06:30:00'", ts=ts))
    assert not _bounds_may_match(entry, bound("ts > '2024-01-02 00:00:00'", ts=ts))
    assert not _bounds_may_match(entry, bound("ts < '2024-01-01 04:00:00'", ts=ts))


def test_numeric_bounds_vs_quoted_literal():
    """int bounds vs a quoted numeric literal compare numerically (SQL
    coerces '9' to 9); non-numeric strings keep the file."""
    entry = {"lower-bounds": {"a": 5}, "upper-bounds": {"a": 20}}
    assert _bounds_may_match(entry, bound("a = '9'", a=INT))
    assert not _bounds_may_match(entry, bound("a = '21'", a=INT))
    assert _bounds_may_match(entry, bound("a = 'abc'", a=INT))  # unprovable


def test_date_only_bounds_vs_datetime_literal():
    entry = {"lower-bounds": {"d": "2024-01-01"}, "upper-bounds": {"d": "2024-01-03"}}
    d = ice_t.DateType()
    assert _bounds_may_match(entry, bound("d = '2024-01-02 12:00:00'", d=d))
    assert not _bounds_may_match(entry, bound("d > '2024-01-05 00:00:00'", d=d))


def test_mixed_temporal_and_plain_string_keeps_file():
    entry = {"lower-bounds": {"s": "2024-01-01"}, "upper-bounds": {"s": "zebra"}}
    assert _bounds_may_match(entry, bound("s = 'apple'", s=ice_t.StringType()))


def test_huge_int_bounds_stay_exact():
    big = 2**60
    entry = {"lower-bounds": {"a": big}, "upper-bounds": {"a": big}}
    long = ice_t.LongType()
    assert _bounds_may_match(entry, bound(f"a = '{big}'", a=long))
    assert not _bounds_may_match(entry, bound(f"a = '{big + 1}'", a=long))


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
    tree = bound(pred, ts=ice_t.TimestampType())
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
    tree = bound(f"a {op} '{v}'", a=INT)
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


# -- one literal binding, checked against Spark SQL ------------------------

# column → (Spark SQL type, Iceberg type, values as SQL text)
_TS_VALUES = [
    "2024-01-01 00:00:00",
    "2024-01-02 12:00:00",
    "2024-01-02 12:00:00.5",
    "2024-01-03 23:59:59.999999",
]
SPARK_COLUMNS = {
    "a": ("INT", ice_t.IntType(), ["-3", "0", "9", "10", "2147483647"]),
    "l": (
        "BIGINT",
        ice_t.LongType(),
        ["-5", "9", "10", "1099511627776", "4611686018427387904"],
    ),
    "dec": (
        "DECIMAL(10,2)",
        ice_t.DecimalType(10, 2),
        ["-1.50", "1.00", "5.00", "9.00", "9.50", "10.00", "20.00", "30.00"],
    ),
    "dw": (
        "DECIMAL(20,2)",
        ice_t.DecimalType(20, 2),
        ["5.00", "1234567890123456.77", "1234567890123456.78"],
    ),
    "d": (
        "DATE",
        ice_t.DateType(),
        ["2023-12-31", "2024-01-01", "2024-01-02", "2024-02-29"],
    ),
    "ts": ("TIMESTAMP_NTZ", ice_t.TimestampType(), _TS_VALUES),
    "tz": ("TIMESTAMP", ice_t.TimestampTzType(), _TS_VALUES),
    "s": ("STRING", ice_t.StringType(), ["", "09", "10", "9", "a", "abc", "b"]),
}
LITERALS = {
    "a": [
        "9", "'9'", "'9.5'", "9.5", "9.0", "'09'", "'+9'", "' 9'", "'abc'",
        "3000000000", "'3000000000'", "-3", "'10'",
    ],
    "l": ["9", "'9'", "'10'", "4611686018427387904", "'4611686018427387904'", "9.5", "'9.5'"],
    "dec": [
        "'9.5'", "'9'", "9", "'10'", "10", "9.5", "'9.50'", "'9.505'", "9.505",
        "'6'", "'abc'", "'1e1'",
    ],
    "dw": ["'1234567890123456.77'", "1234567890123456.77", "'5'", "5"],
    "d": [
        "'2024-01-02'", "'2024-01-02 12:00:00'", "'2024-01-02T00:00:00'",
        "'2024-1-2'", "'2024-02-30'", "'2024'", "'2024-01-02 garbage'",
    ],
    "ts": [
        "'2024-01-02 12:00:00'", "'2024-01-02T12:00:00'", "'2024-01-02'",
        "'2024-01-02 12:00:00.5'", "'2024-01-02 12:00:00+05:00'",
        "'2024-01-02 12:00'",
    ],
    "tz": [
        "'2024-01-02 12:00:00'", "'2024-01-02 17:00:00+05:00'",
        "'2024-01-02T12:00:00Z'", "'2024-01-02 12:00:00.0000001'",
        "'2024-01-02 12:00:00+19:00'", "'2024-01-02'", "'2024-01-02 06:30:00-05:30'",
    ],
    "s": ["'9'", "9", "'a'", "'ab'", "''", "10", "'09'"],
}


def _stat_and_order(col: str, v: str):
    """(stored stat form, sort key) of one SQL-text value of ``col``."""
    import datetime as dt
    from decimal import Decimal

    if col in ("a", "l"):
        return int(v), int(v)
    if col in ("dec", "dw"):
        return str(Decimal(v)), Decimal(v)
    if col in ("ts", "tz"):
        x = dt.datetime.fromisoformat(v)
        return x.isoformat(), x
    return v, v


def test_bound_literals_sound_against_spark(spark):
    """Every (column, literal, operator) of ``LITERALS``, as a comparison
    and inside IN / NOT IN, over every file whose values are a run of the
    column's sorted values: pruning never drops a file Spark finds a
    match in, and a full-match is never claimed for a file Spark does not
    fully match.  Spark evaluates all predicates in one projection."""
    n = max(len(v) for _, _, v in SPARK_COLUMNS.values())
    rows = []
    for i in range(n):
        cells = []
        for sql_t, _, vals in SPARK_COLUMNS.values():
            v = vals[i % len(vals)]
            cells.append(f"'{v}'" if sql_t == "STRING" else f"CAST('{v}' AS {sql_t})")
        rows.append("(" + ", ".join(cells) + ")")
    df = spark.sql(
        f"SELECT * FROM VALUES {', '.join(rows)} AS t({', '.join(SPARK_COLUMNS)})"
    )
    preds = []
    for col, lits in LITERALS.items():
        for lit in lits:
            preds += [(col, f"{col} {op} {lit}") for op in OPS]
            preds += [(col, f"{col} IN ({lit})"), (col, f"{col} NOT IN ({lit})")]
    out = df.selectExpr(
        *SPARK_COLUMNS, *[f"({p}) AS p{i}" for i, (_, p) in enumerate(preds)]
    ).collect()
    checked = 0
    for i, (col, pred) in enumerate(preds):
        _, typ, vals = SPARK_COLUMNS[col]
        match = {}
        for j, r in enumerate(out):
            match[vals[j % len(vals)]] = bool(r[f"p{i}"])
        tree = bound(pred, **{col: typ})
        ordered = sorted(vals, key=lambda v: _stat_and_order(col, v)[1])
        for lo in range(len(ordered)):
            for hi in range(lo, len(ordered)):
                run = ordered[lo : hi + 1]
                entry = {
                    "lower-bounds": {col: _stat_and_order(col, run[0])[0]},
                    "upper-bounds": {col: _stat_and_order(col, run[-1])[0]},
                    "null-counts": {col: 0},
                    "record-count": len(run),
                }
                hits = [match[v] for v in run]
                if any(hits):
                    assert _bounds_may_match(entry, tree), (pred, run)
                if _bounds_all_match(entry, tree):
                    assert all(hits), (pred, run)
                checked += 1
    assert checked > 5000


def test_quoted_literal_on_int_column_reads_as_spark(catalog):
    """Spark casts ``'9.5'`` to the int 9, so ``a >= '9.5'`` holds for 9
    and ``a < '9.5'`` does not: the binder cannot name that cast, keeps
    the file and lets the scan decide."""
    t = catalog.create_table("lit_int", schema={"a": "int"})
    t.append([{"a": 9}])
    assert t.scan().filter("a >= '9.5'").to_a() == [{"a": 9}]
    assert t.scan().filter("a = '9.5'").to_a() == [{"a": 9}]
    assert t.scan().filter("a < '9.5'").count() == 0


def test_timestamp_literal_on_date_column_reads_as_spark(catalog):
    """Spark casts ``'2024-01-02 12:00:00'`` to the date 2024-01-02."""
    import datetime as dt

    t = catalog.create_table("lit_date", schema={"d": "date"})
    t.append([{"d": dt.date(2024, 1, 2)}])
    assert t.scan().filter("d = '2024-01-02 12:00:00'").to_a() == [
        {"d": dt.date(2024, 1, 2)}
    ]
    assert t.scan().filter("d < '2024-01-02 12:00:00'").count() == 0


def test_decimal_bounds_compare_as_decimals(catalog):
    """Decimal bounds are stored as strings; they compare as decimals,
    in files and in the manifest list's column summary."""
    from decimal import Decimal as D

    from iceberg_ruby_spark.manifests import _read_list

    t = catalog.create_table("lit_dec", schema={"dec": "decimal(10, 2)"})
    t.append([{"dec": D("10.00")}])
    t.append([{"dec": D("9.00")}])
    assert t.scan().filter("dec > '9.5'").to_a() == [{"dec": D("10.00")}]
    assert t.scan().filter("dec = '9'").to_a() == [{"dec": D("9.00")}]

    p = catalog.create_table(
        "lit_dec_sum",
        schema={"k": "int", "dec": "decimal(10, 2)"},
        partition_spec=[("k", "identity")],
    )
    p.append(
        [
            {"k": 1, "dec": D("1.00")},
            {"k": 1, "dec": D("5.00")},
            {"k": 2, "dec": D("20.00")},
            {"k": 2, "dec": D("30.00")},
        ]
    )
    _, extras, _ = _read_list(p.ops, p.current_snapshot().manifest_list)
    (summary,) = extras["summaries"].values()
    assert summary["cols"]["dec"]["lo"] == "1.00"
    assert summary["cols"]["dec"]["hi"] == "30.00"
    got = sorted(r["dec"] for r in p.scan().filter("dec > '6'").to_a())
    assert got == [D("20.00"), D("30.00")]


def test_text_merged_decimal_summary_never_prunes():
    """Summaries written before the typed merge carry no ``typed`` mark
    and merged decimal strings as text ([1.00, 5.00] and [20.00, 30.00]
    gave hi "5.00"): no decimal leaf prunes on them, other columns do."""
    from iceberg_ruby_spark.manifests import _summary_excludes

    dec = ice_t.DecimalType(10, 2)
    cols = {"dec": {"lo": "1.00", "hi": "5.00", "nulls": 0}}
    trees = [bound("dec > '6'", dec=dec)]
    assert not _summary_excludes({"rows": 4, "cols": cols}, trees)
    assert _summary_excludes({"rows": 4, "cols": cols, "typed": True}, trees)
    ints = {"a": {"lo": 1, "hi": 5, "nulls": 0}}
    assert _summary_excludes({"rows": 4, "cols": ints}, [bound("a > 6", a=INT)])


def test_identity_partition_summaries_decode(catalog):
    """The manifest list's partition field summaries merge the typed
    partition values and encode them once; NaN sets contains_nan and
    stays out of the bounds, as the spec asks."""
    import datetime as dt
    import math
    from decimal import Decimal as D

    from iceberg_ruby_spark.manifests import _read_list, bound_from_bytes

    cases = [
        ("decimal(10, 2)", [D("-1.5"), D("2.25"), D("10")], "-1.50", "10.00", None),
        ("date", [dt.date(2024, 1, 2), dt.date(2023, 12, 31)], "2023-12-31", "2024-01-02", None),
        (
            "timestamp",
            [dt.datetime(2024, 1, 2, 3, 4, 5), dt.datetime(2023, 1, 1)],
            "2023-01-01T00:00:00",
            "2024-01-02T03:04:05",
            None,
        ),
        ("double", [1.5, math.nan, -2.0], -2.0, 1.5, True),
    ]
    for i, (typ, vals, lo, hi, nan) in enumerate(cases):
        t = catalog.create_table(
            f"psum{i}",
            schema={"p": typ, "v": "int"},
            partition_spec=[("p", "identity")],
        )
        t.append([{"p": x, "v": j} for j, x in enumerate(vals)])
        records, _, _ = _read_list(t.ops, t.current_snapshot().manifest_list)
        (fs,) = records[0]["partitions"]
        ptype = t.current_schema().field_by_name("p").field_type
        assert bound_from_bytes(fs["lower_bound"], ptype) == lo, typ
        assert bound_from_bytes(fs["upper_bound"], ptype) == hi, typ
        assert fs["contains_nan"] is nan and fs["contains_null"] is False, typ
        assert t.scan().count() == len(vals)


def test_overlap_groups_compare_decimals_as_decimals():
    """Stream content-diff grouping orders decimal bounds as decimals:
    [9.50, 10.50] and [10.00, 10.00] may both hold 10.00."""
    from decimal import Decimal

    from iceberg_ruby_spark.streaming.source import _overlap_groups

    def entry(lo, hi):
        return {
            "lower-bounds": {"dec": lo},
            "upper-bounds": {"dec": hi},
            "null-counts": {"dec": 0},
        }

    entry_for = {
        "f1": entry("9.50", "10.50"),
        "f2": entry("10.00", "10.00"),
        "f3": entry("11.00", "12.00"),
    }
    groups = _overlap_groups(entry_for, ["f1", "f2", "f3"], "dec", Decimal)
    assert groups == [["f1", "f2"], ["f3"]]


def test_decimal_key_bounds_compare_as_decimals():
    """An equality delete's key-bounds on a decimal key compare as
    decimals: keys [9.50, 10.50] reach a file holding only 10.00, not one
    holding only 11.00."""
    from iceberg_ruby_spark.table import (
        _compile_seq_scope,
        _equality_delete_entry,
        _seq_scope_applies,
    )

    f = ice_t.NestedField(1, "dec", ice_t.DecimalType(10, 2))
    stats = {
        "lower-bounds": {"dec": "9.50"},
        "upper-bounds": {"dec": "10.50"},
        "null-counts": {"dec": 0},
    }
    de = _equality_delete_entry("del", 2, [f], 0, stats)
    assert de["key-bounds"] == {"lower": {"dec": "9.50"}, "upper": {"dec": "10.50"}}
    scope = _compile_seq_scope(de, ice_t.Schema([f]))

    def data(v):
        return {"lower-bounds": {"dec": v}, "upper-bounds": {"dec": v}}

    assert _seq_scope_applies(scope, data("10.00"))
    assert not _seq_scope_applies(scope, data("11.00"))


def test_nan_identity_partition_matches_as_spark(catalog):
    """Spark sorts NaN greatest and holds NaN = NaN: a ``v=NaN``
    partition directory matches ``v > 2`` and ``v = 'NaN'``."""
    import math

    t = catalog.create_table(
        "nan_part",
        schema={"v": "double", "k": "int"},
        partition_spec=[("v", "identity")],
    )
    t.append([{"v": math.nan, "k": 1}, {"v": 1.5, "k": 2}])
    assert [r["k"] for r in t.scan().filter("v > 2").to_a()] == [1]
    assert [r["k"] for r in t.scan().filter("v = 'NaN'").to_a()] == [1]
    assert [r["k"] for r in t.scan().filter("v >= 1.5").to_a()] in ([1, 2], [2, 1])
    assert [r["k"] for r in t.scan().filter("v < 2").to_a()] == [2]


def test_nan_partition_directory_compares_as_spark():
    """Directory pruning reads a ``NaN`` value as Spark orders it —
    greatest, and equal to itself — for any field it is handed (the
    planner skips identity fields, whose column bounds prune already)."""
    from iceberg_ruby_spark.table import _partition_may_match
    from iceberg_ruby_spark.transforms import IdentityTransform

    dbl = ice_t.DoubleType()
    schema = ice_t.Schema([ice_t.NestedField(1, "v", dbl)])
    pfields = {"v": (IdentityTransform(), "v")}

    def may(dir_value, pred):
        return _partition_may_match({"v": dir_value}, bound(pred, v=dbl), pfields, schema)

    assert may("NaN", "v > 2") and may("NaN", "v = 'NaN'") and may("NaN", "v >= 'NaN'")
    assert not may("NaN", "v < 2") and not may("NaN", "v = 1.5")
    assert may("1.5", "v = 1.5") and not may("1.5", "v > 2") and not may("1.5", "v = 'NaN'")


def test_legacy_timestamp_bound_forms_compare_as_values():
    """Bounds written before the one stat form — a timestamptz with a
    UTC offset (stream sink), a space-separated timestamp (equality-key
    bounds) — compare as the values they spell."""
    from iceberg_ruby_spark.manifests import _manifest_summary
    from iceberg_ruby_spark.table import (
        _compile_seq_scope,
        _equality_delete_entry,
        _seq_scope_applies,
    )

    tz = ice_t.TimestampTzType()
    aware = {
        "lower-bounds": {"tz": "2024-01-02T12:00:00+00:00"},
        "upper-bounds": {"tz": "2024-01-02T13:30:00+01:00"},
        "null-counts": {"tz": 0},
        "record-count": 2,
    }
    assert _bounds_may_match(aware, bound("tz = '2024-01-02 12:00:00'", tz=tz))
    assert _bounds_may_match(aware, bound("tz = '2024-01-02 12:30:00'", tz=tz))
    assert not _bounds_may_match(aware, bound("tz > '2024-01-02 12:30:00'", tz=tz))
    assert _bounds_all_match(aware, bound("tz >= '2024-01-02 12:00:00'", tz=tz))

    f = ice_t.NestedField(1, "ts", ice_t.TimestampType())
    stats = {
        "lower-bounds": {"ts": "2024-01-02 05:00:00"},
        "upper-bounds": {"ts": "2024-01-02 06:00:00"},
        "null-counts": {"ts": 0},
    }
    scope = _compile_seq_scope(
        _equality_delete_entry("del", 2, [f], 0, stats), ice_t.Schema([f])
    )

    def data(lo, hi):
        return {"lower-bounds": {"ts": lo}, "upper-bounds": {"ts": hi}}

    assert _seq_scope_applies(scope, data("2024-01-02T05:30:00", "2024-01-02T05:30:00"))
    assert _seq_scope_applies(scope, data("2024-01-02T06:00:00", "2024-01-02T09:00:00"))
    assert not _seq_scope_applies(scope, data("2024-01-02T06:00:01", "2024-01-02T09:00:00"))

    summary = _manifest_summary(
        [
            {**data("2024-01-02 05:00:00", "2024-01-02 05:00:00"), "record-count": 1},
            {**data("2024-01-02T04:00:00", "2024-01-02T04:30:00"), "record-count": 1},
        ],
        ice_t.Schema([f]),
    )
    assert summary["cols"]["ts"] == {"lo": "2024-01-02T04:00:00", "hi": "2024-01-02 05:00:00"}
