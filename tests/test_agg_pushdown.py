"""Metadata-only aggregate pushdown (Iceberg-Spark parity: COUNT / MIN /
MAX answered from manifest stats without opening data files).

The "zero data files opened" claims are proven the hard way: the tests
DELETE the data files from disk and the metadata answer must still come
back right — any code path that touches a data file fails loudly.
Soundness fallbacks (other delete kinds, floats, truncated strings,
filters) are exercised with files present and checked against executed
scans."""

from __future__ import annotations

import glob
import os

import pytest

from iceberg_ruby_spark.avro_file import read_ocf
from iceberg_ruby_spark.errors import InvalidDataError


def _drop_data_files(t, suffix=".parquet"):
    n = 0
    for p in glob.glob(os.path.join(t.ops.data_dir, "**", f"*{suffix}"), recursive=True):
        os.remove(p)
        n += 1
    assert n > 0, "expected data files to delete"


def test_count_metadata_only(catalog):
    t = catalog.create_table("agg1", schema={"a": "int"})
    t.append([{"a": i} for i in range(7)])
    t.append([{"a": i} for i in range(5)])
    _drop_data_files(t)
    assert t.scan().count() == 12


def test_count_subtracts_dv_cardinality_exactly(catalog):
    """DV-only snapshots stay metadata-answerable: one DV per data file
    (replacement merges), so record-counts minus DV cardinalities is
    exact — proven with every data AND puffin byte gone from disk."""
    t = catalog.create_table("agg2", schema={"a": "int"})
    t.append([{"a": i} for i in range(10)])
    assert t.delete_where("a >= 7", mode="merge-on-read-dv") == 3
    # replacement DV: merges prior positions, entry count stays 1/file
    assert t.delete_where("a = 0", mode="merge-on-read-dv") == 1
    _drop_data_files(t)
    _drop_data_files(t, suffix=".puffin")
    assert t.scan().count() == 6


def test_count_falls_back_for_other_delete_kinds(catalog):
    t = catalog.create_table("agg3", schema={"a": "int"})
    t.append([{"a": i} for i in range(10)])
    t.delete_by_keys([(3,)], on="a")                       # equality
    assert t.scan().count() == 9
    t.delete_where("a = 4", mode="merge-on-read-positional")
    assert t.scan().count() == 8
    t2 = catalog.create_table("agg3b", schema={"a": "int"})
    t2.append([{"a": i} for i in range(10)])
    t2.delete_where("a >= 8", mode="merge-on-read")        # positional on v2
    assert t2.scan().count() == 8


def test_count_metadata_after_cow_delete(catalog):
    """CoW rewrites leave no MoR entries — still metadata-answerable."""
    t = catalog.create_table("agg4", schema={"a": "int"})
    t.append([{"a": i} for i in range(10)])
    t.delete_where("a >= 6")  # copy-on-write
    _drop_data_files(t)
    assert t.scan().count() == 6


def test_min_max_metadata_only(catalog):
    t = catalog.create_table("agg5", schema={"a": "int", "ts": "timestamp", "d": "date"})
    import datetime as dt

    t.append(
        [
            {"a": 5, "ts": dt.datetime(2024, 5, 1, 10, 30), "d": dt.date(2024, 5, 2)},
            {"a": -3, "ts": dt.datetime(2023, 1, 15, 8), "d": dt.date(2023, 1, 16)},
        ]
    )
    t.append(
        [{"a": 42, "ts": dt.datetime(2025, 12, 31, 23, 59, 59), "d": dt.date(2025, 12, 30)}]
    )
    _drop_data_files(t)
    assert t.scan().min("a") == -3
    assert t.scan().max("a") == 42
    assert t.scan().min("ts").strftime("%Y-%m-%dT%H:%M:%S") == "2023-01-15T08:00:00"
    assert t.scan().max("ts").strftime("%Y-%m-%dT%H:%M:%S") == "2025-12-31T23:59:59"
    assert t.scan().min("d").isoformat() == "2023-01-16"
    assert t.scan().max("d").isoformat() == "2025-12-30"


def test_min_max_all_null_and_missing_column(catalog):
    t = catalog.create_table("agg6", schema={"a": "int", "b": "int"})
    t.append([{"a": 1, "b": None}, {"a": 2, "b": None}])
    _drop_data_files(t)
    assert t.scan().max("b") is None  # provably all-NULL from null-counts
    with pytest.raises(InvalidDataError, match="no column"):
        t.scan().min("nope")


def test_min_max_falls_back_when_unsound(catalog, spark):
    # strings: truncate(16) metrics bump the upper bound — never exact
    t = catalog.create_table("agg7", schema={"s": "string", "f": "double", "a": "int"})
    long_s = "z" * 40
    t.append([{"s": "apple", "f": 1.5, "a": 1}, {"s": long_s, "f": -2.0, "a": 2}])
    assert t.scan().max("s") == long_s          # executed, not the bumped bound
    assert t.scan().min("f") == -2.0            # double: NaN-unsound -> executed
    # an outstanding MoR delete may have killed the extreme row
    t.delete_by_keys([(2,)], on="a")
    assert t.scan().max("a") == 1
    # filters execute too
    assert t.scan().filter("a > 5").max("a") is None


def test_sql_count_star_fast_path(catalog):
    t = catalog.create_table("agg8", schema={"a": "int"})
    t.append([{"a": i} for i in range(9)])
    _drop_data_files(t)
    res = catalog.sql("SELECT COUNT(*) FROM agg8").to_a()
    assert res == [{"count(1)": 9}]
    res = catalog.sql("SELECT COUNT(*) AS n FROM agg8").to_a()
    assert res == [{"n": 9}]
    res = catalog.sql("select count(1) from agg8").to_a()
    assert res == [{"count(1)": 9}]


def test_sql_count_star_with_where_uses_generic_path(catalog):
    t = catalog.create_table("agg9", schema={"a": "int"})
    t.append([{"a": i} for i in range(9)])
    res = catalog.sql("SELECT COUNT(*) FROM agg9 WHERE a < 3").to_a()
    assert res == [{"count(1)": 3}]
    # a predicate outside the parseable shape falls through to Spark SQL
    res = catalog.sql("SELECT COUNT(*) FROM agg9 WHERE a % 2 = 0").to_a()
    assert res == [{"count(1)": 5}]


def test_filtered_count_metadata_when_partition_aligned(catalog):
    """r11: COUNT(*) WHERE p answers from metadata when every file
    provably full-matches or full-misses p — proven zero-read by
    deleting the data files first.  A file the predicate splits falls
    back to the executed scan (checked with files present)."""
    t = catalog.create_table("aggf1", schema={"k": "long", "v": "string"})
    t.append([{"k": i, "v": f"x{i}"} for i in range(0, 100)])
    t.append([{"k": i, "v": f"x{i}"} for i in range(100, 250)])
    t = t.refresh()
    # split predicate executes (files still on disk here)
    assert t.scan().filter("k >= 50").count() == 200
    assert t.scan().filter("k >= 50 AND k < 150").count() == 100
    _drop_data_files(t)
    # aligned / full-table / full-miss: all metadata-only
    assert t.scan().filter("k < 100").count() == 100
    assert t.scan().filter("k >= 100").count() == 150
    assert t.scan().filter("k >= 0").count() == 250
    assert t.scan().filter("k > 100000").count() == 0
    assert t.scan().filter("k < 100 OR k >= 100").count() == 250
    # SQL spelling rides the same path
    cat = t.catalog
    assert cat.sql("SELECT COUNT(*) FROM aggf1 WHERE k < 100").rows == [[100]]
    assert cat.sql(
        "SELECT COUNT(*) AS n FROM aggf1 WHERE k > 100000"
    ).to_a() == [{"n": 0}]


def test_filtered_count_soundness_fallbacks(catalog, spark):
    """Float predicates, NULL-bearing compared columns, and outstanding
    deletes must NOT answer a filtered count from metadata."""
    t = catalog.create_table("aggf2", schema={"k": "long", "x": "double"})
    t.append([{"k": 1, "x": 1.0}, {"k": 2, "x": float("nan")}])
    # float comparison: bounds can't see NaN — must execute (2 rows on
    # disk; NaN > 0.5 is TRUE in Spark) — note x's upper bound alone
    # would claim a full match of x <= 1.5
    assert t.scan().filter("x <= 1.5").count() == 1
    # a NULL in the compared column disproves full-match: k <= 10 would
    # bound-match both rows, but NULL k rows fail the predicate
    t2 = catalog.create_table("aggf3", schema={"k": "long"})
    # one file per row whatever the core count: every file is all-null
    # or null-free, which the null-count proof below needs
    for k in (1, None, 5):
        t2.append([{"k": k}])
    assert t2.scan().filter("k <= 10").count() == 2
    # IS NULL / IS NOT NULL prove from null counts alone (zero-read)
    t2 = t2.refresh()
    _drop_data_files(t2)
    assert t2.scan().filter("k IS NULL").count() == 1
    assert t2.scan().filter("k IS NOT NULL").count() == 2
    # outstanding MoR delete: always executes
    t3 = catalog.create_table("aggf4", schema={"k": "long"})
    t3.append([{"k": 1}, {"k": 2}, {"k": 3}])
    t3.delete_where("k = 1", mode="merge-on-read-dv")
    assert t3.scan().filter("k < 10").count() == 2


def test_null_filter_count_on_mixed_file_from_null_counts(catalog, spark):
    """A bare IS [NOT] NULL count is exact from each file's null count and
    record count, also for a file holding both nulls and values: no Spark
    job runs."""
    from tests.test_mor_jobs import _in_group

    t = catalog.create_table("aggnull", schema={"k": "long"})
    t.append(spark.createDataFrame([(1,), (None,), (5,)], "k long").coalesce(1))
    t = t.refresh()
    assert len(t.scan().plan_files()) == 1
    for pred, want in (("k IS NULL", 1), ("k IS NOT NULL", 2)):
        n, jobs = _in_group(spark, lambda: t.scan().filter(pred).count())
        assert (n, jobs) == (want, []), pred


def test_count_col_from_null_counts(catalog):
    """COUNT(col) = sum(record-count - null-count) — proven metadata-only
    by deleting the files; any delete kind forces execution (a DV kills
    rows without saying whether they were NULL)."""
    t = catalog.create_table("agg10", schema={"a": "int", "b": "int"})
    t.append([{"a": 1, "b": 10}, {"a": 2, "b": None}, {"a": 3, "b": None}])
    t.append([{"a": 4, "b": 40}])
    _drop_data_files(t)
    assert t.scan().count("b") == 2
    assert t.scan().count("a") == 4
    with pytest.raises(InvalidDataError, match="no column"):
        t.scan().count("zz")
    # with a DV outstanding, COUNT(col) must execute (files must exist)
    t2 = catalog.create_table("agg11", schema={"a": "int", "b": "int"})
    t2.append([{"a": 1, "b": 10}, {"a": 2, "b": None}, {"a": 3, "b": 30}])
    t2.delete_where("a = 3", mode="merge-on-read-dv")
    assert t2.scan().count("b") == 1
    assert t2.scan().count() == 2            # star path still metadata
    # filters execute and respect the column
    assert t2.scan().filter("a < 3").count("b") == 1


def test_sql_count_col_fast_path(catalog):
    # generic-path check first: view registration scans every table, so
    # it must run before any table's files are deleted below
    t2 = catalog.create_table("agg13", schema={"a": "int"})
    t2.append([{"a": 1}, {"a": 1}, {"a": 2}])
    assert catalog.sql("SELECT COUNT(DISTINCT a) FROM agg13").rows == [[2]]
    t = catalog.create_table("agg12", schema={"a": "int", "b": "int"})
    t.append([{"a": 1, "b": None}, {"a": 2, "b": 7}, {"a": 3, "b": None}])
    _drop_data_files(t)
    assert catalog.sql("SELECT COUNT(b) FROM agg12").to_a() == [{"count(b)": 1}]
    assert catalog.sql("SELECT COUNT(a) AS n FROM agg12").to_a() == [{"n": 3}]
    assert catalog.sql("SELECT COUNT(*) FROM agg12").to_a() == [{"count(1)": 3}]


def test_filtered_min_max_metadata_when_partition_aligned(catalog):
    """r11: MIN/MAX WHERE p from full-matching files' bounds — zero-read
    proven by file deletion; a split predicate executes the scan."""
    t = catalog.create_table("aggf5", schema={"k": "long", "v": "long"})
    t.append([{"k": i, "v": 1000 - i} for i in range(0, 100)])
    t.append([{"k": i, "v": 1000 - i} for i in range(100, 250)])
    t = t.refresh()
    # split predicate executes correctly with files present
    assert t.scan().filter("k >= 50").min("k") == 50
    assert t.scan().filter("k >= 50").max("v") == 950
    _drop_data_files(t)
    # aligned: extremum over the full-matching file's bounds only
    assert t.scan().filter("k < 100").max("k") == 99
    assert t.scan().filter("k < 100").min("v") == 901
    assert t.scan().filter("k >= 100").min("k") == 100
    assert t.scan().filter("k >= 100").max("v") == 900
    # full-miss everywhere: SQL MIN over zero rows is NULL
    assert t.scan().filter("k > 100000").min("k") is None


def test_sql_multi_agg_fast_path(catalog):
    """r11: the general single-table aggregate statement routes through
    the scan layer — COUNT/MIN/MAX lists, aliases, optional WHERE —
    proven zero-read for the provable shapes by file deletion."""
    t = catalog.create_table("aggsql", schema={"k": "long", "v": "long"})
    t.append([{"k": i, "v": 100 + i} for i in range(0, 50)])
    t.append([{"k": i, "v": 100 + i} for i in range(50, 120)])
    t = t.refresh()
    cat = t.catalog
    _drop_data_files(t)
    r = cat.sql(
        "SELECT MIN(k), MAX(v) AS hi, COUNT(*), COUNT(v) FROM aggsql"
    ).to_a()
    assert r == [{"min(k)": 0, "hi": 219, "count(1)": 120, "count(v)": 120}]
    # filtered, file-aligned: still metadata-only
    r = cat.sql(
        "SELECT COUNT(*) AS n, MAX(k) AS top FROM aggsql WHERE k < 50"
    ).to_a()
    assert r == [{"n": 50, "top": 49}]
    # unsupported pieces fall through to Spark SQL (and would fail on the
    # deleted files — assert the routing by the error, not silently)
    import pytest as _pytest

    with _pytest.raises(Exception):
        cat.sql("SELECT SUM(k) FROM aggsql").to_a()


def test_sql_multi_agg_generic_fallbacks(catalog):
    """Shapes outside the fast path still answer correctly via Spark."""
    t = catalog.create_table("aggsql2", schema={"k": "long"})
    t.append([{"k": i} for i in range(10)])
    cat = t.catalog
    assert cat.sql("SELECT SUM(k) AS s FROM aggsql2").rows == [[45]]
    assert cat.sql(
        "SELECT COUNT(*) AS n FROM aggsql2 GROUP BY k % 2 ORDER BY n"
    ).rows == [[5], [5]]
    assert cat.sql(
        "SELECT MIN(k) AS lo FROM aggsql2 WHERE k >= $1", [7]
    ).rows == [[7]]


def test_sql_multi_agg_all_or_nothing_single_scan(catalog, monkeypatch):
    """r12 (VERDICT r11 #2): a multi-agg statement whose WHERE is not
    provable must NOT execute one scan per aggregate item — the fast
    path declines entirely (zero TableScan executions) and generic
    Spark SQL runs the whole statement as its usual single scan."""
    t = catalog.create_table("aggsql3", schema={"k": "long", "v": "long"})
    t.append([{"k": i, "v": 2 * i} for i in range(100)])
    cat = t.catalog
    # warm the view cache through the GENERIC path (SUM is outside the
    # fast path) so registration's own to_df isn't in the count below
    assert cat.sql("SELECT SUM(k) AS s FROM aggsql3").rows == [[4950]]

    from iceberg_ruby_spark import table as table_mod

    calls = {"to_df": 0}
    orig = table_mod.TableScan.to_df

    def spy(self):
        calls["to_df"] += 1
        return orig(self)

    monkeypatch.setattr(table_mod.TableScan, "to_df", spy)
    # k >= 17 splits the single data file → no item is provable
    r = cat.sql(
        "SELECT MIN(k) AS lo, MAX(v) AS hi, COUNT(*) AS n"
        " FROM aggsql3 WHERE k >= 17"
    ).to_a()
    assert r == [{"lo": 17, "hi": 198, "n": 83}]
    assert calls["to_df"] == 0, (
        "the r11 per-item fallback is back: the fast path must decline "
        "unprovable statements instead of executing scans per aggregate"
    )
    # the provable spelling still serves every item from ONE manifest read
    r = cat.sql(
        "SELECT MIN(k) AS lo, MAX(v) AS hi, COUNT(*) AS n FROM aggsql3"
    ).to_a()
    assert r == [{"lo": 0, "hi": 198, "n": 100}]
    assert calls["to_df"] == 0


def test_filtered_count_with_dv_over_aligned_files(catalog):
    """r12 (VERDICT r11 #7): a deletion vector no longer demotes filtered
    COUNT(*) — it subtracts its exact cardinality when its referenced
    file full-matches and nothing when it full-misses.  Zero-read proven
    by deleting every data AND puffin byte before asking."""
    t = catalog.create_table("aggdv1", schema={"k": "long", "v": "string"})
    t.append([{"k": i, "v": f"x{i}"} for i in range(0, 100)])
    t.append([{"k": i, "v": f"x{i}"} for i in range(100, 250)])
    assert t.delete_where("k = 5", mode="merge-on-read-dv") == 1
    t = t.refresh()
    # split predicate still demotes to the executed scan (files present):
    # k >= 50 splits the first file
    assert t.scan().filter("k >= 50").count() == 200
    _drop_data_files(t)
    _drop_data_files(t, suffix=".puffin")
    # DV's referenced file full-matches → subtract its cardinality
    assert t.scan().filter("k < 100").count() == 99
    # DV's referenced file full-misses → its dead rows were never counted
    assert t.scan().filter("k >= 100").count() == 150
    assert t.scan().count() == 249  # unfiltered DV path unchanged
    # SQL spelling rides the same metadata path
    cat = t.catalog
    assert cat.sql(
        "SELECT COUNT(*) AS n FROM aggdv1 WHERE k < 100"
    ).to_a() == [{"n": 99}]


def test_filtered_min_max_demote_under_dv(catalog):
    """A DV may have killed the extreme row — filtered MIN/MAX must
    execute the scan whenever any delete is outstanding."""
    t = catalog.create_table("aggdv2", schema={"k": "long"})
    t.append([{"k": i} for i in range(0, 100)])
    t.append([{"k": i} for i in range(100, 200)])
    assert t.delete_where("k = 0", mode="merge-on-read-dv") == 1
    t = t.refresh()
    # metadata bounds would claim 0; the scan knows the row is dead
    assert t.scan().filter("k < 100").min("k") == 1
    assert t.scan().min("k") == 1


def test_filtered_count_col_metadata(catalog):
    """r12: filtered COUNT(col) — full-match files contribute
    record-count − null-count(col), full-miss files contribute zero;
    zero-read proven by file deletion.  The compared column's zero-null
    full-match proof is independent of the counted column's nulls."""
    t = catalog.create_table("aggfc", schema={"k": "long", "b": "int"})
    t.append([{"k": i, "b": (None if i < 3 else i)} for i in range(0, 10)])
    t.append([{"k": i, "b": i} for i in range(10, 20)])
    t = t.refresh()
    # split predicate executes (files present)
    assert t.scan().filter("k >= 5").count("b") == 15
    _drop_data_files(t)
    assert t.scan().filter("k < 10").count("b") == 7
    assert t.scan().filter("k >= 10").count("b") == 10
    assert t.scan().filter("k < 100").count("b") == 17
    cat = t.catalog
    assert cat.sql(
        "SELECT COUNT(b) AS n FROM aggfc WHERE k < 10"
    ).to_a() == [{"n": 7}]


def test_group_counts_partition_histogram(catalog):
    """r12: SELECT col, COUNT(*) GROUP BY col from manifest stats — the
    partition-histogram statement.  Identity-partitioned writers record
    lower == upper for the partition source, so the histogram is
    metadata-only: proven by deleting every data file first."""
    t = catalog.create_table(
        "agggc",
        schema={"day": "string", "v": "long"},
        partition_spec=[("day", "identity")],
    )
    t.append(
        [{"day": f"d{i % 3}", "v": i} for i in range(30)]
    )
    t.append([{"day": "d9", "v": 100}])
    t = t.refresh()
    _drop_data_files(t)
    got = t.scan().metadata_group_counts("day")
    assert got == [("d0", 10), ("d1", 10), ("d2", 10), ("d9", 1)]
    cat = t.catalog
    assert cat.sql(
        "SELECT day, COUNT(*) AS n FROM agggc GROUP BY day"
    ).to_a() == [
        {"day": "d0", "n": 10}, {"day": "d1", "n": 10},
        {"day": "d2", "n": 10}, {"day": "d9", "n": 1},
    ]
    assert cat.sql(
        "SELECT day, COUNT(1) FROM agggc GROUP BY 1"
    ).to_a()[0] == {"day": "d0", "count(1)": 10}


def test_group_counts_nulls_filters_and_fallbacks(catalog, spark):
    """NULL group from all-null/mixed files; filters classify files;
    multi-valued files and unprovable shapes return None (caller scans)."""
    # multi-valued file declines (and the SQL route falls through to the
    # generic scan) — generic SQL runs FIRST: view registration scans
    # every table, so it must precede any table's file deletion below
    t2 = catalog.create_table("agggc3", schema={"k": "long"})
    t2.append(spark.createDataFrame([(1,), (2,)], "k long").coalesce(1))
    assert t2.scan().metadata_group_counts("k") is None
    assert t2.catalog.sql(
        "SELECT k, COUNT(*) AS n FROM agggc3 GROUP BY k ORDER BY k"
    ).rows == [[1, 1], [2, 1]]
    # float group columns never serve from bounds
    t3 = catalog.create_table("agggc4", schema={"x": "double"})
    t3.append([{"x": 1.0}])
    assert t3.scan().metadata_group_counts("x") is None
    t = catalog.create_table("agggc2", schema={"k": "long", "v": "long"})
    # coalesce(1): exactly ONE single-k-valued file per append, so the
    # split-predicate case below is deterministic
    for rows in (
        [(1, i) for i in range(0, 10)],
        [(2, i) for i in range(10, 30)],
        [(None, i) for i in range(30, 35)],
    ):
        t.append(
            spark.createDataFrame(rows, "k long, v long").coalesce(1)
        )
    t = t.refresh()
    _drop_data_files(t)
    assert t.scan().metadata_group_counts("k") == [(None, 5), (1, 10), (2, 20)]
    # filtered: the v-range classifies every file
    assert t.scan().filter("v < 10").metadata_group_counts("k") == [(1, 10)]
    assert t.scan().filter("v >= 10").metadata_group_counts("k") == [
        (None, 5), (2, 20)
    ]
    # a predicate that splits a file declines
    assert t.scan().filter("v >= 5").metadata_group_counts("k") is None
    # r12 review: a MULTI-VALUED file the filter provably EXCLUDES does
    # not demote — stats are demanded only of contributing files
    t.append(
        spark.createDataFrame(
            [(7, 100), (8, 101)], "k long, v long"
        ).coalesce(1)
    )
    t = t.refresh()
    assert t.scan().filter("v < 50").metadata_group_counts("k") == [
        (None, 5), (1, 10), (2, 20)
    ]
    assert t.scan().metadata_group_counts("k") is None  # unfiltered: split


def test_group_counts_dv_subtraction(catalog):
    """A DV subtracts from its referenced file's group when that file has
    zero nulls (the dead rows' group is certain); mixed-null referenced
    files decline."""
    t = catalog.create_table(
        "agggc5",
        schema={"day": "string", "v": "long"},
        partition_spec=[("day", "identity")],
    )
    t.append([{"day": f"d{i % 2}", "v": i} for i in range(20)])
    assert t.delete_where("v = 0", mode="merge-on-read-dv") == 1  # day d0
    t = t.refresh()
    _drop_data_files(t)
    _drop_data_files(t, suffix=".puffin")
    assert t.scan().metadata_group_counts("day") == [("d0", 9), ("d1", 10)]
    assert t.catalog.sql(
        "SELECT day, COUNT(*) AS n FROM agggc5 GROUP BY day"
    ).to_a() == [{"day": "d0", "n": 9}, {"day": "d1", "n": 10}]


def test_sql_agg_fast_path_time_travel(catalog):
    """r12: VERSION/TIMESTAMP AS OF spellings ride the aggregate fast
    path — a historical COUNT/MIN/MAX is exactly as metadata-answerable
    as a current one.  Zero-read proven by deleting the files."""
    t = catalog.create_table("aggtt", schema={"k": "long"})
    t.append([{"k": i} for i in range(10)])
    t = t.refresh()
    s1 = t.current_snapshot_id
    t.create_tag("v1")
    t.append([{"k": i} for i in range(10, 30)])
    t = t.refresh()
    cat = t.catalog
    _drop_data_files(t)
    assert cat.sql(
        f"SELECT COUNT(*) AS n, MAX(k) AS hi FROM aggtt VERSION AS OF {s1}"
    ).to_a() == [{"n": 10, "hi": 9}]
    assert cat.sql(
        "SELECT COUNT(*) AS n FROM aggtt VERSION AS OF 'v1'"
    ).to_a() == [{"n": 10}]
    assert cat.sql(
        f"SELECT COUNT(*) AS n FROM aggtt FOR SYSTEM_VERSION AS OF {s1}"
    ).to_a() == [{"n": 10}]
    assert cat.sql("SELECT COUNT(*) AS n FROM aggtt").to_a() == [{"n": 30}]


def test_sql_numeric_timestamp_as_of(catalog):
    """r12 review: a bare numeric TIMESTAMP AS OF literal is epoch-
    SECONDS (Spark's numeric→timestamp cast), on the fast path AND the
    generic rewrite (which used to strip the first and last DIGIT of an
    unquoted literal)."""
    import time

    t = catalog.create_table("aggnts", schema={"k": "long"})
    t.append([{"k": 1}, {"k": 2}])
    t = t.refresh()
    cut_s = t.current_snapshot().timestamp_ms // 1000 + 1
    time.sleep(1.2)  # the next commit must land in a LATER second
    t.append([{"k": 3}])
    t = t.refresh()
    cat = t.catalog
    # fast path (provable COUNT)
    assert cat.sql(
        f"SELECT COUNT(*) AS n FROM aggnts TIMESTAMP AS OF {cut_s}"
    ).to_a() == [{"n": 2}]
    # generic path (SUM is outside the fast path) — same literal
    assert cat.sql(
        f"SELECT SUM(k) AS s FROM aggnts TIMESTAMP AS OF {cut_s}"
    ).rows == [[3]]
    assert cat.sql("SELECT COUNT(*) AS n FROM aggnts").to_a() == [{"n": 3}]


def _spy_segment_reads(t):
    """Wrap the table io's read/read_bytes to record metadata files opened."""
    opened = []
    io = t.ops.io
    orig_read, orig_rb = io.read, io.read_bytes

    def read(path, *a, **kw):
        opened.append(path)
        return orig_read(path, *a, **kw)

    def read_bytes(path, *a, **kw):
        opened.append(path)
        return orig_rb(path, *a, **kw)

    io.read, io.read_bytes = read, read_bytes
    return opened, lambda: (setattr(io, "read", orig_read),
                            setattr(io, "read_bytes", orig_rb))


def _manifests(opened):
    """The manifest files among the opened metadata paths (manifest
    lists are ``snap-*.avro``, manifests ``<uuid>-m<N>.avro``)."""
    return [
        p for p in opened
        if p.endswith(".avro") and not os.path.basename(p).startswith("snap-")
    ]


def test_segment_pruning_skips_unopened_segments(catalog):
    """r13 (VERDICT r12 #3): a filtered metadata COUNT opens ONLY the
    manifests whose stored column summary may match the filter — a
    summary-excluded manifest file is never read.  Six disjoint-range
    commits, a filter hitting one range: exactly one manifest opens."""
    t = catalog.create_table("segprune", schema={"k": "long", "v": "long"})
    for c in range(6):
        t.append([{"k": c * 100 + i, "v": i} for i in range(10)])
    t = t.refresh()
    opened, restore = _spy_segment_reads(t)
    try:
        n = t.scan().filter("k >= 200 AND k < 210").count()
    finally:
        restore()
    assert n == 10
    segs = _manifests(opened)
    assert len(segs) == 1, f"expected 1 manifest opened, got {segs}"
    # unfiltered COUNT still reads nothing extra (pure fast-path totals)
    # and a WIDE filter opens every manifest
    opened2, restore = _spy_segment_reads(t)
    try:
        n_all = t.scan().filter("k >= 0").count()
    finally:
        restore()
    assert n_all == 60
    assert len(_manifests(opened2)) == 6


def test_segment_pruning_avro_and_mor_fallback(catalog):
    """Avro manifest lists prune via the extras summaries; ANY
    merge-on-read entry disables pruning (the DV-exact COUNT proof needs
    the full matched-file map) but answers stay exact."""
    t = catalog.create_table("segprune_av", schema={"k": "long", "v": "long"})
    for c in range(4):
        t.append([{"k": c * 100 + i, "v": i} for i in range(10)])
    t = t.refresh()
    opened, restore = _spy_segment_reads(t)
    try:
        n = t.scan().filter("k >= 100 AND k < 120").count()
    finally:
        restore()
    assert n == 10
    manifests = _manifests(opened)
    assert len(manifests) == 1, f"expected 1 manifest opened, got {manifests}"
    # a DV delete lands → pruning disengages, result stays exact
    t.delete_where("k = 305", mode="merge-on-read-dv")
    t = t.refresh()
    assert t.scan().filter("k >= 100 AND k < 120").count() == 10
    assert t.scan().filter("k >= 300 AND k < 320").count() == 9
    assert t.scan().count() == 39


def test_segment_pruning_group_counts_and_scan(catalog, spark):
    """The histogram route and the executed scan prune segments too; a
    summary survives a segment MERGE (the consolidation recomputes it)."""
    import iceberg_ruby_spark.manifests as _m

    t = catalog.create_table("segprune_gc", schema={"p": "long", "k": "long"})
    for c in range(5):
        t.append([{"p": c, "k": c * 100 + i} for i in range(8)])
    t = t.refresh()
    scan = t.scan().filter("k >= 200 AND k < 300")
    assert scan.metadata_group_counts("p") == [(2, 8)]
    opened, restore = _spy_segment_reads(t)
    try:
        rows = t.scan().filter("k >= 200 AND k < 300").to_df().collect()
    finally:
        restore()
    assert len(rows) == 8
    assert len(_manifests(opened)) == 1
    # force a merge below the cap and re-check
    old = _m.MANIFEST_SEGMENT_CAP
    _m.MANIFEST_SEGMENT_CAP = 3
    try:
        t.append([{"p": 9, "k": 900 + i} for i in range(8)])
    finally:
        _m.MANIFEST_SEGMENT_CAP = old
    t = t.refresh()
    assert t.scan().filter("k >= 200 AND k < 300").count() == 8
    assert t.scan().filter("k >= 900").count() == 8
    assert t.scan().count() == 48


def test_group_rollup_multi_agg_zero_read(catalog):
    """r13 (VERDICT r12 #4): ``SELECT p, COUNT(*), MIN(x), MAX(x) GROUP
    BY p`` — the partitions-metadata-table rollup — answers from manifest
    stats alone: proven by deleting every data file first."""
    t = catalog.create_table(
        "rollup0",
        schema={"p": "long", "x": "long", "s": "string"},
        partition_spec=["p"],
    )
    t.append(
        [
            {"p": 1, "x": 10, "s": "a"},
            {"p": 1, "x": 5, "s": None},
            {"p": 2, "x": 7, "s": "c"},
        ]
    )
    t.append([{"p": 1, "x": 99, "s": "d"}, {"p": 2, "x": 1, "s": "e"}])
    t = t.refresh()
    _drop_data_files(t)
    rows = catalog.sql(
        "SELECT p, COUNT(*) AS n, MIN(x) AS lo, MAX(x) AS hi, COUNT(s) AS ns"
        " FROM rollup0 GROUP BY p"
    ).to_a()
    assert rows == [
        {"p": 1, "n": 3, "lo": 5, "hi": 99, "ns": 2},
        {"p": 2, "n": 2, "lo": 1, "hi": 7, "ns": 2},
    ]
    # filtered variant: full-match/full-miss classification per file
    rows = catalog.sql(
        "SELECT p, COUNT(*) AS n, MAX(x) AS hi FROM rollup0"
        " WHERE p = 1 GROUP BY p"
    ).to_a()
    assert rows == [{"p": 1, "n": 3, "hi": 99}]


def test_group_rollup_declines(catalog, spark):
    """Unprovable rollups return None (the scan API) and the SQL route
    falls to ONE generic scan: a multi-valued group file, a null-split
    group file under an x-agg, any MoR delete under an x-agg, and a
    string MIN (bounds may be truncated prefixes)."""
    # multi-valued group file (one unpartitioned file mixes p values)
    t = catalog.create_table("rollup1", schema={"p": "long", "x": "long"})
    t.append(
        spark.createDataFrame([(1, 1), (2, 2)], "p long, x long").coalesce(1)
    )
    t = t.refresh()
    assert t.scan().metadata_group_aggs("p", [("MIN", "x")]) is None
    rows = catalog.sql(
        "SELECT p, MIN(x) AS lo FROM rollup1 GROUP BY p ORDER BY p"
    ).to_a()
    assert rows == [{"p": 1, "lo": 1}, {"p": 2, "lo": 2}]
    # null-split group file: COUNT(*) histogram still provable, x-aggs not
    t2 = catalog.create_table("rollup2", schema={"p": "long", "x": "long"})
    t2.append(
        spark.createDataFrame([(None, 4), (7, 5)], "p long, x long").coalesce(1)
    )
    t2 = t2.refresh()
    assert t2.scan().metadata_group_counts("p") == [(None, 1), (7, 1)]
    assert t2.scan().metadata_group_aggs("p", [("MAX", "x")]) is None
    # an MoR delete under an x-agg declines (the extreme row may be dead);
    # the COUNT(*)-only histogram keeps its DV-exact subtraction
    t3 = catalog.create_table(
        "rollup3", schema={"p": "long", "x": "long"}, partition_spec=["p"]
    )
    t3.append([{"p": 1, "x": 1}, {"p": 1, "x": 9}, {"p": 2, "x": 5}])
    t3 = t3.refresh()
    t3.delete_where("x = 9", mode="merge-on-read-dv")
    t3 = t3.refresh()
    assert t3.scan().metadata_group_aggs("p", [("MAX", "x")]) is None
    assert t3.scan().metadata_group_counts("p") == [(1, 1), (2, 1)]
    assert catalog.sql(
        "SELECT p, MAX(x) AS hi FROM rollup3 GROUP BY p ORDER BY p"
    ).to_a() == [{"p": 1, "hi": 1}, {"p": 2, "hi": 5}]
    # string aggregate target: truncated bounds are not values — decline
    t4 = catalog.create_table(
        "rollup4", schema={"p": "long", "s": "string"}, partition_spec=["p"]
    )
    t4.append([{"p": 1, "s": "zz"}])
    t4 = t4.refresh()
    assert t4.scan().metadata_group_aggs("p", [("MIN", "s")]) is None


def test_group_rollup_all_null_agg_column(catalog, spark):
    """A file all-NULL on the aggregate column contributes nothing to
    MIN/MAX (SQL ignores NULLs) and a group with no non-null values
    reports NULL."""
    t = catalog.create_table(
        "rollup5", schema={"p": "long", "x": "long"}, partition_spec=["p"]
    )
    t.append(
        spark.createDataFrame([(1, None), (1, None)], "p long, x long")
    )
    t.append([{"p": 2, "x": 3}])
    t = t.refresh()
    rows = t.scan().metadata_group_aggs(
        "p", [("COUNT", None), ("MIN", "x"), ("COUNT", "x")]
    )
    assert rows == [(1, 2, None, 0), (2, 1, 3, 1)]


def test_segment_pruning_scan_on_mor_table(catalog, spark):
    """allow_mor pruning (r13): the EXECUTED scan skips data-pure
    segments even when the table carries merge-on-read deletes — a
    pruned file's rows are never read, so a delete scoped to it is a
    no-op; delete entries always ride along.  Results stay exact across
    DV, positional, and seq-scoped equality deletes."""
    t = catalog.create_table("segprune_mor", schema={"k": "long", "v": "long"})
    for c in range(5):
        t.append([{"k": c * 100 + i, "v": i} for i in range(10)])
    t = t.refresh()
    t.delete_where("k = 105", mode="merge-on-read-dv")
    t = t.refresh()
    t.delete_by_keys([(203,)], on="k")
    t = t.refresh()
    opened, restore = _spy_segment_reads(t)
    try:
        rows = sorted(
            r["k"] for r in t.scan().filter("k >= 100 AND k < 120").to_df().collect()
        )
    finally:
        restore()
    assert rows == [100, 101, 102, 103, 104] + list(range(106, 110))
    segs = _manifests(opened)
    # fewer manifests than the table holds: the disjoint-range data
    # manifests were pruned (delete manifests always read)
    _, list_recs, _ = read_ocf(
        t.ops.io.read_bytes(t.ops._abs(t.current_snapshot().manifest_list))
    )
    assert len(segs) < len(list_recs)
    # the deleted-key range still reads exactly
    assert sorted(
        r["k"] for r in t.scan().filter("k >= 200 AND k < 220").to_df().collect()
    ) == [200, 201, 202] + list(range(204, 210))
