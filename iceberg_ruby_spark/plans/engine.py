"""Engine (write-path) queries: the catalog/table API exercised end-to-end
and re-read as a query, hash-compared against a pure-SQL oracle.

These verify the parts of SURVEY.md §2 Tier A that a SELECT cannot reach:
append (A17), copy-on-write delete/update/merge (Tier C), time travel
(A23), and hidden-partition transforms (A37-A44).  Each builds a throwaway
warehouse under /tmp, writes a small deterministic slice of the testdata,
and returns the read-back DataFrame.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from iceberg_ruby_spark._localdf import small_local_df
from iceberg_ruby_spark.plans.registry import query
from iceberg_ruby_spark.plans.tables import load

_ORDER_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def _temp_catalog(spark):
    from iceberg_ruby_spark.catalog import MemoryCatalog

    cat = MemoryCatalog(namespace="main", spark=spark)
    cat.create_namespace("main", if_not_exists=True)
    return cat


def _orders_schema():
    return {
        "o_orderkey": "long",
        "o_custkey": "long",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp",
        "o_orderpriority": "string",
    }


@query(
    "engine_append_roundtrip",
    oracle=f"SELECT {', '.join(_ORDER_COLS)} FROM orders WHERE o_orderkey < 2000",
)
def engine_append_roundtrip(spark, sf_dir):
    """append → scan round trip (reference table.rb:161-166): values must
    survive the Parquet write bit-for-bit."""
    cat = _temp_catalog(spark)
    t = cat.create_table("orders_rt", schema=_orders_schema())
    src = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    t.append(src)
    return t.to_df()


@query(
    "engine_delete_cow",
    oracle=f"""
    SELECT {', '.join(_ORDER_COLS)} FROM orders
    WHERE o_orderkey < 2000 AND NOT (o_totalprice > 200000)
    """,
)
def engine_delete_cow(spark, sf_dir):
    """File-pruned copy-on-write DELETE, re-read after commit."""
    cat = _temp_catalog(spark)
    t = cat.create_table("orders_del", schema=_orders_schema())
    t.append(load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000))
    t.delete_where("o_totalprice > 200000")
    return t.to_df()


@query(
    "engine_blind_delete",
    oracle="""
    SELECT o_orderkey AS k,
           CAST(CASE WHEN o_orderkey % 10 = 3 THEN -1
                     ELSE length(o_orderpriority) END AS BIGINT) AS v
    FROM orders WHERE o_orderkey < 2000 AND (o_orderkey % 10 <> 7)
    """,
)
def engine_blind_delete(spark, sf_dir):
    """The blind CDC delete (r13): ``delete_by_keys(verify_hits=False)``
    commits ONE fast-append SEQUENCE-scoped equality delete with
    per-file key-bounds — zero table reads, O(|keys|) at any table size.
    Keys ≡ 7 (mod 10) die; keys ≡ 3 are then RE-INSERTED by a later
    append with sentinel values, which the strictly-lower-sequence rule
    must leave alive even though the same keys also sat in the delete.
    The DuckDB twin states the surviving set in closed form — a scoping,
    bounds, or ordering bug breaks the hash."""
    cat = _temp_catalog(spark)
    t = cat.create_table(
        "orders_blind", schema={"k": "long", "v": "long"}
    )
    base = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select(
            F.col("o_orderkey").alias("k"),
            F.length("o_orderpriority").cast("long").alias("v"),
        )
    )
    t.append(base)
    t = t.refresh()
    dead = base.filter((F.col("k") % 10 == 3) | (F.col("k") % 10 == 7)).select("k")
    n = t.delete_by_keys(dead, on="k", verify_hits=False)
    assert n == dead.count(), "blind delete returns the distinct key count"
    t = t.refresh()
    t.append(
        base.filter(F.col("k") % 10 == 3).select("k", F.lit(-1).cast("long").alias("v"))
    )
    return t.refresh().to_df().select("k", "v")


@query(
    "engine_update_cow",
    oracle=f"""
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_totalprice < 1000 THEN 'L' ELSE o_orderstatus END AS o_orderstatus,
           o_totalprice, o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey < 2000
    """,
)
def engine_update_cow(spark, sf_dir):
    """File-pruned copy-on-write UPDATE."""
    cat = _temp_catalog(spark)
    t = cat.create_table("orders_upd", schema=_orders_schema())
    t.append(load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000))
    t.update_where({"o_orderstatus": "'L'"}, "o_totalprice < 1000")
    return t.to_df()


@query(
    "engine_merge",
    oracle="""
    WITH target AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 1000),
         source AS (SELECT o_orderkey, o_totalprice * 2 AS new_price FROM orders
                    WHERE o_orderkey >= 500 AND o_orderkey < 1500)
    SELECT t.o_orderkey, COALESCE(s.new_price, t.o_totalprice) AS o_totalprice
    FROM target t LEFT JOIN source s ON t.o_orderkey = s.o_orderkey
    UNION ALL
    SELECT s.o_orderkey, s.new_price AS o_totalprice FROM source s
    WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM target)
    """,
)
def engine_merge(spark, sf_dir):
    """MERGE INTO emulation: matched rows updated, unmatched inserted."""
    cat = _temp_catalog(spark)
    t = cat.create_table("orders_mrg", schema={"o_orderkey": "long", "o_totalprice": "double"})
    orders = load(spark, sf_dir, "orders")
    t.append(orders.filter(F.col("o_orderkey") < 1000).select("o_orderkey", "o_totalprice"))
    source = (
        orders.filter((F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 1500))
        .select("o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice"))
    )
    t.merge_into(
        source,
        on="o_orderkey",
        when_matched_update={"o_totalprice": "s.o_totalprice"},
        when_not_matched_insert=True,
    )
    return t.to_df()


@query(
    "engine_merge_mor",
    oracle="""
    WITH target AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 1000),
         source AS (SELECT o_orderkey, o_totalprice * 2 AS new_price FROM orders
                    WHERE o_orderkey >= 500 AND o_orderkey < 1500)
    SELECT t.o_orderkey, COALESCE(s.new_price, t.o_totalprice) AS o_totalprice
    FROM target t LEFT JOIN source s ON t.o_orderkey = s.o_orderkey
    UNION ALL
    SELECT s.o_orderkey, s.new_price AS o_totalprice FROM source s
    WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM target)
    """,
)
def engine_merge_mor(spark, sf_dir):
    """MERGE in merge-on-read mode: matched keys become an equality delete
    file, updated versions + inserts are appended — zero rewrites, the
    CDC-upsert write shape (same answer as engine_merge's CoW plan)."""
    cat = _temp_catalog(spark)
    t = cat.create_table("orders_mrgm", schema={"o_orderkey": "long", "o_totalprice": "double"})
    orders = load(spark, sf_dir, "orders")
    t.append(orders.filter(F.col("o_orderkey") < 1000).select("o_orderkey", "o_totalprice"))
    source = (
        orders.filter((F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 1500))
        .select("o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice"))
    )
    t.merge_into(
        source,
        on="o_orderkey",
        when_matched_update={"o_totalprice": "s.o_totalprice"},
        when_not_matched_insert=True,
        mode="merge-on-read",
    )
    return t.to_df()


@query(
    "engine_time_travel",
    oracle=f"""
    SELECT {', '.join(_ORDER_COLS)} FROM orders
    WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00' AND o_orderkey < 3000
    """,
)
def engine_time_travel(spark, sf_dir):
    """Two appends; scan pinned at the first snapshot sees only batch 1
    (reference scan(snapshot_id:), table.rs:52-60)."""
    cat = _temp_catalog(spark)
    t = cat.create_table("orders_tt", schema=_orders_schema())
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    t.append(orders.filter(F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")))
    first_snapshot = t.current_snapshot_id
    t.append(orders.filter(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")))
    return t.to_df(snapshot_id=first_snapshot)


@query(
    "engine_partitioned_write",
    oracle=f"""
    SELECT {', '.join(_ORDER_COLS)} FROM orders
    WHERE o_orderkey < 4000 AND year(o_orderdate) = 1996
    """,
)
def engine_partitioned_write(spark, sf_dir):
    """Hidden partitioning: write with a year() transform, read back with a
    partition-pruned filter (transforms A37/A40)."""
    from iceberg_ruby_spark.transforms import PartitionField, PartitionSpec, YearTransform

    cat = _temp_catalog(spark)
    t = cat.create_table(
        "orders_part",
        schema=_orders_schema(),
        partition_spec=PartitionSpec(fields=[PartitionField("o_orderdate", YearTransform())]),
    )
    t.append(load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 4000))
    return t.to_df().filter(F.year("o_orderdate") == 1996)


@query(
    "engine_sql_roundtrip",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n FROM orders
    WHERE o_orderkey < 2000 GROUP BY o_orderpriority
    """,
)
def engine_sql_roundtrip(spark, sf_dir):
    """catalog.sql() over a warehouse table with $n params (reference
    catalog.rb:103-108, sql_test.rb:29-43)."""
    cat = _temp_catalog(spark)
    t = cat.create_table("orders_sql", schema=_orders_schema())
    t.append(load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000))
    return cat.sql(
        "SELECT o_orderpriority, COUNT(*) AS n FROM orders_sql WHERE o_orderkey < $1 "
        "GROUP BY o_orderpriority",
        [2000],
    ).df


@query(
    "engine_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_totalprice AS total, CAST(NULL AS VARCHAR) AS channel
    FROM orders WHERE o_orderkey < 1000
    UNION ALL
    SELECT o_orderkey, o_totalprice AS total, 'web' AS channel
    FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 2000
    """,
)
def engine_schema_evolution(spark, sf_dir):
    """add_column + rename_column between two appends: old files are read
    by field id under the new names, added column null-backfills (beyond
    the reference: SURVEY.md notes its evolution is read-tolerated only)."""
    cat = _temp_catalog(spark)
    t = cat.create_table(
        "orders_evo", schema={"o_orderkey": "long", "o_totalprice": "double"}
    )
    orders = load(spark, sf_dir, "orders")
    t.append(
        orders.filter(F.col("o_orderkey") < 1000).select("o_orderkey", "o_totalprice")
    )
    with t.update_schema() as u:
        u.rename_column("o_totalprice", "total")
        u.add_column("channel", "string")
    t = t.refresh()
    t.append(
        orders.filter((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000))
        .select("o_orderkey", F.col("o_totalprice").alias("total"), F.lit("web").alias("channel"))
    )
    return t.to_df()


@query(
    "engine_branch_tag",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 500
    """,
)
def engine_branch_tag(spark, sf_dir):
    """Tag a snapshot, append more, read through the tag: only the tagged
    snapshot's rows are visible (authoring half of snapshot_for_ref,
    reference table.rs:230-268)."""
    cat = _temp_catalog(spark)
    t = cat.create_table(
        "orders_ref", schema={"o_orderkey": "long", "o_totalprice": "double"}
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    t.append(orders.filter(F.col("o_orderkey") < 500))
    t.create_tag("v1")
    t.append(orders.filter((F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 1000)))
    return t.to_df(ref="v1")


@query(
    "engine_delete_mor",
    oracle=f"""
    SELECT {', '.join(_ORDER_COLS)} FROM orders
    WHERE o_orderkey < 2000 AND NOT (o_totalprice > 200000)
    """,
)
def engine_delete_mor(spark, sf_dir):
    """Merge-on-read DELETE by the spec mode name: ``merge-on-read``
    resolves to positional delete files on this v2 table (deletion
    vectors on v3), zero data files rewritten; the read path anti-joins
    the positions (materialized later by compact())."""
    cat = _temp_catalog(spark)
    t = cat.create_table("orders_mor", schema=_orders_schema())
    t.append(load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000))
    t.delete_where("o_totalprice > 200000", mode="merge-on-read")
    return t.to_df()


@query(
    "engine_delete_mor_positional",
    oracle=f"""
    SELECT {', '.join(_ORDER_COLS)} FROM orders
    WHERE o_orderkey < 2000 AND NOT (o_totalprice > 200000)
    """,
)
def engine_delete_mor_positional(spark, sf_dir):
    """Merge-on-read DELETE via positional delete FILES: parquet of
    (file_path, pos) pairs committed as a delete-file entry, zero data
    files rewritten; the read path anti-joins the positions and
    plan_files lists the delete files per task (reference
    ``FileScanTask#delete_files``, ``ext/iceberg/src/scan.rs:92-99``)."""
    cat = _temp_catalog(spark)
    t = cat.create_table("orders_morp", schema=_orders_schema())
    t.append(load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000))
    t.delete_where("o_totalprice > 200000", mode="merge-on-read-positional")
    return t.to_df()


@query(
    "engine_delete_mor_equality",
    oracle=f"""
    SELECT {', '.join(_ORDER_COLS)} FROM orders
    WHERE o_orderkey < 2000 AND o_custkey NOT IN (7, 13, 64)
    """,
)
def engine_delete_mor_equality(spark, sf_dir):
    """Merge-on-read DELETE by key set: an EQUALITY delete file (parquet of
    key tuples + the key columns' field ids in the manifest entry), the
    CDC/streaming-upsert shape — reference ``FileScanTask#delete_files``
    surfaces ``equality_ids`` (``ext/iceberg/src/scan.rs:92-99``)."""
    cat = _temp_catalog(spark)
    t = cat.create_table("orders_more", schema=_orders_schema())
    t.append(load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000))
    t.delete_by_keys([(7,), (13,), (64,)], on="o_custkey")
    return t.to_df()


@query(
    "engine_compact",
    oracle=f"SELECT {', '.join(_ORDER_COLS)} FROM orders WHERE o_orderkey < 2000",
)
def engine_compact(spark, sf_dir):
    """Two appends + cluster-by-sort compaction: the rewrite must preserve
    every row bit-for-bit (and drops nothing, duplicates nothing)."""
    cat = _temp_catalog(spark)
    t = cat.create_table(
        "orders_cmp", schema=_orders_schema(), sort_order=[("o_orderkey", "asc")]
    )
    orders = load(spark, sf_dir, "orders")
    t.append(orders.filter(F.col("o_orderkey") < 1000))
    t.append(orders.filter((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000)))
    t.compact(target_file_rows=500)
    return t.to_df()


@query(
    "engine_incremental_scan",
    oracle=f"""
    SELECT {', '.join(_ORDER_COLS)} FROM orders
    WHERE o_orderkey >= 1000 AND o_orderkey < 2000
    """,
)
def engine_incremental_scan(spark, sf_dir):
    """Incremental append scan: rows added after a snapshot, via manifest
    diff — exactly the second batch."""
    cat = _temp_catalog(spark)
    t = cat.create_table("orders_inc", schema=_orders_schema())
    orders = load(spark, sf_dir, "orders")
    t.append(orders.filter(F.col("o_orderkey") < 1000))
    s1 = t.current_snapshot_id
    t.append(orders.filter((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000)))
    return t.incremental_scan(from_snapshot_id=s1)


@query(
    "engine_maintenance_cycle",
    oracle=f"""
    SELECT {', '.join(_ORDER_COLS)} FROM orders
    WHERE o_orderkey < 2000 AND NOT (o_orderpriority = '1-URGENT')
    """,
)
def engine_maintenance_cycle(spark, sf_dir):
    """Full maintenance lifecycle under the oracle: append → delete →
    compact → expire_snapshots → remove_orphan_files; the surviving state
    must still match exactly."""
    cat = _temp_catalog(spark)
    t = cat.create_table("orders_mnt", schema=_orders_schema())
    t.append(load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000))
    t.delete_where("o_orderpriority = '1-URGENT'")
    t.compact()
    t.expire_snapshots(keep_last=1)
    t = t.refresh()
    t.remove_orphan_files()
    return t.to_df()


@query(
    "engine_changelog_scan",
    oracle=f"""
    SELECT 'delete' AS _change_type, {', '.join(_ORDER_COLS)} FROM orders
    WHERE o_orderkey < 500 AND o_totalprice > 200000
    UNION ALL
    SELECT 'insert' AS _change_type, {', '.join(_ORDER_COLS)} FROM orders
    WHERE o_orderkey >= 1000 AND o_orderkey < 1250
    """,
)
def engine_changelog_scan(spark, sf_dir):
    """Row-level changelog across a delete + append + compaction window:
    the CoW delete emits its dead rows, the append emits its new rows, and
    the compaction rewrite cancels to nothing — so the oracle is just the
    logical delta.  Per-commit cost is O(changed files) (manifest diff +
    exceptAll over differing files only)."""
    cat = _temp_catalog(spark)
    t = cat.create_table("orders_cdc", schema=_orders_schema())
    orders = load(spark, sf_dir, "orders")
    t.append(orders.filter(F.col("o_orderkey") < 500))
    s1 = t.current_snapshot_id
    t.delete_where("o_totalprice > 200000")
    t.append(orders.filter((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 1250)))
    t.compact()
    ch = t.changelog_scan(from_snapshot_id=s1)
    return ch.select("_change_type", *_ORDER_COLS)


@query(
    "engine_inspect_partitions",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS record_count
    FROM orders WHERE o_orderkey < 2000
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def engine_inspect_partitions(spark, sf_dir):
    """inspect.partitions() (metadata-only, no data scan) must agree with
    a real GROUP BY of the source — also pins the hash distribution mode
    (one file per partition value)."""
    cat = _temp_catalog(spark)
    t = cat.create_table(
        "orders_parts",
        schema=_orders_schema(),
        partition_spec=[{"source": "o_orderpriority", "transform": "identity"}],
    )
    orders = load(spark, sf_dir, "orders")
    t.append(orders.filter(F.col("o_orderkey") < 2000))
    parts = t.inspect.partitions()
    return (
        parts.select(
            F.element_at(F.col("partition"), "o_orderpriority").alias("o_orderpriority"),
            F.col("record_count"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "engine_bucket_point_lookup",
    oracle=f"""
    SELECT {', '.join(_ORDER_COLS)} FROM orders
    WHERE o_orderkey IN (137, 1042, 1899) AND o_orderkey < 2000
    """,
)
def engine_bucket_point_lookup(spark, sf_dir):
    """Point lookups on a bucket-partitioned table: the scan plans only
    the matching bucket's files (hidden-partition pruning through the
    spec Murmur3 transform — 1 of 8 files per key), and the result must
    still match the raw-parquet oracle exactly."""
    cat = _temp_catalog(spark)
    t = cat.create_table(
        "orders_bucketed",
        schema=_orders_schema(),
        partition_spec=[{"source": "o_orderkey", "transform": "bucket[8]"}],
    )
    orders = load(spark, sf_dir, "orders")
    t.append(orders.filter(F.col("o_orderkey") < 2000))
    total = len(t.scan().plan_files())
    parts = [
        t.scan().filter(f"o_orderkey = {k}").to_df() for k in (137, 1042, 1899)
    ]
    # each single-key scan must have planned a strict subset of the files
    for k in (137, 1042, 1899):
        assert len(t.scan().filter(f"o_orderkey = {k}").plan_files()) < total
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(*_ORDER_COLS)


@query(
    "engine_wap_publish",
    oracle=f"""
    SELECT {', '.join(_ORDER_COLS)} FROM orders WHERE o_orderkey < 1500
    """,
)
def engine_wap_publish(spark, sf_dir):
    """Write-audit-publish: stage an append on a branch (main unmoved),
    audit via ref scan, publish with fast_forward — final state must
    equal the oracle exactly."""
    cat = _temp_catalog(spark)
    t = cat.create_table("orders_wap", schema=_orders_schema())
    orders = load(spark, sf_dir, "orders")
    t.append(orders.filter(F.col("o_orderkey") < 1000))
    main_before = t.current_snapshot_id
    t.append(
        orders.filter((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 1500)),
        branch="audit",
    )
    assert t.current_snapshot_id == main_before  # staging moved nothing
    audit_count = t.scan(ref="audit").count()
    assert audit_count > t.scan().count()
    t.fast_forward("main", "audit")
    return t.to_df()


@query(
    "engine_avro_manifests",
    oracle=f"""
    SELECT {', '.join(_ORDER_COLS)} FROM orders
    WHERE o_orderkey < 2000 AND NOT (o_totalprice > 200000)
    """,
)
def engine_avro_manifests(spark, sf_dir):
    """The full commit/read cycle with Iceberg-SPEC Avro manifests and
    manifest lists (iceberg_ruby_spark/manifests.py, the engine's only
    manifest format): append, merge-on-read positional delete, time travel, and the final
    scan all plan from Avro metadata — the interop surface the reference
    gets from iceberg-rust's writers (``ext/iceberg/src/table.rs:62-125``,
    scan path ``scan.rs:36-51``)."""
    cat = _temp_catalog(spark)
    t = cat.create_table("orders_avro", schema=_orders_schema())
    t.append(load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000))
    s1 = t.current_snapshot()
    t.delete_where("o_totalprice > 200000", mode="merge-on-read-positional")
    assert t.scan(snapshot_id=s1.snapshot_id).count() > t.scan().count()
    return t.to_df()


@query(
    "engine_row_lineage",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS seq,
           COUNT(*) AS n, COUNT(DISTINCT o_orderkey) AS n_ids
    FROM orders WHERE o_orderkey < 1000
    UNION ALL
    SELECT CAST(2 AS BIGINT) AS seq,
           COUNT(*) AS n, COUNT(DISTINCT o_orderkey) AS n_ids
    FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 2000
    UNION ALL
    SELECT CAST(-1 AS BIGINT) AS seq,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey < 2000) AS n,
           CAST(0 AS BIGINT) AS n_ids
    """,
)
def engine_row_lineage(spark, sf_dir):
    """v3 row lineage invariants, cross-engine checkable without knowing
    which row landed in which file: per-commit ``_row_id`` counts must be
    dense and disjoint (distinct ids == rows, per sequence number), and
    the global range must be exactly [0, total).  The oracle recomputes
    the expected counts straight from the source table; the seq=-1 row
    carries (max_id + 1 - min_id*0) == total via n, proving density."""
    cat = _temp_catalog(spark)
    t = cat.create_table("orders_lineage", schema=_orders_schema())
    src = load(spark, sf_dir, "orders")
    t.append(src.filter(F.col("o_orderkey") < 1000))
    t.append(src.filter((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000)))
    lin = t.scan().with_row_lineage().to_df()
    per_seq = lin.groupBy(
        F.col("_last_updated_sequence_number").alias("seq")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("_row_id").alias("n_ids"),
    )
    bounds = lin.agg(
        F.lit(-1).cast("bigint").alias("seq"),
        (F.max("_row_id") + 1 - F.min("_row_id")).alias("n"),
        F.min("_row_id").alias("n_ids"),  # == 0 when the range starts at 0
    )
    return per_seq.unionByName(bounds)


@query(
    "engine_delete_mor_dv",
    oracle=f"""
    SELECT {', '.join(_ORDER_COLS)} FROM orders
    WHERE o_orderkey < 2000 AND NOT (o_totalprice > 200000)
    """,
)
def engine_delete_mor_dv(spark, sf_dir):
    """Merge-on-read DELETE via Iceberg v3 DELETION VECTORS: one portable
    64-bit roaring bitmap of deleted positions per referenced data file,
    all vectors in one Puffin file per commit, offset-addressed manifest
    entries (deletion_vectors.py — serialization byte-identical to the
    JVM's Roaring64NavigableMap portable codec).  Zero data files
    rewritten; the read path decodes the vectors into the same
    (file_path, pos) anti-join the positional mode uses."""
    cat = _temp_catalog(spark)
    t = cat.create_table("orders_mordv", schema=_orders_schema())
    t.append(load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000))
    t.delete_where("o_totalprice > 200000", mode="merge-on-read-dv")
    return t.to_df()


_WM_COLS = ", ".join(
    c
    if c != "o_orderstatus"
    else (
        "CASE WHEN o_orderpriority = '1-URGENT' THEN 'U' "
        "ELSE o_orderstatus END AS o_orderstatus"
    )
    for c in _ORDER_COLS
)


@query(
    "engine_write_mode_properties",
    oracle=f"""
    SELECT {_WM_COLS} FROM orders
    WHERE o_orderkey < 2000 AND NOT (o_totalprice > 200000)
    """,
)
def engine_write_mode_properties(spark, sf_dir):
    """``write.delete.mode`` / ``write.update.mode`` TBLPROPERTIES route
    SQL DML to merge-on-read — Iceberg's TableProperties engine contract
    (iceberg-spark honors these; the property value ``merge-on-read``
    resolves to deletion vectors on a v3 table).  The SQL DELETE must
    produce deletion-vector entries with zero data files rewritten, and
    the SQL UPDATE must produce DV entries plus new row-version files
    while every pre-existing data file survives by reference.  The DuckDB
    twin replays both statements relationally (filter + CASE)."""
    cat = _temp_catalog(spark)
    t = cat.create_table(
        "orders_wm",
        schema=_orders_schema(),
        properties={"format-version": "3"},
    )
    t.append(load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000))
    data_before = {
        e["path"] for e in t._current_entries() if "path" in e and not e.get("content")
    }
    cat.sql(
        "ALTER TABLE orders_wm SET TBLPROPERTIES ("
        "'write.delete.mode'='merge-on-read', 'write.update.mode'='merge-on-read')"
    )
    cat.sql("DELETE FROM orders_wm WHERE o_totalprice > 200000")
    cat.sql(
        "UPDATE orders_wm SET o_orderstatus = 'U' WHERE o_orderpriority = '1-URGENT'"
    )
    t = cat.load_table("orders_wm")
    entries = t._current_entries()
    if not [e for e in entries if e.get("content") == "deletion-vector"]:
        raise AssertionError("write modes not honored: no deletion vectors")
    still = {e["path"] for e in entries if "path" in e and not e.get("content")}
    if not data_before <= still:
        raise AssertionError("merge-on-read DML rewrote existing data files")
    return t.to_df()


@query(
    "engine_statistics_ndv",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS record_count,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS ndv_status,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS ndv_priority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS ndv_custkey,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS nulls_custkey
    FROM orders WHERE o_orderkey < 4000
    """,
)
def engine_statistics_ndv(spark, sf_dir):
    """compute_statistics() end-to-end: the theta-sketch NDV blobs
    (theta_sketch.py, ``apache-datasketches-theta-v1``) are EXACT for
    columns under the sketch's k=4096 distinct values, so the DuckDB twin
    is plain COUNT(DISTINCT …) — a hash-checked oracle over the whole
    ANALYZE path (write sketch blobs → register stats entry → read back)."""
    cat = _temp_catalog(spark)
    t = cat.create_table("orders_stats", schema=_orders_schema())
    t.append(load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 4000))
    stats = t.compute_statistics()
    again = t.refresh().read_statistics()
    if again != stats:
        raise AssertionError("stats round-trip mismatch")
    cols = stats["columns"]
    return small_local_df(spark, 
        [
            (
                stats["record-count"],
                cols["o_orderstatus"]["ndv"],
                cols["o_orderpriority"]["ndv"],
                cols["o_custkey"]["ndv"],
                cols["o_custkey"]["null-count"],
            )
        ],
        "record_count long, ndv_status long, ndv_priority long, "
        "ndv_custkey long, nulls_custkey long",
    )


@query(
    "engine_schema_defaults",
    oracle=f"""
    SELECT {', '.join(_ORDER_COLS)},
           CASE WHEN o_orderkey < 2000 THEN 'legacy' ELSE 'fresh' END AS src
    FROM orders WHERE o_orderkey < 3000
    """,
)
def engine_schema_defaults(spark, sf_dir):
    """Iceberg v3 default values end-to-end: rows written BEFORE the
    column existed read back the initial-default with zero file rewrites,
    rows appended after carry their explicit values.  The DuckDB twin
    replays the timeline relationally (CASE on the key range)."""
    cat = _temp_catalog(spark)
    t = cat.create_table("orders_dflt", schema=_orders_schema())
    src = load(spark, sf_dir, "orders")
    t.append(src.filter(F.col("o_orderkey") < 2000))
    with t.update_schema() as u:
        u.add_column("src", "string", default="legacy")
    t = cat.load_table("orders_dflt")
    t.append(
        src.filter(
            (F.col("o_orderkey") >= 2000) & (F.col("o_orderkey") < 3000)
        ).withColumn("src", F.lit("fresh"))
    )
    return t.to_df()


@query(
    "engine_fast_append_chain",
    oracle=f"""
    SELECT {', '.join(_ORDER_COLS)} FROM orders
    WHERE o_orderkey < 3000 AND o_orderkey % 500 <> 3
    """,
)
def engine_fast_append_chain(spark, sf_dir):
    """TRUE FAST APPEND end-to-end (iceberg-rust snapshot production,
    ``ext/iceberg/src/table.rs:62-125``): six appends each write ONLY a
    delta manifest — the parent snapshot's Avro ``manifest_file`` records
    are carried into the new manifest list verbatim — then a
    merge-on-read delete and a final read cross the whole chain.  The
    query hard-fails unless the chain actually engaged (6 list records
    with 6 distinct added_snapshot_ids), so the oracle row guards the
    mechanism, not just the values."""
    from iceberg_ruby_spark.avro_file import read_ocf

    cat = _temp_catalog(spark)
    t = cat.create_table("orders_fac", schema=_orders_schema())
    src = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    for i in range(6):
        t.append(src.filter(F.col("o_orderkey") % 6 == i))
    _, recs, _ = read_ocf(
        t.ops.io.read_bytes(t.ops._abs(t.current_snapshot().manifest_list))
    )
    if len(recs) != 6 or len({r["added_snapshot_id"] for r in recs}) != 6:
        raise RuntimeError(
            "fast-append chain not engaged: "
            f"{len(recs)} manifests / "
            f"{len({r['added_snapshot_id'] for r in recs})} snapshot ids"
        )
    t.delete_where("o_orderkey % 500 = 3", mode="merge-on-read")
    return t.to_df()


@query(
    "engine_cdc_apply",
    oracle=f"""
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey < 50 THEN 'R' ELSE o_orderstatus END
             AS o_orderstatus,
           o_totalprice, o_orderdate, o_orderpriority
    FROM orders
    WHERE o_orderkey < 500 AND o_totalprice <= 200000
    UNION ALL
    SELECT {', '.join(_ORDER_COLS)} FROM orders
    WHERE o_orderkey >= 1000 AND o_orderkey < 1250
    """,
)
def engine_cdc_apply(spark, sf_dir):
    """CDC consumption (``Table.apply_changelog``): a replica synced via
    changelog windows must equal the source after a delete + update +
    append window — the replication loop's consume half.  Per key the
    last change wins (an update's delete+insert resolves to the insert);
    final deletes apply as ONE equality-delete commit, final upserts as
    ONE merge — both O(changed rows).  The oracle recomputes the source's
    final state in closed form."""
    cat = _temp_catalog(spark)
    src = cat.create_table("cdc_src", schema=_orders_schema())
    rep = cat.create_table("cdc_rep", schema=_orders_schema())
    orders = load(spark, sf_dir, "orders")
    src.append(orders.filter(F.col("o_orderkey") < 500))
    rep.apply_changelog(src.changelog_scan(), on="o_orderkey")
    mark = src.current_snapshot_id
    src.delete_where("o_totalprice > 200000")
    src.update_where({"o_orderstatus": "'R'"}, "o_orderkey < 50")
    src.append(
        orders.filter((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 1250))
    )
    rep.apply_changelog(
        src.changelog_scan(from_snapshot_id=mark), on="o_orderkey"
    )
    return rep.refresh().to_df().select(*_ORDER_COLS)


@query(
    "engine_merge_delete_clause",
    oracle="""
    WITH target AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 1000),
         source AS (SELECT o_orderkey, o_totalprice * 2 AS new_price FROM orders
                    WHERE o_orderkey >= 500 AND o_orderkey < 1500)
    SELECT t.o_orderkey, COALESCE(s.new_price, t.o_totalprice) AS o_totalprice
    FROM target t LEFT JOIN source s ON t.o_orderkey = s.o_orderkey
    WHERE s.o_orderkey IS NULL OR s.new_price <= 200000
    UNION ALL
    SELECT s.o_orderkey, s.new_price AS o_totalprice FROM source s
    WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM target)
    """,
)
def engine_merge_delete_clause(spark, sf_dir):
    """MERGE with WHEN MATCHED AND cond THEN DELETE (ANSI's third clause;
    delete evaluated before update): matched rows whose doubled price
    exceeds 200000 are deleted, the rest update, unmatched insert.  Runs
    the copy-on-write path via SQL and asserts the merge-on-read path
    reaches the same rows (equality-delete + survivor re-insert)."""
    cat = _temp_catalog(spark)
    orders = load(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") < 1000).select(
        "o_orderkey", "o_totalprice"
    )
    source = (
        orders.filter((F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 1500))
        .select("o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice"))
    )
    results = []
    for nm, mode in (("orders_mdc", None), ("orders_mdcm", "merge-on-read")):
        t = cat.create_table(
            nm, schema={"o_orderkey": "long", "o_totalprice": "double"}
        )
        t.append(target)
        t.merge_into(
            source,
            on="o_orderkey",
            when_matched_update={"o_totalprice": "s.o_totalprice"},
            when_matched_delete="s.o_totalprice > 200000",
            when_not_matched_insert=True,
            mode=mode,
        )
        results.append(t.to_df())
    cow, mor = results
    if cow.exceptAll(mor).count() or mor.exceptAll(cow).count():
        raise RuntimeError("CoW and MoR merge-delete paths disagree")
    return cow


@query(
    "engine_merge_full_sync",
    oracle="""
    SELECT o_orderkey, o_totalprice * 2 AS o_totalprice FROM orders
    WHERE o_orderkey >= 500 AND o_orderkey < 1500
    """,
)
def engine_merge_full_sync(spark, sf_dir):
    """One-shot full-table mirror via MERGE with all three clauses:
    matched updates, unmatched inserts, and WHEN NOT MATCHED BY SOURCE
    THEN DELETE pruning stale rows — after the merge the target IS the
    source snapshot.  CoW run hash-checked; MoR run (loser keys as a
    second equality-delete file, zero rewrites) asserted identical."""
    cat = _temp_catalog(spark)
    orders = load(spark, sf_dir, "orders")
    source = (
        orders.filter((F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 1500))
        .select("o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice"))
    )
    results = []
    for nm, mode in (("orders_fs", None), ("orders_fsm", "merge-on-read")):
        t = cat.create_table(
            nm, schema={"o_orderkey": "long", "o_totalprice": "double"}
        )
        t.append(
            orders.filter(F.col("o_orderkey") < 1000).select(
                "o_orderkey", "o_totalprice"
            )
        )
        t.merge_into(
            source,
            on="o_orderkey",
            when_matched_update={"o_totalprice": "s.o_totalprice"},
            when_not_matched_by_source_delete=True,
            when_not_matched_insert=True,
            mode=mode,
        )
        results.append(t.to_df())
    cow, mor = results
    if cow.exceptAll(mor).count() or mor.exceptAll(cow).count():
        raise RuntimeError("CoW and MoR full-sync paths disagree")
    return cow


@query(
    "engine_materialized_agg",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
           COUNT(*) AS n,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
    FROM orders WHERE o_orderkey < 3000
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def engine_materialized_agg(spark, sf_dir):
    """Incrementally-maintained materialized aggregate
    (materialized.py MaterializedAggregate — the continuous-aggregate /
    hypertable-rollup pattern): three source appends with a refresh after
    each, each refresh reading ONLY the appended window (incremental
    scan) and folding it in with one combine-merge; the final state must
    equal a from-scratch GROUP BY over everything (the DuckDB twin).
    Sum folded through DECIMAL(18,6) so the three-batch accumulation
    order is engine-neutral."""
    from iceberg_ruby_spark.materialized import MaterializedAggregate

    cat = _temp_catalog(spark)
    src = cat.create_table(
        "mv_src", schema={"o_orderkey": "long", "o_orderpriority": "string",
                          "o_totalprice": "double",
                          "dec_price": "decimal(18, 6)"}
    )
    # sums fold through DECIMAL so per-batch accumulation and the
    # combine-merge are EXACT — engine-neutral regardless of batch order
    mv = MaterializedAggregate(
        cat, "mv_rollup", src, group_by=["o_orderpriority"],
        aggs={"total": ("sum", "dec_price"), "n": ("count", "*"),
              "lo": ("min", "o_totalprice"), "hi": ("max", "o_totalprice")},
    )
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    for lo, hi in ((0, 1000), (1000, 2000), (2000, 3000)):
        src.append(
            orders.filter(
                (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi)
            ).select(
                "o_orderkey", "o_orderpriority", "o_totalprice",
                F.col("o_totalprice").cast("decimal(18, 6)").alias("dec_price"),
            )
        )
        mv.refresh()
    out = mv.to_df()
    return out.select(
        "o_orderpriority",
        F.col("total").cast("double").alias("total"),
        F.col("n").cast("long").alias("n"),
        "lo", "hi",
    ).orderBy("o_orderpriority")


@query(
    "engine_materialized_changelog",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
           COUNT(*) AS n
    FROM orders
    WHERE o_orderkey < 3000 AND o_orderkey % 5 <> 1
          AND o_orderpriority <> '5-LOW'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def engine_materialized_changelog(spark, sf_dir):
    """CHANGELOG-maintained materialized aggregate (materialized.py
    mode='changelog', r9): source appends, a merge-on-read (positional)
    DELETE, a copy-on-write DELETE of a whole group, and a COMPACTION —
    each followed by a refresh folding the changelog window's signed
    deltas (insert +1 / delete −1) in one merge; deletes RETRACT, the
    fully-deleted group vanishes from reads (tombstone filtered), the
    compaction folds nothing, and full refresh is never called.  The
    final state must equal a from-scratch GROUP BY over the surviving
    rows (the DuckDB twin).  Sum folds through DECIMAL(18,6) so
    accumulation order is engine-neutral."""
    from iceberg_ruby_spark.materialized import MaterializedAggregate

    cat = _temp_catalog(spark)
    src = cat.create_table(
        "mvcl_src", schema={"o_orderkey": "long", "o_orderpriority": "string",
                            "dec_price": "decimal(18, 6)",
                            "o_totalprice": "double"}
    )
    mv = MaterializedAggregate(
        cat, "mvcl_rollup", src, group_by=["o_orderpriority"],
        aggs={"total": ("sum", "dec_price"), "n": ("count", "*")},
        mode="changelog",
    )
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    rows = orders.select(
        "o_orderkey", "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18, 6)").alias("dec_price"),
        "o_totalprice",
    )
    for lo, hi in ((0, 1500), (1500, 3000)):
        src.append(
            rows.filter((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi))
        )
        mv.refresh()
    src.delete_where("o_orderkey % 5 = 1", mode="merge-on-read")
    mv.refresh()
    src.delete_where("o_orderpriority = '5-LOW'")   # CoW, whole group gone
    mv.refresh()
    src.compact()                                   # emits nothing
    mv.refresh()
    out = mv.to_df()
    return out.select(
        "o_orderpriority",
        F.col("total").cast("double").alias("total"),
        F.col("n").cast("long").alias("n"),
    ).orderBy("o_orderpriority")


@query(
    "engine_materialized_minmax",
    oracle="""
    SELECT o_orderpriority,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi,
           COUNT(*) AS n
    FROM orders
    WHERE o_orderkey < 3000
      AND NOT (o_totalprice > 400000)
      AND NOT (o_orderkey % 7 = 3)
      AND o_orderpriority <> '5-LOW'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def engine_materialized_minmax(spark, sf_dir):
    """min/max under CHANGELOG maintenance via hybrid IVM (materialized.py,
    r10 — r9 refused non-invertible aggregates).  The mutation sequence is
    chosen to hit every recompute path: a merge-on-read delete
    of the price TOP TAIL (kills the stored MAX of every group →
    endangered-group recompute), a delete of scattered mid-values (misses
    most extremes → plain fold, recompute only where a group minimum
    happened to die), a copy-on-write delete of a whole group (tombstone),
    and a compaction (folds nothing).  Final state must equal a
    from-scratch MIN/MAX/COUNT over the survivors — min/max of doubles
    compare exactly (no accumulation order)."""
    from iceberg_ruby_spark.materialized import MaterializedAggregate

    cat = _temp_catalog(spark)
    src = cat.create_table(
        "mvmm_src", schema={"o_orderkey": "long", "o_orderpriority": "string",
                            "o_totalprice": "double"}
    )
    mv = MaterializedAggregate(
        cat, "mvmm_rollup", src, group_by=["o_orderpriority"],
        aggs={"lo": ("min", "o_totalprice"), "hi": ("max", "o_totalprice"),
              "n": ("count", "*")},
        mode="changelog",
    )
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    rows = orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
    for lo, hi in ((0, 1500), (1500, 3000)):
        src.append(
            rows.filter((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi))
        )
        mv.refresh()
    src.delete_where("o_totalprice > 400000", mode="merge-on-read")
    mv.refresh()                                     # max extremes die → recompute
    src.delete_where("o_orderkey % 7 = 3", mode="merge-on-read")
    mv.refresh()                                     # mostly non-extreme deletes
    src.delete_where("o_orderpriority = '5-LOW'")    # CoW, whole group gone
    mv.refresh()
    src.compact()                                    # emits nothing
    mv.refresh()
    return mv.to_df().select(
        "o_orderpriority", "lo", "hi", F.col("n").cast("long").alias("n")
    ).orderBy("o_orderpriority")


@query(
    "engine_agg_pushdown",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
           CAST(COUNT(o_custkey) AS BIGINT) AS nonnull_cust,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
           CAST(SUM(CASE WHEN o_custkey % 7 = 0 THEN 0 ELSE 1 END)
                AS BIGINT) AS live_rows,
           CAST(SUM(CASE WHEN o_custkey % 7 = 0 THEN 0 ELSE 1 END)
                AS BIGINT) AS sql_live_rows,
           CAST(SUM(CASE WHEN o_orderkey < 2000 THEN 1 ELSE 0 END)
                AS BIGINT) AS aligned_cnt,
           CAST(SUM(CASE WHEN o_orderkey >= 1000 THEN 1 ELSE 0 END)
                AS BIGINT) AS split_cnt,
           CAST(SUM(CASE WHEN o_orderkey < 2000 THEN 1 ELSE 0 END)
                AS BIGINT) AS sql_where_cnt,
           CAST(SUM(CASE WHEN o_orderkey < 2000 AND o_custkey IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS fcol_cnt,
           CAST(MIN(CASE WHEN o_orderkey >= 1000 THEN o_orderkey END)
                AS BIGINT) AS mlo,
           CAST(MAX(CASE WHEN o_orderkey >= 1000 THEN o_orderkey END)
                AS BIGINT) AS mhi,
           CAST(SUM(CASE WHEN o_orderkey >= 1000 THEN 1 ELSE 0 END)
                AS BIGINT) AS mn,
           CAST(MIN(CASE WHEN o_orderkey < 2000 THEN o_orderkey END)
                AS BIGINT) AS plo,
           CAST(SUM(CASE WHEN o_orderkey < 2000 THEN 1 ELSE 0 END)
                AS BIGINT) AS pn,
           CAST(SUM(CASE WHEN o_orderkey < 2000
                         AND (o_custkey IS NULL OR o_custkey % 7 <> 0)
                         THEN 1 ELSE 0 END) AS BIGINT) AS dv_aligned_cnt
    FROM orders WHERE o_orderkey < 4000
    """,
)
def engine_agg_pushdown(spark, sf_dir):
    """Metadata-only aggregate pushdown end-to-end (Iceberg-Spark parity):
    COUNT(*)/MIN/MAX answered from manifest record counts and bounds —
    zero data files opened (test_agg_pushdown.py proves it by deleting
    the files from disk) — and a deletion-vector delete keeps COUNT
    metadata-answerable because spec v3 guarantees one DV per data file
    whose recorded cardinality subtracts exactly.  ``SELECT COUNT(*)``
    SQL routes through the same path.  The DuckDB twin recomputes every
    aggregate relationally (NULL o_custkey rows survive the modulus
    delete in both engines)."""
    cat = _temp_catalog(spark)
    t = cat.create_table(
        "orders_aggpd",
        schema={"o_orderkey": "long", "o_custkey": "long"},
    )
    rows = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 4000)
    for lo, hi in ((0, 2000), (2000, 4000)):
        t.append(
            rows.select("o_orderkey", "o_custkey").filter(
                (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi)
            )
        )
    total = t.scan().count()
    nonnull_cust = t.scan().count("o_custkey")   # from null counts
    min_key = t.scan().min("o_orderkey")
    max_key = t.scan().max("o_orderkey")
    # r11 filtered COUNT(*): the file-boundary-aligned predicate answers
    # from metadata (each commit's file range fully matches or misses);
    # the mid-file predicate provably SPLITS a file and must execute
    aligned = t.scan().filter("o_orderkey < 2000").count()
    split = t.scan().filter("o_orderkey >= 1000").count()
    sql_where = cat.sql(
        "SELECT COUNT(*) AS n FROM orders_aggpd WHERE o_orderkey < 2000"
    ).to_a()[0]["n"]
    # r12 filtered COUNT(col): full-match files contribute
    # record-count − null-count(col); the compared column's zero-null
    # full-match proof is independent of the counted column's nulls
    fcol = t.scan().filter("o_orderkey < 2000").count("o_custkey")
    # r12 all-or-nothing multi-agg SQL: the split predicate makes NO item
    # provable — the statement falls through to ONE generic Spark scan
    # (test_agg_pushdown.py pins the zero-extra-scans claim); the aligned
    # spelling serves every item from one shared manifest read
    mrow = cat.sql(
        "SELECT MIN(o_orderkey) AS mlo, MAX(o_orderkey) AS mhi,"
        " COUNT(*) AS mn FROM orders_aggpd WHERE o_orderkey >= 1000"
    ).to_a()[0]
    prow = cat.sql(
        "SELECT MIN(o_orderkey) AS plo, COUNT(*) AS pn"
        " FROM orders_aggpd WHERE o_orderkey < 2000"
    ).to_a()[0]
    t.delete_where("o_custkey % 7 = 0", mode="merge-on-read-dv")
    live = t.scan().count()
    sql_live = cat.sql("SELECT COUNT(*) AS n FROM orders_aggpd").to_a()[0]["n"]
    # r12: a DV no longer demotes filtered COUNT(*) — its cardinality
    # subtracts when its referenced file full-matches the predicate
    dv_aligned = t.scan().filter("o_orderkey < 2000").count()
    return small_local_df(spark, 
        [(total, nonnull_cust, min_key, max_key, live, sql_live,
          aligned, split, sql_where, fcol,
          mrow["mlo"], mrow["mhi"], mrow["mn"], prow["plo"], prow["pn"],
          dv_aligned)],
        "total_rows long, nonnull_cust long, min_key long, max_key long, "
        "live_rows long, sql_live_rows long, aligned_cnt long, "
        "split_cnt long, sql_where_cnt long, fcol_cnt long, "
        "mlo long, mhi long, mn long, plo long, pn long, "
        "dv_aligned_cnt long",
    )


@query(
    "engine_show_partitions",
    oracle="""
    SELECT 'o_orderpriority=' || o_orderpriority AS partition,
           CAST(COUNT(*) AS BIGINT) AS record_count
    FROM orders WHERE o_orderkey < 4000
    GROUP BY o_orderpriority
    """,
)
def engine_show_partitions(spark, sf_dir):
    """SHOW PARTITIONS end-to-end over an identity-partitioned table —
    name=value strings (space-bearing priority values exercise the r12
    literal-path fix) + per-partition record counts, metadata-only; the
    DuckDB twin recomputes both relationally."""
    cat = _temp_catalog(spark)
    t = cat.create_table(
        "orders_shp",
        schema={"o_orderkey": "long", "o_orderpriority": "string"},
        partition_spec=[("o_orderpriority", "identity")],
    )
    t.append(
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 4000)
        .select("o_orderkey", "o_orderpriority")
    )
    rows = cat.sql("SHOW PARTITIONS orders_shp").to_a()
    return small_local_df(spark, 
        [(r["partition"], r["record_count"]) for r in rows],
        "partition string, record_count long",
    )


@query(
    "engine_partition_counts",
    oracle="""
    SELECT o_orderpriority AS pr,
           CAST(SUM(CASE WHEN o_orderkey % 100 = 7 THEN 0 ELSE 1 END)
                AS BIGINT) AS n
    FROM orders WHERE o_orderkey < 4000
    GROUP BY o_orderpriority
    """,
)
def engine_partition_counts(spark, sf_dir):
    """Partition histogram from metadata (r12): ``SELECT col, COUNT(*)
    GROUP BY col`` over an identity-partitioned table answers from
    manifest stats alone — every file is single-valued on the partition
    source (lower == upper by construction), and a deletion vector
    subtracts from its referenced file's group exactly
    (test_agg_pushdown.py proves the zero-read claim by deleting the
    files).  The SQL route and the scan API must agree; the DuckDB twin
    recomputes the histogram relationally."""
    cat = _temp_catalog(spark)
    t = cat.create_table(
        "orders_pc",
        schema={"o_orderkey": "long", "o_orderpriority": "string"},
        partition_spec=[("o_orderpriority", "identity")],
    )
    t.append(
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 4000)
        .select("o_orderkey", "o_orderpriority")
    )
    t = t.refresh()
    t.delete_where("o_orderkey % 100 = 7", mode="merge-on-read-dv")
    t = t.refresh()
    meta = t.scan().metadata_group_counts("o_orderpriority")
    res = cat.sql(
        "SELECT o_orderpriority AS pr, COUNT(*) AS n"
        " FROM orders_pc GROUP BY o_orderpriority"
    ).to_a()
    # the statement must have been SERVED from metadata, and agree
    assert meta is not None, "metadata group counts declined unexpectedly"
    assert sorted((k, v) for k, v in meta) == sorted(
        (r["pr"], r["n"]) for r in res
    )
    return small_local_df(spark, meta, "pr string, n long")


@query(
    "engine_partition_rollup",
    oracle="""
    SELECT o_orderpriority AS pr,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(o_orderkey) AS BIGINT) AS lo,
           CAST(MAX(o_orderkey) AS BIGINT) AS hi,
           CAST(COUNT(o_custkey) AS BIGINT) AS ns
    FROM (
        SELECT o_orderkey, o_orderpriority,
               CASE WHEN o_orderkey % 5 = 0 THEN NULL
                    ELSE o_custkey END AS o_custkey
        FROM orders WHERE o_orderkey < 4000
    )
    GROUP BY o_orderpriority
    """,
)
def engine_partition_rollup(spark, sf_dir):
    """Multi-aggregate partition rollup from metadata (r13, VERDICT r12
    #4): ``SELECT p, COUNT(*), MIN(x), MAX(x), COUNT(y) GROUP BY p`` —
    the partitions-metadata-table's natural shape — answers from manifest
    stats alone when every file is single-valued on p (identity
    partitioning gives this by construction) and bound-exact on x.  The
    in-query assert pins that the statement was SERVED from metadata
    (scan API non-None) and that the SQL route agrees; the DuckDB twin
    recomputes the rollup relationally, NULL census included."""
    cat = _temp_catalog(spark)
    t = cat.create_table(
        "orders_pr",
        schema={
            "o_orderkey": "long",
            "o_orderpriority": "string",
            "o_custkey": "long",
        },
        partition_spec=[("o_orderpriority", "identity")],
    )
    t.append(
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 4000)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.when(F.col("o_orderkey") % 5 == 0, F.lit(None))
            .otherwise(F.col("o_custkey"))
            .cast("long")
            .alias("o_custkey"),
        )
    )
    t = t.refresh()
    meta = t.scan().metadata_group_aggs(
        "o_orderpriority",
        [("COUNT", None), ("MIN", "o_orderkey"), ("MAX", "o_orderkey"),
         ("COUNT", "o_custkey")],
    )
    assert meta is not None, "metadata rollup declined unexpectedly"
    res = cat.sql(
        "SELECT o_orderpriority AS pr, COUNT(*) AS n,"
        " MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi,"
        " COUNT(o_custkey) AS ns"
        " FROM orders_pr GROUP BY o_orderpriority"
    ).to_a()
    assert sorted(meta) == sorted(
        (r["pr"], r["n"], r["lo"], r["hi"], r["ns"]) for r in res
    )
    return small_local_df(spark, meta, "pr string, n long, lo long, hi long, ns long")


@query(
    "engine_cdc_scd2",
    oracle="""
    WITH base AS (
        SELECT o_orderkey AS k, o_totalprice AS price
        FROM orders WHERE o_orderkey < 2000
    )
    SELECT CAST(k AS BIGINT) AS k, price,
           CAST(0 AS BIGINT) AS from_pos,
           CAST(CASE WHEN k % 10 = 3 THEN 1
                     WHEN k % 10 = 7 THEN 2 END AS BIGINT) AS to_pos,
           TRUE AS from_ts_ok, TRUE AS to_ts_ok
    FROM base
    UNION ALL
    SELECT CAST(k AS BIGINT), price + 1, CAST(1 AS BIGINT), CAST(NULL AS BIGINT),
           TRUE, TRUE
    FROM base WHERE k % 10 = 3
    UNION ALL
    SELECT CAST(o_orderkey AS BIGINT), o_totalprice, CAST(3 AS BIGINT),
           CAST(NULL AS BIGINT), TRUE, TRUE
    FROM orders WHERE o_orderkey >= 2000 AND o_orderkey < 3000
    """,
)
def engine_cdc_scd2(spark, sf_dir):
    """apply_changelog_scd2 end-to-end: a known commit sequence (bulk
    append → CoW UPDATE → CoW DELETE → append) consumed into a type-2
    history across TWO changelog windows, so the cross-window
    close-the-open-version path runs.  Random snapshot ids map to their
    commit-chain position for the oracle, which reconstructs every
    version bracket relationally (update closes at 1, delete at 2,
    survivors stay open).  r11: the history also carries timestamp
    brackets (valid_from_ts/valid_to_ts, stamped from the source's
    snapshot log via ``source=``); the query emits per-row booleans
    asserting each stamp equals the snapshot log's timestamp for
    exactly the bracketing commit (NULL edges stay NULL) — the oracle
    expects all-TRUE."""
    cat = _temp_catalog(spark)
    src = cat.create_table(
        "orders_scd_src", schema={"k": "long", "price": "double"}
    )
    hist = cat.create_table(
        "orders_scd_hist",
        schema={
            "k": "long",
            "price": "double",
            "valid_from": "long",
            "valid_to": "long",
            "valid_from_ts": "long",
            "valid_to_ts": "long",
        },
    )
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("price")
    )
    src.append(orders.filter(F.col("k") < 2000))                 # pos 0
    src.update_where({"price": "price + 1"}, "k % 10 = 3")       # pos 1
    mark = src.refresh().current_snapshot().snapshot_id
    hist.apply_changelog_scd2(src.changelog_scan(), on="k", source=src)  # window 1
    src.delete_where("k % 10 = 7")                               # pos 2
    src.append(orders.filter((F.col("k") >= 2000) & (F.col("k") < 3000)))  # pos 3
    hist.apply_changelog_scd2(
        src.changelog_scan(from_snapshot_id=mark), on="k", source=src  # window 2
    )
    snaps = sorted(src.refresh().ops.load().snapshots, key=lambda s: s.sequence_number)
    posmap = F.create_map(
        *[F.lit(x) for i, s in enumerate(snaps) for x in (s.snapshot_id, i)]
    )
    tsmap = F.create_map(
        *[
            F.lit(x).cast("long")
            for s in snaps
            for x in (s.snapshot_id, s.timestamp_ms)
        ]
    )
    return hist.refresh().to_df().select(
        "k",
        "price",
        posmap[F.col("valid_from")].cast("long").alias("from_pos"),
        posmap[F.col("valid_to")].cast("long").alias("to_pos"),
        (tsmap[F.col("valid_from")] == F.col("valid_from_ts")).alias("from_ts_ok"),
        F.when(
            F.col("valid_to").isNull(), F.col("valid_to_ts").isNull()
        ).otherwise(tsmap[F.col("valid_to")] == F.col("valid_to_ts")).alias(
            "to_ts_ok"
        ),
    )


@query(
    "engine_bloom_lookup",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CAST(o_custkey AS BIGINT) AS o_custkey
    FROM orders
    WHERE o_orderkey < 2000 AND o_orderkey IN (3, 998, 1501, 999999)
    """,
)
def engine_bloom_lookup(spark, sf_dir):
    """Per-file Bloom key index end-to-end: orders land as interleaved
    single-file commits (every file's bounds span the key domain, so
    bounds pruning is useless), build_key_bloom indexes them, and point
    lookups — two hits, one bounds-invisible miss (999999) — answer
    through the bloom-pruned plan.  The DuckDB twin recomputes the same
    lookups relationally; test_bloom_index.py proves the file-skip
    itself."""
    cat = _temp_catalog(spark)
    t = cat.create_table(
        "orders_bloom", schema={"o_orderkey": "long", "o_custkey": "long"}
    )
    rows = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_custkey")
    )
    for f in range(4):
        t.append(rows.filter(F.col("o_orderkey") % 4 == f).coalesce(1))
    t.build_key_bloom("o_orderkey")
    t = t.refresh()
    out = None
    for k in (3, 998, 1501, 999999):
        part = t.scan().filter(f"o_orderkey = {k}").to_df()
        out = part if out is None else out.unionByName(part)
    return out


@query(
    "engine_changelog_net",
    oracle="""
    WITH a AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders
               WHERE o_orderkey < 1500),
         b AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders
               WHERE o_orderkey >= 1500 AND o_orderkey < 2000)
    SELECT CAST(k AS BIGINT) AS k, p AS price, 'delete' AS ct
    FROM a WHERE k % 10 = 3
    UNION ALL
    SELECT CAST(k AS BIGINT), p, 'delete' FROM a
    WHERE k % 7 = 2 AND k % 10 != 3
    UNION ALL
    SELECT CAST(k AS BIGINT), p + 1, 'insert' FROM a
    WHERE k % 7 = 2 AND k % 10 != 3
    UNION ALL
    SELECT CAST(k AS BIGINT), p, 'insert' FROM b
    WHERE k % 10 != 3 AND k % 7 != 2
    UNION ALL
    SELECT CAST(k AS BIGINT), p + 1, 'insert' FROM b
    WHERE k % 10 != 3 AND k % 7 = 2
    """,
)
def engine_changelog_net(spark, sf_dir):
    """changelog_net (iceberg-spark net_changes) end-to-end: a window of
    append + CoW delete + CoW update over a pre-window base — in-window
    cancellation (appended rows later deleted vanish; an appended row
    updated in-window nets to its NEW content only) and pre-window rows
    net to plain deletes / delete+insert pairs.  The oracle enumerates
    every net bucket relationally."""
    cat = _temp_catalog(spark)
    t = cat.create_table(
        "orders_clnet", schema={"k": "long", "price": "double"}
    )
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("price")
    )
    t.append(orders.filter(F.col("k") < 1500))
    mark = t.refresh().current_snapshot().snapshot_id
    t.append(orders.filter((F.col("k") >= 1500) & (F.col("k") < 2000)))
    t.delete_where("k % 10 = 3")
    t.update_where({"price": "price + 1"}, "k % 7 = 2")
    return t.changelog_net(from_snapshot_id=mark).select(
        "k", "price", F.col("_change_type").alias("ct")
    )


@query(
    "engine_variant_type",
    oracle="""
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    WHERE doc_id < 400 AND n_chars > 200
    ORDER BY doc_id
    """,
)
def engine_variant_type(spark, sf_dir):
    """Iceberg v3 ``variant`` end-to-end (r13 extension; the reference's
    Rust binding maps primitives/list/map/struct only,
    ext/iceberg/src/schema.rs:100-181): SQL CREATE TABLE with a VARIANT
    column under TBLPROPERTIES format-version 3, semi-structured
    ingestion via parse_json (each document's lang/source/n_chars as one
    JSON object), parquet round-trip through Spark's native VariantType,
    and a read that filters + projects through variant_get — the DuckDB
    twin recomputes the same fields relationally from the source table,
    so a shredding, parse, or typed-extract bug breaks the hash.  Stats
    posture: the variant column records no bounds (spec: variant carries
    no ordering), pinned with the other declines in
    tests/test_variant.py."""
    cat = _temp_catalog(spark)
    cat.sql(
        "CREATE TABLE docs_var (doc_id BIGINT, meta VARIANT) "
        "TBLPROPERTIES ('format-version'='3')"
    )
    t = cat.load_table("docs_var")
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    t.append(
        d.select(
            "doc_id",
            F.parse_json(
                F.to_json(F.struct("lang", "source", "n_chars"))
            ).alias("meta"),
        )
    )
    t = t.refresh()
    return (
        t.scan()
        .to_df()
        .select(
            "doc_id",
            F.variant_get("meta", "$.lang", "string").alias("lang"),
            F.variant_get("meta", "$.n_chars", "long").alias("n_chars"),
        )
        .filter(F.col("n_chars") > 200)
        .orderBy("doc_id")
    )


@query(
    "engine_variant_shred",
    oracle="""
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    WHERE doc_id < 400 AND n_chars > 300
    ORDER BY doc_id
    """,
)
def engine_variant_shred(spark, sf_dir):
    """Shredded variant statistics (r13 extension — the engine rendition
    of parquet variant shredding): ``write.variant.shred.meta =
    '$.n_chars:long,$.lang:string'`` materializes typed extraction
    columns beside the variant at write time, with ordinary
    min/max/null manifest stats, so a ``variant_get`` filter prunes
    files like a real-column filter — the scale answer for
    semi-structured predicates, which otherwise scan every row.  The
    corpus is appended in n_chars-sorted slices (tight per-file shred
    bounds), the in-query assertion pins that the variant_get filter's
    plan touches STRICTLY fewer files than the table holds, and the
    DuckDB twin recomputes the rows relationally — a shred-extraction,
    bounds, or pruning-soundness bug breaks the hash or the
    assertion."""
    cat = _temp_catalog(spark)
    t = cat.create_table(
        "docs_shred",
        schema={"doc_id": "long", "meta": "variant"},
        properties={
            "format-version": "3",
            "write.variant.shred.meta": "$.n_chars:long,$.lang:string",
        },
    )
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    payload = d.select(
        "doc_id",
        F.parse_json(
            F.to_json(F.struct("lang", "n_chars"))
        ).alias("meta"),
        F.col("n_chars").alias("__bucket_key"),
    )
    # three appends split by n_chars range -> tight, mostly-disjoint
    # per-file shred bounds (the layout a sorted ingest produces)
    for lo_b, hi_b in ((0, 200), (200, 300), (300, 10**9)):
        t.append(
            payload.filter(
                (F.col("__bucket_key") >= lo_b) & (F.col("__bucket_key") < hi_b)
            ).drop("__bucket_key")
        )
        t = t.refresh()
    total = len([e for e in t._current_entries() if "path" in e])
    sc = t.scan().filter("variant_get(meta, '$.n_chars', 'long') > 300")
    planned = len([p for p in sc.plan_files() if p.get("data_file_path")])
    assert 0 < planned < total, (
        f"variant shred pruning had no effect: {planned} of {total}"
    )
    return (
        sc.to_df()
        .select(
            "doc_id",
            F.variant_get("meta", "$.lang", "string").alias("lang"),
            F.variant_get("meta", "$.n_chars", "long").alias("n_chars"),
        )
        .orderBy("doc_id")
    )
