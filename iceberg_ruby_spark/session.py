"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` (single JVM); the configuration below is
chosen to also be the right *shape* for a 1000-executor cluster at ~100 TB:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast conversion) — the primary scale lever.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real cluster
  AQE coalesces from a high initial number, so we set a high
  ``initialPartitionNum`` only when AQE is enabled.
- Arrow enabled for every pandas/Arrow interchange (our Pandas-UDF operators
  depend on it).
- Session timezone pinned to UTC so timestamp semantics match the
  reference's UTC normalization (``ext/iceberg/src/table.rs:365-375``) and
  the DuckDB oracle.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Default ``spark.driver.memory``: half the host's ``MemTotal``,
    capped at 24g.  A fixed 24g heap outgrew hosts with less RAM than
    that, and the kernel OOM-killed the driver JVM without Spark ever
    raising.  24g when ``meminfo`` is unreadable.
    ``SPARK_GRAFT_DRIVER_MEM`` overrides the default in :func:`get_spark`."""
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mb = int(line.split()[1]) // 2048  # kB → half, in MB
                    return "24g" if mb >= 24 * 1024 else f"{mb}m"
    except (OSError, ValueError, IndexError):
        pass
    return "24g"


def get_spark(app_name: str = "iceberg_ruby_spark", cpus: Optional[int] = None) -> SparkSession:
    """Create (or reuse) the engine SparkSession."""
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Spark's default 10 MB, env-overridable.  The round-1 value
        # (64 MB) was re-measured in r13: at sf0.1 the two are
        # statistically identical (full 20-query interleaved A/B:
        # 24.431 s vs 24.459 s; 5-rep focused A/B on every query that
        # seemed to prefer 64 MB: overlapping distributions), but at the
        # 10× tier the 64 MB value made the planner BROADCAST the fact
        # side of q3/q5's orders⋈lineitem joins (a ~6M-row single-thread
        # broadcast build + driver collect): q5 3.36 → 0.84 s and q3
        # 1.98 → 0.64 s at sf1 with the default.  Deliberate broadcasts
        # in the query library use explicit hints and are unaffected;
        # the threshold only governs unhinted mid-size decisions, where
        # under-broadcasting costs a coalesced shuffle and
        # over-broadcasting costs a serial build that grows with data.
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            os.environ.get(
                "SPARK_GRAFT_BROADCAST_THRESHOLD", str(10 * 1024 * 1024)
            ),
        )
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "false")
        # driver testdata events.parquet uses INT64 TIMESTAMP(NANOS); Spark
        # has no ns timestamp — read as long, converted to µs by the loader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Janino codegen cache: the default 100 entries is smaller than one
        # pass over this engine's query library (each query = several
        # whole-stage-codegen units), so a session running a query MIX
        # recompiles every generated class on each revisit — measured
        # 4.9-5.2 s vs 3.2 s for the minhash query re-run after 20 other
        # queries.  Compiled code is not data (no result caching); a
        # long-lived 100 TB session serving many distinct queries wants
        # its hot plan fragments to stay compiled.  Static conf — takes
        # effect at first-session creation only.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "4096"),
        )
        # Python worker hygiene for LONG-LIVED sessions: each streaming
        # micro-batch through a Python DataSource spawns workers that the
        # default (unbounded, never-reaped) pool keeps forever — measured
        # 1 → 47 resident python processes across ONE upsert-sink query.
        # A 24/7 streaming driver would accumulate workers without bound;
        # cap the idle pool and reap workers idle past 2 minutes.
        .config("spark.python.factory.idleWorkerMaxPoolSize", "16")
        .config("spark.python.worker.idleTimeoutSeconds", "120")
        .config("spark.python.worker.killOnIdleTimeout", "true")
        # DataFrame-op call-site capture for error enrichment costs ~3 py4j
        # round trips per DataFrame method (conf read + origin set + clear)
        # plus a Python stack walk — pure debugging affordance, no effect
        # on results or error TYPES (only the call-site line in messages).
        # Measured: dedup_minhash_lsh graph construction 0.81 → 0.67 s
        # median (6 reps); it taxes every query's driver time.  Static conf;
        # re-enable via env when diagnosing a plan-construction error.
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            os.environ.get("SPARK_GRAFT_DF_DEBUGGING", "false"),
        )
        # single-threaded BLAS in executor Python workers (see the package
        # __init__ for the measurement): local mode inherits the driver's
        # env, these make cluster deployments behave identically
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
