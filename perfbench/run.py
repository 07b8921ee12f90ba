"""Benchmark command for the iceberg_ruby_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload corpus_queries --seed 1 --seconds 1 --trace 0

One process is one run: it starts a fresh Spark session on
``local[<nproc>]``, builds the workload's inputs in a fresh directory
under ``.bench_build/perfbench/`` (set-up, repeated three times), runs a
first pass of the workload's operation sequence, then one warm pass and
more until ``--seconds`` have passed, checks every output, stops the
session and its JVM, and deletes its directories.  One driver thread
issues the operations one after another (a closed loop).

The last stdout line is the result: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``).  The line before it is a report with every
metric of both kinds that the run measured, the workload-specific ones,
sample counts and the host state.  ``--trace 1`` also enables Spark's event
log and writes the spans to ``.bench_build/perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3
DRIVER_MEM = "1g"
TAIL_PCT = 75  # percentile of the warm operations reported as op_tail_s
END_TO_END = {
    "setup_s": "s",
    "first_pass_cpu_s": "s",
    "warm_pass_cpu_s": "s",
    "peak_rss_mb": "MB",
}
TABLE_KINDS = [
    "append", "delete_by_keys", "upsert", "compact", "expire_snapshots",
    "remove_orphan_files", "plan_files", "count", "minmax", "time_travel",
    "point_read",
]
COMMIT_KINDS = {"append", "delete_by_keys", "upsert", "compact"}
SCAN_PLAN_KINDS = {"plan_files", "count", "minmax"}
SPARK_KEYS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.driver_gap_s": "s",
}
COUNT_KEYS = [
    "manifests.read_calls", "manifests.write_calls", "manifests.segments_read",
    "manifests.segments_skipped", "io.read_calls", "io.read_bytes",
    "io.write_calls", "io.write_bytes", "io.list_calls", "io.exists_calls",
    "streaming.batches",
]


# ------------------------------------------------------------ host state
_CANARY_TASK = """
import hashlib, json, time
t0 = time.time()
p0 = time.perf_counter()
d = b"x" * 8192
for _ in range(10000):
    d = hashlib.sha256(d).digest() * 256
print(json.dumps([t0, time.time(), time.perf_counter() - p0]))
"""


def cpu_canary() -> float:
    """Single-thread sha256 canary (seconds), as in bench.py."""
    import hashlib

    buf = bytes(range(256)) * 4096
    t0 = time.perf_counter()
    d = buf
    for _ in range(400):
        d = hashlib.sha256(d + buf).digest()
    return time.perf_counter() - t0


def cpu_canary_parallel(n: int) -> dict:
    """bench.py's parallel canary sized to this host: ``n`` processes run
    one fixed sha256 burst each; scaling = n × one burst's time / the
    wall time from the first start to the last finish, the host's
    effective core count."""
    import subprocess

    def burst(k: int) -> list[list[float]]:
        procs = [
            subprocess.Popen([sys.executable, "-c", _CANARY_TASK], stdout=subprocess.PIPE)
            for _ in range(k)
        ]
        return [json.loads(p.communicate()[0]) for p in procs]

    single = burst(1)[0][2]
    runs = burst(n)
    wall = max(r[1] for r in runs) - min(r[0] for r in runs)
    return {"n": n, "single_s": single, "wall_s": wall, "scaling": n * single / wall}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def reap(pids: list[int], timeout: float = 20.0) -> list[str]:
    """Wait until ``pids`` and every remaining descendant of this process
    have ended (a worker whose JVM has exited is re-parented, so it is
    tracked by pid); kill what is still alive after ``timeout``.  Returns
    the command lines that had to be killed."""
    def alive() -> list[int]:
        return [p for p in set(pids) | set(descendants(os.getpid())) if _alive(p)]

    deadline = time.monotonic() + timeout
    while alive() and time.monotonic() < deadline:
        time.sleep(0.2)
    left = alive()
    killed = [_cmdline(p)[:120] for p in left]
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while alive() and time.monotonic() < deadline + 10:
        time.sleep(0.2)
    return killed


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and its live
    descendants (the JVM, Spark's Python workers), including the children
    they have reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def jvm_old_gen_peak_mb(spark) -> float:
    """Peak occupancy of the driver JVM's old generation, from its
    ``MemoryPoolMXBean``s: the heap the run retained, which the fixed
    heap hides from ``VmHWM``."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    used = sum(
        pool.getPeakUsage().getUsed()
        for pool in mf.getMemoryPoolMXBeans()
        if "Old Gen" in pool.getName()
    )
    return used / 2**20


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


# --------------------------------------------------------------- helpers
def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, pct: float) -> float:
    if not xs:
        return 0.0
    s = sorted(xs)
    i = min(len(s) - 1, max(0, int(round(pct / 100.0 * (len(s) - 1)))))
    return float(s[i])


def stop_spark_and_jvm(spark) -> None:
    """Stop the session, then the py4j gateway JVM, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception as exc:  # the JVM may already be gone
        print(f"perfbench: gateway shutdown: {exc!r}", file=sys.stderr)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def configure_env(work: str, trace: bool) -> str:
    """Keep every file the run writes inside ``work``; size the session
    to this host.  Returns the event-log directory (traced runs)."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    events = os.path.join(work, "eventlog")
    for d in (tmp, local, events):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # every JVM (the launcher too): temp files under work, no
    # hsperfdata files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = [
        f"spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
        # a fixed, pre-touched heap: the JVM's resident size then does
        # not depend on when G1 decides to grow the heap.  It also means
        # peak_rss_mb cannot see heap use below the fixed size; the old
        # generation's peak is reported per layer instead
        f"spark.driver.extraJavaOptions=-Dderby.system.home={os.path.join(work, 'derby')}"
        f" -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
    ]
    if trace:
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{events}",
            "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in conf
    ) + " pyspark-shell"
    return events


# ------------------------------------------------------------------ main
def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="corpus and table size multiplier (1 = benchmark size)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "iceberg_ruby_spark", "__init__.py")):
        print("perfbench: run from the repository root (iceberg_ruby_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    host = {"nproc": nproc(), "loadavg_before": os.getloadavg(), "cpu_canary_before_s": cpu_canary()}
    host["cpu_canary_parallel"] = cpu_canary_parallel(host["nproc"])

    base = os.path.join(root, ".bench_build", "perfbench")
    cache = os.path.join(base, "cache")
    os.makedirs(cache, exist_ok=True)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
    work = os.path.join(base, "runs", run_id)
    os.makedirs(work)
    try:
        return measure(args, base, work, run_id, host)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, base: str, work: str, run_id: str, host: dict) -> int:
    """Set up, run the passes, tear down, and print the report and the
    result lines."""
    from tracing import Tracer, read_event_log, spark_window_stats
    from workloads import CORPUS_QUERIES, WORKLOADS, Bench

    trace = bool(args.trace)
    tracer = Tracer(run_id, trace)
    # every workload's one-time inputs, before the session starts, so
    # the first run in a checkout builds them all; a missing table
    # template is built by the engine in a process of its own
    t0 = time.perf_counter()
    for name, cls in WORKLOADS.items():
        w = cls()
        w.prepare_cache(os.path.join(base, "cache"), args.scale)
        if name == args.workload:
            wl = w
    cache_s = time.perf_counter() - t0
    spark = None
    try:
        events_dir = configure_env(work, trace)
        t_setup = time.perf_counter()
        with tracer.span("session.get_spark"):
            from iceberg_ruby_spark.session import get_spark

            spark = get_spark("perfbench")
        session_s = time.perf_counter() - t_setup
        tracer.samples["session.get_spark_s"].append(session_s)
        tracer.attach_spark(spark.sparkContext)
        tracer.install()

        b = Bench(spark, tracer, args.seed, work)
        builds = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.build(b, rep)
            builds.append(time.perf_counter() - t0)
        setup_s = session_s + median(builds)

        passes = []
        t_warm = None
        while True:
            b.pass_index = tracer.phase = len(passes)
            t0 = time.time()
            c0 = tree_cpu_s()
            p0 = time.perf_counter()
            wl.run_pass(b)
            passes.append({"t0": t0, "wall": time.perf_counter() - p0, "cpu": tree_cpu_s() - c0})
            if t_warm is None:
                t_warm = time.perf_counter()
                continue
            if time.perf_counter() - t_warm >= args.seconds or len(passes) == wl.max_passes:
                break
        tracer.phase = len(passes)
        wl.finish(b)

        workers = [p for p in descendants(os.getpid()) if "python" in _cmdline(p)]
        jvm = [p for p in descendants(os.getpid()) if "java" in _cmdline(p).split(" ", 1)[0]]
        python_peak_mb = _vm_hwm_kb(os.getpid()) / 1024.0
        peak_rss_mb = python_peak_mb + sum(_vm_hwm_kb(p) for p in jvm) / 1024.0
        old_gen_peak_mb = jvm_old_gen_peak_mb(spark)
    finally:
        tracer.uninstall()
        started = descendants(os.getpid())
        if spark is not None:
            stop_spark_and_jvm(spark)
        leftover = reap(started)

    # ---------------------------------------------------------- metrics
    warm_ops = [o for o in b.ops if o["pass"] >= 1]
    warm_s = [o["s"] for o in warm_ops]
    attempted = len(b.ops)
    failed = sum(1 for o in b.ops if not o["ok"])
    e2e = {
        "setup_s": setup_s,
        "first_pass_cpu_s": passes[0]["cpu"],
        "warm_pass_cpu_s": median([p["cpu"] for p in passes[1:]]),
        "peak_rss_mb": peak_rss_mb,
    }
    # wall-clock figures: on a shared host they move with co-tenant load
    # far more than the CPU time of the same passes does, so they are
    # reported here rather than gated in BENCHMARK.json
    extra = {
        "first_pass_s": (passes[0]["wall"], "s"),
        "warm_pass_s": (median([p["wall"] for p in passes[1:]]), "s"),
        "op_p50_s": (median(warm_s), "s"),
        "op_tail_s": (percentile(warm_s, TAIL_PCT), "s"),
        "ops_failed_frac": (failed / attempted, "ratio"),
        "commit_p50_s": (median([o["s"] for o in warm_ops if o["kind"] in COMMIT_KINDS]), "s"),
        "scan_plan_p50_s": (median([o["s"] for o in warm_ops if o["kind"] in SCAN_PLAN_KINDS]), "s"),
        **wl.extra_metrics(b),
    }

    layers: dict[str, tuple[float, str]] = {}
    if trace:
        warm_phases = range(1, len(passes))
        layers["session.get_spark_s"] = (session_s, "s")
        for k in ("catalog.create_table_s", "catalog.load_table_s"):
            layers[k] = (median(tracer.values(k, [-1])), "s")
        for q in CORPUS_QUERIES:
            first = [o["s"] for o in b.ops if o["pass"] == 0 and o["name"] == q]
            layers[f"plans.{q}.first_s"] = (first[0] if first else 0.0, "s")
            layers[f"plans.{q}.build_s"] = (median(tracer.values(f"plans.{q}.build_s", warm_phases)), "s")
            layers[f"plans.{q}.exec_s"] = (median(tracer.values(f"plans.{q}.exec_s", warm_phases)), "s")
        jobs = read_event_log(events_dir)
        per_pass = []
        for i in warm_phases:
            ivs = [(o["t0"], o["t1"]) for o in b.ops if o["pass"] == i]
            per_pass.append(spark_window_stats(jobs, ivs))
        for k, unit in SPARK_KEYS.items():
            layers[k] = (median([p.get(k, 0.0) for p in per_pass]), unit)
        layers["spark.python_workers"] = (float(len(workers)), "count")
        for kind in TABLE_KINDS:
            layers[f"table.{kind}_s"] = (median([o["s"] for o in warm_ops if o["kind"] == kind]), "s")
        layers["table.commit_s"] = (median(tracer.values("table.commit_s", warm_phases)), "s")
        layers["table.commit_conflicts"] = (tracer.total("table.commit_conflicts"), "count")
        first = tracer.counts(0)
        for k in COUNT_KEYS:
            layers[k] = (first.get(k, 0.0), "bytes" if k.endswith("_bytes") else "count")
        for k in ("manifests.read_s", "manifests.write_s", "streaming.drain_s"):
            layers[k] = (median(tracer.values(k, warm_phases)), "s")
        seen = first.get("manifests.segments_read", 0.0) + first.get("manifests.segments_skipped", 0.0)
        layers["manifests.prune_ratio"] = (
            first.get("manifests.segments_skipped", 0.0) / seen if seen else 0.0, "ratio"
        )
        layers["memory.driver_python_peak_mb"] = (python_peak_mb, "MB")
        layers["memory.jvm_old_gen_peak_mb"] = (old_gen_peak_mb, "MB")
        layers["trace.warm_pass_s"] = (extra["warm_pass_s"][0], "s")
        tracer.write(os.path.join(base, "traces", f"{run_id}.jsonl"))

    host["loadavg_after"] = os.getloadavg()

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "master": f"local[{host['nproc']}]",
        "load": "closed loop, one driver thread",
        "passes": len(passes),
        "warm_ops": len(warm_ops),
        "op_tail_pct": TAIL_PCT,
        "setup_builds_s": builds,
        "session_s": session_s,
        "cache_s": cache_s,
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
        "workload_metrics": {k: {"value": v, "unit": u} for k, (v, u) in extra.items()},
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in layers.items()},
        "python_workers_at_end": len(workers),
        "driver_python_peak_mb": python_peak_mb,
        "jvm_old_gen_peak_mb": old_gen_peak_mb,
        "processes_killed": leftover,
        "op_seconds": {
            name: {
                "first": [o["s"] for o in b.ops if o["pass"] == 0 and o["name"] == name],
                "warm_median": median([o["s"] for o in warm_ops if o["name"] == name]),
            }
            for name in dict.fromkeys(o["name"] for o in b.ops)
        },
        "failed_ops": [o["name"] for o in b.ops if not o["ok"]],
        "host": host,
        "process_s": time.perf_counter() - T_PROCESS,
    }
    print(json.dumps({"report": report}), flush=True)
    metrics = (
        {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        if trace
        else {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    )
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
