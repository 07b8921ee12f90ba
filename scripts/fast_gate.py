"""Sharded test gate — the pytest-xdist-shaped speedup without xdist.

Runs the full suite as K concurrent pytest subprocesses (default 5), each
with its own JVM-backed SparkSession sized to a slice of the machine
(``SPARK_GRAFT_CPUS=6`` → ``local[6]``), so the suite's dominant cost —
per-job JVM latency across hundreds of tiny Spark actions — is paid in
parallel.  Warehouse isolation is free: every test's MemoryCatalog
already lives in its own ``mkdtemp`` directory.

File→shard assignment is greedy longest-processing-time using measured
per-test durations cached in ``tmp/gate_timings.json`` — the first run
self-tunes the balance for every later run.  Files never split across
shards, so per-file fixtures and ordering assumptions hold.

Usage: ``python scripts/fast_gate.py [-k EXPR]``  (env: GATE_SHARDS=5)

The single-process ``python -m pytest tests/ -x -q`` remains the
canonical serial gate; this script runs the SAME tests with the SAME
assertions, just sharded.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TIMINGS = os.path.join(REPO, "tmp", "gate_timings.json")
sys.path.insert(0, REPO)

from iceberg_ruby_spark.session import default_driver_memory  # noqa: E402


def _mem_mb(size: str) -> int:
    """A JVM memory size (``24g``, ``7680m``) in MB."""
    return int(size[:-1]) * (1024 if size[-1] == "g" else 1)


def load_timings() -> dict[str, float]:
    try:
        with open(TIMINGS) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def shard_files(files: list[str], k: int, timings: dict[str, float]) -> list[list[str]]:
    def cost(f: str) -> float:
        # fallback: file size is a rough proxy for test volume
        return timings.get(os.path.basename(f), os.path.getsize(f) / 4000.0)

    shards: list[tuple[float, list[str]]] = [(0.0, []) for _ in range(k)]
    for f in sorted(files, key=cost, reverse=True):
        i = min(range(k), key=lambda j: shards[j][0])
        shards[i] = (shards[i][0] + cost(f), shards[i][1] + [f])
    return [s[1] for s in shards if s[1]]


def main() -> None:
    extra = sys.argv[1:]
    # r9: the suite grew past what 4×local[8] covers in 15 min (~3.7k
    # serial test-seconds); 5 shards × local[6] = 30 of 32 cores keeps
    # the LPT-balanced wall ≈ 12-13 min with headroom for another round
    k = int(os.environ.get("GATE_SHARDS", "5"))
    files = sorted(glob.glob(os.path.join(REPO, "tests", "test_*.py")))
    timings = load_timings()
    shards = shard_files(files, k, timings)
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", "6")
    # the shards share the one session's default heap (half the host's
    # memory, capped), so their JVMs together stay under physical memory
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{_mem_mb(default_driver_memory()) // k}m")
    procs = []
    t0 = time.time()
    for i, shard in enumerate(shards):
        cmd = [
            sys.executable, "-m", "pytest", *shard, "-q", "--durations=0",
            "-p", "no:cacheprovider", *extra,
        ]
        procs.append(
            (
                i,
                shard,
                subprocess.Popen(
                    cmd,
                    cwd=REPO,
                    env=env,
                    stdout=subprocess.PIPE,
                    stderr=subprocess.DEVNULL,
                    text=True,
                ),
            )
        )
    failed = False
    per_file: dict[str, float] = dict(timings)
    dur_re = re.compile(r"^([0-9.]+)s\s+(?:call|setup|teardown)\s+tests/([^:]+)::")
    for i, shard, p in procs:
        out, _ = p.communicate()
        tail = [ln for ln in out.splitlines() if ln.strip()][-1:]
        print(f"shard {i} ({len(shard)} files): {tail[0] if tail else '??'}")
        if p.returncode not in (0, 5):  # 5 = no tests collected (filtered)
            failed = True
            print(out[-4000:])
        sums: dict[str, float] = {}
        for ln in out.splitlines():
            m = dur_re.match(ln.strip())
            if m:
                sums[m.group(2)] = sums.get(m.group(2), 0.0) + float(m.group(1))
        per_file.update(sums)
    os.makedirs(os.path.dirname(TIMINGS), exist_ok=True)
    with open(TIMINGS, "w") as f:
        json.dump(per_file, f, indent=1, sort_keys=True)
    print(f"total wall: {time.time() - t0:.1f}s across {len(shards)} shards")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
