"""Smoke test of the benchmark itself, at a tenth of the benchmark size.

Run from the repository root:

    python3 perfbench/smoke.py [workload ...]

For every workload (default: all in BENCHMARK.json) it runs one first
pass and one warm pass with tracing off and then on, and checks that each
run exits 0, reports ``correct: true`` with no failed operation, and
prints exactly the metrics BENCHMARK.json lists for its trace mode.  It
prints the tracing overhead (traced over untraced warm pass) and
repeats the traced run to check that the ``io.*`` and ``manifests.*``
call counts are identical for the same seed.  Exits 1 on any failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNTS = ("manifests.read_calls", "manifests.write_calls", "manifests.segments_read",
          "manifests.segments_skipped", "io.read_calls", "io.write_calls",
          "io.list_calls", "io.exists_calls")


def run(workload: str, trace: int, seed: int = 7) -> tuple[dict, dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
        "--scale", "0.1",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{workload} trace={trace}: exit {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {
        0: {m["name"] for m in spec["end_to_end"]},
        1: {m["name"] for m in spec["per_layer"]},
    }
    names = argv or [w["name"] for w in spec["workloads"]]
    failures = []
    for w in names:
        warm = {}
        for trace in (0, 1):
            try:
                report, result = run(w, trace)
                assert result["correct"] and result["failed"] == 0, report["failed_ops"]
                assert result["attempted"] >= 1
                assert set(result["metrics"]) == want[trace], set(result["metrics"]) ^ want[trace]
                warm[trace] = report["workload_metrics"]["warm_pass_s"]["value"]
                if trace:
                    again, _ = run(w, trace)
                    a = {k: report["per_layer"][k]["value"] for k in COUNTS}
                    b = {k: again["per_layer"][k]["value"] for k in COUNTS}
                    assert a == b, (a, b)
                print(f"ok   {w} trace={trace} attempted={result['attempted']}", flush=True)
            except AssertionError as exc:
                failures.append(w)
                print(f"FAIL {w} trace={trace}: {exc}", flush=True)
        if len(warm) == 2:
            print(f"     {w} tracing overhead: warm pass {warm[0]:.3f} s -> {warm[1]:.3f} s "
                  f"({(warm[1] / warm[0] - 1) * 100:+.1f}%)", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
