"""Tracing for the benchmark: spans around the benchmark's own calls,
counting wrappers installed on the engine's metadata classes, and a Spark
event-log reader.

Everything here lives outside the engine.  :class:`Tracer` records spans
(name, start, end, parent, run id) in memory and writes them out once at
the end.  :meth:`Tracer.install` wraps ``FsTableOps`` and ``LocalFileIO``
methods and the Avro manifest reader at class or module level, so the
``manifests.*``, ``io.*`` and ``table.commit*`` numbers come from the
calls the engine really makes.  Only the outermost call of each layer is
counted, so ``write_atomic(overwrite=True)`` delegating to ``replace``
counts as one write.  Calls made inside Spark's Python workers (streaming
sources and sinks run there) are not seen by these wrappers.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Any, Optional

# LocalFileIO method -> (counter kind, where the byte count comes from)
_IO_METHODS = {
    "read": ("read", "result"),
    "read_bytes": ("read", "result"),
    "write_atomic": ("write", "arg1"),
    "write_bytes_atomic": ("write", "arg1"),
    "replace": ("write", "arg1"),
    "exists": ("exists", None),
    "list": ("list", None),
    "list_children": ("list", None),
    "delete": ("delete", None),
    "delete_prefix": ("delete", None),
}
_MANIFEST_READS = ("read_manifest", "read_manifest_filtered", "read_manifest_delta")


class Tracer:
    """Spans plus per-layer counters and timing samples.  With
    ``enabled=False`` it records no spans, tags no jobs and installs no
    wrappers, so the untraced run pays only for the few samples the
    benchmark records itself."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self._depth: dict[str, int] = defaultdict(int)
        # counters and timing samples are kept per phase: -1 is set-up,
        # 0 the first pass, 1.. the warm passes
        self.phase = -1
        self._counters: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._samples: dict[int, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
        self._restore: list[tuple[Any, str, Any]] = []
        self._sc = None

    # ----------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "run": self.run_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        group = None
        if self._sc is not None and not self._stack:
            group = f"{self.run_id}-span-{sid}"
            self._sc.setJobGroup(group, name)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            if group is not None:
                rec["jobs"] = list(self._sc.statusTracker().getJobIdsForGroup(group))
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def attach_spark(self, sc) -> None:
        """Tag the jobs of each top-level span with a job group so
        ``statusTracker`` can list them per span."""
        if self.enabled:
            self._sc = sc

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")

    # -------------------------------------------------------- counters
    @property
    def counters(self) -> dict[str, float]:
        return self._counters[self.phase]

    @property
    def samples(self) -> dict[str, list[float]]:
        return self._samples[self.phase]

    def counts(self, phase: int) -> dict[str, float]:
        return dict(self._counters.get(phase, {}))

    def total(self, key: str) -> float:
        return sum(c.get(key, 0.0) for c in self._counters.values())

    def values(self, key: str, phases) -> list[float]:
        return [x for p in phases for x in self._samples.get(p, {}).get(key, [])]

    def _outer(self, layer: str, fn, count_key: str, time_key: Optional[str], size_of=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer._depth[layer]:
                return fn(*args, **kwargs)
            tracer._depth[layer] += 1
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._depth[layer] -= 1
                dt = time.perf_counter() - t0
                tracer.counters[count_key] += 1
                if time_key is not None:
                    tracer.samples[time_key].append(dt)
            if size_of is not None:
                tracer.counters[size_of[0]] += size_of[1](args, out)
            return out

        return wrapper

    def _patch(self, owner, attr: str, wrapper) -> None:
        self._restore.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the engine's metadata I/O, manifest and commit methods."""
        if not self.enabled:
            return
        from iceberg_ruby_spark import manifests as m
        from iceberg_ruby_spark.io import LocalFileIO
        from iceberg_ruby_spark.table import FsTableOps

        def nbytes(x) -> int:
            return len(x) if isinstance(x, (bytes, bytearray, str)) else 0

        for attr, (kind, size_src) in _IO_METHODS.items():
            size = None
            if size_src == "result":
                size = ("io.read_bytes", lambda a, out: nbytes(out))
            elif size_src == "arg1":
                size = ("io.write_bytes", lambda a, out: nbytes(a[2]) if len(a) > 2 else 0)
            self._patch(
                LocalFileIO, attr,
                self._outer("io", LocalFileIO.__dict__[attr], f"io.{kind}_calls", None, size),
            )

        tracer = self
        for attr in _MANIFEST_READS:
            inner = self._outer("manifests", FsTableOps.__dict__[attr], "manifests.read_calls", "manifests.read_s")
            if attr == "read_manifest_filtered":
                inner = _count_skipped(tracer, inner)
            self._patch(FsTableOps, attr, inner)
        self._patch(
            FsTableOps, "write_manifest",
            self._outer("manifests_w", FsTableOps.__dict__["write_manifest"], "manifests.write_calls", "manifests.write_s"),
        )
        self._patch(m, "read_one_avro_manifest", _count_calls(tracer, m.read_one_avro_manifest, "manifests.segments_read"))
        self._patch(
            FsTableOps, "commit",
            _count_conflicts(tracer, self._outer("commit", FsTableOps.__dict__["commit"], "table.commits", "table.commit_s")),
        )

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)


def _count_skipped(tracer: Tracer, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        out = fn(*args, **kwargs)
        tracer.counters["manifests.segments_skipped"] += out[1]
        return out

    return wrapper


def _count_calls(tracer: Tracer, fn, key: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        tracer.counters[key] += 1
        return fn(*args, **kwargs)

    return wrapper


def _count_conflicts(tracer: Tracer, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except FileExistsError:
            tracer.counters["table.commit_conflicts"] += 1
            raise

    return wrapper


# ------------------------------------------------------------ event log
def read_event_log(log_dir: str) -> dict[str, Any]:
    """Jobs (submit/complete ms, stage ids) and per-job task totals from
    the Spark event log files under ``log_dir``."""
    jobs: dict[int, dict[str, Any]] = {}
    stage_job: dict[int, int] = {}
    paths = [
        os.path.join(root, n)
        for root, _dirs, names in os.walk(log_dir)
        for n in names
        if not n.startswith(".") and not n.startswith("appstatus")
    ]
    # rolling logs are events_<index>_<app>: read them in index order
    paths.sort(key=lambda p: (os.path.dirname(p), _roll_index(p)))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "submit": ev.get("Submission Time"),
                        "end": None,
                        "stages": 0,
                        "tasks": 0,
                        "run_ms": 0,
                        "cpu_ns": 0,
                        "shuffle_read": 0,
                        "shuffle_write": 0,
                        "spill": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev.get("Completion Time")
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid is not None:
                        jobs[jid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics") or {}
                    if jid is None:
                        continue
                    j = jobs[jid]
                    j["tasks"] += 1
                    j["run_ms"] += tm.get("Executor Run Time", 0)
                    j["cpu_ns"] += tm.get("Executor CPU Time", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    j["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    j["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    j["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    return jobs


def _roll_index(path: str) -> int:
    parts = os.path.basename(path).split("_")
    return int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0


def spark_window_stats(jobs: dict[int, dict[str, Any]], ops: list[tuple[float, float]]) -> dict[str, float]:
    """Spark totals for the jobs submitted inside the op intervals
    ``ops`` (epoch seconds), and the driver gap: op wall time not
    covered by any job."""
    out = defaultdict(float)
    intervals = []
    for j in jobs.values():
        if j["submit"] is None:
            continue
        s = j["submit"] / 1000.0
        e = (j["end"] or j["submit"]) / 1000.0
        if not any(a <= s <= b for a, b in ops):
            continue
        intervals.append((s, e))
        out["spark.jobs"] += 1
        out["spark.stages"] += j["stages"]
        out["spark.tasks"] += j["tasks"]
        out["spark.executor_run_s"] += j["run_ms"] / 1000.0
        out["spark.executor_cpu_s"] += j["cpu_ns"] / 1e9
        out["spark.shuffle_read_bytes"] += j["shuffle_read"]
        out["spark.shuffle_write_bytes"] += j["shuffle_write"]
        out["spark.spill_bytes"] += j["spill"]
    intervals.sort()
    gap = 0.0
    for a, b in ops:
        covered = 0.0
        cur_s = cur_e = None
        for s, e in intervals:
            s, e = max(s, a), min(e, b)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        gap += (b - a) - covered
    out["spark.driver_gap_s"] = gap
    return dict(out)
