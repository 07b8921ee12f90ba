"""The three benchmark workloads.

Each workload builds its inputs in :meth:`build` (called several times
during set-up, each time into a fresh directory), then runs the same
operation sequence once per pass in :meth:`run_pass`.  Every operation
goes through :meth:`Bench.op`, which times it, traces it and checks its
output against the workload's own model of the expected result.

- ``corpus_queries``: read-only library queries over the generated
  corpus, collected as Arrow.  No Iceberg metadata at all.
- ``table_ingest_metadata``: the two table parts below, in one session.
  ``TableIngestCdc`` runs appends, CDC deletes and upserts, a streaming
  drain and maintenance on filesystem-catalog tables, checked against a
  plain-dict model of the live rows.  ``MetadataScale`` runs planning,
  metadata aggregates, time travel, point reads and single-row appends on
  one table with thousands of small data files, checked against
  closed-form values of the generated files.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
import traceback
from typing import Any, Callable, Optional

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import corpus
import template

# --------------------------------------------------------------- harness


class Bench:
    """Per-run state shared by the workloads: session, tracer, seed,
    run directory, and the operation log."""

    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work = work
        self.ops: list[dict[str, Any]] = []
        self.pass_index = -1

    def warm_phases(self) -> range:
        return range(1, self.pass_index + 1)

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        os.makedirs(path)
        return path

    def op(
        self,
        name: str,
        kind: str,
        fn: Callable[[], Any],
        check: Optional[Callable[[Any], bool]] = None,
    ) -> Any:
        """Run one timed operation; ``check`` (untimed) validates its
        output.  A raised exception or a failed check counts as failed."""
        ok = True
        out = None
        with self.tracer.span(name, kind=kind, pass_index=self.pass_index):
            t0 = time.time()
            p0 = time.perf_counter()
            try:
                out = fn()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
            dt = time.perf_counter() - p0
        if ok and check is not None:
            try:
                ok = bool(check(out))
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
            if not ok:
                print(f"perfbench: wrong output from {name}", file=sys.stderr)
        self.ops.append(
            {"pass": self.pass_index, "name": name, "kind": kind, "s": dt,
             "ok": ok, "t0": t0, "t1": t0 + dt}
        )
        return out


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _norm(v: Any) -> Any:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else float(f"{v:.6g}")
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in sorted(v.items())}
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return v


def content_hash(table: pa.Table) -> str:
    """Order-insensitive hash of a result: rows normalized (floats to 6
    significant digits) and sorted before hashing."""
    rows = sorted(json.dumps(_norm(list(r.values())), default=str) for r in table.to_pylist())
    h = hashlib.sha256(json.dumps(table.column_names).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()[:16]


def _probe_catalog(b: Bench, wh: str):
    """A filesystem catalog with one small table: every workload's set-up
    creates and loads a table, so ``catalog.*`` is measured on all."""
    from iceberg_ruby_spark.catalog import Catalog

    cat = Catalog(wh, spark=b.spark)
    cat.create_namespace("bench")
    with b.tracer.span("catalog.create_table"):
        t0 = time.perf_counter()
        cat.create_table("bench.probe", schema={"a": "long", "b": "string"})
        b.tracer.samples["catalog.create_table_s"].append(time.perf_counter() - t0)
    with b.tracer.span("catalog.load_table"):
        t0 = time.perf_counter()
        cat.load_table("bench.probe")
        b.tracer.samples["catalog.load_table_s"].append(time.perf_counter() - t0)
    return cat


class Workload:
    name = ""
    max_passes: Optional[int] = None

    def prepare_cache(self, cache: str, scale: float) -> None:
        """One-time inputs shared by every run in a checkout, prepared
        before the run's session starts."""

    def build(self, b: Bench, rep: int) -> None:
        raise NotImplementedError

    def run_pass(self, b: Bench) -> None:
        raise NotImplementedError

    def finish(self, b: Bench) -> None:
        """Called once after the last pass, before the session stops."""

    def extra_metrics(self, b: Bench) -> dict[str, tuple[float, str]]:
        return {}


def ensure_corpus(cache: str, scale: float) -> str:
    path = os.path.join(cache, f"corpus-{scale:g}")
    if not os.path.isdir(path):
        tmp = path + f".tmp{os.getpid()}"
        corpus.generate(tmp, scale)
        os.rename(tmp, path)
    return path


# ------------------------------------------------------- corpus_queries

CORPUS_QUERIES = [
    "q01_pricing_summary",
    "q3_shipping_priority",
    "window_ranking",
    "asof_join_events",
    "embedding_cosine_topk",
    "pipeline_clean_corpus",
]
EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def corpus_query(q: str) -> Callable:
    """The production form of query ``q`` where the library registers
    one, else its plain form."""
    from iceberg_ruby_spark.plans import QUERIES
    from iceberg_ruby_spark.plans.registry import BENCH_FNS

    return BENCH_FNS.get(q, QUERIES[q])


class CorpusQueries(Workload):
    """Each operation builds one query (the production form where the
    library registers one) and collects its result as Arrow; the result
    is checked against the row count and order-insensitive content hash
    recorded for this corpus in ``expected.json`` (``record_expected.py``
    writes it)."""

    name = "corpus_queries"

    def prepare_cache(self, cache, scale):
        self.src = ensure_corpus(cache, scale)
        with open(EXPECTED_PATH) as f:
            self.expected = json.load(f).get(f"scale-{scale:g}", {})

    def build(self, b, rep):
        d = os.path.join(b.fresh_dir(f"corpus-in-{rep}"), "corpus")
        shutil.copytree(self.src, d)
        _probe_catalog(b, b.fresh_dir(f"wh-{rep}"))
        self.sf_dir = d

    def run_pass(self, b):
        for q in CORPUS_QUERIES:
            fn = corpus_query(q)

            def run(q=q, fn=fn):
                t0 = time.perf_counter()
                with b.tracer.span(f"plans.{q}.build"):
                    df = fn(b.spark, self.sf_dir)
                t1 = time.perf_counter()
                with b.tracer.span(f"plans.{q}.exec"):
                    tbl = df.toArrow()
                t2 = time.perf_counter()
                b.tracer.samples[f"plans.{q}.build_s"].append(t1 - t0)
                b.tracer.samples[f"plans.{q}.exec_s"].append(t2 - t1)
                return tbl

            def check(tbl, q=q):
                return self.expected.get(q) == [tbl.num_rows, content_hash(tbl)]

            b.op(q, "query", run, check)
            b.spark.catalog.clearCache()


# ----------------------------------------------------- table_ingest_cdc

_LI_SCHEMA = {
    "k": "long",
    "l_orderkey": "long",
    "l_quantity": "double",
    "l_extendedprice": "double",
    "l_returnflag": "string",
}
_ORD_SCHEMA = {
    "o_orderkey": "long",
    "o_custkey": "long",
    "o_totalprice": "double",
    "o_orderpriority": "string",
}


class TableIngestCdc(Workload):
    """Appends, a CDC round, a streaming drain and maintenance, once per
    pass, on tables that live for the whole run.  The streaming upsert
    sink (bronze -> gold) starts in the first pass and stays up, the
    production shape of a continuous feed; every pass drains the wave
    its bronze commit added.  All inputs, and the rows expected after
    every step, are computed from the seed with a plain-dict model while
    the inputs are built."""

    max_passes = 12      # inputs are built for this many passes
    chunks = 16          # lineitem/orders are cut into this many slices

    def prepare_cache(self, cache, scale):
        src = ensure_corpus(cache, scale)
        li = pq.read_table(os.path.join(src, "lineitem.parquet"))
        self.li_src = pa.table({
            "k": pc_key(li),
            "l_orderkey": li["l_orderkey"],
            "l_quantity": li["l_quantity"],
            "l_extendedprice": li["l_extendedprice"],
            "l_returnflag": li["l_returnflag"],
        })
        self.orders_src = pq.read_table(os.path.join(src, "orders.parquet")).select(list(_ORD_SCHEMA))

    def build(self, b, rep):
        rng = np.random.default_rng(b.seed)
        d = b.fresh_dir(f"ingest-in-{rep}")
        self.cat = _probe_catalog(b, b.fresh_dir(f"wh-{rep}"))
        self.rep = rep
        model: dict[int, tuple] = {}
        gold: dict[int, int] = {}
        self.user_bytes = 0

        def write(name, tbl):
            path = os.path.join(d, f"{name}.parquet")
            pq.write_table(tbl, path)
            self.user_bytes += os.path.getsize(path)
            return path

        def rows_of(tbl):
            return {r[0]: r for r in zip(*(tbl[c].to_pylist() for c in _LI_SCHEMA))}

        def kq(m):
            return sorted((k, v[2]) for k, v in m.items())

        li_cut = np.linspace(0, self.li_src.num_rows, self.chunks + 1).astype(int)
        ord_cut = np.linspace(0, self.orders_src.num_rows, self.chunks + 1).astype(int)
        max_k = int(np.max(self.li_src["k"].to_numpy()))
        self.passes = []
        n_orders = 0
        for p, c in enumerate(rng.permutation(self.chunks)[: self.max_passes]):
            step: dict[str, Any] = {}
            sl = self.li_src.slice(li_cut[c], li_cut[c + 1] - li_cut[c])
            model.update(rows_of(sl))
            step["append"] = write(f"li_{p}", sl)
            step["append_orders"] = write(f"ord_{p}", self.orders_src.slice(ord_cut[c], ord_cut[c + 1] - ord_cut[c]))
            n_orders += int(ord_cut[c + 1] - ord_cut[c])
            step["orders"] = n_orders
            nd = max(4, sl.num_rows // 20)

            live = np.array(sorted(model), dtype=np.int64)
            dv = rng.choice(live, nd, replace=False)
            for x in dv:
                del model[int(x)]
            step["delete_verified"] = write(f"dv_{p}", pa.table({"k": dv}))
            step["hits"] = nd

            live = np.array(sorted(model), dtype=np.int64)
            blind = np.concatenate([
                rng.choice(live, nd // 2, replace=False),
                max_k + 1 + rng.choice(10**6, nd - nd // 2, replace=False),
            ])
            for x in blind:
                model.pop(int(x), None)
            step["delete_blind"] = write(f"db_{p}", pa.table({"k": blind}))

            live = np.array(sorted(model), dtype=np.int64)
            new = max_k + 2_000_000 + p * 10**6 + rng.choice(10**6, nd // 2, replace=False)
            keys = np.concatenate([rng.choice(live, nd, replace=False), new])
            qty = np.round(rng.uniform(100, 200, len(keys)), 2)
            ups = pa.table({
                "k": keys,
                "l_orderkey": keys // 8,
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * 1000.0, 2),
                "l_returnflag": ["U"] * len(keys),
            })
            model.update(rows_of(ups))
            step["upsert"] = write(f"up_{p}", ups)

            lo = int(rng.choice(live))
            step["scan_filter"] = f"k >= {lo} AND k < {lo + 400}"
            step["scan_want"] = sorted((k, v[2]) for k, v in model.items() if lo <= k < lo + 400)

            # upsert-sink wave: new keys plus re-delivered ones, last
            # write wins in gold
            wk = live[:: max(1, len(live) // 150)]
            if gold:
                wk = np.concatenate([wk, rng.choice(np.array(sorted(gold)), min(len(gold), 50), replace=False)])
            wave = pa.table({"k": wk, "v": rng.integers(0, 10**6, len(wk))})
            wave = wave.group_by("k").aggregate([("v", "max")]).rename_columns(["k", "v"])
            gold.update(zip(wave["k"].to_pylist(), wave["v"].to_pylist()))
            step["wave"] = write(f"wave_{p}", wave)
            step["gold_want"] = sorted(gold.items())
            step["want"] = kq(model)
            self.passes.append(step)

    def run_pass(self, b):
        from iceberg_ruby_spark.streaming import register_stream_source

        spark, cat, p = b.spark, self.cat, b.pass_index
        if p >= len(self.passes):
            raise RuntimeError("table_ingest_cdc: inputs exhausted")
        s = self.passes[p]
        read = spark.read.parquet

        def kq(rows):
            return sorted((r["k"], r["l_quantity"]) for r in rows)

        if p == 0:
            self.li = b.op("create_table", "create_table", lambda: cat.create_table("bench.li", schema=_LI_SCHEMA))
            self.od = b.op("create_table", "create_table", lambda: cat.create_table("bench.ord", schema=_ORD_SCHEMA))
            self.bronze = cat.create_table("bench.bronze", schema={"k": "long", "v": "long"})
            self.gold = cat.create_table("bench.gold", schema={"k": "long", "v": "long"})
            self.gold.update_schema().set_identifier_fields("k").commit()
            register_stream_source(spark)
        li, od = self.li, self.od

        b.op("append", "append", lambda: li.append(read(s["append"])))
        b.op("append_orders", "append", lambda: od.append(read(s["append_orders"])))
        b.op("delete_by_keys", "delete_by_keys",
             lambda: li.delete_by_keys(read(s["delete_verified"]), "k"),
             lambda n: n == s["hits"])
        b.op("delete_by_keys_blind", "delete_by_keys",
             lambda: li.delete_by_keys(read(s["delete_blind"]), "k", verify_hits=False))
        b.op("upsert", "upsert", lambda: li.upsert(read(s["upsert"]), on="k", mode="merge-on-read"))
        b.op("filtered_scan", "scan",
             lambda: li.scan().filter(s["scan_filter"]).select("k", "l_quantity").to_a(),
             lambda rows: kq(rows) == [tuple(x) for x in s["scan_want"]])

        def upsert_drain():
            if p == 0:
                self.upsert_q = (
                    spark.readStream.format("iceberg_table")
                    .option("location", self.bronze.ops.location).load()
                    .writeStream.format("iceberg_table")
                    .option("location", self.gold.ops.location)
                    .option("mode", "upsert")
                    .option("checkpointLocation", b.fresh_dir(f"ckpt-upsert-{self.rep}"))
                    .start()
                )
            self.bronze.append(read(s["wave"]))
            t0 = time.perf_counter()
            self.upsert_q.processAllAvailable()
            b.tracer.samples["streaming.drain_s"].append(time.perf_counter() - t0)
            if b.tracer.enabled:
                done = self.upsert_q.lastProgress["batchId"] + 1
                b.tracer.counters["streaming.batches"] += done - self.batches
                self.batches = done
            return self.gold.refresh().scan().select("k", "v").to_a()

        b.op("stream_upsert_sink", "stream", upsert_drain,
             lambda rows: sorted((r["k"], r["v"]) for r in rows) == [tuple(x) for x in s["gold_want"]])
        b.op("compact", "compact", lambda: li.refresh().compact())
        b.op("expire_snapshots", "expire_snapshots", lambda: li.refresh().expire_snapshots(keep_last=1))
        b.op("remove_orphan_files", "remove_orphan_files", lambda: li.refresh().remove_orphan_files())
        b.op("final_read", "scan",
             lambda: li.refresh().scan().select("k", "l_quantity").to_a(),
             lambda rows: kq(rows) == [tuple(x) for x in s["want"]])
        b.op("orders_count", "count", lambda: od.refresh().scan().count(), lambda n: n == s["orders"])
        self.space_amp = (dir_bytes(li.ops.location) + dir_bytes(od.ops.location)) / self.user_bytes

    upsert_q = None
    batches = 0
    space_amp = 0.0

    def finish(self, b):
        if self.upsert_q is not None:
            self.upsert_q.stop()

    def extra_metrics(self, b):
        return {
            "stream_drain_s": (_median(b.tracer.values("streaming.drain_s", b.warm_phases())), "s"),
            "space_amp": (self.space_amp, "ratio"),
        }


def pc_key(li: pa.Table) -> pa.Array:
    """Primary key of a lineitem row: order key and line number packed."""
    return pa.array(li["l_orderkey"].to_numpy() * 8 + li["l_linenumber"].to_numpy().astype(np.int64))


# ------------------------------------------------------- metadata_scale


class MetadataScale(Workload):
    """Driver-side metadata work on a table of many small files.  The
    table is built once per checkout and engine version by
    ``template.py`` in a process of its own (``files`` parquet files
    registered with ``add_files`` in ``commits`` commits, spec Avro
    manifests) and copied into a fresh warehouse for every set-up."""

    files = 3000
    commits = 48
    rows_per_file = template.ROWS_PER_FILE
    v_of = staticmethod(template.v_of)

    def prepare_cache(self, cache, scale):
        files = max(200, int(self.files * min(1.0, scale)))
        root = os.getcwd()
        key = f"metadata-{files}x{self.commits}-{template.source_hash(root)}"
        path = os.path.join(cache, key)
        if not os.path.isdir(path):
            # templates of other engine sources are stale
            for old in os.listdir(cache):
                if old.startswith(f"metadata-{files}x{self.commits}-"):
                    shutil.rmtree(os.path.join(cache, old))
            tmp = os.path.join(cache, f"tmp-{key}-{os.getpid()}")
            subprocess.run(
                [sys.executable, template.__file__, tmp, str(files), str(self.commits)],
                cwd=root, check=True, stdout=subprocess.DEVNULL,
            )
            os.rename(tmp, path)
        self.template = path
        with open(os.path.join(path, "layout.json")) as f:
            self.layout = json.load(f)

    def build(self, b, rep):
        from iceberg_ruby_spark.catalog import Catalog

        wh = os.path.join(b.fresh_dir(f"meta-{rep}"), "wh")
        shutil.copytree(os.path.join(self.template, "wh"), wh)
        cat = Catalog(wh, spark=b.spark)
        with b.tracer.span("catalog.load_table"):
            t0 = time.perf_counter()
            self.table = cat.load_table("m.big")
            b.tracer.samples["catalog.load_table_s"].append(time.perf_counter() - t0)
        with b.tracer.span("catalog.create_table"):
            t0 = time.perf_counter()
            cat.create_table("m.probe", schema={"a": "long", "b": "string"})
            b.tracer.samples["catalog.create_table_s"].append(time.perf_counter() - t0)
        # snapshots in commit order: index c holds commits 0..c
        self.snaps = [s.snapshot_id for s in sorted(self.table.snapshots, key=lambda s: s.sequence_number)]
        self.n_files = self.layout["files"]
        self.n_rows = self.layout["rows"]
        self.appended = 0
        self.rng = np.random.default_rng(b.seed)

    def run_pass(self, b):
        t = self.table
        L = self.layout
        R = self.rows_per_file
        rng = self.rng
        n_files, n_rows = self.n_files, self.n_rows

        b.op("plan_files", "plan_files", lambda: t.scan().plan_files(), lambda f: len(f) == n_files)
        k1 = int(rng.integers(0, L["rows"]))
        b.op("plan_files_point", "plan_files",
             lambda: t.scan().filter(f"id = {k1}").plan_files(), lambda f: len(f) == 1)
        b.op("count", "count", lambda: t.scan().count(), lambda n: n == n_rows)
        b.op("min", "minmax", lambda: t.scan().min("id"), lambda x: x == 0)
        b.op("max", "minmax", lambda: t.scan().max("v"), lambda x: x == L["max_v"])
        c = int(rng.integers(0, len(L["cuts"]) - 1))
        b.op("time_travel_count", "time_travel",
             lambda: t.scan(snapshot_id=self.snaps[c]).count(),
             lambda n: n == L["cuts"][c + 1] * R)
        for k in rng.integers(0, L["rows"], 2):
            k = int(k)
            want = [{"id": k, "v": self.v_of(k), "s": f"r{k}"}]
            b.op("point_read", "point_read",
                 lambda k=k: t.scan().filter(f"id = {k}").to_a(),
                 lambda rows, want=want: rows == want)
        j = self.appended
        row = {"id": L["rows"] + j, "v": j % 7, "s": f"a{j}"}
        out = b.op("append_row", "append", lambda: t.append([row]))
        if out is not None:
            self.table = out
            self.appended += 1
            self.n_files += 1
            self.n_rows += 1


# ------------------------------------------------ table_ingest_metadata


class TableIngestMetadata(Workload):
    """``table_ingest_cdc`` and ``metadata_scale`` in one session: each
    pass runs the ingest pass, then the metadata pass.  One process pays
    one session start and one JIT warm-up for both, which is what lets
    the benchmark's full set of runs fit its time budget."""

    name = "table_ingest_metadata"
    max_passes = TableIngestCdc.max_passes

    def __init__(self):
        self.parts = [TableIngestCdc(), MetadataScale()]

    def prepare_cache(self, cache, scale):
        for w in self.parts:
            w.prepare_cache(cache, scale)

    def build(self, b, rep):
        for w in self.parts:
            w.build(b, rep)

    def run_pass(self, b):
        for w in self.parts:
            w.run_pass(b)

    def finish(self, b):
        for w in self.parts:
            w.finish(b)

    def extra_metrics(self, b):
        return {k: v for w in self.parts for k, v in w.extra_metrics(b).items()}


WORKLOADS = {w.name: w for w in (CorpusQueries, TableIngestMetadata)}


def _median(xs: list[float]) -> float:
    return float(np.median(xs)) if xs else 0.0
