"""The ``metadata_scale`` table template, built by the engine in its own
process.

Run from the repository root (``run.py`` does this when the template for
the current engine sources is missing):

    python3 perfbench/template.py <out_dir> <files> <commits>

It starts its own Spark session, writes ``files`` small parquet files,
registers them with ``add_files`` in ``commits`` commits on a table with
spec Avro manifests, writes ``layout.json`` beside the warehouse, stops
the session and its JVM, and exits.  A benchmark run copies the template
into a fresh warehouse for every set-up, so the measured session never
makes these commits.  The template directory is keyed by
:func:`source_hash`, so a run never reads metadata written by other
engine code.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROWS_PER_FILE = 8


def v_of(ids):
    """Value column of the generated files (ints or numpy arrays)."""
    return (ids * 7919) % 100003


def source_hash(root: str) -> str:
    """sha256 over the engine's Python sources and this file: the
    template is rebuilt whenever either changes."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "iceberg_ruby_spark")
    paths = sorted(
        os.path.join(d, n)
        for d, _dirs, names in os.walk(pkg)
        for n in names
        if n.endswith(".py")
    )
    for p in [*paths, os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, root).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(spark, out: str, files: int, commits: int) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_ruby_spark.catalog import Catalog

    cat = Catalog(os.path.join(out, "wh"), spark=spark)
    cat.create_namespace("m")
    t = cat.create_table(
        "m.big",
        schema={"id": "long", "v": "long", "s": "string"},
        properties={"write.metadata.manifest-format": "avro"},
    )
    data = os.path.join(t.ops.location, "data", "seed")
    os.makedirs(data)
    R = ROWS_PER_FILE
    paths = []
    for i in range(files):
        ids = np.arange(i * R, (i + 1) * R, dtype=np.int64)
        p = os.path.join(data, f"f{i:05d}.parquet")
        pq.write_table(pa.table({"id": ids, "v": v_of(ids), "s": [f"r{x}" for x in ids]}), p)
        paths.append(p)
    cuts = np.linspace(0, files, commits + 1).astype(int)
    for c in range(commits):
        t.add_files(paths[cuts[c]:cuts[c + 1]])
    ids = np.arange(files * R, dtype=np.int64)
    layout = {
        "files": files,
        "rows": int(files * R),
        "cuts": [int(x) for x in cuts],
        "max_v": int(v_of(ids).max()),
    }
    with open(os.path.join(out, "layout.json"), "w") as f:
        json.dump(layout, f)


def main(argv: list[str]) -> int:
    out, files, commits = argv[0], int(argv[1]), int(argv[2])
    root = os.getcwd()
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    import run

    work = os.path.join(root, ".bench_build", "perfbench", "runs", f"template-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        run.configure_env(work, trace=False)
        from iceberg_ruby_spark.session import get_spark

        spark = get_spark("perfbench-template")
        build(spark, out, files, commits)
    finally:
        started = run.descendants(os.getpid())
        if spark is not None:
            run.stop_spark_and_jvm(spark)
        run.reap(started)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
