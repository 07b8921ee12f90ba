"""Record the expected ``corpus_queries`` results.

Run from the repository root:

    python3 perfbench/record_expected.py [scale ...]

For each scale (default: 1 and 0.1, the benchmark and the smoke-test
sizes) it generates the corpus if it is missing, runs every corpus query
once in a fresh session, and stores the row count and order-insensitive
content hash of its result in ``perfbench/expected.json``.  The
benchmark checks every query result against that file.  Re-record only
when a query's result is meant to change.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main(argv: list[str]) -> int:
    scales = [float(x) for x in argv] or [1.0, 0.1]
    root = os.getcwd()
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    import run
    from workloads import CORPUS_QUERIES, EXPECTED_PATH, content_hash, corpus_query, ensure_corpus

    base = os.path.join(root, ".bench_build", "perfbench")
    cache = os.path.join(base, "cache")
    os.makedirs(cache, exist_ok=True)
    work = os.path.join(base, "runs", f"record-{os.getpid()}")
    os.makedirs(work)
    with open(EXPECTED_PATH) as f:
        expected = json.load(f)
    spark = None
    try:
        run.configure_env(work, trace=False)
        from iceberg_ruby_spark.session import get_spark

        spark = get_spark("perfbench-record")
        for scale in scales:
            src = ensure_corpus(cache, scale)
            got = {}
            for q in CORPUS_QUERIES:
                tbl = corpus_query(q)(spark, src).toArrow()
                got[q] = [tbl.num_rows, content_hash(tbl)]
            expected[f"scale-{scale:g}"] = got
    finally:
        started = run.descendants(os.getpid())
        if spark is not None:
            run.stop_spark_and_jvm(spark)
        run.reap(started)
        shutil.rmtree(work, ignore_errors=True)
    with open(EXPECTED_PATH, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
