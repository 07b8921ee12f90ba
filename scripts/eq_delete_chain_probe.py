"""Equality-delete chain probe: what a read costs after N chained verified
deletes, with no compaction in between.

Builds a table of ``--rows`` rows (``k int, v string``), then runs verified
``delete_by_keys`` calls of ``--keys`` distinct keys each.  After each
delete count listed in ``--at`` it prints one JSON line: the deletes so
far, the equality-delete entries, the broadcast joins and FileScans in the
executed read plan, and the wall time of a full ``count()`` (best of 3),
plus the driver-side seconds the delete calls took since the last line.

Usage: python scripts/eq_delete_chain_probe.py [--rows 20000] [--keys 50]
       [--at 1,20,200]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rows", type=int, default=20000)
    ap.add_argument("--keys", type=int, default=50)
    ap.add_argument("--at", default="1,20,200")
    args = ap.parse_args()
    at = sorted({int(x) for x in args.at.split(",")})
    if at[-1] * args.keys > args.rows:
        raise SystemExit("--rows must cover every deleted key")

    from iceberg_ruby_spark.catalog import MemoryCatalog

    cat = MemoryCatalog(namespace="ns")
    cat.create_namespace("ns")
    t = cat.create_table("ns.chain", schema={"k": "int", "v": "string"})
    t.append(
        cat.spark.range(args.rows).selectExpr(
            "cast(id as int) as k", "concat('v', id) as v"
        )
    )
    t0 = time.perf_counter()
    for n in range(1, at[-1] + 1):
        lo = (n - 1) * args.keys
        t.delete_by_keys([(k,) for k in range(lo, lo + args.keys)], on="k")
        if n not in at:
            continue
        delete_s = time.perf_counter() - t0
        t = t.refresh()
        plan = t.scan().to_df()._jdf.queryExecution().executedPlan().toString()
        walls = []
        for _ in range(3):
            s = time.perf_counter()
            count = t.scan().to_df().count()
            walls.append(time.perf_counter() - s)
        if count != args.rows - n * args.keys:
            raise SystemExit(f"wrong count after {n} deletes: {count}")
        print(
            json.dumps(
                {
                    "deletes": n,
                    "eq_entries": sum(
                        e.get("content") == "equality-deletes"
                        for e in t._current_entries()
                    ),
                    "broadcast_joins": len(re.findall(r"Broadcast\w*Join", plan)),
                    "file_scans": len(re.findall(r"FileScan", plan)),
                    "count_s": round(min(walls), 3),
                    "delete_calls_s": round(delete_s, 1),
                }
            ),
            flush=True,
        )
        t0 = time.perf_counter()


if __name__ == "__main__":
    main()
