"""Manifest-pruning probe (r13, VERDICT r12 #3): filtered metadata COUNT
cost must scale with MATCHING manifests, not total entries.

Builds a table with ``n_commits`` disjoint-range commits (one manifest
each, merged size-tiered at the list cap), then measures a filtered
metadata COUNT that matches ONE range versus one that matches ALL
ranges: reports manifests opened (counted at
``manifests.read_one_avro_manifest``) and driver wall for each.  Asserts
the narrow statement opens exactly one manifest and its wall does not
scale with table history.

Usage: python scripts/segment_prune_probe.py [n_commits] [rows_per_commit]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_commits = int(sys.argv[1]) if len(sys.argv) > 1 else 120
    rows = int(sys.argv[2]) if len(sys.argv) > 2 else 200

    from iceberg_ruby_spark import manifests
    from iceberg_ruby_spark.avro_file import read_ocf
    from iceberg_ruby_spark.catalog import MemoryCatalog
    from iceberg_ruby_spark.session import get_spark

    spark = get_spark("segment_prune_probe")
    cat = MemoryCatalog(namespace="main", spark=spark)
    cat.create_namespace("main", if_not_exists=True)
    t = cat.create_table("segprobe", schema={"k": "long", "v": "long"})
    for c in range(n_commits):
        t.append(
            spark.range(rows).selectExpr(
                f"id + {c * 1000} AS k", "id AS v"
            )
        )
    t = t.refresh()

    def spy():
        opened = []
        orig = manifests.read_one_avro_manifest

        def read_one(ops, path):
            opened.append(path)
            return orig(ops, path)

        manifests.read_one_avro_manifest = read_one
        return opened, lambda: setattr(manifests, "read_one_avro_manifest", orig)

    def timed_count(where: str) -> tuple[int, int, float]:
        opened, restore = spy()
        t0 = time.perf_counter()
        try:
            n = t.scan().filter(where).count()
        finally:
            restore()
        wall = time.perf_counter() - t0
        return n, len(opened), wall

    # total manifests actually in the list (size-tiered merges consolidate
    # small ones, so this is well under n_commits)
    _, list_recs, _ = read_ocf(
        t.ops.io.read_bytes(t.ops._abs(t.current_snapshot().manifest_list))
    )
    n_manifests = len(list_recs)
    mid = n_commits // 2
    lo, hi = mid * 1000, mid * 1000 + rows
    n_narrow, opened_narrow, w_narrow = timed_count(f"k >= {lo} AND k < {hi}")
    n_wide, opened_wide, w_wide = timed_count("k >= 0")
    out = {
        "metric": "segment_prune_probe",
        "n_manifests": n_manifests,
        "n_commits": n_commits,
        "rows_per_commit": rows,
        "narrow_count": n_narrow,
        "narrow_manifests_opened": opened_narrow,
        "narrow_wall_ms": round(w_narrow * 1000, 2),
        "wide_count": n_wide,
        "wide_manifests_opened": opened_wide,
        "wide_wall_ms": round(w_wide * 1000, 2),
    }
    print(json.dumps(out))
    assert n_narrow == rows and n_wide == rows * n_commits
    assert opened_narrow == 1, f"narrow COUNT opened {opened_narrow} manifests"
    assert opened_wide == n_manifests, (opened_wide, n_manifests)
    assert w_narrow < w_wide, "pruned statement not cheaper than full"


if __name__ == "__main__":
    main()
