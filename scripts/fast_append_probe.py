"""Measure fast-append's O(new-files) commit-metadata claim.

Pure metadata micro-benchmark (no Spark, no parquet): a table whose
manifest holds N entries, then ONE single-file append's metadata work in
two modes:

- fast (production): chain a 1-entry delta manifest onto the parent's
  manifest list
- legacy (pre-round-7): read the full manifest back, rewrite all N+1

Fast must stay flat in N; legacy grows linearly — at 1M files a legacy
append rewrites a million-entry manifest on EVERY commit.  Run:

    python scripts/fast_append_probe.py [n_files ...]
"""

import sys
import tempfile
import time

from iceberg_ruby_spark import types as ice_t
from iceberg_ruby_spark.manifests import ManifestContext
from iceberg_ruby_spark.table import FsTableOps


def _ctx(seq: int) -> ManifestContext:
    schema = ice_t.Schema([ice_t.NestedField(1, "k", ice_t.LongType())])
    return ManifestContext(
        schemas_by_id={0: schema}, current_schema_id=0, spec_fields=[],
        spec_id=0, sequence_number=seq, parent_snapshot_id=seq - 1 or None,
    )


def _entry(path: str) -> dict:
    return {"path": path, "record-count": 100, "file-size-bytes": 4096}


def probe(n: int) -> tuple[float, float]:
    ops = FsTableOps(tempfile.mkdtemp(prefix="fa_probe_"))
    ops.io.write_atomic(ops.metadata_dir + "/.keep", "", overwrite=True)
    entries = [_entry(f"data/c0/part-{i:07d}.parquet") for i in range(n)]
    base = ops.write_manifest(1, entries, _ctx(1))
    delta = [_entry("data/c1/part-new.parquet")]

    t0 = time.perf_counter()
    ops.write_manifest(2, delta, _ctx(2), base_list=base)
    fast = time.perf_counter() - t0

    t0 = time.perf_counter()
    ops.write_manifest(3, ops.read_manifest(base) + delta, _ctx(2))
    legacy = time.perf_counter() - t0
    return fast, legacy


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [1_000, 10_000, 100_000, 500_000]
    print(f"{'files':>8} | {'fast append':>12} | {'legacy rewrite':>14} | ratio")
    for n in sizes:
        fast, legacy = probe(n)
        print(
            f"{n:>8} | {fast * 1000:>10.1f}ms | {legacy * 1000:>12.1f}ms |"
            f" {legacy / fast:>5.0f}x"
        )


if __name__ == "__main__":
    main()
