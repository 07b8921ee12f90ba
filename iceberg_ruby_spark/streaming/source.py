"""Structured Streaming SOURCE over an engine table — ``spark.readStream``
consumption of table appends (the streaming-read half of Iceberg's Spark
integration; the reference has no streaming surface at all, SURVEY.md §2
Tier C).

Built on PySpark 4's Python Data Source API: offsets are snapshot ids
checkpointed by Spark (exactly-once across restarts), each micro-batch is
the manifest DIFF between two snapshots (O(new files) planning, nothing
else opened — the same contract as ``Table.incremental_scan``), and each
newly-appended data FILE becomes one ``InputPartition`` read executor-side
with pyarrow.  At 100 TB the per-batch cost is proportional to the data
that arrived, never to table size, and file reads are distributed across
the cluster.

Usage::

    register_stream_source(spark)           # once per session
    df = (spark.readStream.format("iceberg_table")
          .option("location", table.ops.location)
          .load())

Window semantics follow incremental append consumption: append commits
emit their files' rows; merge-on-read DELETE commits add no data files and
are passed over silently; any commit that REWRITES files (copy-on-write
delete/update, compaction) would misreport rewrites as appends, so the
reader raises unless ``skip_rewrite_commits=true`` is set (then the whole
commit's file churn is skipped: new files introduced by the rewrite are
NOT emitted, matching Iceberg's streaming ``skip-overwrite-snapshots``).

``max_files_per_trigger`` (Iceberg's streaming-max-files-per-micro-batch)
bounds each micro-batch to N files: a backfill over months of history
becomes a sequence of right-sized batches instead of one giant one.  The
reader brackets its own offsets (the Python API exposes no ReadLimit),
landing mid-commit as partial offsets ``{"snapshot_id": S, "pos": k}``;
with bounding on, consumption is strictly per-commit (Iceberg's streaming
iterator semantics).  ``max_rows_per_trigger`` (Iceberg's
streaming-max-rows-per-micro-batch) and ``max_bytes_per_trigger`` spend
the same budget walk against each file's manifest-recorded row count /
byte size instead of a flat 1 — bytes is the admission unit that actually
sizes executor memory at 100 TB, where file sizes vary 1000×.  The three
compose (a batch closes when ANY budget is exhausted) and admission stays
file-granular: the first file of a batch is always admitted even if it
alone overflows the budget, so an oversized file can never stall the
stream.  All weights come from manifest entries — admission planning
never opens a data file.

``mode=changelog`` (r8) emits ROW-LEVEL CHANGES instead of plain appended
rows: the table columns plus ``_change_type`` ('insert' | 'delete'),
``_commit_snapshot_id`` and ``_change_ordinal`` — the streaming half of
the CDC loop whose batch half is ``Table.changelog_scan`` →
``Table.apply_changelog`` (``stream_changelog_apply`` wires the two into
continuous replication).  Scope is the structurally-derivable commit
kinds — every merge-on-read mutation flavor: append commits emit
inserts; EQUALITY-delete commits emit the dead rows by key match;
POSITIONAL-delete and DELETION-VECTOR commits emit the rows at the
recorded coordinates (DV replacement emits only new−old positions).
Delete candidates come from metadata alone — an equality delete's
sequence rule (parent-state files of strictly lower data sequence,
key-bounds pruned), a positional delete's ``applies-to`` files, a
deletion vector's ``referenced-data-file`` — never a table scan — and
every slice is masked against ALL prior deletes on its file (prior key
sets, prior positions, the replaced DV), so a row dies in the changelog
exactly once.  ``replace`` commits (compaction) emit nothing — physical churn
cancels logically.  Copy-on-write rewrites — the commit kind with no
structural row form — fall back PER COMMIT to a content-diff slice
(r9): the executor reads the commit's before/after file states under
their delete views and emits the multiset difference.  The batch
``Table.changelog_scan`` runs these same slices as one job.
Correct-if-slower: O(changed files' rows) per such commit, split into
bounds-disjoint file groups; merge-on-read pipelines never hit it.
``skip_rewrite_commits=true`` still passes over rewrite commits
entirely for consumers that only want the streamable kinds.  Iceberg
itself has no
changelog STREAMING read (its changelog is batch-only
``create_changelog_view``; its streaming read skips or refuses
non-append commits), so this exceeds the upstream surface."""

from __future__ import annotations

import os
from typing import Any, Iterator, Optional

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

def _ops(location: str):
    from iceberg_ruby_spark.table import FsTableOps

    return FsTableOps(location)


def _current_schema(meta):
    for sch in meta.schemas:
        if sch.schema_id == meta.current_schema_id:
            return sch
    return meta.schemas[0]


def _entry_paths(entries: list[dict[str, Any]]) -> list[str]:
    return [e["path"] for e in entries if "path" in e]


def _touched_files(e: dict[str, Any]) -> list[str]:
    """Data files a positional or DV delete entry is scoped to (its
    ``applies-to`` list, or the single ``referenced-data-file`` for a
    deletion vector); equality deletes resolve by sequence instead."""
    if e.get("content") == "deletion-vector":
        return [e["referenced-data-file"]]
    return list(e.get("applies-to") or [])


def _is_delete_entry(e: dict[str, Any]) -> bool:
    return "delete-file" in e


def _overlap_groups(
    entry_for: dict[str, dict], paths: list[str], col: str, key=None
) -> Optional[list[list[str]]]:
    """Group files by interval overlap of their manifest [lower, upper]
    bounds on ``col``, compared under ``key`` (the column type's
    ``manifests.stat_order``) — the planning primitive behind distributed
    content diffs.  Soundness: bounds are CONSERVATIVE (string truncation
    only widens them), so two files holding an equal row always land in
    one group; files that may hold NULLs (positive or unrecorded
    null-count) all merge together, since bounds never witness NULLs.
    Returns None when the column can't split (missing stats on any file,
    or non-comparable bound types) — the caller tries the next column."""
    from iceberg_ruby_spark.manifests import BOUND_ERRORS

    ivs = []
    for p in paths:
        e = entry_for.get(p) or {}
        lo = (e.get("lower-bounds") or {}).get(col)
        hi = (e.get("upper-bounds") or {}).get(col)
        if lo is None or hi is None:
            return None
        nc = (e.get("null-counts") or {}).get(col)
        ivs.append((lo, hi, nc is None or nc > 0, p))
    try:
        if key is not None:
            ivs = [(key(lo), key(hi), hn, p) for lo, hi, hn, p in ivs]
        ivs.sort(key=lambda t: (t[0], t[1]))
        # sweep-merge: sorted by lower bound, a file joins the open group
        # while its lower bound sits at-or-under the group's running max
        # upper bound
        groups: list[list] = []  # [paths, max_hi, has_nulls]
        for lo, hi, hn, p in ivs:
            if groups and not (groups[-1][1] < lo):
                g = groups[-1]
                g[0].append(p)
                if g[1] < hi:
                    g[1] = hi
                g[2] = g[2] or hn
            else:
                groups.append([[p], hi, hn])
    except BOUND_ERRORS:
        return None  # mixed bound types — not provably comparable
    out = [sorted(g[0]) for g in groups if not g[2]]
    nullers = sorted(x for g in groups if g[2] for x in g[0])
    if nullers:
        out.append(nullers)
    return sorted(out)


class _FileSlice(InputPartition):
    def __init__(self, path: str, columns: list[str]):
        self.path = path
        self.columns = columns


class _ChangeSlice(InputPartition):
    """One changelog-mode work unit: a newly-appended data file
    (``kind='insert'``) or one (data file × new delete source) pair —
    ``kind`` 'delete-eq' (equality keys), 'delete-pos' (positional
    parquet), or 'delete-dv' (puffin deletion-vector slice).  The
    ``prior_*`` fields carry every delete already applied to the data
    file BEFORE this commit (equality key files, positional files, the
    replaced DV), so already-dead rows are never re-emitted."""

    def __init__(
        self,
        kind: str,
        path: str,
        columns: list[str],
        snapshot_id: int,
        ordinal: int,
        delete_path: Optional[str] = None,
        key_cols: Optional[list[str]] = None,
        dv: Optional[tuple[int, int]] = None,
        prior_eq: Optional[list[tuple[str, tuple[str, ...]]]] = None,
        prior_pos: Optional[list[str]] = None,
        prior_dv: Optional[tuple[str, int, int]] = None,
        bases: Optional[list[str]] = None,
    ):
        self.kind = kind
        self.path = path
        self.columns = columns
        self.snapshot_id = snapshot_id
        self.ordinal = ordinal
        self.delete_path = delete_path
        self.key_cols = key_cols or []
        self.dv = dv
        self.prior_eq = prior_eq or []
        self.prior_pos = prior_pos or []
        self.prior_dv = prior_dv
        # base prefixes for positional file_path rebasing (write-time
        # base-locations + the current table location): spec-shaped
        # positional deletes store the FULL data path under the table
        # location AT WRITE TIME, so a renamed/registered table must
        # compare location-relative remainders, exactly like the batch
        # reader (table.py MoR path-normalization block)
        self.bases = bases or []


class _ContentDiffSlice(InputPartition):
    """Whole-commit CONTENT-DIFF work unit — the correct-if-slower
    fallback for commits whose row changes are not structurally
    derivable (copy-on-write rewrites, or a prior sequence-scoped delete
    whose file scope is unresolvable).  Carries per-file read specs for the
    commit's BEFORE and AFTER states (quiet common files already
    excluded at planning); the executor reads both sides under their
    delete views and emits the multiset difference.  One task per
    bounds-disjoint file group of the commit (``_diff_groups``): the work
    is O(changed files' rows) — merge-on-read commits stay on the
    structural O(changed) slices and never pay this."""

    kind = "content-diff"

    def __init__(
        self,
        prev_specs: list[dict],
        cur_specs: list[dict],
        columns: list[str],
        snapshot_id: int,
        ordinal: int,
        bases: Optional[list[str]] = None,
    ):
        self.prev_specs = prev_specs
        self.cur_specs = cur_specs
        self.columns = columns
        self.snapshot_id = snapshot_id
        self.ordinal = ordinal
        self.bases = bases or []


class _NeedsContentDiff(Exception):
    """Internal planning signal: this commit's changes cannot be derived
    structurally — rebuild the whole commit as one _ContentDiffSlice."""


class EngineTableStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.location = options.get("location") or options.get("path")
        if not self.location:
            raise ValueError("iceberg_table stream source requires option 'location'")
        self.skip_rewrites = (
            str(options.get("skip_rewrite_commits", "false")).lower() == "true"
        )
        # mode=changelog: emit row-level changes (_change_type /
        # _commit_snapshot_id / _change_ordinal) instead of plain appended
        # rows — the streaming half of the CDC story (batch side:
        # Table.changelog_scan → Table.apply_changelog)
        self.mode = str(options.get("mode", "append")).lower()
        if self.mode not in ("append", "changelog"):
            raise ValueError(
                f"iceberg_table stream source mode {self.mode!r}: expected "
                "'append' or 'changelog'"
            )
        start = options.get("starting_snapshot_id")
        self._starting = int(start) if start is not None else None
        # Iceberg's stream-from-timestamp: start with the first commit
        # whose timestamp is >= the given epoch-ms (resolved below once
        # metadata is loaded — the snapshot log maps ts → prior snapshot)
        start_ts = options.get("starting_timestamp")
        if start_ts is None:
            start_ts = options.get("stream_from_timestamp")
        if start_ts is not None and start is not None:
            raise ValueError(
                "pass either starting_snapshot_id or starting_timestamp, "
                "not both"
            )
        # pin the stream's head: offsets never advance past this snapshot,
        # so a drain loop terminates even under continuous concurrent
        # writes (availableNow-equivalent semantics for budgeted drains —
        # r9 ADVICE on stream_changelog_apply's bounded path)
        end = options.get("ending_snapshot_id")
        self._ending = int(end) if end is not None else None
        # follow a branch/tag head instead of main (stream the audit
        # branch, or a pinned tag for a frozen replay)
        self._ref = options.get("ref") or options.get("branch")
        # admission control (Iceberg's streaming-max-files/rows-per-micro-
        # batch, plus a bytes bound): bound each micro-batch so a backfill
        # over months of history becomes a sequence of right-sized batches
        # instead of one giant one.  The Python Data Source API exposes no
        # ReadLimit, so the reader brackets its own offsets: latestOffset
        # advances at most one budget's worth of files past the last offset
        # it saw, using PARTIAL offsets ``{"snapshot_id": S, "pos": k}``
        # (= first k files, sorted order, of S's delta consumed).  After a
        # checkpoint restart the replayed batch re-synchronizes the bracket
        # via partitions()/commit().  Rows/bytes budgets are spent from the
        # manifest-recorded per-file weights — planning never opens data.
        self._max_files = self._admission_opt(options, "max_files_per_trigger")
        self._max_rows = self._admission_opt(options, "max_rows_per_trigger")
        self._max_bytes = self._admission_opt(options, "max_bytes_per_trigger")
        # changelog windows are per-commit units (a delete's slices cannot
        # split mid-commit), so admission there is COMMIT-granular: whole
        # commits are admitted while the budgets last (first commit of a
        # batch always admits), and offsets never carry a partial pos.
        # Delete-only commits weigh what their added data files weigh
        # (usually nothing) — the budgets bound ingest volume, which is
        # what sizes a CDC backfill's batches.
        self._last: Optional[dict] = None
        self._floor: Optional[dict] = None
        # incremental delete-view cache: the prior-delete mask for a
        # structurally-derivable delete commit is served from here instead
        # of a full manifest read (r9 VERDICT item 4 — the one planning
        # term that grew with live file count).  Keyed by the manifest
        # list it reflects; advanced per-commit from deltas.
        self._dv_cache: Optional[dict] = None
        # the planner's metadata plane: a Table passes its own ops
        # (Table.changelog_scan — a catalog table's version lives in its
        # registry, not in a hint beside the files); a reader Spark builds
        # has only the location.  Planning runs on the driver, and
        # __getstate__ keeps the ops out of the reader shipped to
        # executors (a SQL catalog's pointer holds a lock).
        self._planner_ops = options.get("ops")
        meta = self._meta_ops().load()
        if start_ts is not None:
            if self._ref:
                raise ValueError(
                    "starting_timestamp resolves against the MAIN snapshot "
                    "log; it cannot combine with ref/branch"
                )
            ts = int(start_ts)
            prior = None  # latest main-ancestry commit strictly before ts
            for e in meta.raw.get("snapshot-log", []):
                if e["timestamp-ms"] < ts:
                    prior = e["snapshot-id"]
            # start AFTER that snapshot: the first emitted commit is the
            # first one at-or-after ts (ts before table creation => full
            # history; ts in the future => only new commits)
            self._starting = prior
        self._schema = _current_schema(meta)
        self._columns = [f.name for f in self._schema.fields]
        # Arrow target schemas for executor emission: read() yields
        # ``pyarrow.RecordBatch`` (the Python DataSource runtime forwards
        # them through the worker boundary verbatim — no per-row pickle),
        # so each batch must already carry EXACTLY the Arrow schema Spark
        # derives from the declared Spark schema (names, order, types,
        # tz=UTC timestamps).  Computed once driver-side; pa.Schema
        # pickles with the reader.
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import (
            IntegerType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        base = _current_schema(meta).to_spark()
        self._pa_base = to_arrow_schema(base)
        self._pa_change = to_arrow_schema(
            StructType(
                list(base.fields)
                + [
                    StructField("_change_type", StringType()),
                    StructField("_commit_snapshot_id", LongType()),
                    StructField("_change_ordinal", IntegerType()),
                ]
            )
        )

    def _meta_ops(self):
        return self._planner_ops or _ops(self.location)

    def __getstate__(self) -> dict:
        return {**self.__dict__, "_planner_ops": None}

    @staticmethod
    def _admission_opt(options: dict, name: str) -> Optional[int]:
        v = options.get(name)
        if v is None:
            return None
        v = int(v)
        if v <= 0:
            raise ValueError(f"{name} must be positive")
        return v

    @property
    def _bounded(self) -> bool:
        return (
            self._max_files is not None
            or self._max_rows is not None
            or self._max_bytes is not None
        )

    # -- offsets ----------------------------------------------------------
    def initialOffset(self) -> dict:
        # None = from table creation (consume all existing data first);
        # starting_snapshot_id = start AFTER that snapshot
        off = {"snapshot_id": self._starting}
        self._last = off
        return off

    def _head(self, meta) -> object:
        if self._ending is not None:
            return self._ending
        if self._ref:
            r = meta.raw.get("refs", {}).get(self._ref)
            if r is None:
                raise ValueError(
                    f"iceberg_table stream source: no such ref {self._ref!r}"
                )
            return r.get("snapshot-id")
        return meta.current_snapshot_id

    def latestOffset(self) -> dict:
        meta = self._meta_ops().load()
        head = self._head(meta)
        if not self._bounded or head is None:
            off = {"snapshot_id": head}
        else:
            off = self._bounded_offset(meta, self._last, head)
        self._last = off
        return off

    def _delta_entries(self, ops, by_id, snap) -> list[dict]:
        """One commit's appended data-file entries, sorted by path (the
        per-snapshot unit partial offsets index into).  O(new files) via
        the structural delta; rewrite commits contribute nothing when
        skip_rewrites."""
        from iceberg_ruby_spark.table import appends_only

        if self.skip_rewrites and not appends_only(snap):
            return []
        parent = (
            by_id.get(snap.parent_snapshot_id)
            if snap.parent_snapshot_id is not None
            else None
        )
        if parent is None:
            entries = ops.read_manifest(snap.manifest_list)
        else:
            entries = ops.read_manifest_delta(
                snap.manifest_list, parent.manifest_list
            )
            if entries is None:
                prev = set(_entry_paths(ops.read_manifest(parent.manifest_list)))
                entries = [
                    e
                    for e in ops.read_manifest(snap.manifest_list)
                    if e.get("path") not in prev
                ]
        return sorted(
            (e for e in entries if "path" in e), key=lambda e: e["path"]
        )

    def _delta_paths(self, ops, by_id, snap) -> list[str]:
        return [e["path"] for e in self._delta_entries(ops, by_id, snap)]

    def _bounded_offset(self, meta, last: Optional[dict], head: int) -> dict:
        """The furthest offset within the files/rows/bytes budgets of
        ``last``.  Walks head→last collecting the in-between commits, then
        spends the budgets forward file-by-file; lands mid-commit as a
        partial offset.  A file is admitted only if its FULL manifest
        weight fits every remaining budget — except the batch's first
        file, which always admits (an oversized file can never stall the
        stream).  Offsets stay canonical: a fully-consumed commit is
        always the pos-less form, and a partial pos is never 0.  With
        bounding, consumption is strictly per-commit (Iceberg's streaming
        iterator semantics): an append's files are emitted even if a later
        in-window rewrite replaced them."""
        from iceberg_ruby_spark.errors import InvalidDataError
        from iceberg_ruby_spark.table import snapshot_window

        ops = self._meta_ops()
        by_id = {s.snapshot_id: s for s in meta.snapshots}
        base = last if last is not None else {"snapshot_id": self._starting}
        base_id = base.get("snapshot_id")
        base_pos = base.get("pos")
        try:
            window = snapshot_window(by_id, base_id, by_id.get(head))
        except InvalidDataError:
            # base expired / not an ancestor: let partitions() surface the
            # error on the unbounded window rather than planning blind
            return {"snapshot_id": head}
        inf = float("inf")
        budget = {
            "files": self._max_files if self._max_files is not None else inf,
            "rows": self._max_rows if self._max_rows is not None else inf,
            "bytes": self._max_bytes if self._max_bytes is not None else inf,
        }
        admitted = 0

        def _exhausted() -> bool:
            return min(budget.values()) <= 0

        def _admit(entries: list[dict], i: int) -> int:
            nonlocal admitted
            while i < len(entries):
                e = entries[i]
                rc = e.get("record-count") or 0
                fb = e.get("file-size-bytes") or e.get("file-size-in-bytes") or 0
                if admitted > 0 and (
                    budget["files"] < 1
                    or budget["rows"] < rc
                    or budget["bytes"] < fb
                ):
                    break
                budget["files"] -= 1
                budget["rows"] -= rc
                budget["bytes"] -= fb
                admitted += 1
                i += 1
                if _exhausted():
                    break
            return i

        if base_pos is not None:
            # finish the partially-consumed commit first
            snap = by_id.get(base_id)
            entries = self._delta_entries(ops, by_id, snap) if snap else []
            stop = _admit(entries, base_pos)
            if stop < len(entries):
                return {"snapshot_id": base_id, "pos": stop}
        out = {"snapshot_id": base_id}
        for snap in window:
            if _exhausted():
                break
            entries = self._delta_entries(ops, by_id, snap)
            if self.mode == "changelog":
                # commit-granular: admit the whole commit or close the batch
                rc = sum(e.get("record-count") or 0 for e in entries)
                fb = sum(
                    e.get("file-size-bytes") or e.get("file-size-in-bytes") or 0
                    for e in entries
                )
                if admitted > 0 and (
                    budget["files"] < len(entries)
                    or budget["rows"] < rc
                    or budget["bytes"] < fb
                ):
                    return out
                budget["files"] -= len(entries)
                budget["rows"] -= rc
                budget["bytes"] -= fb
                admitted += 1
                out = {"snapshot_id": snap.snapshot_id}
                continue
            stop = _admit(entries, 0)
            if 0 < stop < len(entries):
                return {"snapshot_id": snap.snapshot_id, "pos": stop}
            if stop == 0 and entries:
                # budget can't fit this commit's first file: the batch
                # closes at the previous commit boundary (empty commits —
                # MoR deletes, property changes — fall through and the
                # offset advances past them)
                return out
            out = {"snapshot_id": snap.snapshot_id}
        return out

    # -- planning ---------------------------------------------------------
    @staticmethod
    def _offset_le(by_id, a: dict, b: dict) -> bool:
        """True iff offset ``a`` is at-or-before offset ``b`` along the
        snapshot ancestry.  Within one commit a partial offset (``pos``)
        precedes the pos-less fully-consumed form.  Unprovable (e.g. an
        expired ancestor) returns False."""
        a_id, b_id = a.get("snapshot_id"), b.get("snapshot_id")
        if a_id is None:
            return True  # table-creation base precedes everything
        if a_id == b_id:
            a_pos, b_pos = a.get("pos"), b.get("pos")
            if a_pos is None:
                return b_pos is None  # full == full; full > any partial
            return b_pos is None or a_pos <= b_pos
        from iceberg_ruby_spark.table import ancestors

        return any(s.snapshot_id == a_id for s in ancestors(by_id, by_id.get(b_id)))

    def _append_window(self, by_id, start_id, end_snap) -> list:
        """The append-mode window, oldest first; a commit that rewrites
        rows refuses unless ``skip_rewrite_commits`` passes over it."""
        from iceberg_ruby_spark.table import appends_only, snapshot_window

        window = snapshot_window(by_id, start_id, end_snap)
        if not self.skip_rewrites:
            for snap in window:
                if not appends_only(snap):
                    raise ValueError(
                        f"streaming read crossed a {snap.operation!r} commit "
                        f"({snap.snapshot_id}); rewrites cannot be consumed "
                        "as appends — set skip_rewrite_commits=true to pass "
                        "over them"
                    )
        return window

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        start_id, end_id = start.get("snapshot_id"), end.get("snapshot_id")
        start_pos, end_pos = start.get("pos"), end.get("pos")
        if end_id is None or (start_id == end_id and start_pos == end_pos):
            return []
        ops = self._meta_ops()
        meta = ops.load()
        by_id = {s.snapshot_id: s for s in meta.snapshots}
        if self._offset_le(by_id, end, start):
            # stale end: after a CLEAN checkpoint restart Spark calls
            # latestOffset() before any partitions(), so the fresh reader's
            # bracket (re-based from starting_snapshot_id) can land BEHIND
            # the checkpointed start.  The window is entirely pre-consumed
            # data: emit nothing, re-seed the bracket from the committed
            # start, and remember it as a floor so the next window (whose
            # Spark-side start is this stale end) clamps forward instead of
            # replaying (ADVICE r7 medium).
            self._last = dict(start)
            self._floor = dict(start)
            return []
        if self._floor is not None and self._offset_le(by_id, start, self._floor):
            # everything up to the floor was committed before the restart
            start = dict(self._floor)
            start_id, start_pos = start.get("snapshot_id"), start.get("pos")
            if start_id == end_id and start_pos == end_pos:
                self._last = dict(end)
                return []
        # re-sync the admission bracket: after a checkpoint restart the
        # replayed batch's end offset is the next latestOffset's base
        self._last = dict(end)
        end_snap = by_id.get(end_id)
        if end_snap is None:
            raise ValueError(f"offset snapshot {end_id} no longer exists")
        if self.mode == "changelog":
            if start_pos is not None or end_pos is not None:
                # a partial (mid-commit) offset can only come from an
                # append-mode checkpoint with file-granular admission —
                # silently dropping the pos would skip (or re-emit) the
                # commit's unconsumed tail
                raise ValueError(
                    "changelog-mode cannot resume from a partial "
                    "(mid-commit) offset; this checkpoint was written by "
                    "an append-mode stream — use a fresh checkpoint for "
                    "mode=changelog"
                )
            return self._changelog_partitions(ops, by_id, start_id, end_snap)
        if start_pos is not None or end_pos is not None:
            return self._partial_window(
                ops, by_id, start_id, start_pos, end_snap, end_pos
            )
        window = self._append_window(by_id, start_id, end_snap)
        cur = by_id.get(start_id) if start_id is not None else None
        if cur is not None and not self.skip_rewrites:
            # fast-append structural delta: micro-batch planning opens only
            # the manifests ADDED in the window — O(new files), independent
            # of table history (the 100 TB tail-read property).  None ⇒ a
            # replace commit or manifest merge inside the window; fall back
            # to the full set diff below.
            delta = ops.read_manifest_delta(
                end_snap.manifest_list, cur.manifest_list
            )
            if delta is not None:
                return [
                    _FileSlice(p, self._columns)
                    for p in sorted(_entry_paths(delta))
                ]
        base_paths: set[str] = set()
        if cur is not None:
            base_paths = set(_entry_paths(ops.read_manifest(cur.manifest_list)))
        if self.skip_rewrites:
            from iceberg_ruby_spark.table import appends_only

            # exclude file churn introduced by any rewrite commit in the
            # window: only files appended by clean append commits emit
            for snap in window:
                if not appends_only(snap):
                    base_paths |= set(
                        _entry_paths(ops.read_manifest(snap.manifest_list))
                    )
        new = [
            p
            for p in _entry_paths(ops.read_manifest(end_snap.manifest_list))
            if p not in base_paths
        ]
        return [_FileSlice(p, self._columns) for p in sorted(new)]

    # -- changelog-mode planning ------------------------------------------
    def _changelog_partitions(
        self, ops, by_id, start_id, end_snap
    ) -> list[InputPartition]:
        """Per-commit structural change slices over the window — metadata
        reads only.  Scope (documented in the module docstring): append
        commits emit inserts; merge-on-read EQUALITY-delete commits emit
        the dead rows (candidates are the parent state's files of strictly
        lower sequence, masked against prior deletes so already-dead rows
        are not re-emitted); positional and DV commits emit the rows at
        their coordinates the same way; ``replace`` commits (compaction)
        emit nothing — physical churn without logical change;
        copy-on-write rewrites fall back to one content-diff slice per
        commit (``_content_diff_slices``) unless ``skip_rewrite_commits=
        true`` skips them."""
        from iceberg_ruby_spark.table import snapshot_window

        window = snapshot_window(by_id, start_id, end_snap)
        # None ⇒ window starts at table creation
        prev = by_id.get(start_id) if start_id is not None else None
        slices: list[InputPartition] = []
        for ordinal, snap in enumerate(window):
            slices += self._commit_change_slices(ops, prev, snap, ordinal)
            prev = snap
        return slices

    def _commit_change_slices(
        self, ops, prev, snap, ordinal: int
    ) -> list[InputPartition]:
        sid = snap.snapshot_id
        if prev is not None:
            # fast-append structural delta: a pure-append commit plans from
            # the manifests ADDED by this commit alone — O(new files),
            # independent of table size (same property as append-mode
            # micro-batches).  Structurally-derivable DELETE commits also
            # plan from the delta: added delete entries come from the new
            # manifests, and the prior-delete mask is served by the
            # incremental delete-view cache — so an MoR delete commit's
            # planning cost is O(changed entries + live deletes), flat in
            # live FILE count.  Full manifests are read only for commits
            # the delta can't describe (CoW rewrites, manifest merges).
            delta = ops.read_manifest_delta(
                snap.manifest_list, prev.manifest_list
            )
            if delta is not None and all("path" in e for e in delta):
                self._advance_delete_cache(ops, prev, snap, delta)
                return [
                    _ChangeSlice("insert", e["path"], self._columns, sid, ordinal)
                    for e in sorted(delta, key=lambda e: e["path"])
                ]
            if delta is not None:
                out = self._delta_change_slices(ops, prev, snap, delta, ordinal)
                if out is not None:
                    return out
        cur_entries = ops.read_manifest(snap.manifest_list)
        prev_entries = ops.read_manifest(prev.manifest_list) if prev else []
        # any full-entry read doubles as a free cache rebuild for the NEXT
        # commit's structural planning
        self._set_delete_cache(ops, snap, cur_entries)
        prev_paths = {e["path"] for e in prev_entries if "path" in e}
        cur_paths = {e["path"] for e in cur_entries if "path" in e}
        removed = prev_paths - cur_paths
        if removed:
            if snap.operation == "replace":
                return []  # pure rewrite: no logical change to emit
            if self.skip_rewrites:
                return []
            # copy-on-write rewrite: row-level changes need a content
            # comparison — fall back to the per-commit batch-diff slice
            # (correct-if-slower; MoR commits never take this path)
            return self._content_diff_slices(
                ops, prev_entries, cur_entries, sid, ordinal
            )

        def _del_id(e):
            # two DVs can share one puffin file at different offsets
            return (e.get("delete-file"), e.get("content-offset"))

        from collections import Counter as _Counter

        prior_dels = [e for e in prev_entries if _is_delete_entry(e)]
        prev_del_counts = _Counter(_del_id(e) for e in prior_dels)
        # multiset diff: an entry is ADDED when its occurrence index in
        # the current manifest exceeds the parent's count of the same
        # canonical key — a byte-identical re-issued delete still streams
        seen: dict = {}
        added_deletes = []
        for e in cur_entries:
            if not _is_delete_entry(e):
                continue
            k = _del_id(e)
            seen[k] = seen.get(k, 0) + 1
            if seen[k] > prev_del_counts.get(k, 0):
                added_deletes.append(e)
        inserts: list[InputPartition] = [
            _ChangeSlice("insert", e["path"], self._columns, sid, ordinal)
            for e in cur_entries
            if "path" in e and e["path"] not in prev_paths
        ]
        bases = self._entry_bases(ops, prev_entries, added_deletes)
        try:
            return self._delete_slices(
                ops, added_deletes, prior_dels, inserts, sid, ordinal, bases,
                prior_data=[e for e in prev_entries if "path" in e],
            )
        except _NeedsContentDiff:
            # a prior delete's scope on a touched file is unresolvable —
            # the partial structural slices are discarded and the whole
            # commit diffs by content instead
            return self._content_diff_slices(
                ops, prev_entries, cur_entries, sid, ordinal
            )

    # -- incremental delete-view cache --------------------------------------
    #
    # A structurally-derivable delete commit needs its PARENT's delete
    # entries (the prior-delete mask) — but reading the parent's full
    # manifest made delete-commit planning linear in live FILE count
    # (SCALE.md r9: 1.9 → 7.0 ms across a 200-commit chain).  The cache
    # holds exactly the mask inputs: the parent state's delete entries plus
    # the base-location set for positional rebasing.  It's built by ONE
    # full read (first delete commit of a drain, or after a manifest merge)
    # and then advanced per commit from the structural delta alone, so a
    # long CDC drain's per-commit planning cost is O(changed entries +
    # standing deletes), flat in table size.

    def _delete_view_cache(self, ops, prev_snap) -> dict:
        key = ops._rel(ops._abs(prev_snap.manifest_list))
        c = self._dv_cache
        if c is not None and c["list"] == key:
            return c
        entries = ops.read_manifest(prev_snap.manifest_list)
        c = {
            "list": key,
            "deletes": [e for e in entries if _is_delete_entry(e)],
            # parent-state DATA entries: what resolves a SEQUENCE-scoped
            # equality delete's file scope (data sequence + key bounds).
            # Memory is O(table metadata) — the same order as the one full
            # manifest read that builds the cache — and per-commit advance
            # stays O(delta), so a long upsert-sink drain's planning cost
            # remains flat in table size.
            "data": [e for e in entries if "path" in e],
            "bases": {
                e["base-location"] for e in entries if e.get("base-location")
            },
        }
        self._dv_cache = c
        return c

    def _advance_delete_cache(self, ops, prev_snap, snap, added) -> None:
        """Roll the cache forward across one structurally-derivable commit
        (its ``added`` delta entries are pure additions — containment is
        what made the delta derivable, so nothing was removed)."""
        c = self._dv_cache
        if c is None or c["list"] != ops._rel(ops._abs(prev_snap.manifest_list)):
            return
        # in-place: the lists are owned by the cache (built fresh on every
        # rebuild), and per-commit copies made a long drain's advance cost
        # O(standing entries) instead of O(delta)
        c["list"] = ops._rel(ops._abs(snap.manifest_list))
        c["deletes"].extend(e for e in added if _is_delete_entry(e))
        c["data"].extend(e for e in added if "path" in e)
        c["bases"] |= {
            e["base-location"] for e in added if e.get("base-location")
        }

    def _set_delete_cache(self, ops, snap, entries) -> None:
        """Free rebuild from an already-loaded full entry list."""
        self._dv_cache = {
            "list": ops._rel(ops._abs(snap.manifest_list)),
            "deletes": [e for e in entries if _is_delete_entry(e)],
            "data": [e for e in entries if "path" in e],
            "bases": {
                e["base-location"] for e in entries if e.get("base-location")
            },
        }

    def _delta_change_slices(
        self, ops, prev, snap, delta, ordinal: int
    ) -> Optional[list[InputPartition]]:
        """Structural planning for a delete commit from its manifest DELTA
        plus the delete-view cache — no full manifest read.  Returns None
        when the commit needs the full path (a prior delete whose scope
        the cache cannot resolve): the caller re-plans with full
        entries."""
        sid = snap.snapshot_id
        added_deletes = [e for e in delta if _is_delete_entry(e)]
        cache = self._delete_view_cache(ops, prev)
        inserts: list[InputPartition] = [
            _ChangeSlice("insert", e["path"], self._columns, sid, ordinal)
            for e in sorted(
                (e for e in delta if "path" in e), key=lambda e: e["path"]
            )
        ]
        bases = sorted(
            {ops._abs(".").rstrip("/."), ops.location}
            | cache["bases"]
            | {e["base-location"] for e in delta if e.get("base-location")}
        )
        try:
            out = self._delete_slices(
                ops, added_deletes, cache["deletes"], inserts, sid, ordinal,
                bases, prior_data=cache["data"],
            )
        except _NeedsContentDiff:
            return None
        self._advance_delete_cache(ops, prev, snap, delta)
        return out

    @staticmethod
    def _entry_bases(ops, *entry_lists) -> list[str]:
        """Base prefixes for positional file_path rebasing: write-time
        base-locations carried on the entries plus the current table
        location (see ``_ChangeSlice.bases``)."""
        return sorted(
            {ops._abs(".").rstrip("/."), ops.location}
            | {
                pe["base-location"]
                for lst in entry_lists
                for pe in lst
                if pe.get("base-location")
            }
        )

    def _make_priors_for(self, ops, prior_del_entries, prior_data):
        """Closure computing the deletes already applied to one data file
        in the PARENT state — the mask that keeps already-dead rows out of
        a commit's delete events: prior equality key files, positional
        files and the replaced DV.  ``prior_data`` (the parent state's
        DATA entries) resolves prior equality deletes: whether one applies
        to a file depends on the file's data sequence number, which only
        its manifest entry knows; a file it cannot resolve raises
        :class:`_NeedsContentDiff`, the content-diff fallback."""
        from iceberg_ruby_spark.table import (
            _compile_seq_scope,
            _seq_scope_applies,
        )

        entry_by_path = {
            ops._abs(e["path"]): e for e in prior_data if "path" in e
        }
        # precompile per-prior state ONCE — the closure runs per touched
        # file, and rebuilding key-bounds trees / re-absolutizing scope
        # lists per (prior, file) pair made a long unsettled upsert
        # chain's planning quadratic in commit count
        pre: list[tuple[str, dict, Any]] = []
        for pe in prior_del_entries:
            if pe.get("content") == "equality-deletes":
                pre.append(("seq", pe, _compile_seq_scope(pe, self._schema)))
            else:
                pre.append(
                    ("plain", pe, {ops._abs(p) for p in _touched_files(pe)})
                )

        def _priors_for(data_abs: str):
            eq: list[tuple[str, tuple[str, ...]]] = []
            pos: list[str] = []
            dv: Optional[tuple[str, int, int]] = None
            for kind, pe, aux in pre:
                if kind == "seq":
                    de = entry_by_path.get(data_abs)
                    if de is None:
                        # scope unresolvable without the file's sequence
                        raise _NeedsContentDiff(data_abs)
                    if not _seq_scope_applies(aux, de):
                        continue
                elif data_abs not in aux:
                    continue
                content = pe.get("content")
                if content == "equality-deletes":
                    eq.append(
                        (
                            ops._abs(pe["delete-file"]),
                            tuple(pe.get("equality-cols") or []),
                        )
                    )
                elif content == "position-deletes":
                    pos.append(ops._abs(pe["delete-file"]))
                elif content == "deletion-vector":
                    dv = (
                        ops._abs(pe["delete-file"]),
                        int(pe["content-offset"]),
                        int(pe["content-size"]),
                    )
            return eq, pos, dv

        return _priors_for

    def _delete_slices(
        self, ops, added_deletes, prior_del_entries, slices, sid, ordinal,
        entry_bases, prior_data,
    ) -> list[InputPartition]:
        from iceberg_ruby_spark.table import _seq_scope_touched

        _priors_for = self._make_priors_for(
            ops, prior_del_entries, prior_data
        )
        slices = list(slices)
        for e in added_deletes:
            content = e.get("content")
            if content not in (
                "equality-deletes",
                "position-deletes",
                "deletion-vector",
            ):
                if self.skip_rewrites:
                    return [s for s in slices if s.kind == "insert"]
                raise ValueError(
                    f"changelog streaming crossed an unknown delete kind "
                    f"{content!r} in commit {sid}; equality/positional/DV "
                    "deletes stream structurally and rewrites fall back to "
                    "the content diff — set skip_rewrite_commits=true to "
                    "pass over this commit"
                )
            key_cols = list(e.get("equality-cols") or [])
            if content == "equality-deletes":
                if not key_cols:
                    raise ValueError(
                        f"equality delete in commit {sid} records no key "
                        "columns; cannot stream its changelog"
                    )
                # candidates are the PARENT state's data files with
                # strictly lower sequence, key-bounds pruned — resolved
                # from metadata in hand, O(changed + overlapping files)
                touched = [
                    ops._abs(de["path"])
                    for de in _seq_scope_touched(
                        e, [d for d in prior_data if "path" in d], self._schema
                    )
                ]
            else:
                touched = [ops._abs(p) for p in _touched_files(e)]
            for abs_path in touched:
                prior_eq, prior_pos, prior_dv = _priors_for(abs_path)
                common = dict(
                    columns=self._columns,
                    snapshot_id=sid,
                    ordinal=ordinal,
                    delete_path=ops._abs(e["delete-file"]),
                    prior_eq=prior_eq,
                    prior_pos=prior_pos,
                    prior_dv=prior_dv,
                    bases=entry_bases,
                )
                if content == "equality-deletes":
                    slices.append(
                        _ChangeSlice(
                            "delete-eq", abs_path, key_cols=key_cols, **common
                        )
                    )
                elif content == "position-deletes":
                    slices.append(_ChangeSlice("delete-pos", abs_path, **common))
                else:
                    slices.append(
                        _ChangeSlice(
                            "delete-dv",
                            abs_path,
                            dv=(
                                int(e["content-offset"]),
                                int(e["content-size"]),
                            ),
                            **common,
                        )
                    )
        return slices

    def _content_diff_slices(
        self, ops, prev_entries, cur_entries, sid: int, ordinal: int
    ) -> list[InputPartition]:
        """The content-diff slices of one commit — planning half of the
        correct-if-slower fallback for commits the structural paths can't
        derive (CoW rewrites, unresolvable prior delete scopes).

        A data file common to both states whose delete scope didn't change
        contributes identical rows to both sides, so it's dropped from
        BOTH reads up front; the executor diffs only the rest.  Each
        side's spec carries the file plus every delete of that state
        scoped to it, so rows are compared under their correct visibility."""
        import json as _json

        def mor_key(e):
            return _json.dumps(
                {k: sorted(v) if isinstance(v, (list, set)) else v
                 for k, v in e.items() if k != "schema-id"},
                sort_keys=True, default=str,
            )

        def split(entries):
            data = {ops._abs(e["path"]): e for e in entries if "path" in e}
            mor = {mor_key(e): e for e in entries if "path" not in e}
            return data, mor

        from iceberg_ruby_spark.table import (
            _compile_seq_scope,
            _seq_scope_applies,
        )

        prev_data, prev_mor = split(prev_entries)
        cur_data, cur_mor = split(cur_entries)
        all_paths = set(prev_data) | set(cur_data)
        cand = {**prev_data, **cur_data}
        touched: set = set()
        for k in set(prev_mor) ^ set(cur_mor):
            e = prev_mor.get(k) or cur_mor[k]
            if e.get("content") == "deletion-vector":
                touched.add(ops._abs(e["referenced-data-file"]))
                continue
            if e.get("content") == "equality-deletes":
                # ONE compile per delete, not per (delete, file) pair
                scope = _compile_seq_scope(e, self._schema)
                touched |= {
                    p for p, de in cand.items()
                    if _seq_scope_applies(scope, de)
                }
                continue
            ap = e.get("applies-to")
            touched |= (
                {ops._abs(p) for p in ap} if ap is not None else all_paths
            )
        quiet = {
            p for p in set(prev_data) & set(cur_data) if p not in touched
        }
        bases = sorted(
            {ops._abs(".").rstrip("/."), ops.location}
            | {
                e["base-location"]
                for e in list(prev_entries) + list(cur_entries)
                if e.get("base-location")
            }
        )

        def side_specs(data, mor) -> list[dict]:
            # precompile each MoR entry's scope ONCE — the path loop below
            # would otherwise rebuild the seq-scope tree / abs-path set per
            # (path, entry) pair
            compiled = {
                id(e): (
                    _compile_seq_scope(e, self._schema)
                    if e.get("content") == "equality-deletes"
                    else None if e.get("applies-to") is None
                    else {ops._abs(p) for p in e["applies-to"]}
                )
                for e in mor.values()
            }
            specs = []
            for path_abs in sorted(set(data) - quiet):
                eq, pos, dvs = [], [], []
                for e in mor.values():
                    content = e.get("content")
                    if content == "deletion-vector":
                        if ops._abs(e["referenced-data-file"]) == path_abs:
                            dvs.append(
                                (
                                    ops._abs(e["delete-file"]),
                                    int(e["content-offset"]),
                                    int(e["content-size"]),
                                )
                            )
                        continue
                    scope = compiled[id(e)]
                    if content == "equality-deletes":
                        de = data.get(path_abs)
                        if de is not None and _seq_scope_applies(scope, de):
                            eq.append(
                                (
                                    ops._abs(e["delete-file"]),
                                    list(e.get("equality-cols") or []),
                                )
                            )
                    elif scope is None or path_abs in scope:
                        pos.append(ops._abs(e["delete-file"]))
                specs.append({"path": path_abs, "eq": eq, "pos": pos, "dvs": dvs})
            return specs

        prev_specs = side_specs(prev_data, prev_mor)
        cur_specs = side_specs(cur_data, cur_mor)
        if not prev_specs and not cur_specs:
            return []
        # distribute the diff: split the commit's files into groups whose
        # column-bounds ranges are disjoint — equal rows carry equal values
        # in EVERY column, so a row can only cancel against rows inside
        # files whose range on ANY one column overlaps its own.  One slice
        # per group ⇒ a wide CoW commit plans as many parallel tasks as its
        # key ranges allow instead of one.  Pure metadata; no usable stats
        # degrade to one group (r9's single-slice plan), never to a wrong
        # answer.
        entry_for = dict(prev_data)
        entry_for.update(cur_data)
        spec_paths = sorted(
            {s["path"] for s in prev_specs} | {s["path"] for s in cur_specs}
        )
        groups = self._diff_groups(entry_for, spec_paths)
        slices: list[InputPartition] = []
        for grp in groups:
            gs = set(grp)
            ps = [s for s in prev_specs if s["path"] in gs]
            cs = [s for s in cur_specs if s["path"] in gs]
            if ps or cs:
                slices.append(
                    _ContentDiffSlice(
                        ps, cs, self._columns, sid, ordinal, bases
                    )
                )
        return slices

    def _diff_groups(
        self, entry_for: dict[str, dict], paths: list[str]
    ) -> list[list[str]]:
        """Partition a content-diff commit's files into independently
        diffable groups via manifest column bounds.  For each candidate
        column, files become intervals [lower, upper]; overlapping
        intervals merge (sweep over the sorted list), files that may hold
        NULLs of the column merge with each other (a NULL row can only
        equal another NULL row), and a file missing stats disqualifies the
        column.  The column producing the most groups wins."""
        if len(paths) <= 1:
            return [list(paths)]
        best: Optional[list[list[str]]] = None
        from iceberg_ruby_spark.manifests import stat_order

        for f in self._schema.fields:
            groups = _overlap_groups(
                entry_for, paths, f.name, stat_order(f.field_type)
            )
            if groups is not None and (best is None or len(groups) > len(best)):
                best = groups
        if best is None or len(best) <= 1:
            return [list(paths)]
        return best

    def _partial_window(
        self, ops, by_id, start_id, start_pos, end_snap, end_pos
    ) -> list[InputPartition]:
        """Window planning when either offset is PARTIAL (admission
        control landed mid-commit).  Strictly per-commit consumption:
        each commit's sorted delta files, sliced by the offsets'
        positions.  Same safety rules as the set-diff path."""
        if start_id == end_snap.snapshot_id:
            # same-commit window: slice inside one delta
            sfiles = self._delta_paths(ops, by_id, end_snap)
            lo = start_pos or 0
            hi = end_pos if end_pos is not None else len(sfiles)
            return [_FileSlice(p, self._columns) for p in sfiles[lo:hi]]
        window = self._append_window(by_id, start_id, end_snap)
        files: list[str] = []
        if start_pos is not None:
            files += self._delta_paths(ops, by_id, by_id[start_id])[start_pos:]
        for snap in window:
            f = self._delta_paths(ops, by_id, snap)
            if snap.snapshot_id == end_snap.snapshot_id and end_pos is not None:
                f = f[:end_pos]
            files += f
        return [_FileSlice(p, self._columns) for p in files]

    # -- execution (runs in executor python workers) ----------------------
    @staticmethod
    def _load_table(path: str, columns: list[str]):
        """``columns`` of a parquet/ORC data file as a pyarrow Table in
        the requested order (ORC covers add_files(format='orc') imports);
        columns missing in the file (schema evolved since it was written)
        backfill as typed-later nulls."""
        import pyarrow as pa

        if path.endswith(".orc"):
            import pyarrow.orc as orc

            tbl = orc.ORCFile(path).read()
        else:
            import pyarrow.parquet as pq

            tbl = pq.read_table(path)
        n = tbl.num_rows
        return pa.table(
            {
                name: (
                    tbl.column(name)
                    if name in tbl.column_names
                    else pa.chunked_array([pa.nulls(n)])
                )
                for name in columns
            }
        )

    def _emit_batches(self, tbl, sid=None, ordinal=None, ctype=None):
        """Yield ``tbl`` (table columns in ``self._columns`` order) as
        RecordBatches cast to the Spark-expected Arrow schema; when
        ``ctype`` is given the three changelog columns append as constant
        Arrow arrays first.  This is the vectorized emission path — rows
        cross the DataSource worker boundary as Arrow batches, never as
        pickled Python tuples."""
        import pyarrow as pa

        target = self._pa_base if ctype is None else self._pa_change
        if ctype is not None:
            n = tbl.num_rows
            tbl = tbl.append_column(
                "_change_type", pa.repeat(pa.scalar(ctype, pa.string()), n)
            )
            tbl = tbl.append_column(
                "_commit_snapshot_id", pa.repeat(pa.scalar(sid, pa.int64()), n)
            )
            tbl = tbl.append_column(
                "_change_ordinal", pa.repeat(pa.scalar(ordinal, pa.int32()), n)
            )
        for b in tbl.cast(target).to_batches():
            if b.num_rows:
                yield b

    def read(self, partition: InputPartition) -> Iterator:
        """Executor read: an iterator of ``pyarrow.RecordBatch`` (PySpark
        4.1's DataSource runtime accepts batch iterators and forwards
        them without per-row conversion — r10 VERDICT item 1)."""
        if getattr(partition, "kind", None) is not None:
            return self._read_change(partition)
        return self._emit_batches(self._load_table(partition.path, partition.columns))

    @staticmethod
    def _norm_path(p: str) -> str:
        import os as _os

        if p.startswith("file:"):
            p = p[len("file:"):]
        return _os.path.abspath(p)

    @classmethod
    def _rebase(cls, p: str, bases: list[str]) -> str:
        """Location-relative remainder of ``p`` under the longest
        matching base prefix; normalized-absolute when none matches.
        Stored positional paths are absolute under the WRITE-TIME table
        location — after rename_table only the remainder is stable."""
        n = cls._norm_path(p)
        for b in sorted(bases, key=len, reverse=True):
            nb = cls._norm_path(b).rstrip("/") + "/"
            if n.startswith(nb):
                return n[len(nb):]
        return n

    @classmethod
    def _positions_from_pos_file(
        cls, del_path: str, data_path: str, bases: Optional[list[str]] = None
    ) -> set:
        """Dead positions for ``data_path`` from a positional-delete
        parquet of (file_path, pos) rows; paths compare by their
        base-stripped remainder so renamed tables still match."""
        import pyarrow.parquet as pq

        bases = bases or []
        kt = pq.read_table(del_path, columns=["file_path", "pos"])
        target = cls._rebase(data_path, bases)
        return {
            int(pos)
            for fp, pos in zip(
                kt.column("file_path").to_pylist(), kt.column("pos").to_pylist()
            )
            if cls._rebase(fp, bases) == target
        }

    @staticmethod
    def _positions_from_dv(path: str, offset: int, size: int) -> set:
        """Dead positions from one deletion-vector blob slice of a Puffin
        file (ranged read, pure-python roaring decode)."""
        from iceberg_ruby_spark.deletion_vectors import decode_dv_blob

        with open(path, "rb") as f:
            f.seek(offset)
            payload = f.read(size)
        return set(decode_dv_blob(payload))

    def _read_change(self, partition: "_ChangeSlice") -> Iterator:
        """Changelog-mode executor read: RecordBatches of (row…,
        _change_type, _commit_snapshot_id, _change_ordinal).  Insert
        slices stream the new file's rows.  Delete slices stream the data
        file's rows newly dead under THIS commit's delete source —
        equality keys, positional coordinates, or a DV bitmap — masked
        against every PRIOR delete on the same file (prior equality key
        sets, prior positional files, the replaced DV), so a row dies in
        the changelog exactly once.  Masking builds a numpy keep-mask
        (Python touches only the KEY columns, never full rows) and the
        survivors leave via one vectorized ``take``."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        if partition.kind == "content-diff":
            return self._read_content_diff(partition)
        tbl = self._load_table(partition.path, partition.columns)
        sid, ordinal = partition.snapshot_id, partition.ordinal
        if partition.kind == "insert":
            return self._emit_batches(tbl, sid, ordinal, "insert")

        def key_set(path: str, kcols) -> set:
            kt = pq.read_table(path, columns=list(kcols))
            return set(zip(*[kt.column(c).to_pylist() for c in kcols]))

        def key_tuples(kcols) -> list[tuple]:
            return list(zip(*[tbl.column(c).to_pylist() for c in kcols]))

        def pos_mask(positions: set) -> "np.ndarray":
            m = np.zeros(n, dtype=bool)
            if positions:
                idx = [p for p in positions if 0 <= p < n]
                if idx:
                    m[idx] = True
            return m

        n = tbl.num_rows
        # what THIS commit kills
        if partition.kind == "delete-eq":
            new_keys = key_set(partition.delete_path, partition.key_cols)
            keep = np.fromiter(
                (k in new_keys for k in key_tuples(partition.key_cols)),
                dtype=bool,
                count=n,
            )
        elif partition.kind == "delete-pos":
            keep = pos_mask(
                self._positions_from_pos_file(
                    partition.delete_path, partition.path, partition.bases
                )
            )
        else:  # delete-dv
            off, size = partition.dv
            keep = pos_mask(
                self._positions_from_dv(partition.delete_path, off, size)
            )
        # what was ALREADY dead before this commit
        prior_positions: set = set()
        for dp in partition.prior_pos:
            prior_positions |= self._positions_from_pos_file(
                dp, partition.path, partition.bases
            )
        if partition.prior_dv is not None:
            p, off, size = partition.prior_dv
            prior_positions |= self._positions_from_dv(p, off, size)
        keep &= ~pos_mask(prior_positions)
        for dp, kc in partition.prior_eq:
            pks = key_set(dp, kc)
            keep &= np.fromiter(
                (k not in pks for k in key_tuples(kc)), dtype=bool, count=n
            )
        out = tbl.take(pa.array(np.nonzero(keep)[0]))
        return self._emit_batches(out, sid, ordinal, "delete")

    def _side_sql(self, con, specs: list[dict], columns: list[str], bases, tag: str) -> str:
        """Register ONE commit state's live rows (a list of per-file
        specs, each under its delete view) as DuckDB relations and return
        a UNION ALL query selecting them.  All masking is vectorized:
        positional/DV dead positions anti-join a positions relation,
        and equality deletes anti-join their key files null-safely
        (``IS NOT DISTINCT FROM`` — NaN equals NaN under DuckDB's total
        ordering, same as exceptAll).  No Python row loop anywhere."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        def q(c: str) -> str:
            # double-quote-escaped identifier: a column name with an
            # embedded quote must not splice into the generated SQL
            return '"' + c.replace('"', '""') + '"'

        collist = ", ".join(f"t.{q(c)}" for c in columns)
        parts = []
        for j, spec in enumerate(specs):
            tbl = self._load_table(spec["path"], columns)
            n = tbl.num_rows
            if n == 0:
                continue
            name = f"__{tag}{j}"
            conds = []
            dead: set = set()
            for dp in spec["pos"]:
                dead |= self._positions_from_pos_file(dp, spec["path"], bases)
            for p, off, size in spec["dvs"]:
                dead |= self._positions_from_dv(p, off, size)
            if dead:
                tbl = tbl.append_column(
                    "__cdpos", pa.array(range(n), pa.int64())
                )
                con.register(
                    f"{name}_dead",
                    pa.table(
                        {"p": pa.array(
                            sorted(x for x in dead if 0 <= x < n), pa.int64()
                        )}
                    ),
                )
                conds.append(
                    f'"__cdpos" NOT IN (SELECT p FROM {name}_dead)'
                )
            con.register(name, tbl)
            for k, (dp, kcols) in enumerate(spec["eq"]):
                con.register(f"{name}_eq{k}", pq.read_table(dp, columns=list(kcols)))
                match = " AND ".join(
                    f"t.{q(c)} IS NOT DISTINCT FROM e.{q(c)}" for c in kcols
                )
                conds.append(
                    f"NOT EXISTS (SELECT 1 FROM {name}_eq{k} e WHERE {match})"
                )
            where = f" WHERE {' AND '.join(conds)}" if conds else ""
            parts.append(f"SELECT {collist} FROM {name} t{where}")
        if not parts:
            empty = f"__{tag}_empty"
            con.register(empty, self._pa_base.empty_table())
            return f"SELECT {collist} FROM {empty} t WHERE FALSE"
        return " UNION ALL ".join(parts)

    def _read_content_diff(self, partition: "_ContentDiffSlice") -> Iterator:
        """Executor half of the content-diff fallback: read the commit's
        before/after states under their delete views and emit the
        multiset difference — insert rows that appear only after, delete
        rows that appear only before — Spark's ``exceptAll`` semantics
        (DuckDB's EXCEPT ALL is the same multiset operator, with NaN-equal
        and nested-type value equality).  A CoW UPDATE thus emits
        delete+insert for touched rows and nothing for rows the rewrite
        merely copied.
        Fully vectorized (r11): file masking, the union of each side,
        and the diff itself all run in DuckDB over Arrow buffers; the
        result leaves as Arrow batches."""
        import duckdb

        con = duckdb.connect()
        # bound per-task parallelism: many slices run concurrently in
        # separate executor workers; an unbounded per-connection thread
        # pool would oversubscribe the host
        con.execute("SET threads=2")
        before_sql = self._side_sql(
            con, partition.prev_specs, partition.columns, partition.bases, "b"
        )
        after_sql = self._side_sql(
            con, partition.cur_specs, partition.columns, partition.bases, "a"
        )
        sid, ordinal = partition.snapshot_id, partition.ordinal
        inserts = con.execute(
            f"({after_sql}) EXCEPT ALL ({before_sql})"
        ).arrow()
        deletes = con.execute(
            f"({before_sql}) EXCEPT ALL ({after_sql})"
        ).arrow()

        def gen():
            yield from self._emit_batches(inserts, sid, ordinal, "insert")
            yield from self._emit_batches(deletes, sid, ordinal, "delete")

        return gen()

    def commit(self, end: dict) -> None:
        pass  # offsets live in Spark's checkpoint; nothing engine-side


class EngineTableStreamDataSource(DataSource):
    """``spark.readStream.format("iceberg_table")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "iceberg_table"

    def schema(self):
        location = self.options.get("location") or self.options.get("path")
        meta = _ops(location).load()
        st = _current_schema(meta).to_spark()
        if str(self.options.get("mode", "append")).lower() == "changelog":
            from pyspark.sql.types import (
                IntegerType,
                LongType,
                StringType,
                StructField,
                StructType,
            )

            st = StructType(
                list(st.fields)
                + [
                    StructField("_change_type", StringType()),
                    StructField("_commit_snapshot_id", LongType()),
                    StructField("_change_ordinal", IntegerType()),
                ]
            )
        return st

    def streamReader(self, schema) -> EngineTableStreamReader:
        return EngineTableStreamReader(dict(self.options))

    def streamWriter(self, schema, overwrite: bool):
        from iceberg_ruby_spark.streaming.sink import EngineTableStreamWriter

        return EngineTableStreamWriter(dict(self.options), schema, overwrite)


def register_stream_source(spark) -> None:
    """Register the ``iceberg_table`` streaming format on a session —
    both halves: ``readStream`` (source.py) and ``writeStream``
    (sink.py)."""
    spark.dataSource.register(EngineTableStreamDataSource)
