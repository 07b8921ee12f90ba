"""An independent changelog oracle: a window's expected events built from
time travel alone.

For each commit in the window, the full table state at the commit is
compared with the full state at its parent as row multisets: rows only
in the child are inserts, rows only in the parent are deletes.  Nothing
here reads manifests, delete files or the changelog planner, so a test
comparing ``Table.changelog_scan`` against it checks the planner against
what a reader of each snapshot actually sees."""

from __future__ import annotations

from collections import Counter
from typing import Optional


def changelog_oracle(
    table, from_snapshot_id: Optional[int] = None, to_snapshot_id: Optional[int] = None
) -> list[tuple]:
    """Expected changelog rows of the window after ``from_snapshot_id`` up
    to ``to_snapshot_id`` (default: the current snapshot), each a tuple of
    the current schema's columns followed by ``_change_type``,
    ``_commit_snapshot_id`` and ``_change_ordinal`` — the column order of
    ``changelog_scan``.  Unordered; compare sorted."""
    by_id = {s.snapshot_id: s for s in table.snapshots}
    head = to_snapshot_id if to_snapshot_id is not None else table.current_snapshot_id
    window = []
    snap = by_id.get(head)
    while snap is not None and snap.snapshot_id != from_snapshot_id:
        window.append(snap)
        snap = by_id.get(snap.parent_snapshot_id)
    assert from_snapshot_id is None or snap is not None, "from is not an ancestor"
    cols = [f.name for f in table.current_schema().fields]

    def state(snapshot_id: Optional[int]) -> Counter:
        if snapshot_id is None:
            return Counter()
        df = table.scan(snapshot_id=snapshot_id).to_df()
        return Counter(tuple(r) for r in df.select(*cols).collect())

    events = []
    for ordinal, snap in enumerate(reversed(window)):
        before, after = state(snap.parent_snapshot_id), state(snap.snapshot_id)
        for kind, rows in (("insert", after - before), ("delete", before - after)):
            events += [
                (*row, kind, snap.snapshot_id, ordinal) for row in rows.elements()
            ]
    return events
