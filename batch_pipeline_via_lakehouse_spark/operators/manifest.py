"""Manifest rewrite: compact many small manifests into few, partition-sorted.

Every maintenance commit adds a manifest (one per compaction group / cluster
partition), so manifest count grows linearly with maintenance activity.
Scan planning reads every manifest of a snapshot; at 10^12-sequence scale
thousands of tiny manifests make planning latency metadata-bound. This
operator merges the current snapshot's manifests into ~``target_entries``-row
files, entries sorted by (partition, path) so partition-pruned plans touch a
contiguous subset. Data files are untouched; the commit is metadata-only.
"""

from __future__ import annotations

import json

from ..table.catalog import Table
from ..table.format import write_manifest


def rewrite_manifests(table: Table, target_entries: int = 100_000) -> dict:
    """Merge the current snapshot's manifests; commit a metadata-only snapshot."""
    parent = table.current_snapshot_id()
    if parent is None:
        return {"manifests_before": 0, "manifests_after": 0}
    parent_snap = table.snapshot(parent)
    files = table.live_files(parent)
    files.sort(key=lambda f: (json.dumps(f.partition, sort_keys=True), f.path))

    chunks = [files[i : i + target_entries] for i in range(0, len(files), target_entries)] or [[]]
    new_manifests = [write_manifest(table.metadata_dir, c) for c in chunks if c]

    sid = table.publish_snapshot(
        parent,
        "rewrite-manifests",
        new_manifests,
        {
            "manifests-before": len(parent_snap.manifests),
            "manifests-after": len(new_manifests),
            "data-files": len(files),
        },
    )
    return {
        "snapshot": sid,
        "manifests_before": len(parent_snap.manifests),
        "manifests_after": len(new_manifests),
    }
