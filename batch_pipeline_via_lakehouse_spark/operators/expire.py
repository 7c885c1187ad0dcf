"""Snapshot expiry + reachability-based orphan-file GC.

The reference accumulates snapshots forever (no expire_snapshots /
orphan-GC call anywhere — SURVEY.md §4.1 last row); at 10^12-sequence scale
that is unbounded metadata and storage growth, so the engine implements both:

- *expire*: drop snapshot records outside the retention policy (keep the
  current one, the last ``retain_last``, and anything newer than
  ``older_than_ms``). Readers pinned to retained snapshots are unaffected.
- *GC*: a data/manifest file is live iff reachable from a retained snapshot
  (set-union over their manifests). Everything else under the table dir is
  deleted — including leftovers of crashed writes that never committed —
  guarded by a modification-time grace window so in-flight commits survive.

Reachability is computed on manifest metadata only; no data is read.
"""

from __future__ import annotations

import glob
import os

from ..table.catalog import Table, clear_manifest_cache
from ..table.format import now_ms


def expire_snapshots(
    table: Table,
    retain_last: int = 1,
    older_than_ms: int | None = None,
    gc: bool = True,
    gc_grace_ms: int = 24 * 3600 * 1000,
    spark=None,
) -> dict:
    """Expire snapshots outside the retention policy; optionally GC files that
    only they referenced. Returns a report of what was removed.

    ``gc_grace_ms`` defaults to the same 24h window as ``gc_orphans`` so a
    concurrent in-flight writer's uncommitted files survive; pass 0 only when
    no writer is running. Stream batch ids recorded in expired snapshot
    summaries are folded into the persistent stream-state watermark first, so
    the streaming sink's exactly-once dedup survives expiry. ``spark`` is
    ignored; it is accepted so existing callers keep working."""
    snaps = table.snapshots()
    current = table.current_snapshot_id()
    if not snaps:
        return {"expired": [], "deleted_files": 0, "deleted_manifests": 0, "swept_staging": 0}

    by_recency = sorted(snaps, key=lambda s: s.snapshot_id, reverse=True)
    keep = {s.snapshot_id for s in by_recency[: max(1, retain_last)]}
    keep.add(current)
    if older_than_ms is not None:
        keep |= {s.snapshot_id for s in snaps if s.timestamp_ms >= older_than_ms}

    expired = [s for s in snaps if s.snapshot_id not in keep]

    # preserve exactly-once stream dedup across expiry: fold each expired
    # snapshot's stream batch id into the persistent per-query max watermark
    from ..streaming.sink import load_stream_state, save_stream_state

    state = load_stream_state(table)
    dirty = False
    for s in expired:
        q = s.summary.get("stream-query")
        if q is not None and "stream-batch-id" in s.summary:
            bid = int(s.summary["stream-batch-id"])
            if bid > state.get(q, -1):
                state[q] = bid
                dirty = True
    if dirty:
        save_stream_state(table, state)

    for s in expired:
        os.remove(os.path.join(table.metadata_dir, f"snap-{s.snapshot_id}.json"))

    report = {
        "expired": [s.snapshot_id for s in expired],
        "deleted_files": 0,
        "deleted_manifests": 0,
        "swept_staging": 0,
    }
    if gc:
        g = gc_orphans(table, grace_ms=gc_grace_ms)
        report.update(
            deleted_files=g["deleted_files"],
            deleted_manifests=g["deleted_manifests"],
            swept_staging=g["swept_staging"],
        )
    return report


def gc_orphans(table: Table, grace_ms: int = 24 * 3600 * 1000) -> dict:
    """Delete data files and manifests unreachable from any retained snapshot.

    ``grace_ms`` protects recently-written files (in-flight commits that have
    not yet flipped VERSION). Set 0 only when no writer is running."""
    cutoff = now_ms() - grace_ms
    live_data: set[str] = set()
    live_manifests: set[str] = set()
    for s in table.snapshots():
        live_manifests.update(s.manifests)
        for f in table.live_files(s.snapshot_id):
            live_data.add(f.path)

    deleted_files = 0
    touched_dirs: set[str] = set()
    # os.walk, not glob: glob skips dotfiles, which would leave orphaned
    # Hadoop .crc sidecars behind forever. A sidecar lives iff its data
    # file lives (_gc_guard_path), so live files keep their checksums.
    for sub, _, names in os.walk(table.data_dir):
        for n in names:
            p = os.path.join(sub, n)
            rel = os.path.relpath(p, table.root)
            if _gc_guard_path(rel) in live_data:
                continue
            if os.path.getmtime(p) * 1000 > cutoff:
                continue
            os.remove(p)
            touched_dirs.add(sub)
            deleted_files += 1

    deleted_manifests = 0
    for p in glob.glob(os.path.join(table.metadata_dir, "manifest-*.parquet")):
        if os.path.basename(p) in live_manifests:
            continue
        if os.path.getmtime(p) * 1000 > cutoff:
            continue
        os.remove(p)
        deleted_manifests += 1

    # sweep commit dirs emptied by THIS GC's deletions only: bottom-up from
    # each dir a delete touched, then its ancestors up to data_dir, so a
    # pre-existing empty dir elsewhere is left alone.
    for d in sorted(touched_dirs, key=len, reverse=True):
        p = os.path.normpath(d)
        data_root = os.path.normpath(table.data_dir)
        while p.startswith(data_root) and p != data_root:
            try:
                if os.path.isdir(p) and not os.listdir(p):
                    os.rmdir(p)
                else:
                    break
            except OSError:
                break  # concurrent writer re-populated it — leave it
            p = os.path.dirname(p)

    # stale clustering staging runs (crashed jobs clean up on resume/success;
    # this catches jobs that never came back) — same grace window. Staleness
    # is judged by the NEWEST mtime anywhere under the job dir: the top-level
    # dir's mtime is set at job start and never refreshed by nested run
    # writes, so using it alone would sweep a long-running job's live staging
    # mid-run (feeding a silent-data-loss path in the native cluster commit).
    import shutil

    swept_staging = 0
    for d in glob.glob(os.path.join(table.root, "_staging", "*")):
        if not os.path.isdir(d):
            continue
        newest = os.path.getmtime(d)
        for sub, dirs, names in os.walk(d):
            for n in [*dirs, *names]:
                try:
                    newest = max(newest, os.path.getmtime(os.path.join(sub, n)))
                except OSError:
                    continue  # a racing writer moved it; treat as active
        if newest * 1000 <= cutoff:
            shutil.rmtree(d, ignore_errors=True)
            swept_staging += 1

    clear_manifest_cache()
    return {
        "deleted_files": deleted_files,
        "deleted_manifests": deleted_manifests,
        "swept_staging": swept_staging,
    }


def _gc_guard_path(rel: str) -> str:
    """Liveness key for a storage path: a Hadoop checksum sidecar
    (``.<name>.crc``) lives exactly as long as its data file does."""
    d, name = os.path.split(rel)
    if name.startswith(".") and name.endswith(".crc"):
        return os.path.join(d, name[1:-4])
    return rel

