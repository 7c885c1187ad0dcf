"""On-disk metadata format for engine-owned tables (Iceberg-style, from scratch).

The reference delegates snapshots/manifests to the Iceberg runtime
(`docker/spark/conf/spark-defaults.conf:8-12` in the reference repo); here the
engine owns them so compaction / clustering / expiry / GC / MERGE are real
implementations, not calls into a library.

Layout under a table root::

    <root>/
      data/<commit-uuid>/[_p_<col>=<v>/...]part-*.parquet   immutable data files
      metadata/
        table.json              table identity: schema, partition spec, uuid
        snap-<id>.json          one per snapshot (append-only)
        manifest-<uuid>.parquet one row per data file w/ stats
        VERSION                 current snapshot id (atomic pointer)
      _commits/                 per-job, per-partition commit log (lineage+metrics)

A snapshot points at a list of manifest files; a manifest lists data files
with per-file row/byte counts and per-column min/max stats. Readers resolve
the pointer once and then touch only immutable files -> snapshot isolation.
Commits are write-temp + ``os.replace`` of VERSION (single-writer in the
sandbox; the rename is the CAS point a real object-store catalog would use).

Scale note: manifests are Parquet (1 row per data file), and every planner
(scan prune, MERGE candidates, compaction/cluster listing, commit, GC) is a
driver-side fold over them. Measured at local[4] on TOKEN_SCHEMA manifests
in 20 files: a cold full listing costs ~6.5 s at 200k files and ~21-24 s at
1M; with the manifests cached a scan prune costs 0.5 s / 2.1 s and a commit's
manifest filter 0.03 s / 0.15 s. About half of a cold ``read_manifest`` is
JSON-parsing the ``stats`` strings, so the lever at 10^6 files is a typed
stats encoding, not a second planner. Parsed manifests are cached once per
process (``catalog.manifest_entries``), keyed on the manifest's path and its
``(st_mtime_ns, st_size, st_ino)`` stamp, so every ``Table`` of the process,
a fresh ``Table.load`` included, shares them and one rewritten in place is
read again; GC clears the cache.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import asdict, dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

MANIFEST_SCHEMA = pa.schema(
    [
        pa.field("path", pa.string()),          # relative to table root
        pa.field("partition", pa.string()),     # JSON {col: value} ('' if unpartitioned)
        pa.field("rows", pa.int64()),
        pa.field("bytes", pa.int64()),
        pa.field("stats", pa.string()),         # JSON {col: {"min": v, "max": v, "nulls": n}}
    ]
)


@dataclass(frozen=True)
class DataFile:
    path: str                      # relative to table root
    partition: dict[str, str]      # identity-partition values
    rows: int
    bytes: int
    stats: dict[str, dict]         # col -> {"min":…, "max":…, "nulls":…}

    def stat(self, col: str, kind: str):
        s = self.stats.get(col)
        return None if s is None else s.get(kind)


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    operation: str                 # append | overwrite | compact | cluster | merge | expire | rewrite-manifests
    manifests: list[str]           # metadata-relative manifest file names
    summary: dict = field(default_factory=dict)
    timestamp_ms: int = 0

    def to_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "Snapshot":
        d = json.loads(s)
        return Snapshot(**d)


def write_manifest(metadata_dir: str, files: list[DataFile]) -> str:
    """Write one manifest parquet listing ``files``; return its file name."""
    name = f"manifest-{uuid.uuid4().hex}.parquet"
    table = pa.Table.from_pydict(
        {
            "path": [f.path for f in files],
            "partition": [json.dumps(f.partition, sort_keys=True) for f in files],
            "rows": [f.rows for f in files],
            "bytes": [f.bytes for f in files],
            "stats": [json.dumps(f.stats, sort_keys=True, default=str) for f in files],
        },
        schema=MANIFEST_SCHEMA,
    )
    pq.write_table(table, os.path.join(metadata_dir, name))
    return name


def read_manifest(metadata_dir: str, name: str) -> list[DataFile]:
    t = pq.read_table(os.path.join(metadata_dir, name))
    out: list[DataFile] = []
    for path, part, rows, nbytes, stats in zip(
        t.column("path").to_pylist(),
        t.column("partition").to_pylist(),
        t.column("rows").to_pylist(),
        t.column("bytes").to_pylist(),
        t.column("stats").to_pylist(),
    ):
        out.append(
            DataFile(
                path=path,
                partition=json.loads(part) if part else {},
                rows=rows,
                bytes=nbytes,
                stats=json.loads(stats) if stats else {},
            )
        )
    return out


def atomic_write(path: str, content: str) -> None:
    """Write-temp + atomic rename (the commit CAS point)."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(content)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def now_ms() -> int:
    return int(time.time() * 1000)
