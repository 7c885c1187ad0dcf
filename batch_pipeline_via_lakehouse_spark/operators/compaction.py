"""Bin-packing small-file compaction (the engine's flagship maintenance pass).

The reference never compacts — its Iceberg tables accumulate one fileset per
append (`src/elt/bronze/_bronze_handler.py:50-57`) and nothing ever rewrites
them; this operator fills that gap (SURVEY.md §4.1 last row).

Plan: per identity-partition, take live files smaller than
``small_threshold`` (default 3/4 of target) and first-fit-decreasing them
into bins of ~``target_bytes``. Execute: per partition, read the binned
files, ``coalesce`` to the planned output count (narrow — compaction never
needs a shuffle), rewrite, and commit a replace-snapshot. Scan output is
byte-identical to pre-compaction (token-array equality invariant); readers
pinned to older snapshots keep seeing the old files until expiry GC.

Scale notes:
- partition-level parallelism via a thread pool of concurrent Spark jobs
  (the scheduler interleaves their tasks across executors);
- per-partition commit log -> kill/resume without duplicate work;
- planning is metadata-only (manifest stats), never a data scan.
"""

from __future__ import annotations

import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..session import in_callers_context
from ..sources.scan import partition_key
from ..table.catalog import Table
from ..table.format import DataFile
from .commitlog import CommitLog

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


@dataclass
class CompactionPlan:
    # partition-key (sorted JSON) -> list of bins; each bin is files to merge
    bins: dict[str, list[list[DataFile]]] = field(default_factory=dict)

    @property
    def n_files(self) -> int:
        return sum(len(b) for bins in self.bins.values() for b in bins)

    @property
    def n_bins(self) -> int:
        return sum(len(bins) for bins in self.bins.values())


def small_live_files(
    table: Table,
    threshold: int,
    snapshot_id: int | None = None,
    spark: SparkSession | None = None,
    distributed: bool | None = None,
) -> list[DataFile]:
    """Live files under ``threshold`` bytes. Below DISTRIBUTED_PLAN_THRESHOLD
    total files this is the driver manifest fold; above it (with a session)
    the listing runs as a Spark job over the manifest Parquet with the byte
    filter applied executor-side, so the driver materializes DataFile objects
    (JSON stats parse included) only for the small files — on a steady-state
    mostly-compacted table that is a tiny fraction of the snapshot."""
    import json as _json

    from ..sources.scan import DISTRIBUTED_PLAN_THRESHOLD, manifest_df, snapshot_file_count

    if distributed is None:
        distributed = (
            spark is not None
            and snapshot_file_count(table, snapshot_id) > DISTRIBUTED_PLAN_THRESHOLD
        )
    if not distributed:
        return [f for f in table.live_files(snapshot_id) if f.bytes < threshold]
    if spark is None:
        raise ValueError("distributed small-file listing requires a SparkSession")
    rows = (
        manifest_df(spark, table, snapshot_id)
        .filter(F.col("bytes") < threshold)
        .collect()
    )
    return [
        DataFile(
            path=r.path,
            partition=_json.loads(r.partition) if r.partition else {},
            rows=r.rows,
            bytes=r.bytes,
            stats=_json.loads(r.stats) if r.stats else {},
        )
        for r in rows
    ]


def plan_compaction(
    table: Table,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    small_threshold: float = 0.75,
    min_files_per_bin: int = 2,
    snapshot_id: int | None = None,
    spark: SparkSession | None = None,
) -> CompactionPlan:
    """First-fit-decreasing bin packing of undersized files, per partition.
    With a session, the small-file listing auto-distributes above the plan
    threshold (identical plans both ways — pytest-asserted)."""
    threshold = int(target_bytes * small_threshold)
    by_part: dict[str, list[DataFile]] = {}
    for f in small_live_files(table, threshold, snapshot_id, spark=spark):
        by_part.setdefault(partition_key(f), []).append(f)

    plan = CompactionPlan()
    for pk, files in sorted(by_part.items()):
        # FFD with a path tiebreak: bins must be identical no matter how the
        # file list was produced (driver fold vs distributed listing differ
        # in row order), or resume keys would not line up across paths
        files.sort(key=lambda f: (-f.bytes, f.path))
        bins: list[list[DataFile]] = []
        sizes: list[int] = []
        for f in files:
            for i, s in enumerate(sizes):
                if s + f.bytes <= target_bytes:
                    bins[i].append(f)
                    sizes[i] += f.bytes
                    break
            else:
                bins.append([f])
                sizes.append(f.bytes)
        bins = [b for b in bins if len(b) >= min_files_per_bin]
        if bins:
            plan.bins[pk] = bins
    return plan


def compact(
    spark: SparkSession,
    table: Table,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    small_threshold: float = 0.75,
    min_files_per_bin: int = 2,
    job_id: str | None = None,
    max_concurrency: int | None = None,
    fail_after_partitions: int | None = None,  # test hook: simulate a kill
) -> dict:
    """Run compaction; returns a report. Re-run with the same ``job_id`` to
    resume after a kill (completed partitions are skipped)."""
    job_id = job_id or f"compact-{uuid.uuid4().hex[:12]}"
    log = CommitLog(table.root, job_id)
    # pin planning to the job's base snapshot: a resumed run reproduces the
    # identical deterministic plan, so completed group keys line up.
    meta = log.init_job({"base_snapshot": table.current_snapshot_id(), "target_bytes": target_bytes})
    plan = plan_compaction(
        table, target_bytes, small_threshold, min_files_per_bin,
        snapshot_id=meta["base_snapshot"], spark=spark,
    )
    done = log.completed_partitions()
    # work unit = one file group (bin): finest resume granularity, and bins
    # of the same partition rewrite concurrently (Iceberg rewrite file-groups)
    todo = [
        (f"{pk}#bin{i}", group)
        for pk, bins in plan.bins.items()
        for i, group in enumerate(bins)
        if f"{pk}#bin{i}" not in done
    ]
    # largest groups first — the fattest rewrite defines the critical path
    todo.sort(key=lambda kv: sum(f.bytes for f in kv[1]), reverse=True)
    skipped = plan.n_bins - len(todo)
    if fail_after_partitions is not None:
        todo = todo[:fail_after_partitions]

    has_tokens = "n_tok" in table.schema.fieldNames()
    commit_mutex = threading.Lock()
    if max_concurrency is None:
        # a rewrite group is one single-task write (coalesce) — saturating the
        # cluster means one in-flight group per core, like Iceberg's
        # max-concurrent-file-group-rewrites
        max_concurrency = max(4, spark.sparkContext.defaultParallelism)

    # --- bundle groups into few wide jobs ----------------------------------
    # One Spark job per file group pays fixed job latency + driver py4j work
    # per group; with dozens of groups that fixed-cost pool caps scaling.
    # Instead: pack groups into <= n_bundles byte-balanced bundles; a bundle
    # is ONE job — a union of per-group coalesce(1) branches, so each task
    # rewrites exactly one group into exactly one output file (task index i
    # <-> group i, recovered from the part-NNNNN file name for lineage).
    # Split into multiple bundles (finer resume + commit granularity) only
    # when each still holds >= 8 task waves; below that the extra commits +
    # collects cost more than the granularity is worth.
    par = max(1, spark.sparkContext.defaultParallelism)
    n_bundles = max(1, min(max(1, max_concurrency // 4), len(todo) // (8 * par)))
    bundles: list[list[tuple[str, list[DataFile]]]] = [[] for _ in range(n_bundles)]
    bundle_bytes = [0] * n_bundles
    for gk, files in todo:
        i = bundle_bytes.index(min(bundle_bytes))
        bundles[i].append((gk, files))
        bundle_bytes[i] += sum(f.bytes for f in files)
    bundles = [b for b in bundles if b]

    results = []

    import json as _json
    import os
    import uuid as _uuid
    from urllib.parse import quote

    tracked = [
        f.name for f in table.schema.fields
        if f.dataType.typeName() not in ("array", "map", "struct")
    ]
    sum_cols = [
        f.name for f in table.schema.fields
        if f.dataType.typeName() in ("integer", "long", "float", "double")
    ]

    def run_bundle(bundle: list[tuple[str, list[DataFile]]]) -> None:
        t0 = time.monotonic()
        # one wide job; task i rewrites bin i entirely in native pyarrow
        # (read small files -> one zstd parquet at its final path) and emits
        # its manifest entry as data. No shuffle — rows never change bins —
        # and no JVM data path: byte-exact columnar copy at libzstd speed.
        table_root = table.root
        commit_rel = os.path.join("data", _uuid.uuid4().hex)
        os.makedirs(os.path.join(table_root, commit_rel), exist_ok=True)
        bin_descs = []
        for gk, files in bundle:
            partition = files[0].partition  # bins are partition-pure
            dirs = "/".join(f"_p_{c}={quote(str(v), safe='')}" for c, v in sorted(partition.items()))
            bin_descs.append(
                {
                    "paths": [os.path.join(table_root, f.path) for f in files],
                    "partition": partition,
                    "rel_dir": os.path.join(commit_rel, dirs) if dirs else commit_rel,
                }
            )

        def rewrite(batches):
            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            # one OS thread per task: pyarrow's default pool is sized by
            # hardware_concurrency PER WORKER, so 32 workers x 32 threads
            # oversubscribes the host 32x and stops scaling
            pa.set_cpu_count(1)
            for batch in batches:
                for v in batch.column(0).to_pylist():
                    d = bin_descs[v]
                    tbl = pq.read_table(d["paths"], use_threads=False)
                    os.makedirs(os.path.join(table_root, d["rel_dir"]), exist_ok=True)
                    rel = os.path.join(d["rel_dir"], f"part-{v:05d}.zstd.parquet")
                    abs_p = os.path.join(table_root, rel)
                    pq.write_table(tbl, abs_p, compression="zstd")
                    stats = {}
                    for c in tracked:
                        if c not in tbl.column_names:
                            continue
                        col = tbl.column(c)
                        try:
                            mm = pc.min_max(col).as_py()
                        except pa.ArrowNotImplementedError:
                            continue
                        stats[c] = {"min": mm["min"], "max": mm["max"], "nulls": col.null_count}
                        if c in sum_cols:
                            stats[c]["sum"] = pc.sum(col).as_py()
                    yield pa.RecordBatch.from_pydict(
                        {
                            "idx": pa.array([v], pa.int64()),
                            "path": [rel],
                            "rows": pa.array([tbl.num_rows], pa.int64()),
                            "bytes": pa.array([os.path.getsize(abs_p)], pa.int64()),
                            "stats": [_json.dumps(stats, default=str)],
                        }
                    )

        desc = spark.range(0, len(bin_descs), numPartitions=len(bin_descs))
        meta = desc.mapInArrow(
            rewrite, schema="idx long, path string, rows long, bytes long, stats string"
        ).collect()
        by_idx = {
            r["idx"]: DataFile(
                path=r["path"],
                partition=bin_descs[r["idx"]]["partition"],
                rows=r["rows"],
                bytes=r["bytes"],
                stats=_json.loads(r["stats"]),
            )
            for r in meta
        }
        out_files = [by_idx[i] for i in sorted(by_idx)]
        seconds = time.monotonic() - t0
        with commit_mutex:  # snapshot chain is single-writer
            sid = table.commit(
                out_files,
                {f.path for _, files in bundle for f in files},
                "compact",
                {"job_id": job_id, "groups": [gk for gk, _ in bundle]},
                spark=spark,
            )
            for i, (gk, in_files) in enumerate(bundle):
                out_f = [by_idx[i]] if i in by_idx else []
                log.record(
                    partition=gk,
                    input_files=[f.path for f in in_files],
                    output_files=[f.path for f in out_f],
                    snapshot_id=sid,
                    rows=sum(f.rows for f in out_f),
                    bytes_=sum(f.bytes for f in out_f),
                    tokens=sum(int(f.stat("n_tok", "sum") or 0) for f in out_f) if has_tokens else 0,
                    seconds=round(seconds / len(bundle), 3),
                )
                results.append(
                    {"group": gk, "in": len(in_files), "out": len(out_f), "snapshot": sid}
                )

    if todo:
        with ThreadPoolExecutor(max_workers=len(bundles)) as pool:
            list(pool.map(in_callers_context(spark, run_bundle), bundles))

    entries = log.entries()
    return {
        "job_id": job_id,
        "planned_partitions": len(plan.bins),
        "planned_groups": plan.n_bins,
        "resumed_skipped": skipped,
        "executed": results,
        "files_in": sum(len(e["input_files"]) for e in entries),
        "files_out": sum(len(e["output_files"]) for e in entries),
        "rows": sum(e["rows"] for e in entries),
        "tokens": sum(e["tokens"] for e in entries),
        "seconds": sum(e["seconds"] for e in entries),
    }
