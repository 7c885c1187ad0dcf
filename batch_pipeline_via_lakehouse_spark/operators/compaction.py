"""Bin-packing small-file compaction (the engine's flagship maintenance pass).

The reference never compacts — its Iceberg tables accumulate one fileset per
append (`src/elt/bronze/_bronze_handler.py:50-57`) and nothing ever rewrites
them; this operator fills that gap (SURVEY.md §4.1 last row).

Plan: per identity-partition, take live files smaller than
``small_threshold`` (default 3/4 of target) and first-fit-decreasing them
into bins of ~``target_bytes``. Execute: pack bins into byte-balanced
bundles; a bundle is one Spark job whose task i reads bin i's files with
pyarrow and writes them as one file (no shuffle — rows never change bins),
then one gated replace-snapshot commit. Scan output is byte-identical to
pre-compaction (token-array equality invariant); readers pinned to older
snapshots keep seeing the old files until expiry GC.

Scale notes:
- bin-level parallelism: one task per bin, bundles run as concurrent jobs;
- per-bin commit log -> kill/resume without duplicate work;
- planning is metadata-only (manifest stats), never a data scan.
"""

from __future__ import annotations

import os
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from ..session import in_callers_context
from ..sources.scan import partition_key
from ..table.arrow_io import META_SCHEMA, data_file, write_data_file
from ..table.catalog import Table
from ..table.format import DataFile
from .commitlog import CommitLog, balanced_bundles, commit_bundle

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


def plan_compaction(
    table: Table,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    small_threshold: float = 0.75,
    min_files_per_bin: int = 2,
    snapshot_id: int | None = None,
) -> CompactionPlan:
    """First-fit-decreasing bin packing of undersized files, per partition."""
    threshold = int(target_bytes * small_threshold)
    by_part: dict[str, list[DataFile]] = {}
    small = [f for f in table.live_files(snapshot_id) if f.bytes < threshold]
    for f in small:
        by_part.setdefault(partition_key(f), []).append(f)

    plan = CompactionPlan()
    for pk, files in sorted(by_part.items()):
        # FFD with a path tiebreak: bins must not depend on manifest order
        # (a manifest rewrite reorders the listing), or a resumed job's group
        # keys would not line up with the completed ones
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
        snapshot_id=meta["base_snapshot"],
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

    # --- bundle groups into few wide jobs ----------------------------------
    # One Spark job per file group pays fixed job latency + driver py4j work
    # per group; with dozens of groups that fixed-cost pool caps scaling.
    # Instead: pack groups into <= n_bundles byte-balanced bundles; a bundle
    # is ONE job in which task i rewrites group i into exactly one output
    # file. Split into multiple bundles (finer resume + commit granularity,
    # up to one per 4 cores) only when each still holds >= 8 task waves;
    # below that the extra commits + collects cost more than the granularity
    # is worth.
    par = max(1, spark.sparkContext.defaultParallelism)
    bundles = balanced_bundles(todo, max(1, min(max(1, par // 4), len(todo) // (8 * par))))
    commit_mutex = threading.Lock()
    results = []
    table_root, schema = table.root, table.arrow_schema
    tracked, sums = table.tracked_cols, table.sum_cols

    def run_bundle(bundle: list[tuple[str, list[DataFile]]]) -> None:
        t0 = time.monotonic()
        # one wide job; task i rewrites bin i entirely in native pyarrow
        # (read small files -> one zstd parquet at its final path) and emits
        # its manifest entry as data. No shuffle — rows never change bins —
        # and no JVM data path: byte-exact columnar copy at libzstd speed.
        commit_rel = os.path.join("data", uuid.uuid4().hex)
        bin_descs = [
            # bins are partition-pure
            ([os.path.join(table_root, f.path) for f in files], files[0].partition)
            for _, files in bundle
        ]

        def rewrite(batches):
            import pyarrow as pa
            import pyarrow.parquet as pq

            # one OS thread per task: pyarrow's default pool is sized by
            # hardware_concurrency PER WORKER, so 32 workers x 32 threads
            # oversubscribes the host 32x and stops scaling
            pa.set_cpu_count(1)
            for batch in batches:
                for v in batch.column(0).to_pylist():
                    paths, partition = bin_descs[v]
                    # partitioning=None: a multi-file read would otherwise add
                    # a `_p_<col>` column parsed from the directory names
                    tbl = pq.read_table(paths, use_threads=False, partitioning=None)
                    entry = write_data_file(
                        tbl, table_root, commit_rel, partition,
                        f"part-{v:05d}.zstd.parquet", schema, tracked, sums,
                    )
                    yield pa.RecordBatch.from_pylist([{"idx": v, **entry}])

        desc = spark.range(0, len(bin_descs), numPartitions=len(bin_descs))
        rows = desc.mapInArrow(rewrite, schema=f"idx long, {META_SCHEMA}").collect()
        by_idx = {r["idx"]: data_file(r) for r in rows}
        outputs = [[by_idx[i]] if i in by_idx else [] for i in range(len(bundle))]
        results.extend(commit_bundle(
            table, log, commit_mutex, "compact",
            {"job_id": job_id, "groups": [gk for gk, _ in bundle]},
            bundle, outputs, time.monotonic() - t0,
        ))

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
