"""Shared bench harness: the fragmented input table and the timed
compaction+Z-order maintenance job (the north-rule metric)."""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import SparkSession

from .datagen import TOKEN_SCHEMA, token_table_df
from .operators.clustering import cluster
from .operators.compaction import compact
from .table import Table


def _warmup_pass(spark, root: str, n_rows: int, fragment_files: int, target_bytes: int) -> None:
    """Untimed mini maintenance pass: spawns every Python worker, JIT-compiles
    the JVM hot paths, and grows worker allocator arenas to working-set size —
    one-time costs that otherwise land in (and distort) the first timed phase,
    disproportionately at high core counts. The scratch table gets a unique
    dir (and is removed in finally-order by the rmtree below): a fixed name
    would collide with leftovers of a killed prior run (Table.create refuses
    to reuse a directory) and with sibling benches sharing one parent."""
    import uuid

    wdir = os.path.join(root, f"warmup-{uuid.uuid4().hex[:8]}")
    try:
        wt = Table.create(wdir, TOKEN_SCHEMA, partition_by=["source"])
        wt.append_native(
            token_table_df(spark, max(4000, n_rows // 20), seed=1),
            num_files=max(8, fragment_files // 4),
        )
        compact(spark, wt, target_bytes=target_bytes)
        cluster(spark, wt, mode="zorder", target_bytes=target_bytes)
    finally:
        shutil.rmtree(wdir, ignore_errors=True)


def build_fragmented_table(
    spark: SparkSession, root: str, n_rows: int, seed: int = 42, fragment_files: int = 64
) -> Table:
    """Deterministic fragmented token table — the maintenance job's input."""
    t = Table.create(root, TOKEN_SCHEMA, partition_by=["source"])
    t.append_native(token_table_df(spark, n_rows, seed=seed), num_files=fragment_files)
    return t


def run_maintenance_on_existing(
    spark: SparkSession,
    table_root: str,
    target_bytes: int = 32 * 1024 * 1024,
    warmup: bool = True,
) -> dict:
    """Timed compaction + Z-order clustering of an EXISTING table — the shape
    of a real maintenance job (spark-submit against a table someone else
    wrote), with ingest entirely outside the measured process. Row/token
    totals come from manifest stats (metadata only, no data scan)."""
    t = Table.load(table_root)
    live = t.live_files()
    n_rows = sum(f.rows for f in live)
    total_tokens = sum(int(f.stat("n_tok", "sum") or 0) for f in live)
    files_before = len(live)
    if warmup:
        _warmup_pass(
            spark, os.path.dirname(table_root.rstrip("/")), n_rows, files_before, target_bytes
        )

    t0 = time.monotonic()
    compact(spark, t, target_bytes=target_bytes)
    t_compact = time.monotonic() - t0
    t0 = time.monotonic()
    cluster(spark, t, mode="zorder", target_bytes=target_bytes)
    t_cluster = time.monotonic() - t0

    maint = t_compact + t_cluster
    return {
        "rows": n_rows,
        "tokens": total_tokens,
        "files_before": files_before,
        "files_after": len(t.live_files()),
        "compact_s": round(t_compact, 2),
        "cluster_s": round(t_cluster, 2),
        "maintenance_s": round(maint, 2),
        "sequences_per_s": round(2 * n_rows / maint, 1),
        "tokens_per_s": round(2 * total_tokens / maint, 1),
    }
