"""Manifest-pruned scan planning: skip files before Spark ever sees them.

The reference's incremental reads push a timestamp predicate into an Iceberg
scan (`src/elt/silver/_silver_handler.py:31-41`) and fetch MAX(cursor) with a
full-table agg + collect (`:38`, `src/elt/gold/_gold_handler.py:50-52`). The
engine answers both from manifests: file-level min/max stats prune the file
list driver-side (metadata only), and the cursor max is a manifest fold — no
data scan at all. Catalyst still gets the residual predicate for row-group
pruning inside the surviving files (PushedFilters), so pruning composes:
manifest -> parquet row-group -> page.
"""

from __future__ import annotations

import functools
import json
import operator
import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..table.catalog import Table
from ..table.format import DataFile


@dataclass(frozen=True)
class Pred:
    """A file-skippable predicate on a scalar column."""

    col: str
    op: str  # one of: = < <= > >= between in
    value: object
    value2: object = None  # upper bound for 'between'

    def to_column(self) -> Column:
        c = F.col(self.col)
        if self.op == "=":
            return c == F.lit(self.value)
        if self.op == "<":
            return c < F.lit(self.value)
        if self.op == "<=":
            return c <= F.lit(self.value)
        if self.op == ">":
            return c > F.lit(self.value)
        if self.op == ">=":
            return c >= F.lit(self.value)
        if self.op == "between":
            return c.between(F.lit(self.value), F.lit(self.value2))
        if self.op == "in":
            return c.isin(list(self.value))
        raise ValueError(f"unsupported op {self.op!r}")

    def may_match(self, f: DataFile) -> bool:
        """Can any row in file ``f`` satisfy this predicate? (stats-based;
        returns True when stats are missing — pruning must be sound.)"""
        # identity-partition value beats min/max: it is exact.
        if self.col in f.partition:
            v = f.partition[self.col]
            lo = hi = v
        else:
            lo, hi = f.stat(self.col, "min"), f.stat(self.col, "max")
            if lo is None or hi is None:
                return True
        try:
            if self.op == "=":
                return lo <= self.value <= hi
            if self.op == "<":
                return lo < self.value
            if self.op == "<=":
                return lo <= self.value
            if self.op == ">":
                return hi > self.value
            if self.op == ">=":
                return hi >= self.value
            if self.op == "between":
                return not (hi < self.value or lo > self.value2)
            if self.op == "in":
                return any(lo <= v <= hi for v in self.value)
        except TypeError:
            return True  # incomparable stats (e.g. cross-type) — keep the file
        return True


def prune_files(files: list[DataFile], preds: list[Pred]) -> list[DataFile]:
    return [f for f in files if all(p.may_match(f) for p in preds)]


# At 10^6+ data files the driver-side manifest fold becomes the planner
# bottleneck, so planning itself goes distributed: manifests are plain
# Parquet (one row per data file), Spark reads them, and each task applies
# the SAME Pred.may_match stats logic over its manifest rows (Arrow-batched;
# these are metadata rows — O(#files), never O(data rows)). The driver gets
# back only the surviving paths / the per-task maxima. Below the threshold
# the driver fold wins (no job-launch latency).
DISTRIBUTED_PLAN_THRESHOLD = 200_000

_MANIFEST_DDL = "path string, partition string, rows long, bytes long, stats string"


def snapshot_file_count(table: Table, snapshot_id: int | None = None) -> int:
    """Total data-file count from manifest Parquet footers — O(#manifests)
    metadata reads, no manifest rows materialized."""
    import pyarrow.parquet as pq

    sid = snapshot_id if snapshot_id is not None else table.current_snapshot_id()
    if sid is None:
        return 0
    return sum(
        pq.read_metadata(os.path.join(table.metadata_dir, m)).num_rows
        for m in table.snapshot(sid).manifests
    )


def manifest_df(spark: SparkSession, table: Table, snapshot_id: int | None = None) -> DataFrame:
    sid = snapshot_id if snapshot_id is not None else table.current_snapshot_id()
    if sid is None:
        return spark.createDataFrame([], _MANIFEST_DDL)
    paths = [os.path.join(table.metadata_dir, m) for m in table.snapshot(sid).manifests]
    return spark.read.schema(_MANIFEST_DDL).parquet(*paths)


def _manifest_row_datafile(path, partition, stats) -> DataFile:
    return DataFile(
        path=path,
        partition=json.loads(partition) if partition else {},
        rows=0,
        bytes=0,
        stats=json.loads(stats) if stats else {},
    )


def prune_paths_distributed(
    spark: SparkSession,
    table: Table,
    preds: list[Pred],
    snapshot_id: int | None = None,
) -> list[str]:
    """Spark-job manifest pruning: identical decisions to ``prune_files``
    (same Pred.may_match per manifest row), evaluated executor-side."""
    preds = list(preds)

    def keep(batches):
        for b in batches:
            mask = [
                all(p.may_match(_manifest_row_datafile(pa, pt, st)) for p in preds)
                for pa, pt, st in zip(b["path"], b["partition"], b["stats"])
            ]
            yield b.loc[mask, ["path"]]

    mdf = manifest_df(spark, table, snapshot_id)
    return [r.path for r in mdf.mapInPandas(keep, "path string").collect()]


def column_max_distributed(
    spark: SparkSession, table: Table, col: str, snapshot_id: int | None = None
):
    """Spark-job cursor MAX: per-task maxima over manifest rows (JSON-encoded
    so heterogeneous stat types survive Arrow), reduced driver-side with the
    same Python ordering ``column_max`` uses."""

    def part_max(batches):
        best = None
        for b in batches:
            for st in b["stats"]:
                v = (json.loads(st) if st else {}).get(col, {}).get("max")
                if v is not None and (best is None or v > best):
                    best = v
        import pandas as pd

        yield pd.DataFrame({"v": [] if best is None else [json.dumps(best, default=str)]})

    mdf = manifest_df(spark, table, snapshot_id)
    vals = [json.loads(r.v) for r in mdf.mapInPandas(part_max, "v string").collect()]
    return max(vals) if vals else None


def live_files_slim(
    spark: SparkSession,
    table: Table,
    snapshot_id: int | None = None,
    stat_cols: tuple[str, ...] = (),
    distributed: bool | None = None,
) -> list[DataFile]:
    """Live-file listing for full-table operators (clustering reads every
    file, so the driver must hold the descriptor list either way — what it
    need not do is JSON-parse every file's full stats blob). Above the plan
    threshold, manifests are read as a Spark job that strips each stats blob
    down to ``stat_cols`` executor-side; the driver parses only the slim
    remainder. Identical descriptors (restricted to the requested stats) to
    the driver fold — pytest-asserted."""
    if distributed is None:
        distributed = (
            spark is not None
            and snapshot_file_count(table, snapshot_id) > DISTRIBUTED_PLAN_THRESHOLD
        )
    if not distributed:
        return table.live_files(snapshot_id)
    cols = list(stat_cols)

    def slim(batches):
        import pandas as pd

        for b in batches:
            slims = []
            for s in b["stats"]:
                st = json.loads(s) if s else {}
                slims.append(json.dumps({c: st[c] for c in cols if c in st}))
            yield pd.DataFrame(
                {
                    "path": b["path"],
                    "partition": b["partition"],
                    "rows": b["rows"],
                    "bytes": b["bytes"],
                    "stats": slims,
                }
            )

    rows = (
        manifest_df(spark, table, snapshot_id)
        .mapInPandas(slim, _MANIFEST_DDL)
        .collect()
    )
    return [
        DataFile(
            path=r.path,
            partition=json.loads(r.partition) if r.partition else {},
            rows=r.rows,
            bytes=r.bytes,
            stats=json.loads(r.stats) if r.stats else {},
        )
        for r in rows
    ]


def scan_with_pruning(
    spark: SparkSession,
    table: Table,
    preds: list[Pred],
    snapshot_id: int | None = None,
    columns: list[str] | None = None,
    distributed: bool | None = None,
) -> DataFrame:
    """Manifest-pruned read; residual predicate still applied for exactness.

    ``distributed=None`` auto-selects: a Spark job plans the scan when the
    snapshot has more than DISTRIBUTED_PLAN_THRESHOLD files, else the driver
    fold does (both produce identical file sets — pytest-asserted)."""
    if distributed is None:
        distributed = snapshot_file_count(table, snapshot_id) > DISTRIBUTED_PLAN_THRESHOLD
    if distributed:
        paths = prune_paths_distributed(spark, table, preds, snapshot_id)
        df = table.read_paths(spark, paths)
    else:
        files = prune_files(table.live_files(snapshot_id), preds)
        df = table.read_files(spark, files)
    if preds:
        # one conjunctive filter: one analysis round trip instead of one per
        # predicate; CombineFilters yields the same plan and pushed filters
        df = df.filter(functools.reduce(operator.and_, (p.to_column() for p in preds)))
    return df.select(*columns) if columns else df


def column_max(table: Table, col: str, snapshot_id: int | None = None):
    """Incremental-cursor MAX from manifests — replaces the reference's
    SELECT MAX(...) + collect() round-trip with a metadata fold."""
    vals = [f.stat(col, "max") for f in table.live_files(snapshot_id)]
    vals = [v for v in vals if v is not None]
    return max(vals) if vals else None


def partition_key(f: DataFile) -> str:
    return json.dumps(f.partition, sort_keys=True)
