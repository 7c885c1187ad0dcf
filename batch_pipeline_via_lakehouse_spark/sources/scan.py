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
        returns True when stats are missing — pruning must be sound.)
        Identity-partition columns stay inside the data files, so their
        typed min/max is the partition value itself; the manifest's
        ``partition`` strings are never compared with a typed value."""
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


def scan_with_pruning(
    spark: SparkSession,
    table: Table,
    preds: list[Pred],
    snapshot_id: int | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Manifest-pruned read; residual predicate still applied for exactness."""
    df = table.read_files(spark, prune_files(table.live_files(snapshot_id), preds))
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
