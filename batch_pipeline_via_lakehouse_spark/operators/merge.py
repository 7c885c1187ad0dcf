"""MERGE INTO — copy-on-write row-level upsert (SCD1) and versioning (SCD2).

Replicates the reference's MERGE semantics, which it delegates to the Iceberg
Spark extension:

- SCD1 (`src/elt/silver/_silver_handler.py:195-224`): ``ON key_eq WHEN
  MATCHED AND <tracked col changed, null-safe <=>> THEN UPDATE SET ... WHEN
  NOT MATCHED THEN INSERT``.
- SCD2 (`_silver_handler.py:156-192`): pass 1 closes the matched-and-changed
  current row (end_ts, is_current=false); pass 2 inserts the new version.
- Source prep dedup (`_silver_handler.py:124-143`, W1): keep one row per key
  by descending order columns before matching.

Engine execution (this is the ⚙ part — we implement what the Iceberg
extension did), one frame (`_merge`) for both modes:

1. *Plan*: find the target files that contain matching keys by scanning ONLY
   the key columns plus ``input_file_name()`` and semi-joining the source
   keys — column-pruned, and the join is key-vs-key (high-cardinality,
   no hot keys; AQE handles residual skew). Files without matches are
   carried into the new snapshot by manifest reference — never rewritten.
2. *Rewrite*: a pure DataFrame rewrite of the affected rows against the
   source — `scd1_rewrite` or `scd2_rewrite`, which the J5/J6 queries run
   too. Keys match null-safe (``<=>``) and change detection is null-safe
   ``eqNullSafe`` over the tracked columns (F16).
3. *Commit*: one replace-snapshot (remove affected, add rewritten+inserted);
   one commit-log entry with lineage and metrics.

A source key that matches no affected-file row matches no target row at all
(by construction of step 1), so inserts need only an anti-join against the
affected subset — the unaffected bulk of a 100 TB table is never read.

``salt_buckets`` is structural skew handling for targets with hot duplicate
keys (an SCD2 target holds one row PER VERSION per key): every key join
salts its preserved side and replicates the other across salts
(`_key_join`), so one hot key spreads over ``salt_buckets`` join partitions
instead of melting one reducer. Without it AQE's skew split handles
residual imbalance.
"""

from __future__ import annotations

import datetime
import os
import time
import uuid
from collections.abc import Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..table.catalog import Table
from .commitlog import CommitLog

SCD2_COLS = ["is_current", "start_ts", "end_ts"]


def dedup_source(source: DataFrame, key_cols: list[str], order_desc: list[str]) -> DataFrame:
    """W1: one row per key, preferring the highest ``order_desc`` values."""
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc_nulls_last() for c in order_desc])
    return (
        source.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


def _source_key_stats(source: DataFrame, key_cols: list[str]) -> dict[str, tuple]:
    """One aggregate over the source: per key column (min, max, has_null).
    O(source) — cheap next to the key-scan and rewrite the merge runs anyway."""
    aggs = []
    for k in key_cols:
        aggs += [
            F.min(k).alias(f"_min_{k}"),
            F.max(k).alias(f"_max_{k}"),
            F.sum(F.col(k).isNull().cast("long")).alias(f"_nulls_{k}"),
        ]
    row = source.agg(*aggs).collect()[0]
    return {
        k: (row[f"_min_{k}"], row[f"_max_{k}"], bool(row[f"_nulls_{k}"] or 0))
        for k in key_cols
    }


def _merge_candidates(live: list, key_stats: dict[str, tuple]) -> list:
    """Manifest-stats pre-prune for MERGE planning: a file can hold a match
    only if, for EVERY key column, its min/max range overlaps the source key
    range — or it contains nulls while the source has null keys (null-safe
    `<=>` matching means NULL source keys are real matches). Missing stats
    keep the file (pruning must be sound); incomparable types (e.g. stats
    JSON-stringified timestamps vs source datetimes) keep the file too."""
    out = []
    for f in live:
        keep = True
        for col, (lo, hi, src_null) in key_stats.items():
            fmin, fmax = f.stat(col, "min"), f.stat(col, "max")
            fnulls = f.stat(col, "nulls")
            may = False
            if lo is not None:
                if fmin is None or fmax is None:
                    may = True  # no stats for this col — cannot rule out
                else:
                    try:
                        may = not (fmax < lo or fmin > hi)
                    except TypeError:
                        may = True
            if not may and src_null:
                may = fnulls is None or fnulls > 0
            if not may:
                keep = False
                break
        if keep:
            out.append(f)
    return out


def _key_join(
    left: DataFrame,
    right: DataFrame,
    la: str,
    ra: str,
    key_cols: list[str],
    how: str,
    salt_buckets: int | None = None,
) -> DataFrame:
    """``left`` ⋈ ``right`` on null-safe ``<=>`` keys, each side's columns
    kept under its alias ``la``/``ra`` (a NULL key is a real match, as in
    the reference's MERGE).

    With ``salt_buckets`` the left (skewed, preserved) side takes a uniform
    random salt in [0, salt_buckets) and the right side is replicated across
    every salt; the salt equality is one more equi-join key. Valid for
    inner, left, semi and anti joins — each left row carries exactly one
    salt and meets every right row once. NOT valid for right/full outer:
    an unmatched right row would surface ``salt_buckets`` times."""
    cond = [F.col(f"{la}.{k}").eqNullSafe(F.col(f"{ra}.{k}")) for k in key_cols]
    if salt_buckets:
        left = left.withColumn("_salt", F.floor(F.rand(seed=7) * salt_buckets).cast("int"))
        right = right.withColumn(
            "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
        )
        cond.append(F.col(f"{la}._salt") == F.col(f"{ra}._salt"))
    return left.alias(la).join(right.alias(ra), on=cond, how=how)


def _affected_files(
    spark: SparkSession,
    table: Table,
    source: DataFrame,
    key_cols: list[str],
    snapshot_id: int,
) -> tuple[list, int]:
    """Find the live files holding matching keys -> (affected DataFiles,
    untouched-file count). Two stages: manifest min/max stats on the key
    columns rule files out metadata-only (never opened at all), then a
    column-pruned key scan of the surviving candidates decides exactly."""
    live = table.live_files(snapshot_id)
    n_live = len(live)
    if n_live == 0:
        return [], 0
    cand = _merge_candidates(live, _source_key_stats(source, key_cols))
    if not cand:
        return [], n_live
    # planning must classify files with the SAME match semantics the rewrite
    # uses (null-safe <=>): an on=key_cols semi-join would drop null-key
    # matches, mis-classify their file as untouched, and duplicate the key
    keys_with_file = _key_join(
        table.read_files(spark, cand).select(*key_cols, F.input_file_name().alias("_file")),
        source.select(*key_cols).distinct(), "t", "s", key_cols, "left_semi",
    )
    hit_paths = {r["_file"] for r in keys_with_file.select("_file").distinct().collect()}

    def norm(p: str) -> str:
        # input_file_name() yields a percent-encoded URI; decode it before
        # comparing against manifest-relative paths (partition values with
        # spaces/special chars would otherwise never match)
        u = urlparse(p)
        return unquote(u.path) if u.scheme else p

    hit_rel = {os.path.relpath(norm(p), table.root) for p in hit_paths}
    affected = [f for f in cand if f.path in hit_rel]
    return affected, n_live - len(affected)


def _changed_expr(tracked: list[str]) -> Column:
    """Null-safe any-column-differs (reference's `<=>` change test, F16)."""
    cond = F.lit(False)
    for c in tracked:
        cond = cond | ~F.col(f"t.{c}").eqNullSafe(F.col(f"s.{c}"))
    return cond


def scd1_rewrite(
    target: DataFrame,
    source: DataFrame,
    key_cols: list[str],
    tracked: list[str],
    salt_buckets: int | None = None,
) -> DataFrame:
    """SCD1 upsert of ``source`` into the ``target`` rows: a matched row
    takes the source values only if a tracked column changed, an unmatched
    source row is inserted, every other target row is carried. ``source``
    has ``target``'s columns; so does the result."""
    cols = target.columns
    # presence markers: with null-safe key matching a NULL key can be a real
    # match, so "did the other side match?" must come from a never-null
    # marker column, not from the (nullable) key itself
    t = target.withColumn("_t", F.lit(True))
    s = source.withColumn("_s", F.lit(True))
    # source values only for inserts and matched-and-changed rows; a target
    # row with no source match sees changed=true vs all-null s.* — guard it
    take_source = F.col("s._s").isNotNull() & (
        F.col("t._t").isNull() | _changed_expr(tracked)
    )
    picked = [
        F.coalesce(F.col(f"t.{c}"), F.col(f"s.{c}")).alias(c)
        if c in key_cols
        else F.when(take_source, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
        for c in cols
    ]
    if not salt_buckets:
        return _key_join(t, s, "t", "s", key_cols, "full_outer").select(*picked)
    # a full outer join cannot be salted: updates and carries ride a salted
    # left join, inserts an anti join against the DISTINCT target keys
    # (collapses hot duplicates before the shuffle)
    updated = _key_join(t, s, "t", "s", key_cols, "left", salt_buckets).select(*picked)
    inserts = _key_join(
        s, target.select(*key_cols).distinct(), "s", "t", key_cols, "left_anti"
    ).select(*cols)
    return updated.unionByName(inserts)


def scd2_rewrite(
    target: DataFrame,
    source: DataFrame,
    key_cols: list[str],
    tracked: list[str],
    ts: Column,
    salt_buckets: int | None = None,
) -> DataFrame:
    """SCD2 versioning of the ``target`` rows by ``source``. Both reference
    passes (`_silver_handler.py:175-188`) run in ONE rewrite: each
    matched-and-changed current row is closed (is_current=false, end_ts=
    ``ts``), and a new current version (start_ts=``ts``) is inserted for
    every source key that has no current row (new key, or every version
    already closed) or changed. ``target`` has SCD2_COLS and the data
    columns, ``source`` the data columns; the result has ``target``'s."""
    cols = target.columns
    data_cols = [c for c in cols if c not in SCD2_COLS]
    # never-null presence markers, as in scd1_rewrite
    t = target.withColumn("_t", F.lit(True))
    s = source.withColumn("_s", F.lit(True))
    changed = _changed_expr(tracked)
    close_row = F.col("s._s").isNotNull() & F.col("t.is_current") & changed
    existing = _key_join(t, s, "t", "s", key_cols, "left", salt_buckets).select(
        *[F.col(f"t.{c}").alias(c) for c in data_cols],
        F.when(close_row, F.lit(False)).otherwise(F.col("t.is_current")).alias("is_current"),
        F.col("t.start_ts").alias("start_ts"),
        F.when(close_row, ts).otherwise(F.col("t.end_ts")).alias("end_ts"),
    )
    inserts = (
        _key_join(s, t.filter(F.col("is_current")), "s", "t", key_cols, "left", salt_buckets)
        .filter(F.col("t._t").isNull() | changed)
        .select(
            *[F.col(f"s.{c}").alias(c) for c in data_cols],
            F.lit(True).alias("is_current"),
            ts.alias("start_ts"),
            F.lit(None).cast("timestamp").alias("end_ts"),
        )
    )
    return existing.unionByName(inserts).select(*cols)


def _merge(
    spark: SparkSession,
    table: Table,
    source: DataFrame,
    key_cols: list[str],
    mode: str,
    job_id: str,
    rewrite: Callable[[DataFrame, DataFrame], DataFrame],
) -> dict:
    """The one MERGE frame: plan the affected files, rewrite their rows with
    ``rewrite(target_rows, source)``, commit one replace-snapshot, log it."""
    t0 = time.monotonic()
    # one materialization for all three consumers (key-stats aggregate,
    # planning semi-join, rewrite join): avoids recomputing an expensive
    # source lineage and — crucial for correctness — guarantees the pruning
    # stats describe the exact rows the scan and rewrite later see (a
    # non-deterministic source re-evaluation could otherwise slip keys past
    # the stats pre-prune)
    source = source.persist()
    try:
        affected, n_untouched = _affected_files(
            spark, table, source, key_cols, table.current_snapshot_id()
        )
        out_files = table.write_datafiles(rewrite(table.read_files(spark, affected), source))
        sid = table.commit(
            out_files,
            {f.path for f in affected},
            "merge",
            {"job_id": job_id, "mode": mode, "affected-files": len(affected),
             "carried-files": n_untouched},
        )
        CommitLog(table.root, job_id).record(
            partition="merge",
            input_files=[f.path for f in affected],
            output_files=[f.path for f in out_files],
            snapshot_id=sid,
            rows=sum(f.rows for f in out_files),
            bytes_=sum(f.bytes for f in out_files),
            tokens=0,
            seconds=time.monotonic() - t0,
        )
    finally:
        # always release the cache — an exception between planning and commit
        # (completeness gate, write failure) must not leak it for the
        # session's lifetime
        source.unpersist()
    return {
        "snapshot": sid,
        "affected_files": len(affected),
        "carried_files": n_untouched,
        "written_files": len(out_files),
    }


def merge_scd1(
    spark: SparkSession,
    table: Table,
    source: DataFrame,
    key_cols: list[str],
    tracked_cols: list[str] | None = None,
    dedup_order: list[str] | None = None,
    salt_buckets: int | None = None,
    job_id: str | None = None,
) -> dict:
    """Upsert ``source`` into ``table`` (`scd1_rewrite`); returns the report
    with the new snapshot id."""
    cols = table.schema.fieldNames()
    tracked = tracked_cols or [c for c in cols if c not in key_cols]
    if dedup_order:
        source = dedup_source(source, key_cols, dedup_order)
    return _merge(
        spark, table, source.select(*cols), key_cols, "scd1",
        job_id or f"merge-{uuid.uuid4().hex[:12]}",
        lambda t, s: scd1_rewrite(t, s, key_cols, tracked, salt_buckets),
    )


def merge_scd2(
    spark: SparkSession,
    table: Table,
    source: DataFrame,
    key_cols: list[str],
    tracked_cols: list[str],
    effective_ts: datetime.datetime | None = None,
    dedup_order: list[str] | None = None,
    salt_buckets: int | None = None,
    job_id: str | None = None,
) -> dict:
    """SCD2 merge (`scd2_rewrite`): close matched-and-changed current rows,
    insert new versions. Table schema must include is_current:boolean,
    start_ts, end_ts."""
    ts = F.lit(effective_ts) if effective_ts else F.current_timestamp()
    data_cols = [c for c in table.schema.fieldNames() if c not in SCD2_COLS]
    if dedup_order:
        source = dedup_source(source, key_cols, dedup_order)
    return _merge(
        spark, table, source.select(*data_cols), key_cols, "scd2",
        job_id or f"merge2-{uuid.uuid4().hex[:12]}",
        lambda t, s: scd2_rewrite(t, s, key_cols, tracked_cols, ts, salt_buckets),
    )
