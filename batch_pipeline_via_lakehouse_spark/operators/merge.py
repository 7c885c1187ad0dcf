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
extension did):

1. *Plan*: find the target files that contain matching keys by scanning ONLY
   the key columns plus ``input_file_name()`` and semi-joining the source
   keys — column-pruned, and the join is key-vs-key (high-cardinality,
   no hot keys; AQE handles residual skew). Files without matches are
   carried into the new snapshot by manifest reference — never rewritten.
2. *Rewrite*: full-outer join affected-rows x source on the key; per column
   pick source values for (insert | matched-and-changed) rows, target values
   otherwise. Change detection is null-safe ``eqNullSafe`` over the tracked
   columns (F16).
3. *Commit*: one replace-snapshot (remove affected, add rewritten+inserted);
   one commit-log entry with lineage and metrics.

A source key that matches no affected-file row matches no target row at all
(by construction of step 1), so inserts need only an anti-join against the
affected subset — the unaffected bulk of a 100 TB table is never read.
"""

from __future__ import annotations

import datetime
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..table.catalog import Table
from .commitlog import CommitLog


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
    null_safe = F.lit(True)
    for k in key_cols:
        null_safe = null_safe & F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
    keys_with_file = (
        table.read_files(spark, cand)
        .select(*key_cols, F.input_file_name().alias("_file"))
        .alias("t")
        .join(source.select(*key_cols).distinct().alias("s"), on=null_safe, how="left_semi")
    )
    hit_paths = {r["_file"] for r in keys_with_file.select("_file").distinct().collect()}

    from urllib.parse import unquote, urlparse

    def norm(p: str) -> str:
        # input_file_name() yields a percent-encoded URI; decode it before
        # comparing against manifest-relative paths (partition values with
        # spaces/special chars would otherwise never match)
        u = urlparse(p)
        return unquote(u.path) if u.scheme else p

    import os

    hit_rel = {os.path.relpath(norm(p), table.root) for p in hit_paths}
    affected = [f for f in cand if f.path in hit_rel]
    return affected, n_live - len(affected)


def _changed_expr(tracked: list[str]) -> F.Column:
    """Null-safe any-column-differs (reference's `<=>` change test, F16)."""
    cond = F.lit(False)
    for c in tracked:
        cond = cond | ~F.col(f"t.{c}").eqNullSafe(F.col(f"s.{c}"))
    return cond


def merge_scd1(
    spark: SparkSession,
    table: Table,
    source: DataFrame,
    key_cols: list[str],
    tracked_cols: list[str] | None = None,
    dedup_order: list[str] | None = None,
    broadcast_source: bool = False,
    salt_buckets: int | None = None,
    job_id: str | None = None,
) -> dict:
    """Upsert ``source`` into ``table``; returns report with snapshot id.

    ``salt_buckets``: structural skew handling (north_rule) for targets with
    hot duplicate keys — the rewrite becomes a salted left join (updates +
    carries) plus an anti-join (inserts) against the DISTINCT target keys, so
    one hot key spreads over ``salt_buckets`` shuffle partitions instead of
    melting one reducer. Default path is a single full-outer join and lets
    AQE's skew-split handle residual imbalance."""
    t0 = time.monotonic()
    job_id = job_id or f"merge-{uuid.uuid4().hex[:12]}"
    cols = table.schema.fieldNames()
    tracked = tracked_cols or [c for c in cols if c not in key_cols]
    if dedup_order:
        source = dedup_source(source, key_cols, dedup_order)
    # one materialization for all three consumers (key-stats aggregate,
    # planning semi-join, rewrite join): avoids recomputing an expensive
    # source lineage and — crucial for correctness — guarantees the pruning
    # stats describe the exact rows the scan and rewrite later see (a
    # non-deterministic source re-evaluation could otherwise slip keys past
    # the stats pre-prune)
    source = _src_cached = source.select(*cols).persist()
    try:
        return _merge_scd1_body(
            spark, table, source, key_cols, tracked, broadcast_source,
            salt_buckets, job_id, cols, t0,
        )
    finally:
        # always release the cache — an exception between planning and commit
        # (completeness gate, write failure) must not leak it for the
        # session's lifetime
        _src_cached.unpersist()


def _merge_scd1_body(
    spark, table, source, key_cols, tracked, broadcast_source, salt_buckets,
    job_id, cols, t0,
) -> dict:
    base = table.current_snapshot_id()
    affected, n_untouched = _affected_files(spark, table, source, key_cols, base)
    # presence markers: with null-safe key matching a NULL key can be a real
    # match, so "did the other side match?" must come from a never-null
    # marker column, not from the (nullable) key itself
    target_aff = table.read_files(spark, affected).withColumn("_t", F.lit(True))
    source = source.withColumn("_s", F.lit(True))

    is_insert = F.col("t._t").isNull()
    s_present = F.col("s._s").isNotNull()
    changed = _changed_expr(tracked)
    # source values only for inserts and matched-and-changed rows; a target
    # row with no source match sees changed=true vs all-null s.* — guard it
    take_source = s_present & (is_insert | changed)

    def _full_outer_rewrite(t_df: DataFrame, s_df: DataFrame) -> DataFrame:
        key_eq = F.lit(True)
        for k in key_cols:
            key_eq = key_eq & F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
        joined = t_df.alias("t").join(s_df.alias("s"), on=key_eq, how="full_outer")
        return joined.select(
            *[
                F.coalesce(F.col(f"t.{c}"), F.col(f"s.{c}")).alias(c)
                if c in key_cols
                else F.when(take_source, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
                for c in cols
            ]
        )

    if salt_buckets:
        from .salting import salted_equi_join

        # null-key rows can't ride the salted on-list join (null != null
        # there); route them through the null-safe full-outer rewrite — after
        # source dedup that subset is at most one source row per null pattern
        null_key = F.lit(False)
        for k in key_cols:
            null_key = null_key | F.col(k).isNull()
        t_nn, t_null = target_aff.filter(~null_key), target_aff.filter(null_key)
        s_nn, s_null = source.filter(~null_key), source.filter(null_key)
        s_nn_j = F.broadcast(s_nn) if broadcast_source else s_nn

        take_src_upd = s_present & changed
        updated = salted_equi_join(
            t_nn.alias("t"), s_nn_j.alias("s"), key_cols, how="left", buckets=salt_buckets
        ).select(
            *[
                F.when(take_src_upd, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
                if c not in key_cols
                else F.col(c)  # join-key columns are deduplicated by the on-list
                for c in cols
            ]
        )
        # inserts: anti join against DISTINCT target keys (collapses hot
        # duplicates before the shuffle)
        inserts = s_nn.join(
            t_nn.select(*key_cols).distinct(), on=key_cols, how="left_anti"
        ).select(*cols)
        result = updated.unionByName(inserts).unionByName(
            _full_outer_rewrite(t_null, s_null)
        )
    else:
        src = F.broadcast(source) if broadcast_source else source
        result = _full_outer_rewrite(target_aff, src)

    out_files = table.write_datafiles(result)
    sid = table.commit(
        out_files,
        {f.path for f in affected},
        "merge",
        {"job_id": job_id, "mode": "scd1", "affected-files": len(affected),
         "carried-files": n_untouched},
    )
    log = CommitLog(table.root, job_id)
    log.record(
        partition="merge",
        input_files=[f.path for f in affected],
        output_files=[f.path for f in out_files],
        snapshot_id=sid,
        rows=sum(f.rows for f in out_files),
        bytes_=sum(f.bytes for f in out_files),
        tokens=0,
        seconds=time.monotonic() - t0,
    )
    return {
        "snapshot": sid,
        "affected_files": len(affected),
        "carried_files": n_untouched,
        "written_files": len(out_files),
    }


SCD2_COLS = ["is_current", "start_ts", "end_ts"]


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
    """SCD2 merge: close matched-and-changed current rows, insert new
    versions. Table schema must include is_current:boolean, start_ts, end_ts.
    Both reference passes (`_silver_handler.py:175-188`) execute in ONE
    copy-on-write rewrite here — same output, half the shuffles.

    ``salt_buckets``: the same structural skew handling as merge_scd1 — an
    SCD2 target accumulates one row PER VERSION per key, so a hot key's
    version pile melts one reducer in the close-pass join. With salting the
    close pass salts the (version-heavy) target against the replicated
    source, and the insert pass salts the source against the replicated
    current-rows-only target; null-key rows ride the null-safe unsalted
    joins (at most one source row per null pattern after dedup)."""
    t0 = time.monotonic()
    job_id = job_id or f"merge2-{uuid.uuid4().hex[:12]}"
    ts = F.lit(effective_ts) if effective_ts else F.current_timestamp()
    cols = table.schema.fieldNames()
    data_cols = [c for c in cols if c not in SCD2_COLS]
    if dedup_order:
        source = dedup_source(source, key_cols, dedup_order)
    # persist: same single-evaluation guarantee as merge_scd1
    source = _src_cached = source.select(*[c for c in data_cols]).persist()
    try:
        return _merge_scd2_body(
            spark, table, source, key_cols, tracked_cols, ts, salt_buckets,
            job_id, cols, data_cols, t0,
        )
    finally:
        _src_cached.unpersist()


def _merge_scd2_body(
    spark, table, source, key_cols, tracked_cols, ts, salt_buckets, job_id,
    cols, data_cols, t0,
) -> dict:
    base = table.current_snapshot_id()
    affected, n_untouched = _affected_files(spark, table, source, key_cols, base)
    # never-null presence markers (see merge_scd1): with eqNullSafe matching,
    # a NULL key can be a genuine match, so presence tests can't use the key
    target_aff = table.read_files(spark, affected).withColumn("_t", F.lit(True))
    source = source.withColumn("_s", F.lit(True))

    key_eq = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in key_cols]
    changed = _changed_expr(tracked_cols)
    s_missing = F.col("s._s").isNull()

    # pass 1 equivalent: close matched-and-changed CURRENT rows, carry the rest
    close_row = ~s_missing & F.col("t.is_current") & changed
    # pass 2 equivalent: insert a new current version when the key has no
    # current row (new key, or every version already closed) or it changed
    cur_missing = F.col("t._t").isNull()

    def _existing_sel(joined: DataFrame, keys_from_onlist: bool) -> DataFrame:
        return joined.select(
            *[
                F.col(c) if keys_from_onlist and c in key_cols
                else F.col(f"t.{c}").alias(c)
                for c in data_cols
            ],
            F.when(close_row, F.lit(False)).otherwise(F.col("t.is_current")).alias("is_current"),
            F.col("t.start_ts").alias("start_ts"),
            F.when(close_row, ts).otherwise(F.col("t.end_ts")).alias("end_ts"),
        )

    def _inserts_sel(joined: DataFrame, keys_from_onlist: bool) -> DataFrame:
        return joined.filter(cur_missing | changed).select(
            *[
                F.col(c) if keys_from_onlist and c in key_cols
                else F.col(f"s.{c}").alias(c)
                for c in data_cols
            ],
            F.lit(True).alias("is_current"),
            ts.alias("start_ts"),
            F.lit(None).cast("timestamp").alias("end_ts"),
        )

    if salt_buckets:
        from .salting import salted_equi_join

        null_key = F.lit(False)
        for k in key_cols:
            null_key = null_key | F.col(k).isNull()
        t_nn, t_null = target_aff.filter(~null_key), target_aff.filter(null_key)
        s_nn, s_null = source.filter(~null_key), source.filter(null_key)
        existing = _existing_sel(
            salted_equi_join(
                t_nn.alias("t"), s_nn.alias("s"), key_cols,
                how="left", buckets=salt_buckets,
            ),
            True,
        ).unionByName(
            _existing_sel(
                t_null.alias("t").join(s_null.alias("s"), on=key_eq, how="left_outer"),
                False,
            )
        )
        inserts = _inserts_sel(
            salted_equi_join(
                s_nn.alias("s"), t_nn.filter(F.col("is_current")).alias("t"),
                key_cols, how="left", buckets=salt_buckets,
            ),
            True,
        ).unionByName(
            _inserts_sel(
                s_null.alias("s").join(
                    t_null.filter(F.col("is_current")).alias("t"),
                    on=key_eq, how="left_outer",
                ),
                False,
            )
        )
    else:
        existing = _existing_sel(
            target_aff.alias("t").join(source.alias("s"), on=key_eq, how="left_outer"),
            False,
        )
        inserts = _inserts_sel(
            source.alias("s").join(
                target_aff.filter(F.col("is_current")).alias("t"),
                on=key_eq, how="left_outer",
            ),
            False,
        )
    result = existing.unionByName(inserts).select(*cols)

    out_files = table.write_datafiles(result)
    sid = table.commit(
        out_files,
        {f.path for f in affected},
        "merge",
        {"job_id": job_id, "mode": "scd2", "affected-files": len(affected)},
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
    return {"snapshot": sid, "affected_files": len(affected), "carried_files": n_untouched}
