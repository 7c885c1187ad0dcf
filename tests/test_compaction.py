"""M1: bin-packing compaction — content invariant, isolation, resume."""

import glob
import os

import pytest

from batch_pipeline_via_lakehouse_spark.datagen import TOKEN_SCHEMA, token_table_df
from batch_pipeline_via_lakehouse_spark.functions.checksums import content_checksum
from batch_pipeline_via_lakehouse_spark.operators.compaction import compact, plan_compaction
from batch_pipeline_via_lakehouse_spark.table import Table


def _fragmented_table(spark, tmp_path, rows=2000, appends=4):
    t = Table.create(str(tmp_path / "tok"), TOKEN_SCHEMA, partition_by=["source"])
    per = rows // appends
    for k in range(appends):
        t.append(token_table_df(spark, per, seed=100 + k), num_files=4)
    return t


def test_compaction_preserves_content_exactly(spark, tmp_path):
    t = _fragmented_table(spark, tmp_path)
    pre_sid = t.current_snapshot_id()
    before = content_checksum(t.scan(spark))
    n_before = len(t.live_files())

    report = compact(spark, t, target_bytes=8 * 1024 * 1024)
    after = content_checksum(t.scan(spark))

    assert after == before  # includes exact token-array equality (xxhash64 of arrays)
    assert len(t.live_files()) < n_before
    assert report["files_in"] > report["files_out"]
    # snapshot isolation: pre-compaction reader still sees the old fileset
    assert content_checksum(t.scan(spark, snapshot_id=pre_sid)) == before
    pre_paths = {f.path for f in t.live_files(pre_sid)}
    post_paths = {f.path for f in t.live_files()}
    assert pre_paths != post_paths


def test_plan_only_packs_small_files(spark, tmp_path):
    t = _fragmented_table(spark, tmp_path)
    sizes = [f.bytes for f in t.live_files()]
    target = max(sizes) + 1  # everything is "small"
    plan = plan_compaction(t, target_bytes=target, small_threshold=1.0)
    assert plan.n_files > 0
    # with a tiny target nothing fits together -> no bins of >=2 files
    assert plan_compaction(t, target_bytes=1).n_bins == 0
    # every bin respects the partition boundary
    for pk, bins in plan.bins.items():
        for b in bins:
            assert len({str(sorted(f.partition.items())) for f in b}) == 1


def test_compaction_resume_no_duplicate_work(spark, tmp_path):
    t = _fragmented_table(spark, tmp_path)
    before = content_checksum(t.scan(spark))

    # simulate a kill after 2 file-groups
    r1 = compact(spark, t, target_bytes=8 * 1024 * 1024, job_id="job-x", fail_after_partitions=2)
    assert len(r1["executed"]) == 2
    mid = content_checksum(t.scan(spark))
    assert mid == before  # partial maintenance still preserves content

    r2 = compact(spark, t, target_bytes=8 * 1024 * 1024, job_id="job-x")
    assert r2["resumed_skipped"] == 2
    # no group executed twice across the two runs
    from batch_pipeline_via_lakehouse_spark.operators.commitlog import CommitLog

    log = CommitLog(t.root, "job-x")
    groups = [e["partition"] for e in log.entries()]
    assert len(groups) == len(set(groups))
    assert content_checksum(t.scan(spark)) == before
    # lineage recorded: every entry maps inputs -> outputs with metrics
    for e in log.entries():
        assert e["input_files"] and e["output_files"] and e["rows"] > 0
        assert e["tokens"] > 0 and e["seconds"] >= 0


def test_compacted_file_layout_on_disk(spark, tmp_path):
    t = _fragmented_table(spark, tmp_path)
    compact(spark, t, target_bytes=8 * 1024 * 1024)
    live = {os.path.join(t.root, f.path) for f in t.live_files()}
    on_disk = set(glob.glob(os.path.join(t.data_dir, "**", "*.parquet"), recursive=True))
    # old files still on disk (pinned readers) but superset of live
    assert live <= on_disk and len(on_disk) > len(live)


def test_compaction_jobs_carry_the_callers_job_group(spark, tmp_path):
    t = _fragmented_table(spark, tmp_path)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("compact-under-group", "compaction under a caller's job group")
    try:
        report = compact(spark, t, target_bytes=8 * 1024 * 1024)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert report["files_out"] > 0
    grouped = tracker.getJobIdsForGroup("compact-under-group")
    stage_names = [
        tracker.getStageInfo(s).name
        for j in grouped
        for s in tracker.getJobInfo(j).stageIds
    ]
    # the bundle threads' rewrite job is in the group; no engine job escaped it
    assert any("compaction.py" in n for n in stage_names), stage_names
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped_before


def test_timestamp_stats_survive_compaction(spark, tmp_path):
    """Compaction writes min/max with the same isoformat encoding as every
    other writer, so a pruned timestamp scan finds the same rows after it."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType, TimestampType

    from batch_pipeline_via_lakehouse_spark.sources.scan import Pred, prune_files

    schema = StructType([StructField("id", LongType()), StructField("ts", TimestampType())])
    t = Table.create(str(tmp_path / "ts"), schema)
    t0 = 1704067200  # 2024-01-01 00:00:00 UTC
    for k in range(3):
        t.append_native(
            spark.range(100 * k, 100 * (k + 1)).select(
                "id", F.timestamp_seconds(F.lit(t0) + F.col("id") * 60).alias("ts")
            ),
            num_files=1,
        )
    pred = Pred("ts", ">=", "2024-01-01T04:00:00")

    def pruned_ids():
        files = prune_files(t.live_files(), [pred])
        rows = t.read_files(spark, files).filter(pred.to_column()).collect()
        return sorted(r["id"] for r in rows)

    inputs = t.live_files()
    before = pruned_ids()
    assert len(before) == 60

    compact(spark, t)
    (out,) = t.live_files()
    lo, hi = min(f.stat("ts", "min") for f in inputs), max(f.stat("ts", "max") for f in inputs)
    assert (lo, hi) == ("2024-01-01T00:00:00+00:00", "2024-01-01T04:59:00+00:00")
    assert (out.stat("ts", "min"), out.stat("ts", "max")) == (lo, hi)
    assert pruned_ids() == before


def test_row_count_gate_blocks_both_rewrites(spark, tmp_path):
    """A live file that lost rows on disk (its manifest entry unchanged)
    aborts compaction and clustering before either commits."""
    import pyarrow.parquet as pq

    from batch_pipeline_via_lakehouse_spark.operators.clustering import cluster

    # unpartitioned, so each operator rewrites the table as ONE bundle: a
    # single commit, which the gate must stop
    t = Table.create(str(tmp_path / "flat"), TOKEN_SCHEMA)
    for k in range(4):
        t.append(token_table_df(spark, 500, seed=100 + k), num_files=4)
    victim = next(iter(plan_compaction(t, target_bytes=8 * 1024 * 1024).bins.values()))[0][0]
    path = os.path.join(t.root, victim.path)
    full = pq.read_table(path)
    pq.write_table(full.slice(0, full.num_rows // 2), path)
    sid = t.current_snapshot_id()

    with pytest.raises(RuntimeError, match="aborting commit"):
        compact(spark, t, target_bytes=8 * 1024 * 1024)
    assert t.current_snapshot_id() == sid
    with pytest.raises(RuntimeError, match="aborting commit"):
        cluster(spark, t, target_bytes=2 * 1024 * 1024)
    assert t.current_snapshot_id() == sid
