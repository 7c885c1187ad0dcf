"""M3: snapshot expiry, reachability GC, manifest rewrite."""

import glob
import os

import pytest

from batch_pipeline_via_lakehouse_spark.datagen import TOKEN_SCHEMA, token_table_df
from batch_pipeline_via_lakehouse_spark.functions.checksums import content_checksum
from batch_pipeline_via_lakehouse_spark.operators.compaction import compact
from batch_pipeline_via_lakehouse_spark.operators.expire import expire_snapshots, gc_orphans
from batch_pipeline_via_lakehouse_spark.operators.manifest import rewrite_manifests
from batch_pipeline_via_lakehouse_spark.table import Table


def _on_disk(t):
    return {p for p in glob.glob(os.path.join(t.data_dir, "**", "*.parquet"), recursive=True)}


def test_expire_retains_and_gcs_exclusive_files(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), TOKEN_SCHEMA, partition_by=["source"])
    t.append(token_table_df(spark, 400, seed=1), num_files=3)
    t.append(token_table_df(spark, 200, seed=2), num_files=2)
    compact(spark, t, target_bytes=8 * 1024 * 1024)
    pre_expire_live = {os.path.join(t.root, f.path) for f in t.live_files()}
    content = content_checksum(t.scan(spark))
    n_disk_before = len(_on_disk(t))

    report = expire_snapshots(t, retain_last=1, gc=True, gc_grace_ms=0)
    assert report["expired"]  # old append snapshots expired
    assert report["deleted_files"] > 0  # pre-compaction files GC'd

    # current snapshot untouched: exact content, all live files still on disk
    assert content_checksum(t.scan(spark)) == content
    assert pre_expire_live <= _on_disk(t)
    assert len(_on_disk(t)) < n_disk_before
    # expired snapshots no longer time-travelable
    with pytest.raises(FileNotFoundError):
        t.scan(spark, snapshot_id=1).count()


def test_expire_keeps_shared_files(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), TOKEN_SCHEMA)
    t.append(token_table_df(spark, 300, seed=1))  # snap 1
    s2 = t.append(token_table_df(spark, 100, seed=2))  # snap 2 (shares snap-1 files)
    expire_snapshots(t, retain_last=1, gc=True, gc_grace_ms=0)
    # snap-1's files are shared with snap-2 (still live) -> must survive
    assert t.scan(spark, snapshot_id=s2).count() == 400


def test_gc_removes_uncommitted_junk_respects_grace(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), TOKEN_SCHEMA)
    t.append(token_table_df(spark, 100, seed=1))
    junk = os.path.join(t.data_dir, "deadbeef", "junk.parquet")
    os.makedirs(os.path.dirname(junk))
    with open(junk, "wb") as f:
        f.write(b"not-a-real-parquet")
    # inside grace window -> protected
    assert gc_orphans(t, grace_ms=10 * 60 * 1000)["deleted_files"] == 0
    assert os.path.exists(junk)
    # outside grace window -> deleted (marker/crc files may be swept too).
    # Backdate the junk so the assertion does not race this VM's episodic
    # clock steps: a file whose mtime lands at/after the cutoff is correctly
    # protected by grace semantics, which is not what this test probes.
    import time

    past = time.time() - 3600
    os.utime(junk, (past, past))
    assert gc_orphans(t, grace_ms=0)["deleted_files"] >= 1
    assert not os.path.exists(junk)
    # live data untouched
    assert t.scan(spark).count() == 100


def test_rewrite_manifests_metadata_only(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), TOKEN_SCHEMA, partition_by=["source"])
    for k in range(3):
        t.append(token_table_df(spark, 300, seed=30 + k), num_files=2)
    compact(spark, t, target_bytes=8 * 1024 * 1024)
    # two more appends -> snapshot references several small manifests again
    for k in range(2):
        t.append(token_table_df(spark, 200, seed=40 + k), num_files=2)
    content = content_checksum(t.scan(spark))
    files_before = {f.path for f in t.live_files()}
    n_manifests = len(t.snapshot(t.current_snapshot_id()).manifests)

    r = rewrite_manifests(t)
    assert r["manifests_after"] < n_manifests
    assert {f.path for f in t.live_files()} == files_before  # same data files
    assert content_checksum(t.scan(spark)) == content
    # pre-rewrite snapshot still readable (metadata-only commit)
    assert content_checksum(t.scan(spark, snapshot_id=r["snapshot"] - 1)) == content


def test_expiry_preserves_stream_dedup_watermark(spark, tmp_path):
    """Expiring snapshots must not forget committed stream batch ids: the
    max batch id per query folds into stream-state.json and
    is_batch_committed still answers true."""
    from batch_pipeline_via_lakehouse_spark.streaming.sink import (
        is_batch_committed,
        load_stream_state,
    )

    t = Table.create(str(tmp_path / "t"), TOKEN_SCHEMA)
    for bid in range(3):
        files = t.write_datafiles(token_table_df(spark, 5, seed=bid))
        t.commit(files, set(), "append", {"stream-query": "q1", "stream-batch-id": bid})
    assert is_batch_committed(t, "q1", 1)

    expire_snapshots(t, retain_last=1, gc=True, gc_grace_ms=0)
    # snapshots 1,2 are gone from metadata, but dedup must survive
    assert load_stream_state(t).get("q1") == 1  # max expired batch id
    for bid in range(3):
        assert is_batch_committed(t, "q1", bid)
    assert not is_batch_committed(t, "q1", 3)


def test_staging_sweep_uses_newest_nested_mtime(spark, tmp_path):
    """A staging dir whose top-level mtime is stale but whose nested run
    files are fresh belongs to a live job — it must survive the sweep; a
    fully-stale dir is swept and reported under swept_staging (not as a
    deleted data file)."""
    import os
    import time

    from batch_pipeline_via_lakehouse_spark.operators.expire import gc_orphans

    t = Table.create(str(tmp_path / "t"), TOKEN_SCHEMA)
    t.append(token_table_df(spark, 10, seed=1))

    old = time.time() - 7 * 24 * 3600
    live = os.path.join(t.root, "_staging", "job-live", "r1", "p0000-c00000")
    os.makedirs(live)
    with open(os.path.join(live, "run-00001.parquet"), "w") as f:
        f.write("x")  # fresh nested write from a long-running job
    for d in (
        os.path.join(t.root, "_staging", "job-live"),
        os.path.join(t.root, "_staging", "job-live", "r1"),
    ):
        os.utime(d, (old, old))  # top-level dirs look stale

    dead = os.path.join(t.root, "_staging", "job-dead", "r1")
    os.makedirs(dead)
    with open(os.path.join(dead, "run-00001.parquet"), "w") as f:
        f.write("x")
    for root, dirs, names in os.walk(os.path.join(t.root, "_staging", "job-dead"), topdown=False):
        for n in [*names, *dirs]:
            os.utime(os.path.join(root, n), (old, old))
    os.utime(os.path.join(t.root, "_staging", "job-dead"), (old, old))

    report = gc_orphans(t, grace_ms=24 * 3600 * 1000)
    assert os.path.isdir(os.path.join(t.root, "_staging", "job-live"))
    assert not os.path.isdir(os.path.join(t.root, "_staging", "job-dead"))
    assert report["swept_staging"] == 1
    assert report["deleted_files"] == 0  # staging dirs are not data files


def test_gc_deletes_stray_files(spark, tmp_path):
    """Reachability GC deletes the expired filesets and stray uncommitted
    files — one in a commit-style subdir, one directly in data/ — while the
    live files and the table content stay exactly as they were."""
    t = Table.create(str(tmp_path / "t"), TOKEN_SCHEMA, partition_by=["source"])
    for k in range(3):
        t.append(token_table_df(spark, 150, seed=500 + k), num_files=2)
    t.overwrite(token_table_df(spark, 150, seed=503), num_files=2)
    # drop every snapshot but the current -> earlier filesets are orphans
    expire_snapshots(t, retain_last=1, gc=False)
    strays = [
        os.path.join(t.data_dir, "stray", "leftover.parquet"),
        os.path.join(t.data_dir, "root-leftover.parquet"),
    ]
    os.makedirs(os.path.dirname(strays[0]))
    for p in strays:
        with open(p, "w") as f:
            f.write("x")
    live = {os.path.join(t.root, f.path) for f in t.live_files()}
    before = content_checksum(t.scan(spark))
    orphans = _on_disk(t) - live

    r = gc_orphans(t, grace_ms=0)
    assert r["deleted_files"] >= len(orphans) > len(strays)
    assert not any(os.path.exists(p) for p in strays)
    assert _on_disk(t) == live
    assert content_checksum(t.scan(spark)) == before


def test_gc_sweep_scoped_to_touched_dirs(spark, tmp_path):
    """The empty-dir sweep runs only under dirs GC itself emptied: a
    pre-existing empty dir inside an UNTOUCHED commit dir survives (it is
    never even listed), while commit dirs whose files GC deleted are swept
    away."""
    t = Table.create(str(tmp_path / "sw"), TOKEN_SCHEMA, partition_by=["source"])
    t.append(token_table_df(spark, 100, seed=31), num_files=2)
    live_dirs = {
        os.path.dirname(os.path.join(t.root, f.path)) for f in t.live_files()
    }
    t.overwrite(token_table_df(spark, 100, seed=32), num_files=2)
    expire_snapshots(t, retain_last=1, gc=False)
    orphan_dirs = live_dirs - {
        os.path.dirname(os.path.join(t.root, f.path)) for f in t.live_files()
    }
    assert orphan_dirs
    # plant an empty dir inside a LIVE (untouched) commit dir
    live_dir = next(
        os.path.dirname(os.path.join(t.root, f.path)) for f in t.live_files()
    )
    planted = os.path.join(live_dir, "planted-empty")
    os.makedirs(planted)
    r = gc_orphans(t, grace_ms=0)
    assert r["deleted_files"] > 0
    assert os.path.isdir(planted)  # untouched dir never listed/swept
    for d in orphan_dirs:
        assert not os.path.exists(d)  # emptied-by-GC dirs are gone
