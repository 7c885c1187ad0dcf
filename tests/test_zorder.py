"""M2: Z/Hilbert kernels vs slow reference impls + clustering rewrite effects."""

import numpy as np
import pytest

from batch_pipeline_via_lakehouse_spark.datagen import TOKEN_SCHEMA, token_table_df
from batch_pipeline_via_lakehouse_spark.functions.checksums import content_checksum
from batch_pipeline_via_lakehouse_spark.functions.zorder import (
    hilbert2,
    hilbert2_inverse,
    morton2,
    morton3,
)
from batch_pipeline_via_lakehouse_spark.operators.clustering import cluster
from batch_pipeline_via_lakehouse_spark.sources.scan import Pred, prune_files
from batch_pipeline_via_lakehouse_spark.table import Table


def _slow_morton(vals, nbits):
    """Per-bit reference interleave (pure python)."""
    out = 0
    for bit in range(nbits):
        for d, v in enumerate(vals):
            out |= ((v >> bit) & 1) << (bit * len(vals) + d)
    return out


def test_morton3_matches_slow_reference():
    rng = np.random.default_rng(0)
    a, b, c = (rng.integers(0, 1 << 21, 200, dtype=np.uint64) for _ in range(3))
    fast = morton3(a, b, c)
    for i in range(200):
        assert fast[i] == _slow_morton([int(a[i]), int(b[i]), int(c[i])], 21)


def test_morton2_matches_slow_reference():
    rng = np.random.default_rng(1)
    a, b = (rng.integers(0, 1 << 31, 200, dtype=np.uint64) for _ in range(2))
    fast = morton2(a, b)
    for i in range(200):
        assert fast[i] == _slow_morton([int(a[i]), int(b[i])], 31)


def test_hilbert_roundtrip_and_locality():
    rng = np.random.default_rng(2)
    x = rng.integers(0, 1 << 31, 500, dtype=np.uint64)
    y = rng.integers(0, 1 << 31, 500, dtype=np.uint64)
    d = hilbert2(x, y, order=31)
    x2, y2 = hilbert2_inverse(d, order=31)
    assert np.array_equal(x, x2) and np.array_equal(y, y2)
    # locality: hilbert distance 1 => manhattan distance 1 (true by curve def)
    small = np.arange(1024, dtype=np.uint64)
    hx, hy = hilbert2_inverse(small, order=5)
    steps = np.abs(np.diff(hx.astype(np.int64))) + np.abs(np.diff(hy.astype(np.int64)))
    assert np.all(steps == 1)


@pytest.mark.parametrize("mode", ["zorder", "hilbert"])
def test_cluster_preserves_content_and_enables_skipping(spark, tmp_path, mode):
    t = Table.create(str(tmp_path / f"t-{mode}"), TOKEN_SCHEMA, partition_by=["source"])
    for k in range(3):
        t.append(token_table_df(spark, 800, seed=200 + k), num_files=3)
    before = content_checksum(t.scan(spark))
    pre_sid = t.current_snapshot_id()

    report = cluster(spark, t, mode=mode, target_bytes=2 * 1024 * 1024)
    assert report["rows"] == 2400

    assert content_checksum(t.scan(spark)) == before
    assert content_checksum(t.scan(spark, snapshot_id=pre_sid)) == before

    # file-skipping: a narrow n_tok band should prune most files in the
    # biggest partition ('web'), where pre-cluster every file spanned the range
    web_files = [f for f in t.live_files() if f.partition.get("source") == "web"]
    if len(web_files) >= 3:
        pruned = prune_files(web_files, [Pred("n_tok", "between", 100, 120)])
        assert len(pruned) < len(web_files)


def test_cluster_resume(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), TOKEN_SCHEMA, partition_by=["source"])
    t.append(token_table_df(spark, 1000, seed=9), num_files=4)
    before = content_checksum(t.scan(spark))
    r1 = cluster(spark, t, job_id="cl-1")
    n1 = r1["partitions"]
    r2 = cluster(spark, t, job_id="cl-1")  # second run: nothing left
    assert r2["executed"] == []
    assert r2["partitions"] == n1  # log remembers all completed partitions
    assert content_checksum(t.scan(spark)) == before


@pytest.mark.parametrize("mode", ["zorder", "hilbert"])
def test_cluster_sorts_every_output_file_by_key(spark, tmp_path, mode):
    """Clustering keeps the content and leaves every output file sorted by
    its cluster key: FNV-1a hashes of the non-partition dims, bounds = the
    global n_tok min/max, the same derivation cluster() uses."""
    import os

    import pyarrow.parquet as pq

    from batch_pipeline_via_lakehouse_spark.functions.zorder import (
        fnv1a64,
        native_cluster_key,
    )

    t = Table.create(str(tmp_path / f"t-{mode}"), TOKEN_SCHEMA, partition_by=["source"])
    t.append(token_table_df(spark, 1200, seed=77), num_files=4)
    before = content_checksum(t.scan(spark))
    cluster(spark, t, mode=mode, target_bytes=2 * 1024 * 1024)
    assert content_checksum(t.scan(spark)) == before

    files = t.live_files()
    assert sum(f.rows for f in files) == 1200
    lo = min(f.stat("n_tok", "min") for f in files)
    hi = max(f.stat("n_tok", "max") for f in files)
    for f in files:
        tbl = pq.read_table(os.path.join(t.root, f.path), columns=["n_tok", "doc_id"])
        k = native_cluster_key(
            mode,
            tbl.column("n_tok").to_numpy(),
            [fnv1a64(tbl.column("doc_id"))],
            float(lo),
            float(hi),
        )
        assert np.all(np.diff(k) >= 0), f.path


def test_fnv1a64_deterministic_and_spread():
    import pyarrow as pa

    from batch_pipeline_via_lakehouse_spark.functions.zorder import fnv1a64

    arr = pa.chunked_array([pa.array(["a", "bb", "", "doc-00042"]), pa.array(["a"])])
    h = fnv1a64(arr)
    # reference FNV-1a 64 computed per spec
    def ref(s: bytes) -> int:
        x = 0xCBF29CE484222325
        for b in s:
            x = ((x ^ b) * 0x100000001B3) % (1 << 64)
        return x

    assert list(h) == [ref(b"a"), ref(b"bb"), ref(b""), ref(b"doc-00042"), ref(b"a")]
