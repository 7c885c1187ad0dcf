"""Property-based invariant: ANY sequence of maintenance ops preserves the
logical table content vs a naive in-memory model (SURVEY.md §5.2 item 3)."""

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from batch_pipeline_via_lakehouse_spark.datagen import TOKEN_SCHEMA, token_table_df
from batch_pipeline_via_lakehouse_spark.functions.checksums import content_checksum
from batch_pipeline_via_lakehouse_spark.operators.clustering import cluster
from batch_pipeline_via_lakehouse_spark.operators.compaction import compact
from batch_pipeline_via_lakehouse_spark.operators.expire import expire_snapshots
from batch_pipeline_via_lakehouse_spark.operators.manifest import rewrite_manifests
from batch_pipeline_via_lakehouse_spark.operators.merge import merge_scd1
from batch_pipeline_via_lakehouse_spark.table import Table

OPS = st.lists(
    st.sampled_from(["append", "compact", "cluster", "merge", "expire", "rewrite-manifests"]),
    min_size=3,
    max_size=6,
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(ops=OPS, seed=st.integers(min_value=0, max_value=10_000))
def test_random_op_sequence_preserves_content(spark, tmp_path_factory, ops, seed):
    t = Table.create(
        str(tmp_path_factory.mktemp("prop") / "t"), TOKEN_SCHEMA, partition_by=["source"]
    )
    # in-memory model: dict doc_id -> row-hash
    t.append(token_table_df(spark, 200, seed=seed), num_files=3)
    model_df = token_table_df(spark, 200, seed=seed)
    next_start = 200

    for i, op in enumerate(ops):
        if op == "append":
            t.append(token_table_df(spark, 50, seed=seed + i, start=next_start), num_files=2)
            model_df = model_df.unionByName(
                token_table_df(spark, 50, seed=seed + i, start=next_start)
            )
            next_start += 50
        elif op == "compact":
            compact(spark, t, target_bytes=4 * 1024 * 1024)
        elif op == "cluster":
            cluster(spark, t, mode="zorder", target_bytes=4 * 1024 * 1024)
        elif op == "merge":
            src = token_table_df(spark, 30, seed=seed + 100 + i, start=10)
            merge_scd1(spark, t, src, key_cols=["doc_id"])
            model_df = src.unionByName(model_df.join(src, "doc_id", "left_anti"))
        elif op == "expire":
            expire_snapshots(t, retain_last=2, gc=True, gc_grace_ms=0)
        elif op == "rewrite-manifests":
            rewrite_manifests(t)

    got = content_checksum(t.scan(spark))
    # model may contain duplicate doc_ids only via appends with overlapping
    # ranges — starts are disjoint, merges dedup, so direct compare holds
    exp = content_checksum(model_df)
    assert got == exp, f"content diverged after {ops}"
    # structural sanity: live file set is consistent with what's on disk
    import os

    for f in t.live_files():
        assert os.path.exists(os.path.join(t.root, f.path))
