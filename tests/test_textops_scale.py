"""Scale-shape assertions for the near-dup text operators.

These tests pin the PLAN, not just the output: the LSH pipeline must compute
the expensive grams aggregation exactly once, and the Jaccard inverted index
must survive a corpus where one boilerplate shingle is shared by every doc.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from batch_pipeline_via_lakehouse_spark.plans.textops import (
    _DF_CAP,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)

SF_DIR = "/root/testdata/sf0.001"


def test_lsh_plan_has_single_grams_aggregation(spark):
    """The banding must not replicate the minhash signature aggregation:
    one explode-of-band-structs pass, not a 4-branch union (4x agg) or a
    self-join (2x agg)."""
    df = minhash_lsh_pairs(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # each evaluation of the signature aggregation shows up as one Aggregate
    # over the grams explode; count the m0 permutation's affine coefficient
    from batch_pipeline_via_lakehouse_spark.plans.textops import _MH_COEF

    n_sig_aggs = plan.count(str(_MH_COEF[0][0]))
    assert n_sig_aggs == 1, f"signature aggregation appears {n_sig_aggs}x in plan:\n{plan[:4000]}"
    # and there is no join anywhere: pairs come from in-bucket expansion
    assert "Join" not in plan


def test_langid_is_shuffle_free(spark):
    """langid is a per-document projection: higher-order filter/size over the
    split array, no explode and no Exchange anywhere in the plan (the former
    explode+groupBy form shuffled the entire token stream)."""
    from batch_pipeline_via_lakehouse_spark.plans.textops import langid

    plan = langid(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:4000]
    assert "Generate" not in plan  # no explode


def test_lsh_pairs_match_reference_semantics(spark):
    """In-bucket pair expansion == the naive band self-join, bit for bit."""
    from batch_pipeline_via_lakehouse_spark.plans.textops import minhash_signature

    sig = minhash_signature(spark, SF_DIR)
    bands = None
    for i in range(4):
        part = sig.select(
            "doc_id",
            F.lit(i).alias("band"),
            F.concat_ws("_", F.col(f"m{2*i}"), F.col(f"m{2*i+1}")).alias("key"),
        )
        bands = part if bands is None else bands.unionByName(part)
    a, b = bands.alias("a"), bands.alias("b")
    naive = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    got = {(r.d1, r.d2) for r in minhash_lsh_pairs(spark, SF_DIR).collect()}
    exp = {(r.d1, r.d2) for r in naive.collect()}
    assert got == exp


def test_jaccard_survives_hot_shingle(spark, tmp_path):
    """A shingle shared by ALL docs must not produce an n^2 candidate blowup:
    the df cap drops it before the self-join, and near-dup pairs that share
    real (rare) shingles are still found."""
    n = _DF_CAP * 3  # hot shingle df = 3x the cap
    hot = "the quick brown"  # one trigram shared by every doc
    rows = []
    for i in range(n):
        # docs 0 and 1 are near-identical (share their unique tail trigrams)
        tail = "alpha beta gamma delta epsilon" if i <= 1 else f"uniq{i}a uniq{i}b uniq{i}c uniq{i}d uniq{i}e"
        rows.append((i, f"{hot} {tail}"))
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "n_chars", F.length("text")
    )
    p = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(p)
    # the loader reads {sf_dir}/documents.parquet
    pairs = ngram_jaccard_pairs(spark, str(tmp_path)).collect()
    got = {(r.d1, r.d2) for r in pairs}
    # docs 0,1: grams after hot-drop = identical 6-shingle tails -> jaccard 1.0
    assert (0, 1) in got
    # no pair should exist purely via the hot shingle
    assert all(p == (0, 1) for p in got)


import pytest


@pytest.mark.parametrize("durable", [False, True])
def test_connected_components_transitive_chain(spark, tmp_path, durable):
    """Keeper resolution must be TRANSITIVE: a chain 1-2-3-...-8 (each link a
    pair, ends sharing nothing) all maps to vertex 1; a separate clique maps
    to its min; singletons keep their own id. The 8-link chain exercises
    multiple propagation rounds (diameter > 1). Parametrized over both
    checkpoint modes: executor-local (default) and the durable
    checkpoint_dir mode that survives executor loss."""
    from batch_pipeline_via_lakehouse_spark.plans.textops import connected_components

    verts = spark.createDataFrame([(v,) for v in range(1, 15)], "v long")
    chain = [(i, i + 1) for i in range(1, 8)]          # 1..8 chain
    clique = [(10, 11), (10, 12), (11, 12)]            # 10..12 clique
    edges = spark.createDataFrame(chain + clique, "a long, b long")
    kw = {"checkpoint_dir": str(tmp_path / "cc-ckpt")} if durable else {}
    got = {r.v: r.lbl for r in connected_components(verts, edges, **kw).collect()}
    if durable:
        import os
        assert os.listdir(str(tmp_path / "cc-ckpt"))  # reliable files written
    assert got == {
        **{v: 1 for v in range(1, 9)},
        **{v: 10 for v in (10, 11, 12)},
        9: 9, 13: 13, 14: 14,
    }


def test_dedup_clusters_matches_pairwise_closure(spark):
    """dedup_clusters == transitive closure of minhash_lsh_pairs, computed
    independently with a driver-side union-find over the collected pairs."""
    from batch_pipeline_via_lakehouse_spark.plans.textops import (
        dedup_clusters,
        minhash_lsh_pairs,
    )

    pairs = [(r.d1, r.d2) for r in minhash_lsh_pairs(spark, SF_DIR).collect()]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    got = {r.doc_id: r.cluster for r in dedup_clusters(spark, SF_DIR).collect()}
    for doc, cluster in got.items():
        exp = min(
            m for m in got if find(m) == find(doc)
        ) if doc in parent else doc
        assert cluster == exp, (doc, cluster, exp)


def _long_chain_labels(spark, textops, n=200):
    verts = spark.createDataFrame([(v,) for v in range(1, n + 2)], "v long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "a long, b long"
    )
    got = {r.v: r.lbl for r in textops.connected_components(verts, chain).collect()}
    return got, {**{v: 1 for v in range(1, n + 1)}, n + 1: n + 1}


def test_connected_components_long_chain_pointer_doubling(spark, monkeypatch):
    """A 200-node path (diameter 199) must converge WELL under the 20-round
    cap via pointer doubling — plain propagation would need 199 rounds."""
    from batch_pipeline_via_lakehouse_spark.plans import textops

    monkeypatch.setattr(textops, "_CC_SMALL_MAX_EDGES", 0)
    got, want = _long_chain_labels(spark, textops)
    assert got == want


def test_connected_components_private_api_fallback(spark, monkeypatch):
    """If the private-API fresh-stats rebuild raises, every round falls back
    to the plain checkpointed frame: the long-chain loop still converges to
    identical labels."""
    from batch_pipeline_via_lakehouse_spark.plans import textops

    failed = []

    def broken(ck):
        failed.append(ck)
        raise AttributeError("internalCreateDataFrame")

    monkeypatch.setattr(textops, "_CC_SMALL_MAX_EDGES", 0)
    monkeypatch.setattr(textops, "_fresh_stats_frame", broken)
    got, want = _long_chain_labels(spark, textops)
    assert got == want
    assert len(failed) >= 2  # the init round and at least one loop round


def test_connected_components_raises_past_round_cap(spark, monkeypatch):
    """A component whose diameter exceeds the round cap must raise, never
    return silently-wrong clusters."""
    from batch_pipeline_via_lakehouse_spark.plans import textops

    monkeypatch.setattr(textops, "_CC_SMALL_MAX_EDGES", 0)
    monkeypatch.setattr(textops, "_CC_MAX_ITERS", 2)
    verts = spark.createDataFrame([(v,) for v in range(1, 9)], "v long")
    chain = spark.createDataFrame([(i, i + 1) for i in range(1, 8)], "a long, b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        textops.connected_components(verts, chain)


def test_connected_components_small_path_matches_loop(spark, monkeypatch):
    """The single-task union-find fast path must produce IDENTICAL labels to
    the distributed doubling loop on an adversarial random graph (chains,
    cliques, self-loops, duplicate + reversed edges, singletons)."""
    import random

    from batch_pipeline_via_lakehouse_spark.plans import textops

    rng = random.Random(7)
    n = 400
    edges = [(i, i + 1) for i in range(1, 60)]               # long chain
    edges += [(a, b) for a in range(100, 110) for b in range(a + 1, 110)]  # clique
    edges += [(rng.randrange(1, n), rng.randrange(1, n)) for _ in range(300)]
    edges += [(b, a) for a, b in edges[:50]] + [(5, 5)]      # reversed + self
    verts = spark.createDataFrame([(v,) for v in range(1, n + 1)], "v long")
    e = spark.createDataFrame(edges, "a long, b long")
    fast = {r.v: r.lbl for r in textops.connected_components(verts, e).collect()}
    monkeypatch.setattr(textops, "_CC_SMALL_MAX_EDGES", 0)
    loop = {r.v: r.lbl for r in textops.connected_components(verts, e).collect()}
    assert fast == loop


def test_cc_min_label_kernel_min_semantics():
    """Kernel-level check (no Spark): labels are the component MIN, sorted
    unique vertex order, including a path that needs multiple hook rounds."""
    import numpy as np

    from batch_pipeline_via_lakehouse_spark.plans.textops import _cc_min_label_kernel

    # path 9-8-7-...-1 given in worst-case (descending) order + island 20-21
    a = np.array([9, 8, 7, 6, 5, 4, 3, 2, 20], dtype=np.int64)
    b = np.array([8, 7, 6, 5, 4, 3, 2, 1, 21], dtype=np.int64)
    u, lbl = _cc_min_label_kernel(a, b)
    assert list(u) == [1, 2, 3, 4, 5, 6, 7, 8, 9, 20, 21]
    assert list(lbl) == [1] * 9 + [20, 20]


def test_cc_small_path_rejects_null_endpoints():
    """The single-task union-find (no Spark) must refuse a null endpoint
    rather than cast it to an arbitrary int64 vertex id."""
    import pyarrow as pa
    import pytest

    from batch_pipeline_via_lakehouse_spark.plans.textops import _cc_uf_task

    batch = pa.RecordBatch.from_pydict(
        {"a": pa.array([1, None], pa.int64()), "b": pa.array([2, 3], pa.int64())}
    )
    with pytest.raises(ValueError, match="non-null"):
        list(_cc_uf_task(iter([batch])))


def test_repetition_ratio_is_shuffle_free(spark):
    """The repetition gate is a per-document projection — no explode, no
    Exchange (same scale class as langid)."""
    from batch_pipeline_via_lakehouse_spark.plans.textops import repetition_ratio

    plan = repetition_ratio(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Generate" not in plan, plan[:3000]


def test_decontaminate_broadcasts_eval_side(spark):
    """The eval-gram set must broadcast (benchmark-sized), so the corpus gram
    stream is filtered map-side — never re-sharded on the shingle."""
    from batch_pipeline_via_lakehouse_spark.plans.textops import decontaminate

    import re

    plan = decontaminate(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan
    # pin the shuffle set exactly: one hashpartitioning on the EVAL side's
    # distinct (g) + one for the final per-doc count — the corpus gram
    # stream itself is never re-sharded
    parts = re.findall(r"Exchange hashpartitioning\(([^,)]+)", plan)
    assert len(parts) == 2 and any("doc_id" in p for p in parts) and any(
        p.startswith("g#") for p in parts
    ), parts


def test_gram_pipelines_survive_short_docs(spark, tmp_path):
    """Documents with fewer than 3 words must flow through every trigram
    pipeline without error (Spark 4 ANSI mode aborts on out-of-bounds array
    indexing — the unguarded sequence(0,-1) form indexed w[-1]) and without
    phantom NULL grams."""
    from batch_pipeline_via_lakehouse_spark.plans.textops import (
        decontaminate,
        minhash_signature,
        ngram_jaccard_pairs,
        repetition_ratio,
    )

    rows = [
        (0, "alpha beta gamma delta"),   # doc_id % 97 == 0 -> eval set
        (1, "only two"),
        (2, "x"),
        (3, "alpha beta gamma shared"),  # shares 'alpha beta gamma' with eval
        (97, ""),                        # eval doc with no real words
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "n_chars", F.length("text")
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)

    contaminated = {r.doc_id for r in decontaminate(spark, sf).collect()}
    assert contaminated == {3}  # short docs pass through, real hit found
    rr = {r.doc_id: (r.n_grams, r.passes) for r in repetition_ratio(spark, sf).collect()}
    assert rr[1] == (0, False) and rr[2] == (0, False) and rr[0][0] == 2
    sig = minhash_signature(spark, sf).collect()  # short docs: no gram rows
    assert {r.doc_id for r in sig} == {0, 3}
    assert ngram_jaccard_pairs(spark, sf).count() >= 0  # runs clean


def test_connected_components_unpersists_round_checkpoints(spark, monkeypatch):
    """Executor storage must hold a BOUNDED number of label sets: each
    round's localCheckpoint is explicitly unpersisted once the next round
    materializes, so a long-diameter run cannot accumulate one checkpointed
    RDD per round (ADVICE r05)."""
    from batch_pipeline_via_lakehouse_spark.plans import textops

    monkeypatch.setattr(textops, "_CC_SMALL_MAX_EDGES", 0)
    sc = spark.sparkContext
    before = {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}
    n = 120  # long chain -> many rounds
    verts = spark.createDataFrame([(v,) for v in range(1, n + 1)], "v long")
    chain = spark.createDataFrame([(i, i + 1) for i in range(1, n)], "a long, b long")
    got = textops.connected_components(verts, chain)
    assert got.filter("lbl <> 1").count() == 0
    after = {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}
    new = after - before
    # the final round's checkpoint (and at most the in-flight previous one)
    # may remain; a leak would leave one RDD per round (>= 7 for n=120)
    assert len(new) <= 3, f"leaked {len(new)} persistent RDDs: {sorted(new)}"
