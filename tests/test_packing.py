"""Sequence packing: the distributed concatenate-then-chunk materializer must
equal the obvious single-threaded reference, and the pack_sequences roster
query must agree with the materialized windows."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from batch_pipeline_via_lakehouse_spark.plans.packing import pack_token_windows

SCHEMA = "doc_id long, tokens array<int>, n_tok int, source string"


def _mk(spark, docs):
    rows = [(i, toks, len(toks), src) for i, (src, toks) in enumerate(docs)]
    return spark.createDataFrame(rows, SCHEMA)


def _reference(docs, L, drop_partial=True):
    """Single-threaded truth: per source, concatenate in doc_id order, chunk."""
    by_src = {}
    for i, (src, toks) in enumerate(docs):
        by_src.setdefault(src, []).append((i, toks))
    out = {}
    for src, items in by_src.items():
        stream = [t for _, toks in sorted(items) for t in toks]
        for b in range(0, len(stream), L):
            chunk = stream[b : b + L]
            if drop_partial and len(chunk) < L:
                continue
            out[(src, b // L)] = chunk
    return out


def test_pack_token_windows_matches_reference(spark):
    L = 16
    docs = []
    v = 0
    import random

    rng = random.Random(7)
    for i in range(60):
        src = ("a", "b", "c")[i % 3]
        n = rng.choice([3, 5, 11, 16, 23, 40])  # spans 0..3 window boundaries
        docs.append((src, list(range(v, v + n))))
        v += n
    got = {
        (r.source, r.bin): list(r.tokens)
        for r in pack_token_windows(_mk(spark, docs), ctx_len=L).collect()
    }
    assert got == _reference(docs, L)


def test_pack_token_windows_keep_partial_and_empty_docs(spark):
    L = 8
    docs = [("a", [1, 2, 3]), ("a", []), ("a", [4, 5, 6, 7, 8, 9, 10])]
    full = pack_token_windows(_mk(spark, docs), ctx_len=L, drop_partial=False).collect()
    got = {(r.source, r.bin): list(r.tokens) for r in full}
    # 10 tokens total: window 0 full, window 1 partial (2 tokens)
    assert got == {("a", 0): [1, 2, 3, 4, 5, 6, 7, 8], ("a", 1): [9, 10]}
    dropped = pack_token_windows(_mk(spark, docs), ctx_len=L).collect()
    assert {(r.source, r.bin) for r in dropped} == {("a", 0)}


def test_pack_roster_consistent_with_windows(spark, tmp_path):
    """pack_sequences assigns each doc to the window its FIRST token lands
    in; re-deriving that roster from the raw docs must match the query."""
    from batch_pipeline_via_lakehouse_spark.plans.packing import _CTX, pack_sequences

    sf = "/root/testdata/sf0.001"
    roster = {
        (r.source, r.bin): (r.n_docs, r.n_tokens)
        for r in pack_sequences(spark, sf).collect()
    }
    d = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select(
            "doc_id",
            F.col("source").cast("string").alias("source"),
            F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tok"),
        )
        .collect()
    )
    by_src = {}
    for r in sorted(d, key=lambda r: (r.source, r.doc_id)):
        off = by_src.setdefault(r.source, [0])[-1]
        by_src[r.source].append(off + r.n_tok)
    expect = {}
    for src, rows in [(s, [r for r in d if r.source == s]) for s in by_src]:
        off = 0
        for r in sorted(rows, key=lambda r: r.doc_id):
            key = (src, off // _CTX)
            n, t = expect.get(key, (0, 0))
            expect[key] = (n + 1, t + r.n_tok)
            off += r.n_tok
    assert roster == expect


def test_pack_token_windows_offsets_past_2_31(spark):
    """Window ids/offsets must be 64-bit: a source whose cumulative token
    offset passes 2^31 (routine at corpus scale) must still bin correctly —
    int math here used to wrap to negative bins silently."""
    L = 1 << 24  # 16M-token windows keep the explode small
    # doc 0 advances the stream to exactly 2^31 tokens (empty payload is fine:
    # packing reads offsets from n_tok, slices from tokens); doc 1 lands there
    rows = [(0, [], 1 << 31, "a"), (1, list(range(1, 11)), 10, "a")]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>, n_tok long, source string")
    out = {
        r.bin: list(r.tokens)
        for r in pack_token_windows(df, ctx_len=L, drop_partial=False).collect()
    }
    assert min(out) >= 0  # no wrapped/negative window ids
    assert out[(1 << 31) // L] == list(range(1, 11))


def test_offsets_match_single_window_path(spark):
    """The bucketed distributed prefix sum must equal the obvious single
    window-per-source cumsum, doc for doc."""
    from pyspark.sql import Window

    from batch_pipeline_via_lakehouse_spark.plans.packing import _with_start_offsets

    import random

    rng = random.Random(11)
    rows = [
        (i, [], rng.choice([0, 3, 17, 256]), ("a", "b", "c", "d")[i % 4])
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    got = {
        r.doc_id: r._start
        for r in _with_start_offsets(df, n_buckets=7).collect()
    }
    legacy = df.withColumn(
        "_start",
        F.sum("n_tok").over(Window.partitionBy("source").orderBy("doc_id"))
        - F.col("n_tok"),
    )
    exp = {r.doc_id: r._start for r in legacy.collect()}
    assert got == exp


def test_offset_window_is_size_adaptive(spark, monkeypatch):
    """Scale shape: ABOVE the single-window threshold every window in the
    packing plan partitions by (source, _bkt) — the cumsum parallelizes by
    bucket count, not source count. Below it (the metadata pass proves every
    source fits one task) the plan uses one plain per-source window and none
    of the bucket machinery."""
    import re

    from batch_pipeline_via_lakehouse_spark.plans import packing

    def specs_of():
        df = packing.pack_sequences(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        specs = re.findall(r"windowspecdefinition\([^)]*\)", plan)
        assert specs, plan[:3000]
        return specs

    # big-source regime: force the bucketed path
    monkeypatch.setattr(packing, "_SINGLE_WINDOW_MAX_ROWS", 0)
    for s in specs_of():
        assert "_bkt" in s, s
    # small-source regime: plain per-source window, no bucket column
    monkeypatch.setattr(packing, "_SINGLE_WINDOW_MAX_ROWS", 1 << 20)
    for s in specs_of():
        assert "_bkt" not in s and "_sk" in s, s


def _token_docs(n):
    import random

    rng = random.Random(23)
    docs = []
    v = 0
    for i in range(n):
        ntok = rng.choice([0, 3, 9, 21, 40])
        docs.append(
            (f"{i:06d}", list(range(v, v + ntok)), ntok, ("web", "books")[i % 2])
        )
        v += ntok
    return docs


def test_pack_table_windows_manifest_offsets(spark, tmp_path):
    """Catalog path: base offsets come from manifest n_tok sum stats (zero
    offset passes); the per-FILE window cumsum must reproduce the generic
    path bit-for-bit on a sorted, range-partitioned layout."""
    from batch_pipeline_via_lakehouse_spark.plans.packing import (
        pack_table_windows,
        pack_token_windows,
    )
    from batch_pipeline_via_lakehouse_spark.datagen import TOKEN_SCHEMA
    from batch_pipeline_via_lakehouse_spark.table import Table

    t = Table.create(str(tmp_path / "tok"), TOKEN_SCHEMA, partition_by=["source"])
    df = spark.createDataFrame(
        _token_docs(200), "doc_id string, tokens array<int>, n_tok int, source string"
    ).repartitionByRange(4, "source", "doc_id")
    t.commit(t.write_datafiles(df.sortWithinPartitions("doc_id")), set(), "append")
    assert len(t.live_files()) > 2  # the parity below spans multiple files

    fast = pack_table_windows(spark, t, ctx_len=16)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "_relpath" in plan and "_bkt" not in plan  # manifest path, no quantile pass
    generic = pack_token_windows(
        t.scan(spark).select(
            "doc_id",
            F.col("source").cast("string").alias("source"),
            "tokens",
            F.col("n_tok").cast("long").alias("n_tok"),
        ),
        ctx_len=16,
    )
    got = {(r.source, r.bin): list(r.tokens) for r in fast.collect()}
    exp = {(r.source, r.bin): list(r.tokens) for r in generic.collect()}
    assert got == exp and got


def test_pack_table_windows_fallback_on_overlap(spark, tmp_path):
    """Two appends covering the same doc_id range overlap per source — the
    soundness gate must reject the per-file layout and fall back to the
    generic bucketed path, with identical output."""
    from batch_pipeline_via_lakehouse_spark.plans.packing import (
        pack_table_windows,
        pack_token_windows,
    )
    from batch_pipeline_via_lakehouse_spark.datagen import TOKEN_SCHEMA
    from batch_pipeline_via_lakehouse_spark.table import Table

    t = Table.create(str(tmp_path / "tok"), TOKEN_SCHEMA, partition_by=["source"])
    docs = _token_docs(120)
    # each source's docs split across both appends with interleaved doc_ids
    # -> per-source min/max ranges overlap between the two commits' files
    for part in (
        [d for i, d in enumerate(docs) if i % 4 < 2],
        [d for i, d in enumerate(docs) if i % 4 >= 2],
    ):
        t.append(
            spark.createDataFrame(
                part, "doc_id string, tokens array<int>, n_tok int, source string"
            )
        )
    fast = pack_table_windows(spark, t, ctx_len=16)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    # fell back to the generic offsets path (no manifest base offsets); at
    # this size the generic path itself takes the single-window form
    assert "_relpath" not in plan and "_sk" in plan
    generic = pack_token_windows(
        t.scan(spark).select(
            "doc_id",
            F.col("source").cast("string").alias("source"),
            "tokens",
            F.col("n_tok").cast("long").alias("n_tok"),
        ),
        ctx_len=16,
    )
    got = {(r.source, r.bin): list(r.tokens) for r in fast.collect()}
    exp = {(r.source, r.bin): list(r.tokens) for r in generic.collect()}
    assert got == exp and got


def test_offsets_keep_null_source_group(spark):
    """NULL source is a real group (the single-window form kept it as its
    own partition): the bucketed path must not drop those rows through its
    inner metadata joins."""
    from pyspark.sql import Window

    from batch_pipeline_via_lakehouse_spark.plans.packing import _with_start_offsets

    rows = [(0, [], 5, None), (1, [], 3, "a"), (2, [], 7, None), (3, [], 2, "a")]
    df = spark.createDataFrame(rows, SCHEMA)
    got = {r.doc_id: r._start for r in _with_start_offsets(df, n_buckets=3).collect()}
    legacy = df.withColumn(
        "_start",
        F.sum("n_tok").over(Window.partitionBy("source").orderBy("doc_id"))
        - F.col("n_tok"),
    )
    exp = {r.doc_id: r._start for r in legacy.collect()}
    assert got == exp and len(got) == 4


def test_offsets_supplementary_plane_doc_ids(spark):
    """String doc_ids containing supplementary-plane characters trip the
    defensive collation guard (UTF-16-comparing collations order surrogate
    pairs below U+E000 while their UTF-8 bytes sort above; Spark 4's default
    UTF8_BINARY happens to agree with the byte ordinal, but the guard holds
    regardless): the affected source collapses to a single bucket and still
    produces exact offsets; unaffected sources keep their buckets."""
    from pyspark.sql import Window

    from batch_pipeline_via_lakehouse_spark.plans.packing import _with_start_offsets

    # U+10000 sorts BELOW U+F900 in Spark (UTF-16 code units) but its UTF-8
    # bytes (F0 90 ...) sort above (EF A4 ...) — the adversarial pair
    ids = ["\U00010000aa", "豈bb", "a", "b", "\U0001f600zz", "c"]
    rows = [(d, [], (i + 1) * 3, "s") for i, d in enumerate(ids)]
    rows += [(f"x{i}", [], i + 1, "plain") for i in range(6)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    got = {r.doc_id: r._start for r in _with_start_offsets(df, n_buckets=4).collect()}
    legacy = df.withColumn(
        "_start",
        F.sum("n_tok").over(Window.partitionBy("source").orderBy("doc_id"))
        - F.col("n_tok"),
    )
    exp = {r.doc_id: r._start for r in legacy.collect()}
    assert got == exp and len(got) == 12


def test_pack_table_windows_null_mix_falls_back(spark, tmp_path):
    """A file mixing NULL and non-NULL source passes the min==max stat check
    (min/max manifest stats ignore NULLs) — the null-count gate must reject
    the manifest fast path, fall back to the generic bucketed path, and keep
    the NULL-source rows as their own stream."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from batch_pipeline_via_lakehouse_spark.plans.packing import (
        pack_table_windows,
        pack_token_windows,
    )
    from batch_pipeline_via_lakehouse_spark.table import Table

    sch = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("tokens", ArrayType(IntegerType(), False), False),
            StructField("n_tok", IntegerType(), False),
            StructField("source", StringType(), True),
        ]
    )
    t = Table.create(str(tmp_path / "tok"), sch, partition_by=[])
    docs = [
        (f"{i:04d}", list(range(i * 3, i * 3 + 3)), 3, None if i % 3 == 0 else "web")
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, sch).coalesce(1)
    t.commit(t.write_datafiles(df.sortWithinPartitions("doc_id")), set(), "append")
    fast = pack_table_windows(spark, t, ctx_len=16)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    # null-count gate forced the generic offsets path (single-window form
    # at this size), not the manifest fast path
    assert "_relpath" not in plan and "_sk" in plan
    generic = pack_token_windows(
        t.scan(spark).select(
            "doc_id",
            F.col("source").cast("string").alias("source"),
            "tokens",
            F.col("n_tok").cast("long").alias("n_tok"),
        ),
        ctx_len=16,
    )
    got = {(r.source, r.bin): list(r.tokens) for r in fast.collect()}
    exp = {(r.source, r.bin): list(r.tokens) for r in generic.collect()}
    assert got == exp and got
    assert any(src is None for src, _ in got)  # NULL stream survived


def test_bucketed_and_single_window_offsets_agree(spark, monkeypatch):
    """The size-adaptive switch must be invisible in the results: the
    bucketed two-level prefix sum and the plain per-source window produce
    identical pack_sequences/pack_windows outputs."""
    from batch_pipeline_via_lakehouse_spark.plans import packing

    def rows(fn):
        return sorted(tuple(r) for r in fn(spark, "/root/testdata/sf0.001").collect())

    monkeypatch.setattr(packing, "_SINGLE_WINDOW_MAX_ROWS", 0)
    bucketed_seq = rows(packing.pack_sequences)
    bucketed_win = rows(packing.pack_windows)
    monkeypatch.setattr(packing, "_SINGLE_WINDOW_MAX_ROWS", 1 << 20)
    assert rows(packing.pack_sequences) == bucketed_seq
    assert rows(packing.pack_windows) == bucketed_win
