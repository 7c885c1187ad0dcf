"""M4: MERGE INTO (SCD1/SCD2) — semantics vs independent oracle, CoW minimality."""

import datetime

from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from batch_pipeline_via_lakehouse_spark.datagen import TOKEN_SCHEMA, token_table_df
from batch_pipeline_via_lakehouse_spark.functions.checksums import content_checksum
from batch_pipeline_via_lakehouse_spark.operators.merge import dedup_source, merge_scd1, merge_scd2
from batch_pipeline_via_lakehouse_spark.table import Table

COLS = ["doc_id", "tokens", "n_tok", "source"]


def test_scd1_upsert_matches_oracle(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), TOKEN_SCHEMA)
    target = token_table_df(spark, 500, seed=1)
    t.append(target)
    pre_sid = t.current_snapshot_id()
    pre = content_checksum(t.scan(spark), COLS)

    # source: 100 updated rows (doc 0..99, new payload) + 50 brand-new docs
    updates = token_table_df(spark, 100, seed=99)
    news = token_table_df(spark, 50, seed=98).withColumn(
        "doc_id", F.concat(F.lit("new-"), F.col("doc_id"))
    )
    source = updates.unionByName(news)

    merge_scd1(spark, t, source, key_cols=["doc_id"])

    # oracle: src ∪ (target anti src)  (update-all-columns semantics)
    expected = source.unionByName(target.join(source, "doc_id", "left_anti"))
    got = t.scan(spark)
    assert got.count() == 550
    assert content_checksum(got, COLS) == content_checksum(expected, COLS)
    # snapshot isolation: pre-merge snapshot unchanged
    assert content_checksum(t.scan(spark, snapshot_id=pre_sid), COLS) == pre


def test_scd1_copy_on_write_touches_only_matching_files(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), TOKEN_SCHEMA)
    # cluster by doc_id so keys are file-local
    df = token_table_df(spark, 2000, seed=2).repartitionByRange(10, "doc_id")
    t.commit(t.write_datafiles(df), set(), "append")
    n_files = len(t.live_files())

    source = token_table_df(spark, 40, seed=77)  # doc-...0000..0039: one range
    r = merge_scd1(spark, t, source, key_cols=["doc_id"])
    assert r["affected_files"] < n_files // 2
    assert r["carried_files"] == n_files - r["affected_files"]
    assert t.scan(spark).count() == 2000  # pure update, no inserts


def test_scd1_unchanged_rows_do_not_churn(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), TOKEN_SCHEMA)
    t.append(token_table_df(spark, 300, seed=3))
    before = content_checksum(t.scan(spark), COLS)
    # identical source -> content identical after merge
    merge_scd1(spark, t, token_table_df(spark, 300, seed=3), key_cols=["doc_id"])
    assert content_checksum(t.scan(spark), COLS) == before


def test_dedup_source_keeps_latest(spark):
    src = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("b", 1, 30)], ["k", "ver", "v"]
    )
    out = dedup_source(src, ["k"], ["ver"]).collect()
    got = {r["k"]: (r["ver"], r["v"]) for r in out}
    assert got == {"a": (2, 20), "b": (1, 30)}


SCD2_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("n_tok", IntegerType()),
        StructField("source", StringType()),
        StructField("is_current", BooleanType()),
        StructField("start_ts", TimestampType()),
        StructField("end_ts", TimestampType()),
    ]
)


def _scd2_src(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "n_tok", "source"])


def test_scd2_versions(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), SCD2_SCHEMA)
    ts0 = datetime.datetime(2026, 1, 1)
    ts1 = datetime.datetime(2026, 2, 1)
    ts2 = datetime.datetime(2026, 3, 1)

    init = _scd2_src(spark, [("a", 10, "web"), ("b", 20, "wiki")]).select(
        "*",
        F.lit(True).alias("is_current"),
        F.lit(ts0).alias("start_ts"),
        F.lit(None).cast("timestamp").alias("end_ts"),
    )
    t.append(init)

    # change a, keep b, add c
    merge_scd2(
        spark, t,
        _scd2_src(spark, [("a", 11, "web"), ("b", 20, "wiki"), ("c", 30, "code")]),
        key_cols=["doc_id"], tracked_cols=["n_tok", "source"], effective_ts=ts1,
    )
    rows = {(r["doc_id"], r["n_tok"], r["is_current"], r["start_ts"], r["end_ts"])
            for r in t.scan(spark).collect()}
    assert ("a", 10, False, ts0, ts1) in rows      # closed old version
    assert ("a", 11, True, ts1, None) in rows      # new current
    assert ("b", 20, True, ts0, None) in rows      # untouched
    assert ("c", 30, True, ts1, None) in rows      # brand-new key
    assert len(rows) == 4

    # idempotent re-merge: same source, nothing changes
    merge_scd2(
        spark, t,
        _scd2_src(spark, [("a", 11, "web"), ("b", 20, "wiki"), ("c", 30, "code")]),
        key_cols=["doc_id"], tracked_cols=["n_tok", "source"], effective_ts=ts2,
    )
    assert t.scan(spark).count() == 4
    assert t.scan(spark).filter("is_current").count() == 3


def test_scd1_and_scd2_reports_agree(spark, tmp_path):
    """Both MERGE modes run the one plan -> rewrite -> commit -> log frame:
    the same report keys and the same snapshot-summary keys."""
    t1 = Table.create(str(tmp_path / "t1"), TOKEN_SCHEMA)
    t1.append(token_table_df(spark, 50, seed=1))
    r1 = merge_scd1(spark, t1, token_table_df(spark, 10, seed=2), key_cols=["doc_id"])

    t2 = Table.create(str(tmp_path / "t2"), SCD2_SCHEMA)
    ts0 = datetime.datetime(2026, 1, 1)
    t2.append(spark.createDataFrame([("a", 10, "web", True, ts0, None)], SCD2_SCHEMA))
    r2 = merge_scd2(
        spark, t2, _scd2_src(spark, [("a", 11, "web"), ("b", 1, "wiki")]),
        key_cols=["doc_id"], tracked_cols=["n_tok", "source"],
    )
    assert r1.keys() == r2.keys()
    s1 = t1.snapshot(r1["snapshot"]).summary
    s2 = t2.snapshot(r2["snapshot"]).summary
    assert s1.keys() == s2.keys()
    assert (s2["mode"], s2["carried-files"]) == ("scd2", r2["carried_files"])
    assert r2["written_files"] == s2["added-files"] >= 1


def test_scd1_salted_equals_unsalted(spark, tmp_path):
    """Hot-duplicate-key target: salted path must produce identical content,
    including a null-key row, which matches null-safe inside the salted
    join."""
    # target with one hot key: 400 duplicate rows of doc-0 + 200 normal rows
    hot = token_table_df(spark, 400, seed=5).withColumn("doc_id", F.lit("hot-doc"))
    normal = token_table_df(spark, 200, seed=6)

    def null_key(df):
        return df.withColumn("doc_id", F.lit(None).cast("string"))

    for salt in ("a", "b"):
        t = Table.create(str(tmp_path / f"t-{salt}"), TOKEN_SCHEMA)
        t.append(hot.unionByName(normal).unionByName(null_key(token_table_df(spark, 1, seed=11))))
        src = token_table_df(spark, 50, seed=9).unionByName(
            token_table_df(spark, 1, seed=10).withColumn("doc_id", F.lit("hot-doc"))
        ).unionByName(null_key(token_table_df(spark, 1, seed=12)))
        merge_scd1(
            spark, t, src, key_cols=["doc_id"],
            salt_buckets=8 if salt == "a" else None,
        )
        assert t.scan(spark).count() == 601  # every source key matched
        if salt == "a":
            salted_out = content_checksum(t.scan(spark), COLS)
        else:
            unsalted_out = content_checksum(t.scan(spark), COLS)
    assert salted_out == unsalted_out
    # all 400 hot duplicates updated to the single source payload


def test_scd1_null_key_updates_not_duplicates(spark, tmp_path):
    """Planning must be null-safe like the rewrite: a target file whose only
    match is a null-key row must be classified affected, so the null-key
    source row UPDATES it instead of being inserted as a duplicate."""
    t = Table.create(str(tmp_path / "t"), TOKEN_SCHEMA)
    base = token_table_df(spark, 20, seed=4)
    with_null = base.unionByName(
        token_table_df(spark, 1, seed=41).withColumn("doc_id", F.lit(None).cast("string"))
    )
    t.append(with_null)
    assert t.scan(spark).count() == 21

    src = token_table_df(spark, 1, seed=42).withColumn(
        "doc_id", F.lit(None).cast("string")
    ).withColumn("source", F.lit("updated-src"))
    r = merge_scd1(spark, t, src, key_cols=["doc_id"])
    got = t.scan(spark)
    assert got.count() == 21, "null-key row must update in place, not duplicate"
    assert got.filter(F.col("doc_id").isNull()).count() == 1
    assert got.filter(F.col("doc_id").isNull()).select("source").first()[0] == "updated-src"
    assert r["affected_files"] >= 1


def test_merge_candidates_stats_and_nulls():
    """Pure stats pre-prune logic: range overlap, null-key handling, and
    missing-stats soundness."""
    from batch_pipeline_via_lakehouse_spark.operators.merge import _merge_candidates
    from batch_pipeline_via_lakehouse_spark.table.format import DataFile

    def mk(p, lo, hi, nulls):
        return DataFile(
            path=p, partition={}, rows=1, bytes=1,
            stats={"k": {"min": lo, "max": hi, "nulls": nulls}},
        )

    a, b, c = mk("a", 0, 10, 0), mk("b", 20, 30, 0), mk("c", 40, 50, 3)
    nostats = DataFile(path="d", partition={}, rows=1, bytes=1, stats={})
    # source keys 5..8, no nulls -> only a (+ d: missing stats keeps the file)
    got = {f.path for f in _merge_candidates([a, b, c, nostats], {"k": (5, 8, False)})}
    assert got == {"a", "d"}
    # source has a null key -> null-safe match: null-having files (c) join in
    got = {f.path for f in _merge_candidates([a, b, c, nostats], {"k": (5, 8, True)})}
    assert got == {"a", "c", "d"}
    # all-null source keys -> only null-having + unknown-stats files
    got = {f.path for f in _merge_candidates([a, b, c, nostats], {"k": (None, None, True)})}
    assert got == {"c", "d"}


def test_merge_planning_never_opens_stats_pruned_files(spark, tmp_path, monkeypatch):
    """Files whose key-column manifest stats cannot overlap the source key
    range are never read during MERGE planning (metadata-only pruning), yet
    classification and results are identical to the unpruned plan."""
    from batch_pipeline_via_lakehouse_spark.operators import merge as M

    def build(name):
        t = Table.create(str(tmp_path / name), TOKEN_SCHEMA)
        df = token_table_df(spark, 2000, seed=2).repartitionByRange(10, "doc_id")
        t.commit(t.write_datafiles(df), set(), "append")
        return t

    t = build("t")
    live = t.live_files()
    source = token_table_df(spark, 40, seed=77)  # low doc-id range only
    b = source.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    smin, smax = b[0], b[1]
    out_of_range = {
        f.path
        for f in live
        if f.stat("doc_id", "max") < smin or f.stat("doc_id", "min") > smax
    }
    assert out_of_range  # the range layout actually creates prunable files

    calls = []
    orig = Table.read_files

    def spy(self, spark_, files):
        calls.append({f.path for f in files})
        return orig(self, spark_, files)

    monkeypatch.setattr(Table, "read_files", spy)
    r = merge_scd1(spark, t, source, key_cols=["doc_id"])
    # first read_files call is the planning key-scan: stats-pruned files are
    # never opened there (nor anywhere later — they are carried by manifest)
    assert calls and not (calls[0] & out_of_range)
    assert not any(p in call for call in calls for p in out_of_range)
    assert out_of_range <= {f.path for f in t.live_files()}  # carried, live
    monkeypatch.undo()

    # identical classification + content vs the unpruned plan
    t2 = build("t2")
    monkeypatch.setattr(M, "_merge_candidates", lambda live_, stats_: list(live_))
    r2 = merge_scd1(spark, t2, source, key_cols=["doc_id"])
    monkeypatch.undo()
    assert r["affected_files"] == r2["affected_files"]
    assert r["carried_files"] == r2["carried_files"]
    assert content_checksum(t.scan(spark), COLS) == content_checksum(t2.scan(spark), COLS)


def test_scd2_salted_equals_unsalted(spark, tmp_path):
    """Hot-key SCD2 target (hundreds of closed versions of one key): the
    salted close/insert passes must produce byte-identical table content to
    the default full joins — including a null-key row, which rides the
    null-safe unsalted path."""
    ts0 = datetime.datetime(2026, 1, 1)
    ts1 = datetime.datetime(2026, 2, 1)
    hist = [("hot", 100 + i, "web", False, ts0, ts0) for i in range(300)]
    cur = [
        ("hot", 999, "web", True, ts0, None),
        ("b", 20, "wiki", True, ts0, None),
        (None, 7, "chat", True, ts0, None),
    ]
    src = _scd2_src(
        spark, [("hot", 1000, "web"), ("c", 30, "code"), (None, 8, "chat")]
    )
    outs = {}
    for name, salt in (("salted", 8), ("plain", None)):
        t = Table.create(str(tmp_path / f"t2-{name}"), SCD2_SCHEMA)
        t.append(spark.createDataFrame(hist + cur, SCD2_SCHEMA))
        merge_scd2(
            spark, t, src, key_cols=["doc_id"], tracked_cols=["n_tok", "source"],
            effective_ts=ts1, salt_buckets=salt,
        )
        outs[name] = content_checksum(
            t.scan(spark), ["doc_id", "n_tok", "source", "is_current", "start_ts", "end_ts"]
        )
        # semantic spot checks on each path independently
        rows = {
            (r.doc_id, r.n_tok, r.is_current) for r in t.scan(spark).collect()
        }
        assert ("hot", 999, False) in rows     # hot current closed
        assert ("hot", 1000, True) in rows     # hot new version
        assert ("c", 30, True) in rows         # brand-new key
        assert (None, 8, True) in rows         # null key updated, not dup
        assert (None, 7, False) in rows
        assert t.scan(spark).count() == len(hist) + len(cur) + 3
    assert outs["salted"] == outs["plain"]

