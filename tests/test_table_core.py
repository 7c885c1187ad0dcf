"""M0: table create/append/scan/time-travel/overwrite.

Mirrors the reference's snapshot semantics exercise
(`notebooks/iceberg_curd/create_iceberg_table.ipynb` cells 6-11: three INSERT
commits, snapshot listing, SELECT ... FOR VERSION AS OF).
"""

from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from batch_pipeline_via_lakehouse_spark.datagen import TOKEN_SCHEMA, token_table_df
from batch_pipeline_via_lakehouse_spark.functions.checksums import content_checksum
from batch_pipeline_via_lakehouse_spark.operators.clustering import cluster
from batch_pipeline_via_lakehouse_spark.sources.scan import Pred, partition_key, prune_files
from batch_pipeline_via_lakehouse_spark.table import Table


def _tok_checksum(df):
    # order-insensitive content digest incl. exact token arrays
    return content_checksum(df, ["doc_id", "tokens", "n_tok", "source"])


def test_append_scan_timetravel(spark, tmp_path):
    t = Table.create(str(tmp_path / "tok"), TOKEN_SCHEMA, partition_by=["source"])

    s1 = t.append(token_table_df(spark, 500, seed=1), num_files=4)
    s2 = t.append(token_table_df(spark, 300, seed=2), num_files=2)
    s3 = t.append(token_table_df(spark, 200, seed=3), num_files=2)
    assert [s.snapshot_id for s in t.snapshots()] == [s1, s2, s3]
    assert t.current_snapshot_id() == s3

    assert t.scan(spark).count() == 1000
    assert t.scan(spark, snapshot_id=s1).count() == 500
    assert t.scan(spark, snapshot_id=s2).count() == 800

    # content fidelity: scan == generated, token arrays byte-equal
    gen = token_table_df(spark, 500, seed=1)
    assert _tok_checksum(t.scan(spark, snapshot_id=s1)) == _tok_checksum(gen)


def test_partition_values_in_manifest(spark, tmp_path):
    t = Table.create(str(tmp_path / "tok"), TOKEN_SCHEMA, partition_by=["source"])
    t.append(token_table_df(spark, 400, seed=7))
    files = t.live_files()
    assert files and all("source" in f.partition for f in files)
    # every file's rows actually match its manifest partition value
    one = files[0]
    df = t.read_files(spark, [one])
    vals = [r["source"] for r in df.select("source").distinct().collect()]
    assert vals == [one.partition["source"]]
    # stats present for scalar cols
    assert one.stat("n_tok", "min") is not None
    assert one.rows > 0 and one.bytes > 0


def test_overwrite_replaces_but_old_snapshot_readable(spark, tmp_path):
    t = Table.create(str(tmp_path / "tok"), TOKEN_SCHEMA)
    s1 = t.append(token_table_df(spark, 100, seed=1))
    t.overwrite(token_table_df(spark, 50, seed=2))
    assert t.scan(spark).count() == 50
    assert t.scan(spark, snapshot_id=s1).count() == 100


def test_generator_deterministic(spark):
    a = token_table_df(spark, 200, seed=42, num_partitions=2)
    b = token_table_df(spark, 200, seed=42, num_partitions=7)
    assert _tok_checksum(a) == _tok_checksum(b)
    assert a.schema == TOKEN_SCHEMA


def test_metadata_tables(spark, tmp_path):
    t = Table.create(str(tmp_path / "tok"), TOKEN_SCHEMA, partition_by=["source"])
    t.append(token_table_df(spark, 100, seed=1), num_files=2)
    t.append(token_table_df(spark, 50, seed=2, start=100))
    snaps = t.metadata_df(spark, "snapshots")
    assert snaps.count() == 2
    assert [r["operation"] for r in snaps.orderBy("snapshot_id").collect()] == ["append", "append"]
    files = t.metadata_df(spark, "files")
    assert files.count() == len(t.live_files())
    total = files.agg({"rows": "sum"}).collect()[0][0]
    assert total == 150


def _ts_rows(spark, lo, hi):
    """(doc_id, n_tok, source, ts) rows; ts walks 00:00 -> 15:56 UTC on
    2024-01-01 every 300 ids, so each write holds early and late rows."""
    ids = F.col("id")
    return spark.range(lo, hi).select(
        F.concat(F.lit("d"), ids.cast("string")).alias("doc_id"),
        ((ids * 7) % 50).cast("int").alias("n_tok"),
        F.element_at(F.array(F.lit("web"), F.lit("books"), F.lit("code")),
                     (ids % 3 + 1).cast("int")).alias("source"),
        F.timestamp_seconds(F.lit(1704067200) + (ids % 300) * 192).alias("ts"),
    )


def test_append_and_append_native_files_mix(spark, tmp_path):
    """One table filled by append() and append_native(): timestamp stats
    prune both writers' files, and cluster() (whose reduce concatenates
    batches of every input file) succeeds with the content unchanged."""
    import datetime as dt
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    sch = StructType([
        StructField("doc_id", StringType()),
        StructField("n_tok", IntegerType()),
        StructField("source", StringType()),
        StructField("ts", TimestampType()),
    ])
    t = Table.create(str(tmp_path / "t"), sch)
    t.append(_ts_rows(spark, 0, 300).repartitionByRange(4, "ts"))
    t.append_native(_ts_rows(spark, 300, 600).repartitionByRange(4, "ts"))
    files = t.live_files()
    assert len(files) == 8

    cut = dt.datetime(2024, 1, 1, 8)

    def true_max(f):
        v = pc.max(pq.read_table(os.path.join(t.root, f.path), columns=["ts"])
                   .column("ts")).as_py()
        return v.replace(tzinfo=None)

    early = {f.path for f in files if true_max(f) < cut}
    kept = {f.path for f in prune_files(files, [Pred("ts", ">=", "2024-01-01T08:00:00")])}
    assert early, "the range layout must leave some all-early files"
    assert kept == {f.path for f in files} - early

    before = content_checksum(t.scan(spark))
    cluster(spark, t)
    assert content_checksum(t.scan(spark)) == before
    assert sum(f.rows for f in t.live_files()) == 600


def test_partition_values_from_arrow(spark, tmp_path):
    """Identity-partition values render like the stats (an int 3 is "3", not
    pandas' "3.0"), equal values from different tasks share one partition
    key, and a null value is JSON null under Hive's default directory (not
    the string "nan", which would collide with a real "nan")."""
    sch = StructType([StructField("k", LongType()), StructField("y", IntegerType())])
    t = Table.create(str(tmp_path / "t"), sch, partition_by=["y"])
    # task 0 holds y = 3, null, 3; task 1 holds y = 3, 3, 3
    df = spark.range(0, 6, numPartitions=2).select(
        F.col("id").alias("k"),
        F.when(F.col("id") == 1, F.lit(None)).otherwise(F.lit(3)).cast("int").alias("y"),
    )
    t.append(df)
    files = t.live_files()
    threes = [f for f in files if f.partition == {"y": "3"}]
    nulls = [f for f in files if f.partition == {"y": None}]
    assert len(threes) == 2 and len({partition_key(f) for f in threes}) == 1
    assert len(nulls) == 1 and len(files) == 3
    assert "_p_y=__HIVE_DEFAULT_PARTITION__" in nulls[0].path
    got = sorted((r["k"], r["y"]) for r in t.scan(spark).collect())
    assert got == [(0, 3), (1, None), (2, 3), (3, 3), (4, 3), (5, 3)]


def test_every_write_path_uses_the_table_arrow_schema(spark, tmp_path):
    """append, overwrite, merge_scd1, merge_scd2, a stream micro-batch,
    compact and cluster all write files whose schema IS the table's one
    Arrow schema (no INT96 timestamp[ns], no per-writer nullability)."""
    import datetime as dt
    import glob
    import os

    import pyarrow.parquet as pq

    from batch_pipeline_via_lakehouse_spark.operators.compaction import compact
    from batch_pipeline_via_lakehouse_spark.operators.merge import merge_scd1, merge_scd2
    from batch_pipeline_via_lakehouse_spark.streaming.sink import batch_writer

    sch = StructType([
        StructField("doc_id", StringType(), False),
        StructField("n_tok", IntegerType(), False),
        StructField("source", StringType()),
        StructField("is_current", BooleanType()),
        StructField("start_ts", TimestampType()),
        StructField("end_ts", TimestampType()),
    ])
    t = Table.create(str(tmp_path / "t"), sch, partition_by=["source"])

    def rows(lo, hi, bump=0):
        return _ts_rows(spark, lo, hi).select(
            "doc_id",
            (F.col("n_tok") + bump).cast("int").alias("n_tok"),
            "source",
            F.lit(True).alias("is_current"),
            F.col("ts").alias("start_ts"),
            F.lit(None).cast("timestamp").alias("end_ts"),
        )

    t.append(rows(0, 40), num_files=2)
    t.overwrite(rows(0, 60), num_files=3)
    merge_scd1(spark, t, rows(50, 80, bump=1), key_cols=["doc_id"])
    merge_scd2(
        spark, t, rows(70, 90, bump=2).select("doc_id", "n_tok", "source"),
        key_cols=["doc_id"], tracked_cols=["n_tok", "source"],
        effective_ts=dt.datetime(2026, 1, 1),
    )
    batch_writer(t, "q-schema")(rows(100, 120), 0)
    assert compact(spark, t)["files_out"] >= 1
    cluster(spark, t)

    want = t.arrow_schema
    written = glob.glob(os.path.join(t.root, "data", "**", "*.parquet"), recursive=True)
    assert len(written) > len(t.live_files())  # replaced files are checked too
    for p in written:
        got = pq.read_schema(p)
        assert got.equals(want, check_metadata=False), (p, got, want)


def test_commit_reuses_untouched_manifests_by_name(spark, tmp_path):
    """commit() rewrites only the manifests holding a removed path: every
    other manifest, a zero-row one included, is carried by name; a manifest
    whose entries are all removed is dropped; the removed paths are gone and
    the remaining content is exactly the surviving files'."""
    import os

    import pyarrow.parquet as pq

    t = Table.create(str(tmp_path / "t"), TOKEN_SCHEMA, partition_by=["source"])
    for k in range(6):  # 6 append snapshots -> 6 manifests
        t.append(token_table_df(spark, 200, seed=300 + k), num_files=2)
    parent = t.current_snapshot_id()
    manifests = t.snapshot(parent).manifests
    assert len(manifests) == 6
    zero = "manifest-zerorow-test.parquet"
    src = pq.read_table(os.path.join(t.metadata_dir, manifests[0]))
    pq.write_table(src.slice(0, 0), os.path.join(t.metadata_dir, zero))
    t.publish_snapshot(parent, "append", [*manifests, zero], {})
    live = t.live_files()

    def paths_of(m):
        return sorted(pq.read_table(os.path.join(t.metadata_dir, m)).column("path").to_pylist())

    partly, wholly = paths_of(manifests[1]), paths_of(manifests[3])
    assert len(partly) > 1
    removed = {partly[0], *wholly}
    t.commit([], removed, "expire")

    after = t.snapshot(t.current_snapshot_id()).manifests
    untouched = [m for i, m in enumerate(manifests) if i not in (1, 3)] + [zero]
    rewritten = [m for m in after if m not in untouched]
    assert [m for m in after if m in untouched] == untouched  # reused by name
    assert len(rewritten) == 1  # manifests[1] rewritten, manifests[3] dropped
    assert paths_of(rewritten[0]) == partly[1:]
    survivors = [f for f in live if f.path not in removed]
    assert {f.path for f in t.live_files()} == {f.path for f in survivors}
    assert content_checksum(t.scan(spark)) == content_checksum(t.read_files(spark, survivors))


def test_commit_keeps_zero_row_manifest(spark, tmp_path):
    """A zero-row manifest untouched by the removal set is carried by NAME
    through commit(), not silently dropped, while the removal itself still
    lands in a rewritten manifest."""
    import os

    import pyarrow.parquet as pq

    t = Table.create(str(tmp_path / "t"), TOKEN_SCHEMA, partition_by=["source"])
    for k in range(3):
        t.append(token_table_df(spark, 200, seed=310 + k), num_files=2)
    parent = t.current_snapshot_id()
    manifests = t.snapshot(parent).manifests
    src = pq.read_table(os.path.join(t.metadata_dir, manifests[0]))
    zero = "manifest-zerorow-test.parquet"
    pq.write_table(src.slice(0, 0), os.path.join(t.metadata_dir, zero))
    t.publish_snapshot(parent, "append", [*manifests, zero], {})

    removed = {t.live_files()[0].path}
    t.commit([], removed, "expire")
    out = t.snapshot(t.current_snapshot_id()).manifests
    assert zero in out  # carried by name, not silently dropped
    kept_paths = set()
    for m in out:
        kept_paths |= set(pq.read_table(os.path.join(t.metadata_dir, m)).column("path").to_pylist())
    assert removed.isdisjoint(kept_paths)


def test_parsed_manifests_are_shared_across_loads(spark, tmp_path, monkeypatch):
    """A fresh ``Table.load`` re-reads no manifest another Table of the
    process already parsed; a manifest rewritten in place under the same
    name is read again; GC leaves none of the manifests it deleted cached."""
    import os

    import pyarrow.parquet as pq

    from batch_pipeline_via_lakehouse_spark.operators.expire import expire_snapshots
    from batch_pipeline_via_lakehouse_spark.operators.manifest import rewrite_manifests
    from batch_pipeline_via_lakehouse_spark.table import catalog

    root = str(tmp_path / "t")
    t = Table.create(root, TOKEN_SCHEMA, partition_by=["source"])
    for k in range(3):
        t.append(token_table_df(spark, 200, seed=320 + k), num_files=2)
    manifests = t.snapshot(t.current_snapshot_id()).manifests
    assert len(manifests) == 3

    reads = []
    read_manifest = catalog.read_manifest
    monkeypatch.setattr(
        catalog, "read_manifest", lambda d, name: reads.append(name) or read_manifest(d, name)
    )
    catalog.clear_manifest_cache()
    first = Table.load(root).live_files()
    assert sorted(reads) == sorted(manifests)
    reads.clear()
    assert Table.load(root).live_files() == first
    assert reads == []

    # same name, new content: one entry dropped, so the stamp's size changes
    path = os.path.join(t.metadata_dir, manifests[0])
    src = pq.read_table(path)
    pq.write_table(src.slice(1), path)
    after = Table.load(root).live_files()
    assert reads == [manifests[0]]
    assert len(after) == len(first) - 1
    assert src.column("path")[0].as_py() not in {f.path for f in after}

    rewrite_manifests(t)
    rep = expire_snapshots(t, gc=True, gc_grace_ms=0)
    assert rep["deleted_manifests"] == 3
    assert catalog._parsed_manifest.cache_info().currsize == 0
    reads.clear()
    assert {f.path for f in Table.load(root).live_files()} == {f.path for f in after}
    assert reads == t.snapshot(t.current_snapshot_id()).manifests
