"""Manifest pruning + incremental reads (S3/P6/A2/S5 equivalents)."""

from batch_pipeline_via_lakehouse_spark.datagen import TOKEN_SCHEMA, token_table_df
from batch_pipeline_via_lakehouse_spark.functions.checksums import content_checksum
from batch_pipeline_via_lakehouse_spark.sources.scan import (
    Pred,
    column_max,
    prune_files,
    scan_with_pruning,
)
from batch_pipeline_via_lakehouse_spark.streaming.incremental import read_incremental
from batch_pipeline_via_lakehouse_spark.table import Table


def test_partition_pruning_is_exact(spark, tmp_path):
    """String and integer identity partitions prune to exactly the matching
    files, and the pruned scan equals the unpruned filter. The manifest
    records partition values as strings, so an int predicate must prune on
    the file's typed min/max, not on that string."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType, StructField, StructType

    by_source = Table.create(str(tmp_path / "s"), TOKEN_SCHEMA, partition_by=["source"])
    by_source.append(token_table_df(spark, 1500, seed=5), num_files=4)
    int_schema = StructType([*TOKEN_SCHEMA.fields, StructField("y", IntegerType(), False)])
    by_int = Table.create(str(tmp_path / "i"), int_schema, partition_by=["y"])
    by_int.append(
        token_table_df(spark, 1500, seed=5).withColumn("y", (F.col("n_tok") % 7).cast("int")),
        num_files=4,
    )
    cases = [
        (by_source, Pred("source", "=", "wiki"), "source = 'wiki'", {"wiki"}),
        (by_int, Pred("y", "=", 4), "y = 4", {"4"}),
        (by_int, Pred("y", "<", 3), "y < 3", {"0", "1", "2"}),
        (by_int, Pred("y", "between", 5, 9), "y between 5 and 9", {"5", "6"}),
    ]
    for t, pred, sql, values in cases:
        all_files = t.live_files()
        exact = [f for f in all_files if f.partition[pred.col] in values]
        assert 0 < len(exact) < len(all_files), pred
        assert prune_files(all_files, [pred]) == exact, pred

        df = scan_with_pruning(spark, t, [pred])
        expected = t.scan(spark).filter(sql)
        assert content_checksum(df) == content_checksum(expected), pred


def test_minmax_stat_pruning_sound_and_effective(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), TOKEN_SCHEMA)
    # sorted-by-n_tok layout -> tight n_tok ranges per file -> pruning bites
    df = token_table_df(spark, 2000, seed=6).repartitionByRange(8, "n_tok")
    files = t.write_datafiles(df)
    t.commit(files, set(), "append")

    preds = [Pred("n_tok", ">=", 4000)]
    pruned = prune_files(t.live_files(), preds)
    assert len(pruned) < len(t.live_files())  # skipped at metadata level
    got = scan_with_pruning(spark, t, preds)
    expected = t.scan(spark).filter("n_tok >= 4000")
    assert content_checksum(got) == content_checksum(expected)


def test_column_max_from_manifests_no_scan(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), TOKEN_SCHEMA)
    t.append(token_table_df(spark, 500, seed=7))
    expected = t.scan(spark).agg({"n_tok": "max"}).collect()[0][0]
    assert column_max(t, "n_tok") == expected


def test_incremental_read_between_snapshots(spark, tmp_path):
    from batch_pipeline_via_lakehouse_spark.operators.compaction import compact

    t = Table.create(str(tmp_path / "t"), TOKEN_SCHEMA, partition_by=["source"])
    s1 = t.append(token_table_df(spark, 300, seed=1), num_files=3)
    s2 = t.append(token_table_df(spark, 200, seed=2), num_files=3)
    # maintenance between appends must not pollute the delta
    compact(spark, t, target_bytes=8 * 1024 * 1024)
    t.append(token_table_df(spark, 100, seed=3), num_files=2)

    delta = read_incremental(spark, t, since_snapshot=s1)
    assert delta.count() == 300  # the seed=2 and seed=3 appends only
    d2 = read_incremental(spark, t, since_snapshot=s2)
    assert d2.count() == 100
    full = read_incremental(spark, t, since_snapshot=None)
    assert full.count() == 600


def test_warm_pruned_scan_plan_budget(spark, tmp_path, monkeypatch):
    """Planning a 2-predicate pruned scan on a fresh ``Table.load`` of a warm
    table reads no manifest and issues at most 40 py4j commands (with
    PySpark's per-Column call-site capture on, the same plan issues over
    100). Three files survive the pruning and each path costs one command."""
    from py4j.clientserver import ClientServerConnection

    from batch_pipeline_via_lakehouse_spark.table import catalog

    root = str(tmp_path / "t")
    t = Table.create(root, TOKEN_SCHEMA, partition_by=["source"])
    for k in range(3):
        t.append(token_table_df(spark, 400, seed=40 + k), num_files=1)
    preds = [Pred("source", "=", "wiki"), Pred("n_tok", "between", 100, 2000)]
    assert len(prune_files(t.live_files(), preds)) == 3
    scan_with_pruning(spark, Table.load(root), preds)  # warm

    reads, commands = [], []
    read_manifest = catalog.read_manifest
    monkeypatch.setattr(
        catalog, "read_manifest", lambda d, name: reads.append(name) or read_manifest(d, name)
    )
    send_command = ClientServerConnection.send_command

    def counting_send_command(self, command):
        commands.append(command)
        return send_command(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting_send_command)
    df = scan_with_pruning(spark, Table.load(root), preds)
    monkeypatch.undo()
    assert reads == []
    assert len(commands) <= 40, len(commands)
    expected = t.scan(spark).filter("source = 'wiki' and n_tok between 100 and 2000")
    assert content_checksum(df) == content_checksum(expected)
