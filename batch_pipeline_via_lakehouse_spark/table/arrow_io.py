"""Executor-side native Parquet writes: the engine's only data-file writer.

Every write -- append, overwrite, MERGE, the stream sink, compaction and
clustering -- lets each task write its own output files with pyarrow (native
libzstd) and emit their manifest entries as data: one job in, manifest
entries out, no JVM writer and no footer pass to re-discover what was
written. Every file is cast to the table's one Arrow schema, so files from
different operators always concatenate.

This is still the no-per-row-Python discipline: tasks move whole Arrow
record batches; Python never touches individual rows.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import json
import os
from collections.abc import Iterator
from urllib.parse import quote

from pyspark.sql import DataFrame

from .format import DataFile

_P = "_p_"  # partition-column prefix in the directory layout
# directory value of a null identity-partition value (Hive's spelling)
_NULL_DIR = "__HIVE_DEFAULT_PARTITION__"

# manifest entry of one written file, as the collected rows of a write job
META_SCHEMA = "path string, partition string, rows long, bytes long, stats string"


def _jsonable(v):
    """One JSON encoding for stats and partition values: isoformat
    datetimes, utf-8 (else hex) bytes, float decimals."""
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return v.hex()
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, _decimal.Decimal):
        return float(v)
    return v


def partition_dir(commit_dir: str, partition: dict) -> str:
    """``<commit_dir>/_p_<col>=<quoted value>/...``: the directory of a data
    file, one level per identity-partition column in column-name order."""
    dirs = [
        f"{_P}{c}={_NULL_DIR if v is None else quote(str(v), safe='')}"
        for c, v in sorted(partition.items())
    ]
    return os.path.join(commit_dir, *dirs)


def _arrow_stats(tbl, tracked: list[str], sum_cols: list[str]) -> dict:
    import pyarrow.compute as pc

    stats: dict[str, dict] = {}
    for name in tracked:
        if name not in tbl.column_names:
            continue
        col = tbl.column(name)
        try:
            mm = pc.min_max(col).as_py()
            # one serializer for every file (isoformat datetimes): manifests
            # must never mix value encodings or string comparisons in
            # Pred.may_match mis-order
            entry = {
                "min": _jsonable(mm["min"]),
                "max": _jsonable(mm["max"]),
                "nulls": col.null_count,
            }
        except Exception:  # noqa: BLE001 — unorderable type: keep file, no pruning
            continue
        if name in sum_cols:
            entry["sum"] = _jsonable(pc.sum(col).as_py())
        stats[name] = entry
    return stats


def write_data_file(
    tbl, table_root: str, commit_dir: str, partition: dict, name: str,
    schema, tracked: list[str], sum_cols: list[str],
) -> dict:
    """Executor side: write ``tbl`` cast to the table's Arrow ``schema`` as
    one zstd parquet file (level 1, the parquet-cpp default: rewrite outputs
    are re-rewritten by later maintenance, so compression CPU is a
    steady-state cost) under its partition directory; returns its manifest
    entry as a ``META_SCHEMA`` row. The cast is zero-copy when only field
    nullability or list-element names differ, and it drops schema metadata
    such as the cell index of clustering's staged runs."""
    import pyarrow.parquet as pq

    tbl = tbl.cast(schema)
    rel = os.path.join(partition_dir(commit_dir, partition), name)
    abs_path = os.path.join(table_root, rel)
    os.makedirs(os.path.dirname(abs_path), exist_ok=True)
    pq.write_table(tbl, abs_path, compression="zstd", compression_level=1)
    return {
        "path": rel,
        "partition": json.dumps(partition, sort_keys=True),
        "rows": tbl.num_rows,
        "bytes": os.path.getsize(abs_path),
        "stats": json.dumps(_arrow_stats(tbl, tracked, sum_cols), default=str),
    }


def data_file(row) -> DataFile:
    """The DataFile of one collected ``META_SCHEMA`` row."""
    return DataFile(
        path=row["path"],
        partition=json.loads(row["partition"]),
        rows=row["rows"],
        bytes=row["bytes"],
        stats=json.loads(row["stats"]),
    )


def arrow_rewrite_job(
    df: DataFrame,
    table_root: str,
    commit_dir: str,
    partition_cols: list[str],
    schema,
    tracked: list[str],
    sum_cols: list[str],
) -> list[DataFile]:
    """Write ``df`` (already partitioned the way the caller wants) as one
    native-parquet file per (task, identity-partition value); returns
    manifest entries. The whole write is ONE Spark job. Partition values
    are recorded as ``str(_jsonable(v))`` -- the stats encoding -- and a
    null one as JSON null."""

    def task(batches: Iterator) -> Iterator:
        import numpy as np
        import pyarrow as pa
        from pyspark import TaskContext

        # one OS thread per task (pyarrow pools default to hardware
        # concurrency per worker -> 32x oversubscription at local[32])
        pa.set_cpu_count(1)
        tid = TaskContext.get().partitionId()
        batch_list = list(batches)
        if not batch_list:
            return
        tbl = pa.Table.from_batches(batch_list)

        if partition_cols:
            groups = (
                tbl.select(partition_cols)
                .append_column("_i", pa.array(np.arange(tbl.num_rows, dtype=np.int64)))
                .group_by(partition_cols, use_threads=False)
                .aggregate([("_i", "list")])
            )
            values = groups.select(partition_cols).to_pylist()
            parts = [
                ({c: None if v is None else str(_jsonable(v)) for c, v in pv.items()},
                 tbl.take(idx.values))
                for pv, idx in zip(values, groups.column("_i_list"))
            ]
        else:
            parts = [({}, tbl)]

        yield pa.RecordBatch.from_pylist([
            write_data_file(
                sub, table_root, commit_dir, partition,
                f"part-{tid:05d}-{seq:03d}.zstd.parquet", schema, tracked, sum_cols,
            )
            for seq, (partition, sub) in enumerate(parts)
        ])

    return [data_file(r) for r in df.mapInArrow(task, schema=META_SCHEMA).collect()]
