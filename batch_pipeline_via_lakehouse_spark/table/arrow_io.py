"""Executor-side native Parquet writes for maintenance rewrites.

Spark's parquet writer compresses through the JVM (aircompressor) and forces
a driver-side glob + footer-stats pass afterwards. For maintenance rewrites
we instead let each task write its own output file with pyarrow (native
libzstd, ~2-5x faster compression) and emit its manifest entry as data —
one job in, manifest entries out, nothing to re-discover.

This is still the no-per-row-Python discipline: tasks move whole Arrow
record batches; Python never touches individual rows.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from urllib.parse import quote

from pyspark.sql import DataFrame

from .format import DataFile

_P = "_p_"  # shadow partition-column prefix in directory layout

# manifest entry of one written file, as the collected rows of a write job
META_SCHEMA = "path string, partition string, rows long, bytes long, stats string"


def partition_dir(commit_dir: str, partition: dict) -> str:
    """``<commit_dir>/_p_<col>=<quoted value>/...``: the directory of a data
    file, one level per identity-partition column in column-name order."""
    dirs = [f"{_P}{c}={quote(str(v), safe='')}" for c, v in sorted(partition.items())]
    return os.path.join(commit_dir, *dirs)


def _arrow_stats(tbl, tracked: list[str], sum_cols: list[str]) -> dict:
    import pyarrow.compute as pc

    from .stats import _jsonable

    stats: dict[str, dict] = {}
    for name in tracked:
        if name not in tbl.column_names:
            continue
        col = tbl.column(name)
        try:
            mm = pc.min_max(col).as_py()
            # normalize through the SAME serializer the footer-stats path
            # uses (isoformat datetimes): manifests must never mix value
            # encodings or string comparisons in Pred.may_match mis-order
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
    tracked: list[str], sum_cols: list[str],
) -> dict:
    """Executor side: write ``tbl`` as one zstd parquet file (level 1, the
    parquet-cpp default: rewrite outputs are re-rewritten by later
    maintenance, so compression CPU is a steady-state cost) under its
    partition directory; returns its manifest entry as a ``META_SCHEMA`` row."""
    import pyarrow.parquet as pq

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
    tracked: list[str],
    sum_cols: list[str],
) -> list[DataFile]:
    """Write ``df`` (already partitioned the way the caller wants) as one
    native-parquet file per (task, identity-partition value); returns
    manifest entries. The whole rewrite is ONE Spark job."""

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
            keys = tbl.select(partition_cols).to_pandas()
            groups = keys.groupby(partition_cols, sort=True, dropna=False).indices
            parts = []
            for pv, idx in groups.items():
                pv_tuple = pv if isinstance(pv, tuple) else (pv,)
                parts.append((pv_tuple, tbl.take(pa.array(np.sort(idx)))))
        else:
            parts = [((), tbl)]

        yield pa.RecordBatch.from_pylist([
            write_data_file(
                sub, table_root, commit_dir,
                dict(zip(partition_cols, [str(v) for v in pv_tuple])),
                f"part-{tid:05d}-{seq:03d}.zstd.parquet", tracked, sum_cols,
            )
            for seq, (pv_tuple, sub) in enumerate(parts)
        ])

    return [data_file(r) for r in df.mapInArrow(task, schema=META_SCHEMA).collect()]
