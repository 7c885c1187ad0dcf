"""Per-file column statistics, collected footer-only and distributed.

After a write, the engine needs (rows, bytes, min/max per scalar column) for
every new data file to build manifests. Scanning the data again would double
the write cost, so stats come from Parquet footers (row-group metadata) —
a metadata-only read.

The footer reads run as a Spark job (``mapInPandas`` over a DataFrame of
paths), not a driver loop: at 100 TB a commit can add tens of thousands of
files and the footer fetches should fan out across executors. Python here is
per-FILE (metadata), never per-row, so the no-per-row-Python rule holds.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import json
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.types import StringType, StructField, StructType

_STATS_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("rows", StringType()),
        StructField("bytes", StringType()),
        StructField("stats", StringType()),
    ]
)


def _jsonable(v):
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


_SUM_TYPES = {"INT32", "INT64", "FLOAT", "DOUBLE"}


def _file_stats(
    path: str, tracked: list[str] | None, sum_cols: list[str] | None = None
) -> tuple[int, int, dict]:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    md = pf.metadata
    rows = md.num_rows
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    nulls: dict[str, int] = {}
    summable: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested (e.g. tokens.list.element) — opaque payload
                continue
            if tracked is not None and name not in tracked:
                continue
            if str(col.physical_type) in _SUM_TYPES:
                summable.add(name)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            lo, hi = _jsonable(st.min), _jsonable(st.max)
            if name not in mins or lo < mins[name]:
                mins[name] = lo
            if name not in maxs or hi > maxs[name]:
                maxs[name] = hi
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
    stats = {
        c: {"min": mins.get(c), "max": maxs.get(c), "nulls": nulls.get(c, 0)}
        for c in set(mins) | set(maxs)
    }
    # column sums (e.g. n_tok -> token totals per file): one columnar read of
    # the requested columns, recorded in the manifest so maintenance jobs get
    # per-partition token metrics for free (no extra Spark job)
    for c in sum_cols or []:
        if c in summable:
            t = pf.read(columns=[c])
            stats.setdefault(c, {"min": None, "max": None, "nulls": 0})["sum"] = _jsonable(
                pc.sum(t.column(c)).as_py()
            )
    return rows, os.path.getsize(path), stats


def collect_file_stats(
    spark: SparkSession,
    paths: list[str],
    tracked: list[str] | None = None,
    sum_cols: list[str] | None = None,
) -> dict[str, tuple[int, int, dict]]:
    """path -> (rows, bytes, stats-dict), computed executor-side."""
    if not paths:
        return {}
    if len(paths) <= 8:  # not worth a job; footer reads are ~ms each
        return {p: _file_stats(p, tracked, sum_cols) for p in paths}

    pdf = pd.DataFrame({"path": paths})
    # one task per slot: a task spends ~1 ms per footer, so more tasks only
    # add scheduling waves
    df = spark.createDataFrame(pdf).repartition(
        min(len(paths), spark.sparkContext.defaultParallelism)
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for p in b["path"]:
                rows, nbytes, stats = _file_stats(p, tracked, sum_cols)
                out.append((p, str(rows), str(nbytes), json.dumps(stats, default=str)))
            yield pd.DataFrame(out, columns=["path", "rows", "bytes", "stats"])

    result = df.mapInPandas(compute, schema=_STATS_SCHEMA).collect()
    return {r["path"]: (int(r["rows"]), int(r["bytes"]), json.loads(r["stats"])) for r in result}
