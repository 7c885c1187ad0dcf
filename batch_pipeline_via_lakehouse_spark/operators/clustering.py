"""Z-order / Hilbert clustering rewrite.

The physical-layout operator the reference never has (SURVEY.md §2.6 note:
"the new engine's Z-order pass is exactly a global sort"): compute a
space-filling-curve key over (n_tok, hash(source), hash(doc_id)), then
``repartitionByRange(num_files, zkey).sortWithinPartitions(zkey)`` and
rewrite. Range partitioning samples the key distribution, so skewed sources
still yield balanced output files; the key itself is hash-mixed, which
de-clusters hot source values across ranges.

Partitioned tables cluster within each identity partition over the remaining
dims (what Iceberg's sort-order rewrite does); unpartitioned tables cluster
globally in 3 dims. The payoff is measurable, not aesthetic: post-cluster
manifests carry tight per-file min/max on the sort dims, so point/range scans
skip most files (asserted in tests).
"""

from __future__ import annotations

import contextlib
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..session import in_callers_context
from ..sources.scan import partition_key
from ..table.catalog import Table
from ..table.format import DataFile
from ..functions.zorder import cluster_key_column
from .commitlog import CommitLog

_KEY = "_zkey"


def cluster(
    spark: SparkSession,
    table: Table,
    mode: str = "zorder",  # zorder | hilbert
    numeric_col: str = "n_tok",
    hash_cols: tuple[str, ...] = ("source", "doc_id"),
    target_bytes: int = 128 * 1024 * 1024,
    job_id: str | None = None,
    snapshot_id: int | None = None,
    max_concurrency: int | None = None,
    key_impl: str = "jvm",  # 'jvm' codegen key (default) | 'arrow' NumPy UDF
    impl: str = "native",  # 'native' staged exchange (default) | 'spark' row shuffle
) -> dict:
    """Rewrite the table clustered by a Z/Hilbert key; one commit + commit-log
    entry per identity partition (resumable with the same ``job_id``).

    ``impl='native'`` (default) runs the staged-exchange rewrite: map tasks
    read data files with pyarrow, key rows vectorized, and stage one sorted
    run per range cell; reduce tasks merge each cell's runs into its final
    file. No table row ever crosses the JVM row format — see
    ``_cluster_native``. ``impl='spark'`` keeps the DataFrame shuffle path.

    ``max_concurrency`` and ``key_impl`` only shape the DataFrame path; the
    native exchange derives its own parallelism (#files / #cells) and always
    keys in NumPy, so passing either with ``impl='native'`` warns instead of
    being silently ignored."""
    if impl == "native":
        if max_concurrency is not None or key_impl != "jvm":
            import warnings

            warnings.warn(
                "cluster(impl='native') ignores max_concurrency/key_impl: the "
                "staged exchange parallelizes by #files/#cells and keys in "
                "NumPy; use impl='spark' to control those knobs",
                stacklevel=2,
            )
        return _cluster_native(
            spark, table, mode, numeric_col, hash_cols, target_bytes, job_id, snapshot_id
        )
    return _cluster_spark(
        spark, table, mode, numeric_col, hash_cols, target_bytes, job_id,
        snapshot_id, max_concurrency, key_impl,
    )


def _cluster_spark(
    spark: SparkSession,
    table: Table,
    mode: str,
    numeric_col: str,
    hash_cols: tuple[str, ...],
    target_bytes: int,
    job_id: str | None,
    snapshot_id: int | None,
    max_concurrency: int | None,
    key_impl: str,
) -> dict:
    """DataFrame-shuffle clustering rewrite (quantile cells + hash shuffle +
    Arrow write). Correct everywhere, but on hosts where the JVM data path of
    wide array rows is the bottleneck the native staged exchange wins."""
    job_id = job_id or f"cluster-{mode}-{uuid.uuid4().hex[:12]}"
    log = CommitLog(table.root, job_id)
    meta = log.init_job(
        {"base_snapshot": snapshot_id if snapshot_id is not None else table.current_snapshot_id(),
         "mode": mode}
    )
    base = meta["base_snapshot"]

    from ..sources.scan import live_files_slim

    # full-stats parse of every manifest row is the driver's only O(#files)
    # CPU here; above the plan threshold the listing strips stats to the two
    # columns clustering needs (bounds dim + token metric) executor-side
    files = live_files_slim(spark, table, base, stat_cols=(numeric_col, "n_tok"))
    if not files:
        return {"job_id": job_id, "partitions": 0, "tokens": 0, "rows": 0, "seconds": 0.0}

    # scale bounds for the numeric dim come from manifests (metadata only)
    los = [f.stat(numeric_col, "min") for f in files if f.stat(numeric_col, "min") is not None]
    his = [f.stat(numeric_col, "max") for f in files if f.stat(numeric_col, "max") is not None]
    lo, hi = (float(min(los)), float(max(his))) if los else (0.0, 1.0)

    # inside an identity partition the partition col is constant — drop it
    # from the key dims so its bits don't waste key space
    part_cols = set(table.partition_cols)
    by_part: dict[str, list[DataFile]] = {}
    for f in files:
        by_part.setdefault(partition_key(f), []).append(f)

    done = log.completed_partitions()
    has_tokens = "n_tok" in table.schema.fieldNames()
    commit_mutex = threading.Lock()
    if max_concurrency is None:
        # bundles (below) are already wide range-shuffle jobs; a few
        # concurrent ones saturate the executors, and more only adds driver
        # GIL/py4j contention (measured: conc=16 tripled wall vs conc=4)
        max_concurrency = 4

    # --- bundle small partitions into few balanced jobs -------------------
    # One Spark job per identity partition would pay a fixed latency (range
    # sampling stage + shuffle stage + commit) 20+ times; with a skewed
    # partition layout most of those jobs are tiny, so the wall clock becomes
    # overhead-bound and stops scaling with cores. Instead: greedily pack
    # partitions into <= max_concurrency byte-balanced bundles and range-
    # partition each bundle on (partition cols..., zkey) — partition locality
    # is preserved by the composite sort key and the partitionBy write.
    todo = [(pk, pfiles) for pk, pfiles in by_part.items() if pk not in done]
    todo.sort(key=lambda kv: sum(f.bytes for f in kv[1]), reverse=True)
    bundles: list[list[tuple[str, list[DataFile]]]] = [[] for _ in range(max_concurrency)]
    bundle_bytes = [0] * max_concurrency
    for pk, pfiles in todo:
        i = bundle_bytes.index(min(bundle_bytes))
        bundles[i].append((pk, pfiles))
        bundle_bytes[i] += sum(f.bytes for f in pfiles)
    bundles = [b for b in bundles if b]

    dims = [c for c in hash_cols if c not in part_cols]
    key = cluster_key_column(mode, numeric_col, dims, lo, hi, impl=key_impl)

    # --- range bounds WITHOUT Spark's sampling pass ------------------------
    # repartitionByRange's sampler materializes full rows (token arrays
    # included) in an extra pass — measured ~4x the cost of the shuffle
    # itself. Instead: one column-pruned aggregate computes per-partition
    # zkey quantiles (reads only the key's input columns), rows get an exact
    # range-cell id from those bounds, and a plain hash shuffle on the cell
    # id moves each row once. The Arrow writer splits tasks per cell, so
    # every output file still covers one tight zkey range.
    _QUANT = 128
    probs = [i / _QUANT for i in range(1, _QUANT)]
    todo_pks = {pk for b in bundles for pk, _ in b}
    all_files = [f for b in bundles for _, fl in b for f in fl]
    slim = table.read_files(spark, all_files).withColumn(_KEY, key)
    grp = slim.groupBy(*table.partition_cols) if table.partition_cols else slim.groupBy()
    qrows = grp.agg(F.percentile_approx(_KEY, probs, 10_000).alias("q")).collect()

    def pk_of(row) -> str:
        import json as _json

        return _json.dumps({c: str(row[c]) for c in table.partition_cols}, sort_keys=True)

    bounds_by_pk: dict[str, list[int]] = {}
    for r in qrows:
        pk = pk_of(r)
        if pk not in todo_pks:
            continue
        nb = max(1, round(sum(f.bytes for f in by_part[pk]) / target_bytes))
        qs = [int(v) for v in (r["q"] or [])]
        step = max(1, len(qs) // nb) if nb > 1 else len(qs) + 1
        bounds_by_pk[pk] = qs[step - 1 :: step][: nb - 1] if nb > 1 else []

    def pid_expr() -> F.Column:
        """Vectorized range-cell assignment: np.searchsorted against each
        partition's bounds (an Arrow pandas UDF — a 20-partition × 40-bound
        CASE/aggregate expression tree would blow past codegen limits and
        fall back to per-row interpretation)."""
        import json as _json

        from pyspark.sql.functions import pandas_udf

        part_cols_l = list(table.partition_cols)
        bounds_arr = {
            tuple(_json.loads(pk).get(c) for c in part_cols_l): np.array(b, dtype=np.int64)
            for pk, b in bounds_by_pk.items()
        }

        def assign(key: pd.Series, pcols: list[pd.Series]) -> pd.Series:
            out = np.zeros(len(key), dtype=np.int32)
            k = key.to_numpy(dtype=np.int64)
            pvals = pd.MultiIndex.from_arrays([p.astype(str) for p in pcols])
            codes, uniques = pd.factorize(pvals)
            for ui, u in enumerate(uniques):
                b = bounds_arr.get(u if isinstance(u, tuple) else (u,))
                if b is None or len(b) == 0:
                    continue
                mask = codes == ui
                out[mask] = np.searchsorted(b, k[mask], side="left")
            return pd.Series(out)

        if len(part_cols_l) == 1:

            @pandas_udf("int")
            def pid_udf1(key: pd.Series, p0: pd.Series) -> pd.Series:
                return assign(key, [p0])

            return pid_udf1(F.col(_KEY), F.col(part_cols_l[0]))

        if len(part_cols_l) == 2:

            @pandas_udf("int")
            def pid_udf2(key: pd.Series, p0: pd.Series, p1: pd.Series) -> pd.Series:
                return assign(key, [p0, p1])

            return pid_udf2(F.col(_KEY), F.col(part_cols_l[0]), F.col(part_cols_l[1]))

        if part_cols_l:
            raise NotImplementedError("clustering supports at most 2 identity-partition columns")

        b_global = next(iter(bounds_arr.values()), np.array([], dtype=np.int64))

        @pandas_udf("int")
        def pid_udf0(key: pd.Series) -> pd.Series:
            if len(b_global) == 0:
                return pd.Series(np.zeros(len(key), dtype=np.int32))
            return pd.Series(
                np.searchsorted(b_global, key.to_numpy(dtype=np.int64), side="left").astype(np.int32)
            )

        return pid_udf0(F.col(_KEY))

    def run_bundle(bundle: list[tuple[str, list[DataFile]]]) -> list[dict]:
        t0 = time.monotonic()
        pfiles = [f for _, files in bundle for f in files]
        df = (
            table.read_files(spark, pfiles)
            .withColumn(_KEY, key)
            .withColumn("_pid", pid_expr())
        )
        n_cells = sum(len(bounds_by_pk.get(pk, [])) + 1 for pk, _ in bundle)
        shuffled = df.repartition(max(1, n_cells), *table.partition_cols, F.col("_pid"))
        import uuid as _uuid
        from ..table.arrow_io import arrow_rewrite_job

        tracked = [
            f.name for f in table.schema.fields
            if f.dataType.typeName() not in ("array", "map", "struct")
        ]
        sums = [
            f.name for f in table.schema.fields
            if f.dataType.typeName() in ("integer", "long", "float", "double")
        ]
        commit_rel = f"data/{_uuid.uuid4().hex}"
        out_files = arrow_rewrite_job(
            shuffled,
            table.root,
            commit_rel,
            table.partition_cols,
            tracked,
            sums,
            sort_by=[*table.partition_cols, _KEY],
            drop_cols=[_KEY],
            split_extra_cols=["_pid"],
        )
        seconds = time.monotonic() - t0

        # per-partition lineage: split in/out files by identity partition
        out_by_pk: dict[str, list[DataFile]] = {}
        for f in out_files:
            out_by_pk.setdefault(partition_key(f), []).append(f)
        results = []
        with commit_mutex:  # snapshot chain is single-writer
            sid = table.commit(
                out_files,
                {f.path for f in pfiles},
                "cluster",
                {"partitions": [pk for pk, _ in bundle], "mode": mode},
                spark=spark,
            )
            for pk, in_f in bundle:
                out_f = out_by_pk.get(pk, [])
                log.record(
                    partition=pk,
                    input_files=[f.path for f in in_f],
                    output_files=[f.path for f in out_f],
                    snapshot_id=sid,
                    rows=sum(f.rows for f in out_f),
                    bytes_=sum(f.bytes for f in out_f),
                    tokens=sum(int(f.stat("n_tok", "sum") or 0) for f in out_f) if has_tokens else 0,
                    seconds=round(seconds / len(bundle), 3),
                )
                results.append({"partition": pk, "out_files": len(out_f), "snapshot": sid})
        return results

    reports = []
    if bundles:
        with ThreadPoolExecutor(max_workers=max_concurrency) as pool:
            for rs in pool.map(in_callers_context(spark, run_bundle), bundles):
                reports.extend(rs)

    entries = log.entries()
    return {
        "job_id": job_id,
        "mode": mode,
        "partitions": len(entries),
        "rows": sum(e["rows"] for e in entries),
        "tokens": sum(e["tokens"] for e in entries),
        "seconds": sum(e["seconds"] for e in entries),
        "executed": reports,
    }


# ---------------------------------------------------------------------------
# Native staged-exchange clustering
#
# Motivation (measured on the sandbox, 240k-row / ~1GB token table): the
# DataFrame path — JVM vectorized parquet read -> row shuffle of array<int>
# rows -> JVM->Arrow re-encode -> Python write — did not scale from
# local[8] to local[32] (flat or worse), because every leg repeatedly
# allocates fresh JVM/native buffers and re-encodes wide array rows. The
# staged exchange keeps the data in Arrow end to end:
#
#   plan   : per-file key-quantile samples (column-pruned native reads)
#            -> driver merges into per-partition range-cell bounds
#   map    : one task per data file: native read, vectorized key
#            (functions/zorder kernels + FNV-1a dim hashes), sort, write ONE
#            Arrow IPC run file (a record batch per overlapping cell, lz4)
#   reduce : one task per cell: footer-indexed reads of its cell's batches
#            from each run, merge, write the final zstd file + manifest stats
#
# Both stages are embarrassingly parallel Spark jobs over descriptors, so
# parallelism == #files / #cells, independent of shuffle machinery. On a
# real cluster the staging directory is the shared table store (object
# storage) — the same pattern as Iceberg's shuffle-free sort rewrites.
# Measured 8->32 core scaling efficiency of this path: 0.418.


def _relaxed_type(t):
    """Fully-nullable image of an Arrow type (recursing through list/struct/
    map, normalizing list element field names): different writers mark the
    same logical column nullable vs not-null (and name list elements
    'element' vs 'item'), and the reduce's ``Table.from_batches`` requires
    EXACTLY one schema — the old multi-file parquet read promoted these
    silently. Nullability relaxation of identical storage is a zero-copy
    cast."""
    import pyarrow as pa

    if pa.types.is_list(t):
        return pa.list_(_relaxed_type(t.value_type))
    if pa.types.is_large_list(t):
        return pa.large_list(_relaxed_type(t.value_type))
    if pa.types.is_struct(t):
        return pa.struct(
            [pa.field(f.name, _relaxed_type(f.type), nullable=True) for f in t]
        )
    if pa.types.is_map(t):
        return pa.map_(_relaxed_type(t.key_type), _relaxed_type(t.item_type))
    return t


def _relaxed_schema(schema):
    import pyarrow as pa

    return pa.schema(
        [pa.field(f.name, _relaxed_type(f.type), nullable=True) for f in schema]
    )


def _cluster_native(
    spark: SparkSession,
    table: Table,
    mode: str,
    numeric_col: str,
    hash_cols: tuple[str, ...],
    target_bytes: int,
    job_id: str | None,
    snapshot_id: int | None,
    sample_per_file: int = 512,
) -> dict:
    import glob as _glob
    import json as _json
    import os
    import shutil
    import uuid as _uuid
    from urllib.parse import quote

    from ..functions.zorder import fnv1a64, native_cluster_key

    job_id = job_id or f"cluster-{mode}-{uuid.uuid4().hex[:12]}"
    log = CommitLog(table.root, job_id)
    meta = log.init_job(
        {"base_snapshot": snapshot_id if snapshot_id is not None else table.current_snapshot_id(),
         "mode": mode, "impl": "native"}
    )
    base = meta["base_snapshot"]
    from ..sources.scan import live_files_slim

    files = live_files_slim(spark, table, base, stat_cols=(numeric_col, "n_tok"))
    if not files:
        return {"job_id": job_id, "mode": mode, "partitions": 0, "tokens": 0,
                "rows": 0, "seconds": 0.0, "executed": []}

    los = [f.stat(numeric_col, "min") for f in files if f.stat(numeric_col, "min") is not None]
    his = [f.stat(numeric_col, "max") for f in files if f.stat(numeric_col, "max") is not None]
    lo, hi = (float(min(los)), float(max(his))) if los else (0.0, 1.0)

    part_cols = list(table.partition_cols)
    dims = [c for c in hash_cols if c not in set(part_cols)]
    read_cols = [numeric_col, *dims]

    by_part: dict[str, list[DataFile]] = {}
    for f in files:
        by_part.setdefault(partition_key(f), []).append(f)
    done = log.completed_partitions()
    todo = [(pk, fl) for pk, fl in sorted(by_part.items()) if pk not in done]
    has_tokens = "n_tok" in table.schema.fieldNames()

    tracked = [
        f.name for f in table.schema.fields
        if f.dataType.typeName() not in ("array", "map", "struct")
    ]
    sums = [
        f.name for f in table.schema.fields
        if f.dataType.typeName() in ("integer", "long", "float", "double")
    ]
    table_root = table.root
    schema_order = table.schema.fieldNames()
    run_dir = os.path.join(table_root, "_staging", job_id, _uuid.uuid4().hex[:8])

    def make_key(tbl):
        """Vectorized cluster key for a pyarrow table slice (NumPy only)."""
        numeric = tbl.column(numeric_col).to_numpy()
        hashes = [fnv1a64(tbl.column(d)) for d in dims]
        if not hashes:
            hashes = [np.zeros(len(numeric), np.uint64)]
        return native_cluster_key(mode, numeric, hashes, lo, hi)

    reports = []

    # bundles of identity partitions = resume/commit units, run sequentially
    # (each bundle's map+reduce jobs already use every core). Only split into
    # multiple bundles when each still fills the cluster for >= 2 task waves —
    # at sandbox scale that means ONE bundle (splitting would starve the map
    # stage), at 10^6-file scale it means 4 resume units of thousands of
    # tasks each.
    n_files_todo = sum(len(fl) for _, fl in todo)
    par = spark.sparkContext.defaultParallelism
    # >= SPARK_GRAFT_CLUSTER_BUNDLE_WAVES map-task waves per bundle (fewer
    # and the last partial wave's idle slots dominate); bundles then run
    # through a depth-2 pipeline below, so one bundle's driver-side gaps
    # (bounds merge, commit, log) and reduce tail overlap the next bundle's
    # sample/map instead of serializing. Default 4 waves: a 6-pair
    # order-balanced A/B of 2 vs 4 at 480k rows / 240 files on pinned
    # local[32] showed no separable difference (position-in-window effects
    # dominated; the two cleanest-window pairs mildly favored 4) — the knob
    # exists because the right value is cluster-size-dependent, not because
    # the local default should move.
    waves_env = os.environ.get("SPARK_GRAFT_CLUSTER_BUNDLE_WAVES", "4").strip()
    if not waves_env.isdigit() or int(waves_env) < 1:
        raise ValueError(
            f"SPARK_GRAFT_CLUSTER_BUNDLE_WAVES must be an integer >= 1, got {waves_env!r}"
        )
    waves = int(waves_env)
    n_bundles = max(1, min(4, len(todo), n_files_todo // (waves * par)))
    bundles: list[list[tuple[str, list[DataFile]]]] = [[] for _ in range(n_bundles)]
    bundle_bytes = [0] * n_bundles
    for pk, fl in sorted(todo, key=lambda kv: sum(f.bytes for f in kv[1]), reverse=True):
        i = bundle_bytes.index(min(bundle_bytes))
        bundles[i].append((pk, fl))
        bundle_bytes[i] += sum(f.bytes for f in fl)
    bundles = [b for b in bundles if b]

    commit_mutex = threading.Lock()

    def run_native_bundle(args) -> None:
        bi, bundle = args
        t0 = time.monotonic()
        pk_index = {pk: i for i, (pk, _) in enumerate(bundle)}
        partitions = [dict(by_part[pk][0].partition) for pk, _ in bundle]
        bfiles = [(pk_index[pk], f) for pk, fl in bundle for f in fl]
        abs_paths = [os.path.join(table_root, f.path) for _, f in bfiles]
        file_pk = [i for i, _ in bfiles]
        stage_dir = os.path.join(run_dir, f"b{bi}")

        # ---- plan: per-file strided key samples -> per-partition bounds ----
        def sample_task(batches):
            import pyarrow as pa
            import pyarrow.parquet as pq

            pa.set_cpu_count(1)
            for batch in batches:
                for v in batch.column(0).to_pylist():
                    tbl = pq.read_table(abs_paths[v], columns=read_cols, use_threads=False)
                    k = np.sort(make_key(tbl))
                    stride = max(1, len(k) // sample_per_file)
                    samp = k[::stride]
                    yield pa.RecordBatch.from_pydict(
                        {"pk": pa.array([file_pk[v]] * len(samp), pa.int32()),
                         "key": pa.array(samp, pa.int64())}
                    )

        _dbg = os.environ.get("SPARK_GRAFT_CLUSTER_DEBUG") == "1"
        _t = time.monotonic()
        # ~2 task waves, several files per task: each sample read is a tiny
        # column-pruned scan, so one-task-per-file is dispatch-dominated
        samples = (
            spark.range(
                0,
                len(abs_paths),
                numPartitions=max(1, min(len(abs_paths), 2 * par)),
            )
            .mapInArrow(sample_task, "pk int, key long")
            .toPandas()
        )
        if _dbg:
            print(f"# cluster[b{bi}] sample: {time.monotonic()-_t:.2f}s "
                  f"({len(abs_paths)} files)")
        bounds: list[np.ndarray] = []
        n_cells_per_pk: list[int] = []
        for i, (pk, fl) in enumerate(bundle):
            nb = max(1, round(sum(f.bytes for f in fl) / target_bytes))
            s = np.sort(samples.loc[samples["pk"] == i, "key"].to_numpy(np.int64))
            if nb > 1 and len(s):
                cut_pos = np.linspace(0, len(s), nb + 1)[1:-1].astype(int)
                bounds.append(np.unique(s[np.minimum(cut_pos, len(s) - 1)]))
            else:
                bounds.append(np.empty(0, np.int64))
            n_cells_per_pk.append(len(bounds[-1]) + 1)

        # ---- map: sort each file by key, stage ONE Arrow IPC run file -----
        # A run file holds one record batch per overlapping range cell, with
        # the per-batch cell ids in the schema metadata; the reduce task
        # random-accesses exactly its cell's batches via the IPC footer
        # (get_batch). The former one-parquet-file-PER-CELL layout created
        # #files x #cells tiny staging files (compacted inputs overlap every
        # cell of their partition, so that product is dense) — the guide
        # §2.2 quadratic-block explosion, materialized as ~50 KB files whose
        # parquet fixed costs (thrift footer build/parse, column-chunk
        # metadata, file create/delete) dominated both the map and the
        # reduce stage. One IPC file per map task cuts staging file count by
        # #cells x and batch reads are footer-indexed slices.
        def stage_task(batches):
            import pyarrow as pa
            import pyarrow.parquet as pq

            pa.set_cpu_count(1)
            opts = pa.ipc.IpcWriteOptions(compression="lz4")
            for batch in batches:
                for v in batch.column(0).to_pylist():
                    pki = file_pk[v]
                    tbl = pq.read_table(abs_paths[v], use_threads=False)
                    # normalize away physical shadow columns (_p_<col>) some
                    # writers leave in data files: run batches must share ONE
                    # schema for the reduce's from_batches concat, and the
                    # final files only need the table schema
                    keep = [c for c in schema_order if c in tbl.column_names]
                    if tbl.column_names != keep:
                        tbl = tbl.select(keep)
                    ns = _relaxed_schema(tbl.schema)
                    if tbl.schema != ns:
                        tbl = tbl.cast(ns)
                    k = make_key(tbl)
                    order = np.argsort(k, kind="stable")
                    stbl = (
                        tbl.take(pa.array(order))
                        .append_column("_zkey", pa.array(k[order], pa.int64()))
                        .combine_chunks()
                    )
                    cells = np.searchsorted(bounds[pki], k[order], side="right")
                    nb = len(bounds[pki]) + 1
                    edges = np.concatenate(
                        [np.searchsorted(cells, np.arange(nb)), [len(cells)]]
                    )
                    to_write = []  # (cell id, record batch) in cell order
                    for c in range(nb):
                        s, e = int(edges[c]), int(edges[c + 1])
                        if e <= s:
                            continue
                        for rb in stbl.slice(s, e - s).to_batches():
                            to_write.append((c, rb))
                    d = os.path.join(stage_dir, f"p{pki:04d}")
                    os.makedirs(d, exist_ok=True)
                    schema = stbl.schema.with_metadata(
                        {b"cells": _json.dumps([c for c, _ in to_write]).encode()}
                    )
                    with pa.OSFile(os.path.join(d, f"run-{v:05d}.arrow"), "wb") as sink:
                        with pa.ipc.new_file(sink, schema, options=opts) as w:
                            for _, rb in to_write:
                                w.write_batch(rb)
                    yield pa.RecordBatch.from_pydict(
                        {"pki": pa.array([pki], pa.int32()),
                         "n": pa.array([tbl.num_rows], pa.int64())}
                    )

        _t = time.monotonic()
        map_counts = spark.range(0, len(abs_paths), numPartitions=len(abs_paths)).mapInArrow(
            stage_task, "pki int, n long"
        ).collect()
        map_rows_by_pk: dict[int, int] = {}
        for r in map_counts:
            map_rows_by_pk[r["pki"]] = map_rows_by_pk.get(r["pki"], 0) + r["n"]
        if _dbg:
            print(f"# cluster[b{bi}] map: {time.monotonic()-_t:.2f}s")

        # ---- reduce: merge each cell's sorted runs -> final file + stats ----
        # one task per GROUP of contiguous cells (~2 task waves), not one
        # task per cell: the per-cell cost is dominated by opening every run
        # file's IPC footer, so a task that serves G cells of one partition
        # opens that partition's runs ONCE and reuses the parsed batch index
        # — #footer-parses drops from #cells x #runs to #tasks x #runs.
        cell_list = [
            (pki, c) for pki in range(len(bundle)) for c in range(n_cells_per_pk[pki])
        ]
        n_red = max(1, min(len(cell_list), 2 * par))
        group_sz = (len(cell_list) + n_red - 1) // n_red
        cell_groups = [
            cell_list[i : i + group_sz] for i in range(0, len(cell_list), group_sz)
        ]
        commit_rel = os.path.join("data", _uuid.uuid4().hex)

        def final_task(batches):
            import pyarrow as pa
            import pyarrow.parquet as pq

            from ..table.arrow_io import _arrow_stats

            pa.set_cpu_count(1)
            for batch in batches:
                for gi in batch.column(0).to_pylist():
                    group = cell_groups[gi]
                    # the run files stay mapped only while this group is served
                    with contextlib.ExitStack() as maps:
                        readers: dict[int, list] = {}
                        for pki in {pki for pki, _ in group}:
                            rds = []
                            for rf in sorted(
                                _glob.glob(os.path.join(stage_dir, f"p{pki:04d}", "*.arrow"))
                            ):
                                rd = pa.ipc.open_file(maps.enter_context(pa.memory_map(rf, "r")))
                                meta = rd.schema.metadata or {}
                                idx: dict[int, list[int]] = {}
                                for bi, bc in enumerate(
                                    _json.loads(meta.get(b"cells", b"[]"))
                                ):
                                    idx.setdefault(bc, []).append(bi)
                                rds.append((rd, idx))
                            readers[pki] = rds
                        for pki, c in group:
                            parts = [
                                rd.get_batch(bi)
                                for rd, idx in readers[pki]
                                for bi in idx.get(c, ())
                            ]
                            if not parts:
                                continue
                            tbl = (
                                pa.Table.from_batches(parts)
                                .sort_by([("_zkey", "ascending")])
                                .drop_columns(["_zkey"])
                            )
                            partition = partitions[pki]
                            dirs = "/".join(
                                f"_p_{k}={quote(str(v), safe='')}" for k, v in sorted(partition.items())
                            )
                            rel_dir = os.path.join(commit_rel, dirs) if dirs else commit_rel
                            os.makedirs(os.path.join(table_root, rel_dir), exist_ok=True)
                            rel = os.path.join(rel_dir, f"part-{pki:04d}-{c:05d}.zstd.parquet")
                            abs_p = os.path.join(table_root, rel)
                            # level 1 == parquet-cpp's zstd default: rewrite
                            # outputs are re-rewritten by future maintenance, so
                            # compression CPU is steady-state cost, not one-time
                            pq.write_table(tbl, abs_p, compression="zstd", compression_level=1)
                            yield pa.RecordBatch.from_pydict(
                                {
                                    "pki": pa.array([pki], pa.int32()),
                                    "path": [rel],
                                    "partition": [_json.dumps(partition, sort_keys=True)],
                                    "rows": pa.array([tbl.num_rows], pa.int64()),
                                    "bytes": pa.array([os.path.getsize(abs_p)], pa.int64()),
                                    "stats": [_json.dumps(_arrow_stats(tbl, tracked, sums), default=str)],
                                }
                            )

        _t = time.monotonic()
        rows = (
            spark.range(0, len(cell_groups), numPartitions=len(cell_groups))
            .mapInArrow(final_task, "pki int, path string, partition string, rows long, bytes long, stats string")
            .collect()
        )
        if _dbg:
            print(f"# cluster[b{bi}] reduce: {time.monotonic()-_t:.2f}s "
                  f"({len(cell_list)} cells)")
        out_by_pk: dict[int, list[DataFile]] = {}
        for r in rows:
            out_by_pk.setdefault(r["pki"], []).append(
                DataFile(
                    path=r["path"],
                    partition=_json.loads(r["partition"]),
                    rows=r["rows"],
                    bytes=r["bytes"],
                    stats=_json.loads(r["stats"]),
                )
            )
        out_files = [f for fl in out_by_pk.values() for f in fl]

        # completeness gate BEFORE commit: the reduce stage silently skips a
        # cell whose staged runs are missing (e.g. staging swept externally
        # mid-run), which would otherwise commit a snapshot that drops rows.
        # Per partition: manifest input rows == map-stage read rows == reduce
        # output rows, or the bundle aborts and its input files stay live.
        for i, (pk, in_f) in enumerate(bundle):
            in_rows = sum(f.rows for f in in_f)
            mapped = map_rows_by_pk.get(i, 0)
            reduced = sum(f.rows for f in out_by_pk.get(i, []))
            if in_rows != mapped or in_rows != reduced:
                raise RuntimeError(
                    f"cluster[{job_id}] aborting commit for partition {pk}: "
                    f"input rows {in_rows} != map-read {mapped} or "
                    f"reduce-output {reduced} (staging lost under {stage_dir}?)"
                )

        seconds = time.monotonic() - t0
        with commit_mutex:  # snapshot chain is single-writer
            sid = table.commit(
                out_files,
                {f.path for _, fl in bundle for f in fl},
                "cluster",
                {"partitions": [pk for pk, _ in bundle], "mode": mode, "impl": "native"},
                spark=spark,
            )
            for i, (pk, in_f) in enumerate(bundle):
                out_f = out_by_pk.get(i, [])
                log.record(
                    partition=pk,
                    input_files=[f.path for f in in_f],
                    output_files=[f.path for f in out_f],
                    snapshot_id=sid,
                    rows=sum(f.rows for f in out_f),
                    bytes_=sum(f.bytes for f in out_f),
                    tokens=sum(int(f.stat("n_tok", "sum") or 0) for f in out_f) if has_tokens else 0,
                    seconds=round(seconds / len(bundle), 3),
                )
                reports.append({"partition": pk, "out_files": len(out_f), "snapshot": sid})
        shutil.rmtree(stage_dir, ignore_errors=True)

    # depth-2 pipeline: bundle i+1's sample/map runs while bundle i is in its
    # reduce/commit tail — Spark's scheduler interleaves the two jobs' tasks,
    # hiding per-bundle serial gaps without oversubscribing the executors
    if bundles:
        with ThreadPoolExecutor(max_workers=min(2, len(bundles))) as pool:
            list(pool.map(in_callers_context(spark, run_native_bundle), enumerate(bundles)))

    shutil.rmtree(os.path.join(table_root, "_staging", job_id), ignore_errors=True)
    entries = log.entries()
    return {
        "job_id": job_id,
        "mode": mode,
        "partitions": len(entries),
        "rows": sum(e["rows"] for e in entries),
        "tokens": sum(e["tokens"] for e in entries),
        "seconds": sum(e["seconds"] for e in entries),
        "executed": reports,
    }
