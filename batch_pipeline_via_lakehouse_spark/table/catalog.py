"""Engine-owned table: create / load / append / overwrite / scan / time travel.

Write semantics mirror the reference's contract (SURVEY.md §1.5):
``append`` and ``overwrite`` each produce a new snapshot; older snapshots stay
queryable (time travel == ``scan(snapshot_id=...)``, the analogue of Iceberg's
``FOR VERSION AS OF`` exercised in the reference's
``notebooks/iceberg_curd/create_iceberg_table.ipynb`` cells 6-11).

Partitioning is identity-style like the reference's bronze tables
(``src/elt/bronze/_bronze_handler.py:50-56`` partitions by ingest_year/month).
Every write goes through ``arrow_io.arrow_rewrite_job``: the partition value
names the directory and the manifest entry while the real column stays inside
the Parquet file, so scans of explicit file lists need no basePath
reconstruction, and every file carries the one ``Table.arrow_schema``.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .format import (
    DataFile,
    Snapshot,
    atomic_write,
    now_ms,
    read_manifest,
    write_manifest,
)
from .arrow_io import arrow_rewrite_job


# Parsed manifests, shared by every Table of the process so a fresh
# ``Table.load`` re-reads none. Keyed on the file's stat stamp as well as its
# path: a manifest rewritten in place under the same name is read again.
# Callers share the cached DataFiles and must not mutate them. The bound is
# in manifests: a snapshot listing more than this re-reads them on every
# fold (LRU over a cyclic scan), so it sits well above what
# ``rewrite_manifests`` leaves behind.
_MANIFEST_CACHE_SIZE = 4096


@functools.lru_cache(maxsize=_MANIFEST_CACHE_SIZE)
def _parsed_manifest(metadata_dir: str, name: str, stamp: tuple) -> tuple[DataFile, ...]:
    return tuple(read_manifest(metadata_dir, name))


def manifest_entries(metadata_dir: str, name: str) -> tuple[DataFile, ...]:
    """The data files one manifest lists, read through the shared cache."""
    metadata_dir = os.path.abspath(metadata_dir)
    st = os.stat(os.path.join(metadata_dir, name))
    return _parsed_manifest(metadata_dir, name, (st.st_mtime_ns, st.st_size, st.st_ino))


def clear_manifest_cache() -> None:
    _parsed_manifest.cache_clear()


def _norm_nullability(dt):
    """Type with all nullability flags erased (for cast-necessity checks —
    Spark refuses array<int> -> array<int> casts differing only in
    containsNull — and for the one file schema, ``Table.arrow_schema``)."""
    from pyspark.sql.types import ArrayType, MapType

    if isinstance(dt, StructType):
        out = StructType()
        for f in dt.fields:
            out.add(f.name, _norm_nullability(f.dataType), True)
        return out
    if isinstance(dt, ArrayType):
        return ArrayType(_norm_nullability(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_norm_nullability(dt.keyType), _norm_nullability(dt.valueType), True)
    return dt


def conform_schema(df: DataFrame, schema: StructType) -> DataFrame:
    """Cast matching columns, add missing ones as typed nulls, reorder —
    the reference's normalize step (`src/elt/silver/_silver_handler.py:44-55`,
    P3). Columns whose type already matches (modulo nullability) pass
    through uncast."""
    by_name = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    for field in schema.fields:
        if field.name in by_name:
            if _norm_nullability(by_name[field.name]) == _norm_nullability(field.dataType):
                cols.append(F.col(field.name))
            else:
                cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


class Table:
    def __init__(self, root: str):
        self.root = root
        self.metadata_dir = os.path.join(root, "metadata")
        self.data_dir = os.path.join(root, "data")
        with open(os.path.join(self.metadata_dir, "table.json")) as f:
            meta = json.load(f)
        self.schema: StructType = StructType.fromJson(meta["schema"])
        self.partition_cols: list[str] = meta["partition_by"]
        self.table_uuid: str = meta["uuid"]

    @property
    def tracked_cols(self) -> list[str]:
        """Columns whose per-file min/max/nulls the manifests record."""
        return [
            f.name for f in self.schema.fields
            if f.dataType.typeName() not in ("array", "map", "struct")
        ]

    @property
    def arrow_schema(self):
        """The Arrow schema of every data file: the table schema with all
        nullability erased, so whatever a write's plan says about nulls, its
        files concatenate with every other file of the table."""
        from pyspark.sql.pandas.types import to_arrow_schema

        return to_arrow_schema(_norm_nullability(self.schema))

    @property
    def sum_cols(self) -> list[str]:
        """Numeric columns whose per-file sum the manifests record."""
        return [
            f.name for f in self.schema.fields
            if f.dataType.typeName() in ("integer", "long", "float", "double")
        ]

    # ---------------------------------------------------------------- create
    @staticmethod
    def create(root: str, schema: StructType, partition_by: list[str] | None = None) -> "Table":
        partition_by = partition_by or []
        for c in partition_by:
            if c not in schema.fieldNames():
                raise ValueError(f"partition column {c!r} not in schema")
        os.makedirs(os.path.join(root, "metadata"), exist_ok=False)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "_commits"), exist_ok=True)
        meta = {
            "schema": schema.jsonValue(),
            "partition_by": partition_by,
            "uuid": uuid.uuid4().hex,
            "format_version": 1,
        }
        atomic_write(os.path.join(root, "metadata", "table.json"), json.dumps(meta, indent=2))
        return Table(root)

    @staticmethod
    def load(root: str) -> "Table":
        return Table(root)

    # ------------------------------------------------------------- snapshots
    def current_snapshot_id(self) -> int | None:
        vp = os.path.join(self.metadata_dir, "VERSION")
        if not os.path.exists(vp):
            return None
        with open(vp) as f:
            return int(f.read().strip())

    def snapshot(self, snapshot_id: int) -> Snapshot:
        with open(os.path.join(self.metadata_dir, f"snap-{snapshot_id}.json")) as f:
            return Snapshot.from_json(f.read())

    def snapshots(self) -> list[Snapshot]:
        out = []
        for p in sorted(glob.glob(os.path.join(self.metadata_dir, "snap-*.json"))):
            with open(p) as f:
                out.append(Snapshot.from_json(f.read()))
        out.sort(key=lambda s: s.snapshot_id)
        return out

    def live_files(self, snapshot_id: int | None = None) -> list[DataFile]:
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            return []
        files: list[DataFile] = []
        for m in self.snapshot(sid).manifests:
            files.extend(manifest_entries(self.metadata_dir, m))
        return files

    # ------------------------------------------------------------- commit
    def commit(
        self,
        added: list[DataFile],
        removed_paths: set[str],
        operation: str,
        summary: dict | None = None,
    ) -> int:
        """Atomically produce the next snapshot: parent manifests minus
        ``removed_paths`` (affected manifests rewritten), plus one new
        manifest for ``added``."""
        parent = self.current_snapshot_id()
        manifests: list[str] = []
        if parent is not None:
            for m in self.snapshot(parent).manifests:
                # cached reads: a maintenance job issues one commit per
                # file group, and rescanning every manifest from disk per
                # commit would make commit cost quadratic in group count
                entries = manifest_entries(self.metadata_dir, m)
                if removed_paths and any(e.path in removed_paths for e in entries):
                    kept = [e for e in entries if e.path not in removed_paths]
                    if kept:
                        manifests.append(write_manifest(self.metadata_dir, kept))
                else:
                    manifests.append(m)
        if added:
            manifests.append(write_manifest(self.metadata_dir, added))
        return self.publish_snapshot(
            parent,
            operation,
            manifests,
            {
                "added-files": len(added),
                "removed-files": len(removed_paths),
                "added-rows": sum(f.rows for f in added),
                **(summary or {}),
            },
        )

    def publish_snapshot(
        self, parent: int | None, operation: str, manifests: list[str], summary: dict
    ) -> int:
        """Write snapshot ``parent + 1`` over ``manifests`` and flip VERSION
        to it — the one place a snapshot becomes current."""
        sid = (parent or 0) + 1
        snap = Snapshot(
            snapshot_id=sid,
            parent_id=parent,
            operation=operation,
            manifests=manifests,
            summary=summary,
            timestamp_ms=now_ms(),
        )
        atomic_write(os.path.join(self.metadata_dir, f"snap-{sid}.json"), snap.to_json())
        atomic_write(os.path.join(self.metadata_dir, "VERSION"), str(sid))
        return sid

    # ------------------------------------------------------------- write
    def write_datafiles(self, df: DataFrame, num_files: int | None = None) -> list[DataFile]:
        """Write ``df`` as immutable Parquet under a fresh commit dir and
        return its manifest entries: ONE Spark job in which each task writes
        one file per identity-partition value it holds (``arrow_io``).
        Without ``num_files`` the input partitioning, and its row order, is
        kept."""
        out = conform_schema(df, self.schema)
        if num_files:
            out = out.repartition(num_files)
        return arrow_rewrite_job(
            out, self.root, os.path.join("data", uuid.uuid4().hex),
            self.partition_cols, self.arrow_schema, self.tracked_cols, self.sum_cols,
        )

    def append(self, df: DataFrame, num_files: int | None = None) -> int:
        files = self.write_datafiles(df, num_files=num_files)
        return self.commit(files, set(), "append")

    append_native = append

    def overwrite(self, df: DataFrame, num_files: int | None = None) -> int:
        files = self.write_datafiles(df, num_files=num_files)
        removed = {f.path for f in self.live_files()}
        return self.commit(files, removed, "overwrite")

    # ------------------------------------------------------------- read
    def read_files(self, spark: SparkSession, files: list[DataFile]) -> DataFrame:
        if not files:
            return spark.createDataFrame([], self.schema)
        paths = [os.path.join(self.root, f.path) for f in files]
        return spark.read.schema(self.schema).parquet(*paths)

    def scan(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        df = self.read_files(spark, self.live_files(snapshot_id))
        return df.select(*columns) if columns else df

    # --------------------------------------------------------- metadata tables
    def metadata_df(self, spark: SparkSession, name: str) -> DataFrame:
        """Queryable metadata tables — the engine analogue of Iceberg's
        `tbl$snapshots` / `tbl$files` the reference inspects in
        `notebooks/iceberg_curd/create_iceberg_table.ipynb` cells 9-11."""
        if name == "snapshots":
            rows = [
                (
                    s.snapshot_id,
                    s.parent_id,
                    s.operation,
                    s.timestamp_ms,
                    json.dumps(s.summary, default=str),
                    len(s.manifests),
                )
                for s in self.snapshots()
            ]
            return spark.createDataFrame(
                rows,
                "snapshot_id long, parent_id long, operation string, "
                "timestamp_ms long, summary string, n_manifests int",
            )
        if name == "files":
            rows = [
                (
                    f.path,
                    json.dumps(f.partition, sort_keys=True),
                    f.rows,
                    f.bytes,
                    json.dumps(f.stats, default=str),
                )
                for f in self.live_files()
            ]
            return spark.createDataFrame(
                rows, "path string, partition string, rows long, bytes long, stats string"
            )
        raise ValueError(f"unknown metadata table {name!r} (snapshots|files)")
