"""spark-submit entry point for table maintenance.

Run on a cluster (ship the package with --py-files):

    zip -r engine.zip batch_pipeline_via_lakehouse_spark
    spark-submit --py-files engine.zip scripts/run_maintenance.py \
        --table /data/tokens --op compact --target-bytes 134217728 \
        --job-id nightly-2026-08-16

Ops: compact | cluster | expire | rewrite-manifests | full (compact+cluster).
Re-running with the same --job-id resumes from the per-partition commit log.
Mirrors the reference's one-spark-submit-per-maintenance-pass orchestration
(`src/dags/elt_history.py:9-21`) with the commit log replacing Airflow state.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True, help="table root directory")
    ap.add_argument("--op", required=True,
                    choices=["compact", "cluster", "expire", "rewrite-manifests", "full"])
    ap.add_argument("--target-bytes", type=int, default=128 * 1024 * 1024)
    ap.add_argument("--mode", default="zorder", choices=["zorder", "hilbert"])
    ap.add_argument("--job-id", default=None, help="stable id enables kill/resume")
    ap.add_argument("--retain-last", type=int, default=5)
    ap.add_argument("--gc-grace-ms", type=int, default=24 * 3600 * 1000)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from batch_pipeline_via_lakehouse_spark.operators.clustering import cluster
    from batch_pipeline_via_lakehouse_spark.operators.compaction import compact
    from batch_pipeline_via_lakehouse_spark.operators.expire import expire_snapshots
    from batch_pipeline_via_lakehouse_spark.operators.manifest import rewrite_manifests
    from batch_pipeline_via_lakehouse_spark.session import get_spark
    from batch_pipeline_via_lakehouse_spark.table import Table

    spark = get_spark(f"maintenance-{args.op}", master=args.master)
    table = Table.load(args.table)

    reports = {}
    if args.op in ("compact", "full"):
        reports["compact"] = compact(
            spark, table, target_bytes=args.target_bytes,
            job_id=f"{args.job_id}-compact" if args.job_id else None,
        )
    if args.op in ("cluster", "full"):
        reports["cluster"] = cluster(
            spark, table, mode=args.mode, target_bytes=args.target_bytes,
            job_id=f"{args.job_id}-cluster" if args.job_id else None,
        )
    if args.op == "rewrite-manifests":
        reports["rewrite-manifests"] = rewrite_manifests(table)
    if args.op == "expire":
        reports["expire"] = expire_snapshots(
            table, retain_last=args.retain_last, gc=True,
            gc_grace_ms=args.gc_grace_ms,
        )

    print(json.dumps(reports, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
