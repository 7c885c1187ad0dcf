"""Record the ``queries`` workload's expected result digests.

Runs each benchmarked query once on the workload's corpus (data/sf0.01, a
copy of the repository's seed-42 sf0.01 test tables), checks its result
against the query's DuckDB oracle (row count and values, after the same
normalization tests/oracle_harness.py applies) and writes the digest the
benchmark compares against into expected_queries.json. Run it from the root
of a checkout whenever a deliberate change alters a query's output:

    python3 perfbench/record_expected.py
"""

from __future__ import annotations

import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _normalize(df):
    import numpy as np

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(6)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    import duckdb
    import pandas as pd

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads
    from batch_pipeline_via_lakehouse_spark.plans.queries import ORACLES, QUERIES
    from batch_pipeline_via_lakehouse_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    spark = get_spark("record-expected", master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    data = workloads.QUERY_DATA
    digests, ok = {}, True
    try:
        con = duckdb.connect()
        for path in sorted(glob.glob(os.path.join(data, "*.parquet"))):
            name = os.path.basename(path)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        for name in workloads.QUERY_NAMES:
            df = QUERIES[name](spark, data)
            got = _normalize(df.toPandas())
            want = _normalize(con.execute(ORACLES[name]).df())
            try:
                pd.testing.assert_frame_equal(
                    got, want, check_dtype=False, check_exact=False, rtol=0, atol=1e-6
                )
                match = True
            except AssertionError as e:
                match = False
                print(f"{name}: ORACLE MISMATCH {str(e).splitlines()[0]}", file=sys.stderr)
            ok &= match
            digests[name] = list(workloads.query_digest(df))
            print(f"{name}: rows={len(got)} oracle={'ok' if match else 'MISMATCH'} digest={digests[name]}")
        con.close()
    finally:
        spark.stop()
    if not ok:
        return 1
    with open(workloads.EXPECTED_PATH, "w") as fh:
        json.dump({"data": os.path.relpath(data, HERE), "digests": digests}, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
