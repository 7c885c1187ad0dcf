"""Microbenchmarks of the clustering key kernels in ``functions.zorder``.

Inputs are shaped like the table_day workload's rows: ``doc-%012d`` ids for
FNV-1a, and n_tok-scaled / hash-derived uint64 dims for Morton and Hilbert.
Each kernel is reported in rows/s next to a memcpy ceiling measured in the
same process, so a kernel change reads against the host's memory bandwidth.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow as pa

from batch_pipeline_via_lakehouse_spark.functions.zorder import fnv1a64, hilbert2, morton3

ROWS = 200_000
REPS = 5


def _median_s(fn, reps: int = REPS) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def run(seed: int) -> dict[str, float]:
    rng = np.random.default_rng(seed)
    ids = pa.array([f"doc-{i:012d}" for i in rng.integers(0, 10**9, ROWS)])
    n_tok = rng.integers(16, 8193, ROWS).astype(np.uint64)
    h1 = rng.integers(0, 2**63, ROWS, dtype=np.uint64)
    h2 = rng.integers(0, 2**63, ROWS, dtype=np.uint64)
    a = (n_tok * np.uint64(255)) & np.uint64(0x1FFFFF)

    buf = np.ones(16 << 20, dtype=np.uint32)  # 64 MiB
    dst = np.empty_like(buf)
    memcpy_s = _median_s(lambda: np.copyto(dst, buf))
    return {
        "zorder.fnv1a64_rows_per_s": ROWS / _median_s(lambda: fnv1a64(ids)),
        "zorder.morton3_rows_per_s": ROWS / _median_s(
            lambda: morton3(a, h1 >> np.uint64(43), h2 >> np.uint64(43))
        ),
        "zorder.hilbert2_rows_per_s": ROWS / _median_s(
            lambda: hilbert2(a, h1 >> np.uint64(33), order=31), reps=3
        ),
        "host.memcpy_gb_per_s": buf.nbytes / memcpy_s / 1e9,
    }
