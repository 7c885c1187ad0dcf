"""Self-test: a corrupted table or a wrong result must count as a failed
operation, and the result line must still be printed.

    python3 perfbench/selftest.py

Run from the root of a checkout. It runs each workload once in this process
with one fault injected and checks the JSON line reports ``failed > 0`` and
``correct: false``:

- ``table_day``: right after the timed compaction, one token of one live data
  file is flipped in place (same path, same row count, so the manifests still
  agree), which the maintenance and final content checksums must catch;
- ``queries``: one expected result digest is altered, which the per-query
  digest check must catch.

Exits 0 when both faults are caught.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def _result(argv: list[str]) -> dict:
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert run.main(argv) == 0
    return json.loads(out.getvalue().strip().splitlines()[-1])


def _flip_one_token(table) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    f = max(table.live_files(), key=lambda f: f.rows)
    path = os.path.join(table.root, f.path)
    data = pq.read_table(path)
    tokens = data.column("tokens").to_pylist()
    tokens[0][0] ^= 1
    i = data.schema.get_field_index("tokens")
    data = data.set_column(i, data.schema.field(i), pa.array(tokens, data.schema.field(i).type))
    pq.write_table(data, path)


def check(name: str, res: dict) -> bool:
    ok = res["failed"] > 0 and res["correct"] is False
    print(f"{name}: attempted={res['attempted']} failed={res['failed']} correct={res['correct']} "
          f"-> {'caught' if ok else 'NOT CAUGHT'}")
    return ok


def main() -> int:
    sys.path.insert(0, run.ROOT)
    import workloads

    real_compact = workloads.compact

    def compact_then_corrupt(spark, table, **kw):
        rep = real_compact(spark, table, **kw)
        if os.path.basename(table.root) == "table":  # the timed table, not the warm-up one
            _flip_one_token(table)
        return rep

    workloads.compact = compact_then_corrupt
    try:
        day = _result(["--workload", "table_day", "--seed", "1", "--seconds", "1", "--trace", "0"])
    finally:
        workloads.compact = real_compact

    real_expected = workloads.load_expected

    def wrong_expected():
        exp = real_expected()
        exp["simhash"] = [exp["simhash"][0], exp["simhash"][1] ^ 1]
        return exp

    workloads.load_expected = wrong_expected
    try:
        q = _result(["--workload", "queries", "--seed", "1", "--seconds", "1", "--trace", "0"])
    finally:
        workloads.load_expected = real_expected

    ok = check("table_day with a flipped token", day)
    ok &= check("queries with a wrong expected digest", q)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
