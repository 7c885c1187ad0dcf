"""Per-partition commit log: lineage + metrics + resume checkpoint.

Replaces the reference's Airflow task-state (`src/dags/elt_history.py:9-21`
sequences one spark-submit per table-stage; a failed task is re-run whole).
Here every maintenance job appends one JSON line per partition it finishes:

    {"job_id", "partition", "input_files", "output_files", "snapshot_id",
     "rows", "bytes", "tokens", "seconds", "ts_ms"}

A killed job re-runs with the same ``job_id`` and skips partitions already
logged — resume without duplicate work (north_rule). Lineage is the
input-files -> output-files mapping; metrics give per-partition rows/bytes/
tokens-per-second for skew diagnosis.

Every maintenance rewrite shares one skeleton around it: pack resume units
into byte-balanced bundles (``balanced_bundles``), rewrite a bundle in one
Spark job, then gate, commit and log it (``commit_bundle``).
"""

from __future__ import annotations

import json
import os

from ..table.format import now_ms


class CommitLog:
    def __init__(self, table_root: str, job_id: str):
        self.job_id = job_id
        self.path = os.path.join(table_root, "_commits", f"{job_id}.jsonl")
        self.meta_path = os.path.join(table_root, "_commits", f"{job_id}.json")
        os.makedirs(os.path.dirname(self.path), exist_ok=True)

    def job_meta(self) -> dict | None:
        """Job-level record (base snapshot, params) written once at start so a
        resumed run re-plans against the SAME snapshot — group keys stay
        stable and completed groups are skippable by key."""
        if not os.path.exists(self.meta_path):
            return None
        with open(self.meta_path) as f:
            return json.load(f)

    def init_job(self, meta: dict) -> dict:
        existing = self.job_meta()
        if existing is not None:
            return existing
        with open(self.meta_path, "w") as f:
            json.dump(meta, f)
        return meta

    def completed_partitions(self) -> set[str]:
        if not os.path.exists(self.path):
            return set()
        done = set()
        with open(self.path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                rec = json.loads(line)
                done.add(rec["partition"])
        return done

    def entries(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def record(
        self,
        partition: str,
        input_files: list[str],
        output_files: list[str],
        snapshot_id: int,
        rows: int,
        bytes_: int,
        tokens: int,
        seconds: float,
    ) -> None:
        rec = {
            "job_id": self.job_id,
            "partition": partition,
            "input_files": input_files,
            "output_files": output_files,
            "snapshot_id": snapshot_id,
            "rows": rows,
            "bytes": bytes_,
            "tokens": tokens,
            "seconds": round(seconds, 3),
            "tokens_per_s": round(tokens / seconds, 1) if seconds > 0 else None,
            "ts_ms": now_ms(),
        }
        # single-writer append; each line flushed+fsync'd so a kill leaves at
        # most one truncated line (tolerated by the json-per-line reader).
        with open(self.path, "a") as f:
            f.write(json.dumps(rec) + "\n")
            f.flush()
            os.fsync(f.fileno())


def balanced_bundles(units: list, n_bundles: int) -> list[list]:
    """Greedy byte-balanced packing of ``(key, files)`` resume units into at
    most ``n_bundles`` bundles: largest unit first (stable on ties), each
    into the currently lightest bundle; empty bundles are dropped."""
    bundles: list[list] = [[] for _ in range(n_bundles)]
    loads = [0] * n_bundles
    for key, files in sorted(units, key=lambda u: sum(f.bytes for f in u[1]), reverse=True):
        i = loads.index(min(loads))
        bundles[i].append((key, files))
        loads[i] += sum(f.bytes for f in files)
    return [b for b in bundles if b]


def commit_bundle(
    table, log: CommitLog, lock, operation: str, summary: dict,
    units: list, outputs: list, seconds: float,
) -> list[dict]:
    """Gate, commit and log one rewritten bundle; returns its report rows.

    ``units`` are the bundle's ``(key, input files)`` and ``outputs`` the
    files written for each unit, aligned. A unit whose output rows differ
    from its manifest input rows (an input file changed on disk, staging
    lost mid-run) aborts the bundle before commit, so its inputs stay live.
    Otherwise one snapshot replaces every input, and each unit gets its
    commit-log line (the resume checkpoint)."""
    for (key, in_f), out_f in zip(units, outputs):
        in_rows, out_rows = sum(f.rows for f in in_f), sum(f.rows for f in out_f)
        if in_rows != out_rows:
            raise RuntimeError(
                f"{operation}[{log.job_id}] aborting commit of {key}: "
                f"input rows {in_rows} != output rows {out_rows}"
            )
    has_tokens = "n_tok" in table.schema.fieldNames()
    reports = []
    with lock:  # the snapshot chain is single-writer
        sid = table.commit(
            [f for out_f in outputs for f in out_f],
            {f.path for _, in_f in units for f in in_f},
            operation,
            summary,
        )
        for (key, in_f), out_f in zip(units, outputs):
            log.record(
                partition=key,
                input_files=[f.path for f in in_f],
                output_files=[f.path for f in out_f],
                snapshot_id=sid,
                rows=sum(f.rows for f in out_f),
                bytes_=sum(f.bytes for f in out_f),
                tokens=sum(int(f.stat("n_tok", "sum") or 0) for f in out_f) if has_tokens else 0,
                seconds=round(seconds / len(units), 3),
            )
            reports.append(
                {"unit": key, "in_files": len(in_f), "out_files": len(out_f), "snapshot": sid}
            )
    return reports
