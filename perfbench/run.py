"""Repository benchmark: two workloads, end-to-end metrics untraced and
per-layer metrics traced.

    python3 perfbench/run.py --workload {table_day,queries} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Every file the run writes lives under
``.perfbench_work/`` there and is removed when the run ends. The last line
of standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the ``end_to_end`` metrics of BENCHMARK.json with
``--trace 0``, its ``per_layer`` metrics with ``--trace 1``). A traced
invocation runs the workload twice in one driver process, each time in a
fresh JVM: untraced, then with Spark's event log on, and takes the tracing
overhead from that pair.
perfbench/README.md describes the workloads, the layer map and the
predictions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def sweep_stale(work_root: str) -> None:
    """Remove work dirs left by runs whose process no longer exists."""
    if not os.path.isdir(work_root):
        return
    for name in os.listdir(work_root):
        parts = name.split("-")
        if name.startswith("run-") and len(parts) >= 3 and parts[1].isdigit():
            if not _alive(int(parts[1])):
                shutil.rmtree(os.path.join(work_root, name), ignore_errors=True)


def configure_env(work: str, cores: int) -> None:
    """Keep Spark's and Python's scratch files inside the run's work dir and
    size the JVM for a small shared host; must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    import tempfile

    tempfile.tempdir = tmp


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def stop_jvm() -> None:
    """End the JVM (it exits when its stdin closes) and wait for it and
    every Python worker it started."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in _descendants(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def per_layer_metrics(spec: dict, workload: str, untraced, traced) -> dict[str, float]:
    """Every per_layer metric of the spec. Span timings and Spark counters
    come from the traced run; session start, input build and the workload's
    own figures from the untraced one. A metric of a layer the workload does
    not exercise reads 0; a missing metric of an exercised layer is an error."""
    import workloads

    layer = dict(traced.layer)
    for name, value in untraced.layer.items():
        if name.split(".")[0] in ("session", "datagen", workload):
            layer[name] = value
    layer["tracing.wall_s"] = traced.e2e["wall_s"]
    layer["tracing.overhead_s"] = traced.e2e["wall_s"] - untraced.e2e["wall_s"]
    out, missing = {}, []
    for m in spec["per_layer"]:
        name = m["name"]
        if name in layer:
            out[name] = float(layer[name])
        elif name.split(".")[0] in workloads.EXERCISED[workload]:
            missing.append(name)
        else:
            out[name] = 0.0
    if missing:
        raise KeyError(f"{workload} produced no value for per-layer metrics {missing}")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["table_day", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    with open(SPEC_PATH) as fh:
        spec = json.load(fh)
    cores = len(os.sched_getaffinity(0))
    sweep_stale(WORK_ROOT)
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(work)
    try:
        configure_env(work, cores)
        sys.path.insert(0, ROOT)
        import workloads  # imports the package: a checkout without it fails here

        print(f"# perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} "
              f"trace={args.trace} local[{cores}] shuffle_partitions={cores}; "
              f"flush policy: {workloads.FLUSH_POLICY}", flush=True)
        runs = [workloads.Run(args.workload, args.seed, args.seconds, work, cores, traced=False)]
        if args.trace:
            runs.append(workloads.Run(args.workload, args.seed, args.seconds, work, cores, traced=True))
        crashed = False
        for r in runs:
            # each run gets a JVM of its own, so the pair starts equally cold
            try:
                workloads.execute(r)
            except Exception:
                # a set-up step raised: the run counts as one failed operation
                crashed = True
                print(f"# RUN FAILED\n{traceback.format_exc()}", file=sys.stderr)
            finally:
                stop_jvm()
            if crashed:
                break
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = max(1, sum(r.attempted for r in runs))
    failed = min(attempted, sum(r.failed for r in runs) + int(crashed))
    base = runs[0]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    shown = dict(base.e2e)
    shown.update({k: v for k, v in base.layer.items() if k.startswith(args.workload + ".")})
    for name, value in shown.items():
        n = f" (n={base.samples[name]})" if name in base.samples else ""
        print(f"metric {name} = {value:.6g} {units[name]}{n}")
    # printed only: it varies by a fifth between runs of the same code
    print(f"metric peak_rss_mb = {base.rss.peak_mb:.6g} MB")
    print(f"metric ops_failed_frac = {failed / attempted:.6g} ratio ({failed} of {attempted} operations)")
    if crashed:
        metrics = {}
    elif args.trace:
        metrics = per_layer_metrics(spec, args.workload, base, runs[1])
    else:
        # a metric whose every sample failed is left out; correct is false then
        metrics = {m["name"]: float(base.e2e[m["name"]]) for m in spec["end_to_end"] if m["name"] in base.e2e}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": v, "unit": units[name]} for name, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
