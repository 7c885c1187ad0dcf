"""The benchmark's workloads, driven through the package's public API.

Every workload is a closed loop with one client: the benchmark issues one
engine call at a time and each call's parallelism is the engine's own. A
run is: session start -> set-up (input build, warm-up) -> timed phase, whose
correctness checks run outside the timed spans. The work of the timed phase
is a fixed function of ``--seconds`` (passes or rounds), so two commits
always measure the same work.

An engine call that raises, or a check that fails, counts as a failed
operation; the run goes on, so the result line is always printed.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from urllib.parse import unquote, urlparse

import numpy as np

import kernels
from ledger import RssSampler, SpanLog, attribute, layer_counters, read_event_log

from batch_pipeline_via_lakehouse_spark.bench_core import build_fragmented_table
from batch_pipeline_via_lakehouse_spark.datagen import TOKEN_SCHEMA, token_table_df
from batch_pipeline_via_lakehouse_spark.functions.checksums import content_checksum
from batch_pipeline_via_lakehouse_spark.operators.clustering import cluster
from batch_pipeline_via_lakehouse_spark.operators.compaction import compact
from batch_pipeline_via_lakehouse_spark.operators.expire import expire_snapshots
from batch_pipeline_via_lakehouse_spark.operators.manifest import rewrite_manifests
from batch_pipeline_via_lakehouse_spark.operators.merge import merge_scd1
from batch_pipeline_via_lakehouse_spark.plans.queries import QUERIES
from batch_pipeline_via_lakehouse_spark.session import get_spark
from batch_pipeline_via_lakehouse_spark.sources.scan import Pred, scan_with_pruning
from batch_pipeline_via_lakehouse_spark.table import Table

from pyspark.sql import functions as F
from pyspark.sql.window import Window

HERE = os.path.dirname(os.path.abspath(__file__))
MIB = 1024 * 1024

# table_day: bench.py's fragmented token table, with rows, fragments per
# source partition and the file target scaled down from its sf0.1 (120k
# rows, 64 fragments, 8 MiB) so that a run, with its JVM start, warm-up and
# 100 scans, stays near a minute. The timed phase compacts
# and Z-order clusters it (maintain), runs rounds of append -> merge -> scan
# burst on it (upsert_scan), then expires snapshots and rewrites manifests.
DAY_ROWS = 1_000
DAY_FRAGMENTS = 16
TARGET_BYTES = 1 * MIB
DAY_S_PER_ROUND = 20  # one round at the benchmark's 15 s
DAY_APPEND = 200  # docs appended per round
DAY_RECENT = 40  # merge updates of docs appended this round
DAY_COLD = 1  # merge updates of docs in the clustered base table
DAY_INSERT = 30  # new docs inserted by the merge
DAY_MIN_SCANS = 100  # per run, so >= 10 samples lie beyond the p90
SCAN_SOURCES = ["web", "wiki", "books", "code", "news"]

# queries: a fixed subset of QUERIES over a copy of the repository's seed-42
# sf0.01 test corpus (data/sf0.01); the workload ignores --seed.
QUERY_NAMES = [
    "embedding_neardup",
    "dedup_clusters",
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    "simhash",
    "grouped_features",
    "topn_per_group",
    "pack_windows",
    "merge_upsert",
    "pricing_summary",
]
QUERY_DATA = os.path.join(HERE, "data", "sf0.01")
QUERY_S_PER_PASS = 15
# the query whose first run starts the Python workers and their imports
WARM_QUERIES = ["embedding_neardup"]
EXPECTED_PATH = os.path.join(HERE, "expected_queries.json")

FLUSH_POLICY = "only snapshot/VERSION pointers are fsync'd; data and manifest files are not"

# Layers (the first dotted part of a per_layer metric name) each workload
# exercises. A per_layer metric of another layer reads 0 on that workload; a
# missing metric of an exercised layer is an error.
EXERCISED = {
    "table_day": {"session", "datagen", "compaction", "clustering", "catalog", "merge", "scan", "expire",
                  "manifest", "zorder", "host", "table_day", "tracing"},
    "queries": {"session", "queries", "tracing"},
}
# Layers whose calls get the full set of Spark counters in a traced run
COUNTED = {
    "table_day": ("compaction", "clustering", "catalog", "merge", "scan"),
    "queries": (),
}
QUERY_COUNTERS = ("jobs", "task_s", "idle_s")
FAILED = object()  # what Run.call returns when the engine call raised


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    return statistics.median(xs)


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


# ------------------------------------------------------------------ digests
def logical_bytes(rows: int, tokens: int, str_bytes: int) -> int:
    """Uncompressed bytes of token rows: 4 per token, the doc_id and source
    strings, and 4 for n_tok."""
    return 4 * tokens + str_bytes + 4 * rows


def token_digest(df) -> dict:
    """One job: content_checksum's (rows, xor of xxhash64 over all four
    columns), plus the sums logical_bytes needs."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(doc_id, tokens, n_tok, source))").alias("x"),
        F.sum(F.col("n_tok").cast("long")).alias("tok"),
        F.sum(F.length("doc_id") + F.length("source")).alias("sb"),
    ).collect()[0]
    n, tok, sb = r["n"], int(r["tok"] or 0), int(r["sb"] or 0)
    return {"rows": n, "xor": r["x"] or 0, "tokens": tok, "logical": logical_bytes(n, tok, sb)}


def scan_digest(df) -> dict:
    """token_digest's figures for a small result, from one job that collects
    a hash and the sizes of each row, as a reader materializing the rows
    would; a global aggregate would add a shuffle job per scan."""
    rows = df.select(
        F.xxhash64("doc_id", "tokens", "n_tok", "source").alias("h"),
        F.col("n_tok").cast("long").alias("t"),
        (F.length("doc_id") + F.length("source")).alias("sb"),
    ).collect()
    x = 0
    for r in rows:
        x ^= r["h"]
    tok, sb = sum(r["t"] for r in rows), sum(r["sb"] for r in rows)
    return {"rows": len(rows), "xor": x, "tokens": tok, "logical": logical_bytes(len(rows), tok, sb)}


def query_digest(df) -> tuple[int, int]:
    """Order-insensitive (rows, xor) of a query result. Columns are taken in
    name order; floating columns are compared to 10 significant digits, as
    sums near 1e9 differ in their last bits with the shuffle's merge order
    (record_expected.py checks each result against its DuckDB oracle with
    tests/oracle_harness.py's rounding when the digests are recorded)."""
    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        if f.dataType.typeName() in ("double", "float"):
            cols.append(F.format_string("%.9e", F.col(f.name)))
        else:
            cols.append(F.col(f.name))
    r = df.agg(F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("x")).collect()[0]
    return int(r["n"]), int(r["x"] or 0)


def manifest_totals(table: Table) -> tuple[int, int]:
    live = table.live_files()
    return sum(f.rows for f in live), sum(int(f.stat("n_tok", "sum") or 0) for f in live)


def overlap_depth(table: Table, col: str = "n_tok") -> float:
    """Mean number of same-partition files whose [min, max] on ``col``
    covers a point, over the points of the partitions' covered ranges,
    weighted by file count. Computed from manifests only."""
    by_part: dict[str, list[tuple[int, int]]] = {}
    for f in table.live_files():
        lo, hi = f.stat(col, "min"), f.stat(col, "max")
        if lo is not None and hi is not None:
            by_part.setdefault(json.dumps(f.partition, sort_keys=True), []).append((lo, hi + 1))
    num = den = 0.0
    for iv in by_part.values():
        covered, cur_lo, cur_hi = 0, None, None
        for lo, hi in sorted(iv):
            if cur_hi is None or lo > cur_hi:
                covered += 0 if cur_hi is None else cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        covered += cur_hi - cur_lo
        num += sum(hi - lo for lo, hi in iv) / covered * len(iv)
        den += len(iv)
    return num / den if den else 0.0


def new_files(table: Table, before: set[str]) -> list:
    return [f for f in table.live_files() if f.path not in before]


# ------------------------------------------------------------------ run state
class Run:
    """One session's run of a workload: spans, failures and metrics."""

    def __init__(self, workload: str, seed: int, seconds: int, work: str, cores: int, traced: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = os.path.join(work, "traced" if traced else "untraced")
        self.cores = cores
        self.spans = SpanLog()
        self.rss = RssSampler()
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.samples: dict[str, int] = {}  # sample count behind a median or percentile
        self.layer: dict[str, float] = {}
        self.build_s: list[float] = []
        self.warmup_s = 0.0
        self.spark = None
        self.event_dir = os.path.join(self.work, "eventlog")

    def call(self, layer: str, fn, *a, phase: str = "call", call_id: int | None = None, **kw):
        """Time one engine call in a span; returns (result or FAILED, span).
        The first phase of a call counts as an attempted operation."""
        if phase in ("call", "plan"):
            self.attempted += 1
        with self.spans.span(layer, phase, call_id) as s:
            try:
                return fn(*a, **kw), s
            except Exception:
                self.failed += 1
                log(f"FAILED: {layer}.{phase} raised\n{traceback.format_exc()}")
                return FAILED, s

    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        if not ok:
            self.failed += 1
            log(f"CHECK FAILED: {what} {detail}")
        return ok

    def start_session(self) -> float:
        os.makedirs(self.work, exist_ok=True)
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the session's own JVM options, plus: no hsperfdata file, and
            # the JVM's temp and Derby files inside the run's work dir
            "spark.driver.extraJavaOptions": (
                "-XX:G1HeapRegionSize=32m -XX:+UnlockDiagnosticVMOptions -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                f"-Dderby.system.home={os.path.join(self.work, 'derby')}"
            ),
        }
        if self.traced:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.monotonic()
        self.spark = get_spark(
            "perfbench", master=f"local[{self.cores}]", shuffle_partitions=self.cores, extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        return time.monotonic() - t0


# ------------------------------------------------------------------ table_day
def _day_plan(seed: int, rounds: int, scans_per_round: int) -> list[dict]:
    """Every seeded draw of the day: batches, merge keys, scan predicates."""
    rng = np.random.default_rng(seed)
    plan = []
    nxt = DAY_ROWS
    for i in range(rounds):
        batch_start = nxt
        nxt += DAY_APPEND
        recent = batch_start + int(rng.integers(0, DAY_APPEND - DAY_RECENT + 1))
        cold = int(rng.integers(0, DAY_ROWS - DAY_COLD + 1))
        insert = nxt
        nxt += DAY_INSERT
        # stratified, so every seed scans each source equally often and
        # covers the n_tok range evenly: seeds differ in the draws, not the mix
        per_source = math.ceil(scans_per_round / len(SCAN_SOURCES))
        scans = []
        for k in range(scans_per_round):
            src = SCAN_SOURCES[k % len(SCAN_SOURCES)]
            u = (k // len(SCAN_SOURCES) + rng.random()) / per_source
            lo = int(16 + 8176 * u**3)  # follows datagen's cube-law n_tok
            scans.append((src, lo, lo + int(rng.integers(20, 400))))
        plan.append({
            "batch": (batch_start, seed * 1000 + 10 + i),
            "updates": [(recent, DAY_RECENT), (cold, DAY_COLD), (insert, DAY_INSERT)],
            "update_seed": seed * 1000 + 500 + i,
            "scans": scans,
        })
    return plan


def _day_inputs(spark, plan: list[dict]) -> list:
    """Per round: the appended batch, then the merge source, straight from
    token_table_df."""
    out = []
    for rd in plan:
        start, seed = rd["batch"]
        out.append(token_table_df(spark, DAY_APPEND, seed=seed, start=start))
        src = None
        for s0, n in rd["updates"]:
            df = token_table_df(spark, n, seed=rd["update_seed"], start=s0)
            src = df if src is None else src.unionByName(df)
        out.append(src)
    return out


def _expected_checksum(writes: list) -> tuple[int, int]:
    """Content checksum of the latest version of every doc_id over the
    given writes, in write order; uses no engine write path."""
    u = None
    for v, df in enumerate(writes):
        df = df.withColumn("_v", F.lit(v))
        u = df if u is None else u.unionByName(df)
    w = Window.partitionBy("doc_id").orderBy(F.col("_v").desc())
    latest = u.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1")
    return content_checksum(latest.select(*TOKEN_SCHEMA.fieldNames()))


def _logical_bytes_each(dfs: list) -> list[int]:
    """logical_bytes of each DataFrame, in one job."""
    u = None
    for i, df in enumerate(dfs):
        df = df.withColumn("_i", F.lit(i))
        u = df if u is None else u.unionByName(df)
    per_row = 4 * F.col("n_tok").cast("long") + F.length("doc_id") + F.length("source") + 4
    got = dict(u.groupBy("_i").agg(F.sum(per_row).alias("b")).collect())
    return [int(got.get(i) or 0) for i in range(len(dfs))]


def _table_warmup(r: Run) -> None:
    """The day's calls once on a small table, so the timed phase starts with
    warm Python workers and JVM code paths. Compaction and clustering are
    left out: after the set-up build they showed no first-call cost above
    the run-to-run spread, and warming them cost 4 s a run."""
    spark, root = r.spark, os.path.join(r.work, "warmup")
    t = build_fragmented_table(spark, root, 400, seed=r.seed + 7, fragment_files=4)
    far = 10**9  # ids no timed write uses
    t.append_native(token_table_df(spark, 40, seed=r.seed + 8, start=far), num_files=1)
    merge_scd1(spark, t, token_table_df(spark, 30, seed=r.seed + 9, start=far + 20), ["doc_id"])
    df = scan_with_pruning(spark, Table.load(root), [Pred("source", "=", "web")])
    scan_digest(df)
    df.inputFiles()
    expire_snapshots(t, gc=True, gc_grace_ms=0, spark=spark)
    rewrite_manifests(t)
    shutil.rmtree(root, ignore_errors=True)


def _maintain(r: Run, t: Table, want: dict) -> float:
    """Compact, then Z-order cluster, the fragmented table; returns the
    timed seconds."""
    spark = r.spark
    live0 = {f.path for f in t.live_files()}
    _, s_c = r.call("compaction", compact, spark, t, target_bytes=TARGET_BYTES)
    live1 = {f.path for f in t.live_files()}
    added_c = [f for f in t.live_files() if f.path not in live0]
    _, s_z = r.call("clustering", cluster, spark, t, mode="zorder", target_bytes=TARGET_BYTES)
    added_z = new_files(t, live1)
    after = Table.load(t.root)
    got = token_digest(after.scan(spark))
    r.check("maintenance content checksum", got == want, f"{got} != {want}")
    r.check("maintenance manifest totals", manifest_totals(after) == (want["rows"], want["tokens"]))
    wall = s_c.seconds + s_z.seconds
    r.layer.update({
        "compaction.compact_s": s_c.seconds,
        "compaction.files_in": len(live0 - live1),
        "compaction.files_out": len(added_c),
        "compaction.bytes_written": sum(f.bytes for f in added_c),
        "clustering.cluster_s": s_z.seconds,
        "clustering.bytes_written": sum(f.bytes for f in added_z),
        "clustering.overlap_depth": overlap_depth(after),
        "table_day.tokens_per_s": 2 * want["tokens"] / wall,
        "table_day.write_amp_maintain": sum(f.bytes for f in added_c + added_z) / (2 * want["logical"]),
    })
    return wall


def table_day(r: Run) -> None:
    spark = r.spark
    rounds = max(1, round(r.seconds / DAY_S_PER_ROUND))
    plan = _day_plan(r.seed, rounds, math.ceil(DAY_MIN_SCANS / rounds))
    root = os.path.join(r.work, "table")
    # set-up: the fragmented table, and the day's inputs materialized so
    # appends and merges time the engine, not the generator
    t0 = time.monotonic()
    t = build_fragmented_table(spark, root, DAY_ROWS, seed=r.seed, fragment_files=DAY_FRAGMENTS)
    inputs = [df.localCheckpoint(eager=True) for df in _day_inputs(spark, plan)]
    r.build_s.append(time.monotonic() - t0)
    t0 = time.monotonic()
    _table_warmup(r)
    r.warmup_s = time.monotonic() - t0
    # expected content straight from the generator the table was built from
    want = token_digest(token_table_df(spark, DAY_ROWS, seed=r.seed))
    r.check("build manifest totals", manifest_totals(t) == (want["rows"], want["tokens"]))
    in_logical = _logical_bytes_each(inputs)

    m: dict[str, list] = {k: [] for k in (
        "append_s", "merge_s", "plan_ms", "exec_ms", "scan_ms", "affected", "carried",
        "written", "files_opened", "skipped", "bytes_opened")}
    written_bytes = written_logical = opened_bytes = returned_logical = 0

    def plan_scan(preds: list):
        # a fresh Table.load per scan, as a separate reader would
        return scan_with_pruning(spark, Table.load(root), preds)

    with r.rss.measure():
        wall = _maintain(r, t, want)
        for i, rd in enumerate(plan):
            before = {f.path for f in t.live_files()}
            _, s = r.call("catalog", t.append_native, inputs[2 * i], num_files=1)
            m["append_s"].append(s.seconds)
            rep, s2 = r.call("merge", merge_scd1, spark, t, inputs[2 * i + 1], ["doc_id"])
            m["merge_s"].append(s2.seconds)
            wall += s.seconds + s2.seconds
            written_bytes += sum(f.bytes for f in new_files(t, before))
            written_logical += in_logical[2 * i] + in_logical[2 * i + 1]
            if rep is not FAILED:
                m["affected"].append(rep["affected_files"])
                m["carried"].append(rep["carried_files"])
                m["written"].append(rep["written_files"])

            sizes = {f.path: f.bytes for f in t.live_files()}  # the burst only reads
            for k, (source, lo, hi) in enumerate(rd["scans"]):
                preds = [Pred("source", "=", source), Pred("n_tok", "between", lo, hi)]
                call_id = r.spans.new_call()
                df, sp = r.call("scan", plan_scan, preds, phase="plan", call_id=call_id)
                wall += sp.seconds
                if df is FAILED:
                    continue
                got, se = r.call("scan", scan_digest, df, phase="exec", call_id=call_id)
                wall += se.seconds
                if got is FAILED:
                    continue
                m["plan_ms"].append(sp.seconds * 1000)
                m["exec_ms"].append(se.seconds * 1000)
                m["scan_ms"].append((sp.seconds + se.seconds) * 1000)
                opened = [os.path.relpath(unquote(urlparse(p).path), root) for p in df.inputFiles()]
                m["files_opened"].append(len(opened))
                m["skipped"].append(1 - len(opened) / max(1, len(sizes)))
                m["bytes_opened"].append(sum(sizes.get(p, 0) for p in opened))
                opened_bytes += m["bytes_opened"][-1]
                returned_logical += got["logical"]
                if k == 0:
                    full = Table.load(root).scan(spark)
                    for p in preds:
                        full = full.filter(p.to_column())
                    want_scan = scan_digest(full)
                    r.check("pruned scan equals unpruned scan", got == want_scan,
                            f"{preds}: {got} != {want_scan}")

        r.layer["catalog.manifests"] = len(t.snapshot(t.current_snapshot_id()).manifests)
        r.layer["catalog.live_files"] = len(t.live_files())
        lf = []
        for _ in range(5):
            t0 = time.monotonic()
            Table.load(root).live_files()
            lf.append((time.monotonic() - t0) * 1000)
        r.layer["catalog.live_files_ms"] = median(lf)

        # end of day: expiry with GC, then manifest rewrite
        rep_e, s = r.call("expire", expire_snapshots, t, gc=True, gc_grace_ms=0, spark=spark)
        wall += s.seconds
        r.layer["expire.expire_s"] = s.seconds
        if rep_e is not FAILED:
            r.layer["expire.deleted_files"] = rep_e["deleted_files"]
        rep_m, s = r.call("manifest", rewrite_manifests, t)
        wall += s.seconds
        r.layer["manifest.rewrite_s"] = s.seconds
        if rep_m is not FAILED:
            r.layer["manifest.before"] = rep_m["manifests_before"]
            r.layer["manifest.after"] = rep_m["manifests_after"]

    expected = _expected_checksum([token_table_df(spark, DAY_ROWS, seed=r.seed)] + inputs)
    final = content_checksum(Table.load(root).scan(spark))
    r.check("final state equals token_table_df expectation", final == expected, f"{final} != {expected}")
    log(f"table_day: {DAY_ROWS} rows in {DAY_FRAGMENTS} fragments/partition, {rounds} rounds, "
        f"{len(m['merge_s'])} merges, {len(m['scan_ms'])} scans")
    r.e2e["wall_s"] = wall
    if m["scan_ms"]:
        r.samples["table_day.scan_p50_ms"] = r.samples["table_day.scan_p90_ms"] = len(m["scan_ms"])
        r.layer.update({
            "scan.plan_ms": median(m["plan_ms"]),
            "scan.exec_ms": median(m["exec_ms"]),
            "scan.files_opened": median(m["files_opened"]),
            "scan.files_skipped_ratio": statistics.fmean(m["skipped"]),
            "scan.bytes_opened": median(m["bytes_opened"]),
            "table_day.scan_p50_ms": median(m["scan_ms"]),
            "table_day.scan_p90_ms": percentile(m["scan_ms"], 0.9),
        })
    if m["affected"]:
        r.layer.update({
            "merge.affected_files": median(m["affected"]),
            "merge.carried_files": median(m["carried"]),
            "merge.written_files": median(m["written"]),
        })
    if returned_logical:
        r.layer["table_day.read_amp"] = opened_bytes / returned_logical
    r.samples["table_day.merge_p50_s"] = len(m["merge_s"])
    r.layer.update({
        "catalog.append_s": median(m["append_s"]),
        "merge.merge_s": median(m["merge_s"]),
        "table_day.merge_p50_s": median(m["merge_s"]),
        "table_day.write_amp_upsert": written_bytes / written_logical,
    })


# ------------------------------------------------------------------ queries
def load_expected() -> dict:
    with open(EXPECTED_PATH) as fh:
        return json.load(fh)["digests"]


def queries(r: Run) -> None:
    spark = r.spark
    passes = max(1, round(r.seconds / QUERY_S_PER_PASS))
    expected = load_expected()

    def run_query(name: str) -> tuple[int, int]:
        return query_digest(QUERIES[name](spark, QUERY_DATA))

    t0 = time.monotonic()
    for name in WARM_QUERIES:
        run_query(name)
    r.warmup_s = time.monotonic() - t0
    per_query: dict[str, list[float]] = {n: [] for n in QUERY_NAMES}
    walls = []
    with r.rss.measure():
        for _ in range(passes):
            wall = 0.0
            for name in QUERY_NAMES:
                got, s = r.call(f"queries.{name}", run_query, name)
                wall += s.seconds
                per_query[name].append(s.seconds)
                if got is not FAILED:
                    r.check(f"query {name} digest", list(got) == expected[name],
                            f"{list(got)} != {expected[name]}")
            walls.append(wall)
    log(f"queries: {passes} passes over {len(QUERY_NAMES)} queries on {os.path.relpath(QUERY_DATA, HERE)}")
    for name, xs in per_query.items():
        r.layer[f"queries.{name}_s"] = median(xs)
    r.e2e["wall_s"] = median(walls)


WORKLOADS = {"table_day": table_day, "queries": queries}


def spark_counters(r: Run) -> dict[str, float]:
    """Per-layer Spark counters from the run's event log, attributed to the
    span open at each job's submission."""
    per_call = attribute(r.spans.spans, read_event_log(r.event_dir), r.cores)
    out = {}
    for layer in COUNTED[r.workload]:
        for k, v in layer_counters(per_call, layer).items():
            out[f"{layer}.{k}"] = v
    if r.workload == "queries":
        for name in QUERY_NAMES:
            c = layer_counters(per_call, f"queries.{name}")
            for k in QUERY_COUNTERS:
                out[f"queries.{name}.{k}"] = c[k]
    return out


def execute(r: Run) -> None:
    """Session start, the workload, and (traced runs) the Spark counters and
    kernel benches. Stops the session; the caller ends its JVM."""
    start_s = r.start_session()
    try:
        WORKLOADS[r.workload](r)
    finally:
        r.spark.stop()
    r.layer["session.start_s"] = start_s
    r.e2e["setup_s"] = start_s + r.warmup_s + (median(r.build_s) if r.build_s else 0.0)
    if r.build_s:
        r.layer["datagen.build_s"] = median(r.build_s)
    log(f"{'traced' if r.traced else 'untraced'}: session {start_s:.2f}s warmup {r.warmup_s:.2f}s "
        f"builds {[round(b, 2) for b in r.build_s]} wall {r.e2e.get('wall_s', float('nan')):.2f}s")
    if r.traced:
        r.layer.update(spark_counters(r))
        if r.workload == "table_day":
            r.layer.update(kernels.run(r.seed))
