"""SparkSession factory with engine defaults.

Defaults chosen for the sandbox (local[N], single JVM) but expressed so the
same settings are what you would ship to a 1000-executor cluster:

- AQE on (runtime coalescing + skew-join splitting),
- Arrow on (every pandas UDF crosses the JVM/Python boundary in batches),
- UTC session timezone (oracle comparisons against DuckDB are TZ-stable),
- shuffle partitions sized to the parallelism level, not the 200 default.

Python workers of ``local[...]`` masters start from the engine's daemon entry
(``spark.python.daemon.module = batch_pipeline_via_lakehouse_spark.worker_daemon``,
unless ``extra_conf`` names another). PySpark's worker calls
``importlib.invalidate_caches()`` before every task, which on CPython < 3.12
makes each zip importer re-read its archive's directory: 16 re-reads per task
(``pyspark.zip`` and 12 of its subpackage importers, the spark-core jar twice,
the py4j zip), about 210 ms of a task's worker set-up against 8-14 ms once
they are skipped. The entry re-reads an archive only when its stat changed
and then hands over to ``pyspark.daemon``; the forked workers inherit that.
It is limited to local masters because the daemon must import the engine:
here the package is already on the workers' ``PYTHONPATH``, while on a
cluster it would have to be installed on every executor.

DataFrame call-site capture is off for every master
(``spark.python.sql.dataFrameDebugging.enabled = false``, unless
``extra_conf`` sets it). With it on, PySpark wraps every ``Column`` method
and every ``pyspark.sql.functions`` call so that it first asks the JVM for
the active session and ``spark.sql.stackTracesInDataFrameContext`` and then
sets and clears ``PySparkCurrentOrigin``: about four extra py4j round trips
per call, spent only to attach a Python ``file:line`` to the query context
of DataFrame errors. Counted on PySpark 4.1.2: planning one 2-predicate
``scan_with_pruning`` over 2 files takes 115 round trips with it on and 35
with it off, and one pass of the ten perfbench ``queries`` at local[4]
12,370 and 5,522.
What is lost is that Python call site; errors keep their class and message.
To get it back pass ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
"true"}`` in a fresh process: PySpark reads the flag once per process, at
the first wrapped call, and keeps it.

Bad values of the engine's env knobs fail before the JVM starts:
``SPARK_GRAFT_CPUS`` must be an integer >= 1 and
``SPARK_GRAFT_NO_ALLOC_TUNING`` unset, ``0`` or ``1``.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def _env_flag(name: str) -> bool:
    """An unset, ``0`` or ``1`` env variable as a bool; anything else is
    an error rather than a silent "off"."""
    v = os.environ.get(name, "0")
    if v not in ("0", "1"):
        raise ValueError(f"{name} must be unset, 0 or 1, not {v!r}")
    return v == "1"


def _env_cpus() -> int:
    v = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        n = int(v)
    except ValueError:
        n = 0
    if n < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be an integer >= 1, not {v!r}")
    return n


def _tune_allocators() -> None:
    """Keep freed memory cached in-process instead of mmap/munmap cycles.

    Measured on this host: 32 processes each repeatedly allocating fresh
    ~160MB buffers achieve LOWER aggregate throughput than 8 (first-touch
    page faults serialize in the virtualized kernel) — 41 vs 227 iters/5s —
    while with these glibc tunables the same test reaches 417. Every Spark
    task allocates fresh Arrow/NumPy/JVM-native buffers constantly, so
    without this the whole data path stops scaling past ~8 cores. The env
    must be set before the JVM (and its Python workers) are spawned; workers
    inherit it. ARROW_DEFAULT_MEMORY_POOL=jemalloc (with both decay clocks
    disabled via MALLOC_CONF) keeps pyarrow's freed pages cached in-process;
    the glibc tunables do the same for NumPy/CPython heap allocations.

    Tradeoff: every worker retains its peak RSS indefinitely (no pages are
    returned to the OS between batches). That is the right call on hosts
    whose fault path serializes under concurrency, and the wrong one on
    memory-constrained hosts — set SPARK_GRAFT_NO_ALLOC_TUNING=1 to opt out
    (the engine then runs on the platform allocator defaults)."""
    if _env_flag("SPARK_GRAFT_NO_ALLOC_TUNING"):
        return
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("MALLOC_TOP_PAD_", str(256 << 20))
    os.environ.setdefault("MALLOC_ARENA_MAX", "4")
    # pyarrow: bundled jemalloc with page purging disabled. Measured on the
    # 32-proc read+sort+take loop over 15MB parquet files: system pool 284
    # iters/8s (anti-scales vs 8 procs), jemalloc default 519, jemalloc with
    # decay off 1246 — purging returns every freed buffer to the OS and the
    # refault storm serializes in the kernel.
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "jemalloc")
    os.environ.setdefault("MALLOC_CONF", "dirty_decay_ms:-1,muzzy_decay_ms:-1")


def get_spark(
    app_name: str = "lakehouse-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = _env_cpus()
    _tune_allocators()
    master = master or f"local[{cpus}]"
    # local[N] -> N concurrent tasks; shuffle width defaults to that.
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if n in ("*", "") else int(n)

    # Executor Python workers must be able to import this package (UDF
    # closures reference module-level kernels). On a real cluster this is
    # `spark-submit --py-files engine.zip`; in local/driver-embedded runs we
    # export the package parent dir on the workers' PYTHONPATH.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in py_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_parent}{os.pathsep}{py_path}" if py_path else pkg_parent

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        # 16g showed G1 thrash (GCLocker-initiated collections every few ms)
        # with 32 concurrent tasks holding array<int> batches; 32g keeps the
        # young gen ample on the 128GiB sandbox and any real driver host
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
        # Arrow IPC at high task counts: default 10k-row batches become ~50MB
        # humongous G1 allocations whose JNI critical sections stall every
        # thread on GCLocker retries ("Retried waiting for GCLocker too
        # often"). Smaller batches + larger G1 regions keep them ordinary.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # same humongous-allocation issue from the parquet vectorized reader:
        # 4096-row default batches of array<int> rows (up to 32KB each) are
        # ~60-130MB allocations — cap the batch so they stay ordinary objects
        .config("spark.sql.parquet.columnarReaderBatchSize", "256")
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:G1HeapRegionSize=32m -XX:+UnlockDiagnosticVMOptions",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    conf = {"spark.python.sql.dataFrameDebugging.enabled": "false"}  # see the module docstring
    if master.startswith("local"):  # the daemon entry: see the module docstring
        conf["spark.python.daemon.module"] = "batch_pipeline_via_lakehouse_spark.worker_daemon"
    conf.update(extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def in_callers_context(spark: SparkSession, fn: Callable) -> Callable:
    """Wrap a pool-thread target so its Spark jobs carry the calling thread's
    local properties (job group, description, scheduler pool).

    Capture happens here, in the caller's thread. Applying them through a
    no-op keeps PySpark's wrapper off the stack when ``fn`` starts a job, so
    stages stay named after the engine line that ran them rather than
    ``wrapped at concurrent/futures/thread.py``."""
    adopt = inheritable_thread_target(spark)(lambda: None)

    def run(*args):
        adopt()
        return fn(*args)

    return run
