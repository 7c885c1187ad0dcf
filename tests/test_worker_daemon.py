"""Engine daemon entry: zip importers skip re-reading unchanged archives."""

import importlib
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import SparkSession

from batch_pipeline_via_lakehouse_spark import worker_daemon
from batch_pipeline_via_lakehouse_spark.session import get_spark

DAEMON_CONF = "spark.python.daemon.module"
DEBUG_CONF = "spark.python.sql.dataFrameDebugging.enabled"


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="CPython >= 3.12 re-reads lazily")
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("wd_zip_mod_a.py", "VALUE = 'a'\n")
    monkeypatch.syspath_prepend(archive)
    # restored at teardown, so the wrapper stays local to this test
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    reads = []
    read_directory = zipimport._read_directory

    def counting_read_directory(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read_directory)
    try:
        assert importlib.import_module("wd_zip_mod_a").VALUE == "a"
        assert reads.count(archive) == 1  # the importer's construction
        worker_daemon.install()

        importlib.invalidate_caches()  # first call: reads and stamps
        assert reads.count(archive) == 2
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 2

        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("wd_zip_mod_a.py", "VALUE = 'a'\n")
            z.writestr("wd_zip_mod_b.py", "VALUE = 'b'\n")
        importlib.invalidate_caches()
        assert reads.count(archive) == 3
        assert importlib.import_module("wd_zip_mod_b").VALUE == "b"
    finally:
        for name in ("wd_zip_mod_a", "wd_zip_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_session_workers_run_under_the_daemon_entry(spark):
    def probe(batches):
        import importlib as _importlib
        import sys as _sys
        import time as _time
        import zipimport as _zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        best = float("inf")
        for _ in range(3):
            t0 = _time.perf_counter()
            _importlib.invalidate_caches()
            best = min(best, _time.perf_counter() - t0)
        wrapped = getattr(_zipimport.zipimporter.invalidate_caches, "_skips_unchanged", False)
        yield pa.RecordBatch.from_pydict(
            {
                "wrapped": [wrapped or _sys.version_info >= (3, 12)],
                "ms": [best * 1000.0],
            }
        )

    assert spark.sparkContext.getConf().get(DAEMON_CONF) == worker_daemon.__name__
    rows = spark.range(4, numPartitions=4).mapInArrow(probe, "wrapped boolean, ms double").collect()
    assert len(rows) == 4
    assert all(r["wrapped"] for r in rows)
    assert max(r["ms"] for r in rows) < 20.0


def test_daemon_conf_defaults_and_extra_conf_override(monkeypatch):
    # read the builder's options instead of starting a second session
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))
    assert get_spark(master="local[2]")[DAEMON_CONF] == worker_daemon.__name__
    assert DAEMON_CONF not in get_spark(master="spark://head:7077")
    kept = get_spark(master="local[2]", extra_conf={DAEMON_CONF: "pyspark.daemon"})
    assert kept[DAEMON_CONF] == "pyspark.daemon"
    # DataFrame call-site capture is off on every master unless extra_conf says otherwise
    assert get_spark(master="local[2]")[DEBUG_CONF] == "false"
    assert get_spark(master="spark://head:7077")[DEBUG_CONF] == "false"
    assert get_spark(master="local[2]", extra_conf={DEBUG_CONF: "true"})[DEBUG_CONF] == "true"


@pytest.mark.parametrize(
    "name, value",
    [
        ("SPARK_GRAFT_NO_ALLOC_TUNING", "true"),
        ("SPARK_GRAFT_NO_ALLOC_TUNING", "yes"),
        ("SPARK_GRAFT_CPUS", "four"),
        ("SPARK_GRAFT_CPUS", "0"),
        ("SPARK_GRAFT_CPUS", "-2"),
    ],
)
def test_bad_env_values_fail_before_the_jvm_starts(monkeypatch, name, value):
    started = []
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: started.append(1))
    monkeypatch.setenv(name, value)
    with pytest.raises(ValueError, match=name):
        get_spark()
    assert not started

