"""Static inventories of the package source: the env knobs it reads, the one
data-file writer, the one metadata planner, the one snapshot publisher and
the one MERGE rewrite. Adding a knob, a second writer, planner, publisher or
MERGE rewrite means changing a test here explicitly."""

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "batch_pipeline_via_lakehouse_spark"


def test_package_env_knobs_are_the_known_set():
    found = set()
    for p in PKG.rglob("*.py"):
        found |= set(re.findall(r"SPARK_GRAFT_[A-Z_]+", p.read_text()))
    assert found == {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_NO_ALLOC_TUNING"}


def test_table_data_files_have_one_writer():
    """Table data files are written only by ``table/arrow_io``: no JVM
    DataFrame writer (``.write.``, ``.partitionBy(``) in the packages that
    write tables. ``Window.partitionBy(`` is a window spec, not a writer."""
    hits = []
    for sub in ("table", "operators", "streaming"):
        for p in sorted((PKG / sub).rglob("*.py")):
            for n, line in enumerate(p.read_text().splitlines(), 1):
                if ".write." in line or re.search(r"(?<!Window)\.partitionBy\(", line):
                    hits.append(f"{p.relative_to(PKG)}:{n}: {line.strip()}")
    assert hits == []


def test_one_metadata_planner():
    """Scans, MERGE, compaction, clustering, commits and GC all plan with the
    driver-side manifest fold: no file-count threshold or ``distributed``
    switch selects a second, Spark-job planner."""
    hits = []
    for p in sorted(PKG.rglob("*.py")):
        for n, line in enumerate(p.read_text().splitlines(), 1):
            if re.search(r"DISTRIBUTED_|distributed: bool", line):
                hits.append(f"{p.relative_to(PKG)}:{n}: {line.strip()}")
    assert hits == []


def test_one_snapshot_publisher():
    """Only ``table/catalog.py`` names the VERSION pointer, so every snapshot
    becomes current through ``Table.publish_snapshot``."""
    found = {
        str(p.relative_to(PKG)) for p in PKG.rglob("*.py") if '"VERSION"' in p.read_text()
    }
    assert found == {"table/catalog.py"}


def test_one_merge_rewrite():
    """MERGE rewrites live only in ``operators/merge.py``: the J5/J6 queries
    call its rewrites instead of re-joining by hand, and salting is a join
    choice there, not a second join helper."""
    full_outer = {
        str(p.relative_to(PKG)) for p in PKG.rglob("*.py") if '"full_outer"' in p.read_text()
    }
    assert full_outer == {"operators/merge.py"}
    salted = [
        str(p.relative_to(PKG))
        for p in PKG.rglob("*.py")
        if re.search(r"def salted_equi_join\b", p.read_text())
    ]
    assert salted == []
