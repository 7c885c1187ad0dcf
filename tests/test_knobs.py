"""Static inventories of the package source: the env knobs it reads, and the
one data-file writer. Adding a knob or a second writer means changing a test
here explicitly."""

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
