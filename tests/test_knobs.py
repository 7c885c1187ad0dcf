"""Env-knob inventory: the package reads exactly these SPARK_GRAFT_* variables,
so adding a knob means adding it to this test explicitly."""

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "batch_pipeline_via_lakehouse_spark"


def test_package_env_knobs_are_the_known_set():
    found = set()
    for p in PKG.rglob("*.py"):
        found |= set(re.findall(r"SPARK_GRAFT_[A-Z_]+", p.read_text()))
    assert found == {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_NO_ALLOC_TUNING"}
