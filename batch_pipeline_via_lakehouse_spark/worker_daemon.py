"""PySpark daemon entry that makes per-task import-cache invalidation cheap.

Run by the JVM as ``python -m batch_pipeline_via_lakehouse_spark.worker_daemon``
when ``spark.python.daemon.module`` names it (``session.get_spark`` does so
for local masters). On CPython < 3.12 it installs one wrapper, then hands
over to ``pyspark.daemon.manager()``; every Python worker forks from this
process and inherits the wrapper.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task; before CPython 3.12 that makes every ``zipimport.zipimporter``
eagerly re-read its archive's central directory (the measured cost is in the
``session`` module docstring). CPython 3.12 made the re-read lazy
(gh-103200); here an importer re-reads only when its archive's
``(st_mtime_ns, st_size, st_ino)`` changed since that importer last read it,
so an archive rewritten in place is still picked up.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def _archive_stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` to skip unchanged archives.

    Idempotent. Only needed before CPython 3.12, whose invalidation is lazy."""
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "_skips_unchanged", False):
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        stamp = _archive_stamp(self.archive)
        if stamp is not None and stamp == getattr(self, "_dir_stamp", None):
            return
        reread(self)
        self._dir_stamp = stamp

    invalidate_caches._skips_unchanged = True
    cls.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    import pyspark.daemon

    if sys.version_info < (3, 12):
        install()
        # read each importer the daemon already holds once, so the forked
        # workers start with stamped importers instead of each re-reading them
        importlib.invalidate_caches()
    pyspark.daemon.manager()
