"""Python worker daemon: ``pyspark.daemon`` minus the per-task zip re-reads.

``pyspark.worker.main`` calls ``importlib.invalidate_caches()`` on every
task; before CPython 3.13 that re-reads the central directory of every zip
on the worker's ``sys.path`` (pyspark.zip, py4j, the spark-core jar; see
``session``). Here an importer re-reads its archive only when the file's
``(st_mtime_ns, st_size)`` differs from what it last read, so an
``addPyFile`` archive rewritten in place is still picked up. On 3.13+ the
stdlib call is already lazy and is left alone. ``session.get_spark``
selects this module through ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _archive_stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def stat_checked(invalidate):
    """Wrap ``zipimporter.invalidate_caches`` to skip unchanged archives."""

    def invalidate_caches(self):
        stamp = _archive_stamp(self.archive)
        if stamp is not None and self.__dict__.get("_read_stamp") == stamp:
            return
        invalidate(self)
        self._read_stamp = stamp

    return invalidate_caches


if __name__ == "__main__":
    import importlib

    from pyspark.daemon import manager

    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = stat_checked(
            zipimport.zipimporter.invalidate_caches
        )
        # Read every importer on sys.path once, before the fork, so forked
        # workers inherit stamped importers and skip the re-read on task one.
        importlib.invalidate_caches()
    manager()
