"""Spark Python-worker daemon entry (`spark.python.daemon.module`).

PySpark's `setup_spark_files` calls `importlib.invalidate_caches()` at
the start of every task. Up to CPython 3.12 that makes each zipimporter
re-read its archive's whole central directory: 16 importers over
`pyspark.zip` and the spark-core jar in a local worker, 80-130 ms a
task on a 4-core VM. Run as the daemon, this module skips the re-read
while the archive's stat is unchanged, stamps every importer once
before forking, then hands over to `pyspark.daemon`. It runs only in
Spark's worker processes and imports only the stdlib and pyspark (a
failed import fails every task).
"""

from __future__ import annotations

import importlib
import os
import runpy
import zipimport

_eager_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self) -> None:
    """Re-read the archive's directory only if its stat moved since this
    importer's last read, or if the stat fails."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except (OSError, ValueError):
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _eager_invalidate(self)
        self._read_stamp = stamp


def install() -> None:
    """Patch eager zipimporters (CPython 3.13+ has a lazy `_get_files`
    and is left alone), then stamp every importer already on the path."""
    if hasattr(zipimport.zipimporter, "_get_files"):
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    importlib.invalidate_caches()


if __name__ == "__main__":
    install()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
