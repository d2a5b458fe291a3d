"""Cheap ``importlib.invalidate_caches()`` inside PySpark Python workers.

A PySpark worker calls ``importlib.invalidate_caches()`` before every task
(``worker_util.setup_spark_files``), and on CPython 3.11 that makes every
``zipimporter`` on the worker's import path re-read its archive's whole
central directory. The workers' path holds a dozen importers over
``pyspark.zip`` sub-packages and two over the spark-core jar, so a task paid
about 75 ms before its first row (BASELINE.md, "Python tasks pay for their
rows").

``install`` replaces ``zipimporter.invalidate_caches`` with a version that
re-reads an archive only when the archive's ``(st_mtime_ns, st_size)``
differs from what that importer saw at its last re-read, so a zip rewritten
in place is still picked up. ``install_in_worker`` installs it only in a
process that PySpark has set up as a worker; the package ``__init__`` calls
it, so any task whose function comes from this package installs it for the
rest of the worker's life. (The worker's daemon module is not the place: on
the ``--py-files`` spark-submit path the package is not importable when the
daemon starts.)
"""

from __future__ import annotations

import os
import sys
import zipimport

_read_archive = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is not None and getattr(self, "_read_stamp", None) == stamp:
        return
    _read_archive(self)
    self._read_stamp = stamp


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives, for
    this process."""
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


def install_in_worker() -> None:
    """``install`` if this process runs PySpark tasks (``setup_spark_files``
    has marked it as a worker); a driver is left as it is."""
    files = sys.modules.get("pyspark.core.files")
    if files is not None and getattr(files.SparkFiles, "_is_running_on_worker", False):
        install()
