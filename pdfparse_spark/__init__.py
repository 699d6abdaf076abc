"""PySpark main-content extraction engine for PDF and HTML transcript turns.

Importing the package installs :func:`_install_zip_cache_guard`; every
worker-side UDF body lives in this package, so the guard reaches every
Python worker the engine uses.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _install_zip_cache_guard() -> None:
    """Make ``zipimporter.invalidate_caches`` skip archives that did not change.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
    every Python task (``worker_util.setup_spark_files``), so that a zip
    added with ``addPyFile`` / ``--py-files`` is picked up.  On Python < 3.13
    ``zipimporter.invalidate_caches`` re-reads the archive's whole central
    directory at once, and a worker holds a dozen zipimporters on
    ``pyspark.zip`` plus two on the spark-core jar that Spark always puts on
    the worker path: about 0.15 s of CPU per task, whatever the task does.

    The guard re-reads an archive only when its ``(st_mtime_ns, st_size,
    st_ino)`` differs from the stamp taken when that importer last read it.
    An importer with no stamp yet, or an archive that cannot be stat'ed,
    goes through the original method, so a zip added or rewritten in place
    is still picked up.  Installing twice wraps once.  CPython 3.13 made the
    method lazy itself, so there the guard is not installed.
    """
    original = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or original.__module__ == __name__:
        return

    def invalidate_caches(self):
        """Re-read the archive only if its stat stamp changed (see the installer)."""
        try:
            st = os.stat(self.archive)
        except OSError:
            self.__dict__.pop("_archive_stamp", None)
            return original(self)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        if self.__dict__.get("_archive_stamp") != stamp:
            original(self)
            self._archive_stamp = stamp

    invalidate_caches.__wrapped__ = original
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install_zip_cache_guard()
