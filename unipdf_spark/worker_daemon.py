"""PySpark daemon whose forked workers stop re-reading unchanged zip archives.

At the start of every task PySpark's worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
On CPython 3.11 every cached ``zipimporter`` then re-parses the central
directory of its archive. A worker holds 14-16 of them, one per package
imported from ``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries), so each
task paid 0.22-0.3 s of CPU before running a row, even an empty task. Spark
books that as "time to initialize Python workers".

This module wraps ``zipimport.zipimporter.invalidate_caches`` so that an
importer re-reads its archive only when the archive's ``(st_mtime_ns,
st_size)`` stamp changed since that importer last read it. A changed or
vanished archive is still re-read, as before. Run as a module, it installs
the guard and then runs ``pyspark.daemon.manager()``, so every worker the
daemon forks inherits it. ``pipeline.get_spark`` names this module in
``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import zipimport

# the unguarded method: re-reads the archive's directory on every call
_read_directory_now = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read ``self.archive`` only if it changed since this importer's
    last read; the stamp is taken before the read, so a write racing the
    read shows up as a changed stamp next time."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _read_directory_now(self)
        self._read_stamp = stamp


def install() -> None:
    """Put the guard on every zipimporter, present and future."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
