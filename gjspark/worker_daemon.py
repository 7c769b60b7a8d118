"""PySpark daemon that reads each zip archive on the worker path once.

Spark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. On CPython 3.11 that makes every ``zipimporter`` re-read its
archive's central directory; with one importer per package directory of
``pyspark.zip`` and friends that is ~0.5 s of CPU per task. Run as the
daemon module, this file makes ``zipimporter.invalidate_caches`` re-read
an archive only when its stat stamp differs from the one this process
recorded at its last read, then runs the stock ``pyspark.daemon``; the
forked workers inherit the patch. A zip that ``addPyFile`` adds or
rewrites has no matching stamp, so it is still read. Where zipimport
already invalidates lazily (CPython >= 3.12, ``zipimporter._get_files``)
nothing is patched.

``gjspark.session.get_spark`` sets
``spark.python.daemon.module=gjspark.worker_daemon``.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
_read_stamps: dict[str, tuple[int, int, int]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Stamp-checked ``zipimporter.invalidate_caches``."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and stamp and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stock_invalidate_caches(self)
    if stamp:
        _read_stamps[self.archive] = stamp


if __name__ == "__main__":
    # Patch with the importable copy, not __main__'s, so workers can tell.
    from gjspark import worker_daemon

    if not hasattr(zipimport.zipimporter, "_get_files"):
        zipimport.zipimporter.invalidate_caches = worker_daemon.invalidate_caches

    from pyspark.daemon import manager

    manager()
