"""Keep PySpark's Python workers from re-reading zip archives on every task.

Before each task, PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``, ``setup_spark_files``). Up to CPython 3.12 that
makes every ``zipimporter`` in ``sys.path_importer_cache`` re-read its whole
archive directory: one importer per ``pyspark.zip`` subpackage, plus the
Spark jar's. Measured inside a worker on 4 cores, that is 166–284 ms per
task. CPython 3.13 made the call lazy.

``install()`` wraps ``zipimporter.invalidate_caches`` so that it re-reads an
archive only when the archive's ``(st_mtime_ns, st_size)`` has changed since
it was last read. ``kgtk_spark`` calls it on import; it acts only inside a
PySpark worker on CPython < 3.13.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

# archive path → (st_mtime_ns, st_size) when its directory was last read;
# process-wide, like the zipimport._zip_directory_cache it vouches for
_read_at: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _stamped(reread):
    """``zipimporter.invalidate_caches`` that calls ``reread`` only when the
    archive changed since the last read; otherwise the importer takes the
    directory already in ``zipimport._zip_directory_cache``."""

    @functools.wraps(reread)
    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and _read_at.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        if stamp is not None:
            _read_at[self.archive] = stamp

    return invalidate_caches


def _in_pyspark_worker() -> bool:
    files = sys.modules.get("pyspark.core.files")
    return bool(files and files.SparkFiles._is_running_on_worker)


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` once, in a PySpark worker on
    CPython < 3.13; anywhere else, do nothing."""
    if sys.version_info >= (3, 13) or not _in_pyspark_worker():
        return
    current = zipimport.zipimporter.invalidate_caches
    if not hasattr(current, "__wrapped__"):
        zipimport.zipimporter.invalidate_caches = _stamped(current)
