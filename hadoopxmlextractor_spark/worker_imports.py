"""Stat-gated ``zipimport`` cache invalidation for Python workers.

Every PySpark task starts with ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. On CPython 3.11 that makes
each ``zipimporter`` cached in ``sys.path_importer_cache`` re-read its
archive's central directory in pure Python (``zipimporter.invalidate_caches``
→ ``zipimport._read_directory``). A worker holds one importer per package
directory it imported from ``pyspark.zip`` (16 of them, over a 1,328-entry
directory), so without this module each task pays ~0.25 s of CPU before
its function runs.

Importing this module replaces ``zipimporter.invalidate_caches`` once per
process with a wrapper that re-reads an archive only when its
``(st_size, st_mtime_ns)`` differs from the stamp taken when this process
last read it. Otherwise the importer is pointed at the shared
``zipimport._zip_directory_cache`` entry, which is what the stdlib would
have rebuilt. An archive that cannot be stat'ed (deleted, unreadable), or
that this process has not read through the wrapper yet, goes through the
stdlib method unchanged.

The package imports this module first, so any worker that unpickles an
engine kernel installs it, and every later task in that worker skips the
re-reads. Interpreters without the eager 3.11 form (a module-level
``_zip_directory_cache`` and an instance ``_files`` filled in
``__init__``) are left alone, with one log line.
"""

from __future__ import annotations

import logging
import os
import zipimport

_log = logging.getLogger(__name__)

# archive path -> (st_size, st_mtime_ns) taken just before this process last
# read the archive's directory through the wrapper.
_stamps: dict[str, tuple[int, int]] = {}


def _eager_zipimport() -> bool:
    init = zipimport.zipimporter.__init__
    return (
        isinstance(getattr(zipimport, "_zip_directory_cache", None), dict)
        and callable(getattr(zipimport, "_read_directory", None))
        and "_files" in getattr(getattr(init, "__code__", None), "co_names", ())
    )


def install() -> None:
    """Install the stat-gated ``zipimporter.invalidate_caches``; idempotent."""
    cls = zipimport.zipimporter
    stdlib_invalidate = cls.invalidate_caches
    if getattr(stdlib_invalidate, "_stat_gated", False):
        return
    if not _eager_zipimport():
        _log.info(
            "zipimport has no eager directory cache on this interpreter; "
            "leaving zipimporter.invalidate_caches unchanged"
        )
        return

    def invalidate_caches(self):
        archive = self.archive
        try:
            st = os.stat(archive)
        except OSError:
            _stamps.pop(archive, None)
            return stdlib_invalidate(self)
        stamp = (st.st_size, st.st_mtime_ns)
        files = zipimport._zip_directory_cache.get(archive)
        if files is not None and _stamps.get(archive) == stamp:
            self._files = files
            return
        # Stamp taken before the read: a rewrite racing the read leaves a
        # stale stamp, which only costs one more read next time.
        stdlib_invalidate(self)
        if archive in zipimport._zip_directory_cache:
            _stamps[archive] = stamp
        else:
            _stamps.pop(archive, None)

    invalidate_caches._stat_gated = True
    invalidate_caches.__wrapped__ = stdlib_invalidate
    cls.invalidate_caches = invalidate_caches


install()
