"""PySpark worker daemon that skips re-reading unchanged zip archives.

At the start of every Python task, PySpark's worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
On CPython < 3.13 each ``zipimporter`` then re-parses its archive's whole
central directory in pure Python. A worker holds zipimporters over
``pyspark.zip`` (one per imported package prefix), the ``spark-core`` jar and
py4j: ~27k entries parsed per task, measured at 0.22 s inside a task on a
4-vCPU host — the bulk of the per-task floor of every Python UDF, leaf
kernel, split writer and merge task. CPython 3.13 made the re-read lazy.

This module replaces ``zipimporter.invalidate_caches`` with a version that
re-reads an archive only when its ``(st_mtime_ns, st_size)`` changed since the
directory now cached for it was read, reads the archives once in the daemon
(so every forked worker starts current), then runs ``pyspark.daemon``.
``session.get_spark`` sets ``spark.python.daemon.module`` to this module on
local masters; ``pyspark.daemon`` reads the worker module from ``sys.argv``.

Run as ``python -m quickwit_spark.worker_daemon [worker_module]``.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (stamp, directory dict) of the last read this module made;
# the stamp holds only while ``_zip_directory_cache`` still holds that dict
_read_stamps: dict[str, tuple[tuple[int, int], dict]] = {}
_zip_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only when
    its stamp changed since the cached directory was read. The stamp is
    taken before the read, so a rewrite racing the read is re-read next
    time rather than missed."""
    archive = self.archive
    stamp = _stamp(archive)
    last = _read_stamps.get(archive)
    files = zipimport._zip_directory_cache.get(archive)
    if last is not None and stamp == last[0] and files is last[1]:
        self._files = files
        return
    _zip_invalidate(self)
    files = zipimport._zip_directory_cache.get(archive)
    if stamp is None or files is None:
        _read_stamps.pop(archive, None)
    else:
        _read_stamps[archive] = (stamp, files)


def install() -> None:
    """Patch ``zipimporter`` and read every archive already on the import
    path once, so workers forked afterwards skip them until they change."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if __name__ == "__main__":
    # patch through the importable module, not this ``__main__`` copy, so
    # tasks see one ``_read_stamps``
    from quickwit_spark import worker_daemon

    worker_daemon.install()
    from pyspark import daemon

    daemon.manager()
