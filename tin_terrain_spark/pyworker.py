"""Python worker daemon: ``pyspark.daemon`` minus two fixed per-task costs.

``session.get_spark`` sets this module as ``spark.python.daemon.module``,
so Spark starts the daemon as ``python -m tin_terrain_spark.pyworker``.
Pyspark's own daemon loop, worker and serializers still run; before
``pyspark.daemon.manager()`` starts, the daemon changes two things
(importing the module changes nothing):

1. Stat-checked zip invalidation (CPython < 3.12). Every task's
   ``setup_spark_files`` calls ``importlib.invalidate_caches()``, and on
   3.11 each ``zipimporter`` then re-reads its archive's directory (a
   worker holds 14-16 importers over pyspark.zip's 1,328 entries: ~195
   ms a task, and ~8 MB of RSS per separate copy). Here an importer
   re-reads only when the archive's (inode, size, mtime) differs from
   the stamp taken at its last read; otherwise it takes the shared
   cached directory. CPython 3.12 made the stock method lazy (gh-103200).
2. Freeze after the first task. The daemon runs ``gc.collect()`` after
   every task (~55 ms walking pandas', pyarrow's and numpy's module
   objects); once per worker, after its first task, the objects still
   alive are collected and moved to the permanent generation.
"""

import gc
import importlib
import os
import sys
import zipimport

_stamps = {}
# the stock functions the shim wraps, taken before it replaces them
_stock_read = zipimport._read_directory
_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _stamped_read(archive):
    stamp = _stamp(archive)  # taken first: a write during the read re-reads later
    files = _stock_read(archive)
    _stamps[archive] = stamp
    return files


def _invalidate_caches(self):
    files = zipimport._zip_directory_cache.get(self.archive)
    stamp = _stamp(self.archive)
    if files is None or stamp is None or _stamps.get(self.archive) != stamp:
        _stock_invalidate(self)  # re-reads through _stamped_read, or empties on error
    else:
        self._files = files


def install_zip_shim():
    """Route every zipimporter's invalidate_caches through the stamp
    check, for the rest of the process (CPython < 3.12 only)."""
    if sys.version_info >= (3, 12):
        return
    zipimport._read_directory = _stamped_read
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    # archives read before this ran (pyspark.zip, searched on the way
    # here) have no stamp: read each once now, in the daemon, so forked
    # workers share one stamped directory per archive
    importlib.invalidate_caches()


if __name__ == "__main__":
    install_zip_shim()
    import pyspark.daemon

    _frozen = False
    _stock_main = pyspark.daemon.worker_main

    def _main_then_freeze(infile, outfile):
        global _frozen
        try:
            return _stock_main(infile, outfile)
        finally:
            if not _frozen:  # not gc.get_freeze_count(): it walks the list, ~7 ms
                gc.collect()
                gc.freeze()
                _frozen = True

    pyspark.daemon.worker_main = _main_then_freeze
    pyspark.daemon.manager()
