"""Python-worker set-up that every engine kernel runs first.

A reused PySpark worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark.worker_util.setup_spark_files``).  Before
CPython 3.13, ``zipimport.zipimporter.invalidate_caches`` re-reads its
archive's whole central directory, and a worker that imports pyspark from
``pyspark.zip`` holds one zipimporter per pyspark subpackage plus py4j's:
16 directory reads (pyspark.zip has about 1300 entries) of archives that
did not change, on every task: most of a warm kernel task's fixed cost.

:func:`install_zip_stamps` makes the worker re-read an archive only when
its ``(st_mtime_ns, st_size)`` stamp has changed -- the rule
``registry._read_parquet`` uses for table schemas -- so a new or
rewritten archive, such as an ``addPyFile`` zip, is still read.  CPython
3.13 made ``invalidate_caches`` lazy (it only drops the cached
directory), so there it does nothing; outside a worker it does nothing
either.

Every engine kernel (``pandas_udf``, ``mapInPandas``, ``applyInPandas``,
``applyInPandasWithState``, ``mapInArrow``, ``applyInArrow``) calls it as
its first statement.  The call has to be explicit: most kernels ship to
the worker as by-value closures, which do not import this package there.
``tests/test_gates.py`` lints that every kernel does.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> the (st_mtime_ns, st_size) its cached directory was
# read at; None until installed in this process
_stamps: dict[str, tuple[int, int]] | None = None


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install_zip_stamps() -> None:
    """Once per worker process: from now on a zipimporter re-reads its
    archive's directory on ``invalidate_caches`` only when the archive's
    stamp changed.  Later calls cost one global test."""
    global _stamps
    if _stamps is not None or sys.version_info >= (3, 13):
        return
    from pyspark.core.files import SparkFiles

    if not SparkFiles._is_running_on_worker:
        return
    cache = zipimport._zip_directory_cache
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self) -> None:
        stamp = _stamp(self.archive)
        if stamp is not None and _stamps.get(self.archive) == stamp and self.archive in cache:
            self._files = cache[self.archive]  # another prefix may have re-read it
            return
        reread(self)
        if stamp is None:
            _stamps.pop(self.archive, None)
        else:
            _stamps[self.archive] = stamp

    # This task's set-up has just re-read the archive of every zipimporter
    # on the import path, after the executor fetched the task's files, so
    # those cached directories are current: stamp them now, and the next
    # task re-reads none.
    importers = [f for f in list(sys.path_importer_cache.values())
                 if isinstance(f, zipimport.zipimporter)]
    _stamps = {f.archive: s for f in importers
               if f.archive in cache and (s := _stamp(f.archive)) is not None}
    zipimport.zipimporter.invalidate_caches = invalidate_caches
