"""Guard against the per-task zip re-read in reused Python workers.

Every PySpark Python task starts with `worker_util.setup_spark_files`,
which calls `importlib.invalidate_caches()`. On CPython 3.10 and 3.11
`zipimport.zipimporter.invalidate_caches` re-reads its archive's whole
directory at once, and a worker caches one importer per package
directory it imported from: `pyspark.zip` is re-read once per
sub-package, plus the spark-core jar and any `--py-files` zip. That cost
about 0.3 CPU-s per task with no file changed. CPython 3.12 made the
re-read lazy, so the guard is installed only on 3.10 and 3.11.

The guard remembers each archive's (st_mtime_ns, st_size, st_ino) at
its last directory read. `invalidate_caches` re-reads only when that
stamp changed or the archive left zipimport's directory cache; else
the importer points at the cached directory. A changed or deleted
archive takes the original path, so `importlib.invalidate_caches()`
keeps its meaning. The package `__init__` imports this module, so a
worker installs the guard when it unpickles its first engine kernel,
and refreshes its archives once then: only that first task pays.
"""

import importlib
import os
import sys
import zipimport

# re-reads the guard let through: changed, deleted or uncached archives
archive_reads = 0
_stamps = {}


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _read_directory(archive):
    _stamps[archive] = _stamp(archive)
    return zipimport._unguarded[0](archive)


def _invalidate_caches(self):
    global archive_reads
    files = zipimport._zip_directory_cache.get(self.archive)
    stamp = _stamp(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    archive_reads += 1
    zipimport._unguarded[1](self)


if (3, 10) <= sys.version_info[:2] <= (3, 11) and not hasattr(zipimport, "_unguarded"):
    zipimport._unguarded = (
        zipimport._read_directory, zipimport.zipimporter.invalidate_caches
    )
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()
