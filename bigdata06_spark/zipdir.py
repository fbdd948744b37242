"""Zip-archive directories read once per archive version in Spark
Python workers.

Every Python worker invocation calls `importlib.invalidate_caches()`
(`pyspark.worker_util.setup_spark_files`): each task of `mapInPandas`
and `mapInArrow`, each task of a DataSource write, and the driver-side
runners that create a DataSource writer and commit it. Workers import
pyspark from `pyspark.zip`, which Spark puts first on their path. On
CPython 3.10–3.12, `zipimport.zipimporter.invalidate_caches` re-reads
the archive's whole central directory eagerly, once per zipimporter,
and a warm worker holds one importer per imported subpackage of the
archive (16 for pyspark.zip after a `mapInArrow` task). That is the
1328-entry directory of pyspark 4.1 read 16 times, 70–120 ms per
invocation on a 4-vCPU host, even in a reused worker.

`install()` replaces that method with one that re-reads an archive only
when its `(size, mtime_ns)` changed since this process last read it,
and otherwise hands the importer the directory already in
`zipimport._zip_directory_cache`: the same stat-keyed memo as
`catalog.parquet_schema` and `lakehouse.footer`. A zip added by
`addPyFile` is a new path and gets a new importer, which reads it; a
zip rewritten in place changes its stat and is read again. The stat is
taken before the read, so a rewrite racing the read is seen next time.

It is installed only inside Spark Python worker processes (Spark sets
`PYTHON_WORKER_FACTORY_SECRET` there), from the package's
`__init__`, so every worker that runs engine code has it whichever
session launched the worker. It depends on CPython's pure-Python
`zipimport` internals (`_zip_directory_cache`, `_read_directory`,
`zipimporter.archive` and `._files`) and on the eager re-read of
3.10–3.12; on any other version `install()` does nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive -> (size, mtime_ns) at the last directory read
_SEEN: dict[str, tuple[int, int]] = {}
#: archive -> directory reads made here (install and invalidations)
READS: dict[str, int] = {}


def _signature(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def _read(archive: str, sig: tuple[int, int] | None) -> None:
    """Read `archive`'s directory into zipimport's cache and remember
    the stat `sig` taken before the read."""
    READS[archive] = READS.get(archive, 0) + 1
    try:
        zipimport._zip_directory_cache[archive] = zipimport._read_directory(archive)
    except zipimport.ZipImportError:
        zipimport._zip_directory_cache.pop(archive, None)
        sig = None
    if sig is None:
        _SEEN.pop(archive, None)
    else:
        _SEEN[archive] = sig


def _invalidate_caches(self) -> None:
    archive = self.archive
    sig = _signature(archive)
    if sig is None or _SEEN.get(archive) != sig \
            or archive not in zipimport._zip_directory_cache:
        _read(archive, sig)
    self._files = zipimport._zip_directory_cache.get(archive, {})


def _supported() -> bool:
    return (
        (3, 10) <= sys.version_info[:2] <= (3, 12)
        and hasattr(zipimport, "_read_directory")
        and isinstance(getattr(zipimport, "_zip_directory_cache", None), dict)
    )


def install() -> None:
    """Memoize zip directories in this process if it is a Spark Python
    worker. Archives already cached are read once more now, so their
    memo starts from a stat taken before a read."""
    if "PYTHON_WORKER_FACTORY_SECRET" not in os.environ or not _supported():
        return
    if zipimport.zipimporter.invalidate_caches is _invalidate_caches:
        return
    for archive in list(zipimport._zip_directory_cache):
        _read(archive, _signature(archive))
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
