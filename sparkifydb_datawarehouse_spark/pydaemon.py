"""The Python UDF worker daemon: `pyspark.daemon`, except that a zip
archive on the workers' path is re-read only when it has changed.

Spark imports pyspark on the workers from `pyspark.zip`, and every
task ends with `importlib.invalidate_caches()`. Before CPython 3.13,
each `zipimport.zipimporter` (one per imported subpackage, about 16 in
a worker) re-reads the archive's whole directory there (CPython 3.11
`zipimport.py:329-336`): about 90 ms of CPU per task that buys no
work. CPython 3.13 made the re-read lazy, so there this module runs
`pyspark.daemon` unchanged. `session.get_spark` names this module in
`spark.python.daemon.module`; Spark still passes `pyspark.worker` as
its argument.
"""

from __future__ import annotations

import os
import sys
import zipimport

_LAZY_ZIP_CACHE = sys.version_info >= (3, 13)
_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> ((st_mtime_ns, st_size), directory) of its last read
_reads: dict[str, tuple[tuple[int, int], dict]] = {}


def invalidate_caches(importer: zipimport.zipimporter) -> None:
    """`zipimporter.invalidate_caches`, but an archive whose
    (st_mtime_ns, st_size) is unchanged since its directory was last
    read keeps that directory instead of being read again."""
    try:
        st = os.stat(importer.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    last = _reads.get(importer.archive)
    if key is not None and last is not None and last[0] == key:
        importer._files = zipimport._zip_directory_cache[importer.archive] = last[1]
        return
    _stdlib_invalidate_caches(importer)
    if key is not None and importer.archive in zipimport._zip_directory_cache:
        _reads[importer.archive] = (key, importer._files)


def install() -> bool:
    """Make every zipimporter in this process use `invalidate_caches`;
    False (and nothing changed) where CPython already reads lazily."""
    if _LAZY_ZIP_CACHE:
        return False
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    import importlib

    import pyspark.daemon

    if install():
        # read each archive once here, so forked workers start current
        importlib.invalidate_caches()
    pyspark.daemon.manager()
