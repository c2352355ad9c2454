"""One-time setup of a Spark Python worker that runs engine code."""

import sys
import zipimport


def _cached_files(self) -> dict:
    """``zipimporter._files``: the shared cache entry, read on a miss."""
    cache = zipimport._zip_directory_cache
    if self.archive not in cache:
        try:
            cache[self.archive] = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            return {}
    return cache[self.archive]


def _drop_cached_files(self) -> None:
    """``zipimporter.invalidate_caches``: the next lookup re-reads."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def setup_worker() -> None:
    """Make ``zipimporter.invalidate_caches`` lazy, as CPython 3.13 does,
    in Spark Python workers on older versions (never on the driver).

    Before every task pyspark's ``setup_spark_files`` calls
    ``importlib.invalidate_caches()``, and on CPython < 3.13 each of a
    worker's 16 zipimporters (on ``pyspark.zip``, the spark-core jar and
    py4j) then re-reads its archive's central directory: 150-210 ms of
    CPU per task.  The 3.13 version only drops the archive from the shared
    ``zipimport._zip_directory_cache``; the next lookup that needs the
    archive re-reads it, once for all its importers.  Lookups return what
    they did, as a rewritten archive is still re-read before its next
    lookup.  As on 3.13, code reading the cache directly (``pkgutil`` over
    a zip) finds an invalidated archive only once a lookup re-read it.

    ``setup_spark_files`` marks the worker before any UDF is unpickled."""
    files = sys.modules.get("pyspark.core.files")
    if files is not None and files.SparkFiles._is_running_on_worker:
        install_lazy_zip_invalidation()


def install_lazy_zip_invalidation() -> None:
    """What :func:`setup_worker` installs, without its worker check."""
    zi = zipimport.zipimporter
    if sys.version_info >= (3, 13):
        return
    # __init__ assigns _files right after caching the same dict
    zi._files = property(_cached_files, lambda self, files: None)
    zi.invalidate_caches = _drop_cached_files
    for imp in sys.path_importer_cache.values():
        if isinstance(imp, zi):
            imp.__dict__.pop("_files", None)
