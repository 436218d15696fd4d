"""rucene_spark — a PySpark-native inverted-index build + BM25 top-k query
engine with the query semantics of zhihu/rucene (a Rust port of Lucene 6.2.1).

Not a port: segments are Parquet tables built by Arrow UDFs, the terms hash is
a Spark shuffle, scorer trees dissolve into joins/aggregations, and the top-k
collector is ``TakeOrderedAndProject``. See SURVEY.md for the full mapping.
"""

import os
import sys

__version__ = "0.1.0"


def _install_lazy_zip_invalidation() -> None:
    """Make ``zipimport.zipimporter.invalidate_caches`` re-read an
    archive's directory only when the archive changed.

    A PySpark worker calls ``importlib.invalidate_caches()`` before every
    task (``worker_util.setup_spark_files``). Before CPython 3.12 that
    makes each ``zipimporter`` — a worker holds about 16, over
    ``pyspark.zip``, py4j and a Spark jar — re-read its archive's whole
    directory at once: 0.1–0.25 s per Python task. CPython 3.12 made
    the re-read lazy (gh-103200). Here the archive is re-read only when
    its ``(st_mtime_ns, st_size)`` differs from the one stat'ed before
    its last read, so a rewritten ``--py-files`` zip is still seen;
    otherwise the method does what the stdlib one does, its
    ``ZipImportError`` branch included. Idempotent; a no-op on 3.12+.
    A worker runs it on the first task that unpickles a rucene_spark
    function (which imports the package)."""
    if sys.version_info >= (3, 12):
        return
    import zipimport

    stdlib = zipimport.zipimporter.invalidate_caches
    if getattr(stdlib, "_lazy", False):
        return
    read_at = {}  # archive path → stamp taken before its cached read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None  # gone: the stdlib read raises ZipImportError
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and (
                read_at.get(self.archive) == stamp):
            self._files = files
            return
        stdlib(self)
        if stamp is not None and (
                self.archive in zipimport._zip_directory_cache):
            read_at[self.archive] = stamp

    invalidate_caches._lazy = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install_lazy_zip_invalidation()
