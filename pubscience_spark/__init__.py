"""pubscience_spark — a PySpark-native main-content extraction engine.

A from-scratch reimplementation of the capabilities of bramiozo/PubScience
(retrieve → parse → identify → deduplicate → clean → anonymise → stats)
as a columnar Spark pipeline over Common-Crawl-style page tables:

- ``kernels``   pure-Python deterministic text kernels (no Spark imports);
                the byte-identical contract lives here, CPython ``re`` only
- ``operators`` Arrow-batched pandas-UDF wrappers + native DataFrame ops
- ``sources``   page-table readers / synthetic generators
- ``plans``     end-to-end pipelines (extraction DAG, lineage, resume)
- ``datagen``   deterministic synthetic `pages` corpus (seed 42)

Design rules (BASELINE.json): every hot stage is an Arrow-batched
columnar UDF — no per-row Python in the driver path; salted url-hash
repartitioning for skew; per-partition lineage rows; idempotent resume.
"""

__version__ = "0.1.0"

import os as _os
import sys as _sys
import zipimport as _zipimport


def _archive_stamp(archive):
    try:
        st = _os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _install_lazy_zip_invalidation(zi=_zipimport):
    """Backport CPython 3.13's lazy ``zipimporter.invalidate_caches``.

    Before 3.13 every cached ``zipimporter`` re-reads its archive's central
    directory on ``importlib.invalidate_caches()``. PySpark workers call
    that once per task (``worker_util.setup_spark_files``), and a worker
    holds one importer per package directory imported from ``pyspark.zip``
    (16 of them), so each task parsed the same directory 16 times. Here an
    importer re-reads only when the archive's (mtime, size, inode) differs
    from its last read, or the shared cache has no entry; otherwise it
    re-points ``_files`` at the shared entry. A replaced archive (an
    ``addPyFile`` overwrite) is still re-read.

    Every worker that runs a package UDF imports this file when it
    unpickles the function. Returns whether the backport was installed:
    not on 3.13+, not when the private names it relies on are missing, and
    not when the stdlib method was already replaced.
    """
    stock = getattr(getattr(zi, "zipimporter", None), "invalidate_caches",
                    None)
    cache = getattr(zi, "_zip_directory_cache", None)
    stock_read = getattr(zi, "_read_directory", None)
    names = getattr(getattr(stock, "__code__", None), "co_names", ())
    if (_sys.version_info >= (3, 13) or not isinstance(cache, dict)
            or stock_read is None or "_files" not in names
            or getattr(stock, "__module__", None) != "zipimport"):
        return False
    stamps = {}  # archive path -> its stamp at the last directory read

    def _read_directory(archive):
        stamp = _archive_stamp(archive)
        files = stock_read(archive)
        stamps[archive] = stamp
        return files

    def invalidate_caches(self):
        files = cache.get(self.archive)
        stamp = stamps.get(self.archive)
        if (files is None or stamp is None
                or stamp != _archive_stamp(self.archive)):
            stock(self)  # re-reads through the stamping _read_directory
        else:
            self._files = files

    _read_directory.__wrapped__ = stock_read
    invalidate_caches.__doc__ = stock.__doc__
    invalidate_caches.__wrapped__ = stock
    zi._read_directory = _read_directory
    zi.zipimporter.invalidate_caches = invalidate_caches
    return True


_install_lazy_zip_invalidation()
