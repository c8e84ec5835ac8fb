"""Python worker daemon for sessions built by :func:`session.get_spark`.

Every Python task runs ``pyspark.worker_util.setup_spark_files``, which
ends in ``importlib.invalidate_caches()``. Before CPython 3.13 that call
makes every ``zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's whole central directory on the spot: on Spark's worker path
that is one re-read of ``pyspark.zip`` (~1 300 entries) per importer
(about 16 of them) per task, measured as ~3/4 of a warm worker's CPU for
a small ``mapInArrow`` task.

CPython 3.13 made the invalidation lazy: ``invalidate_caches`` only
drops the archive's entry in ``zipimport._zip_directory_cache`` and the
next lookup re-reads it. :func:`backport_lazy_zip_invalidation` installs
that behaviour on older interpreters; run as ``__main__`` this module
installs it and then serves as ``pyspark.daemon``, so every forked
worker inherits it. Imports still see archives rewritten between tasks:
the first lookup after an invalidation re-reads the directory.
"""

from __future__ import annotations

import sys
import zipimport


def _get_files(self) -> dict:
    # CPython 3.13 zipimporter._get_files: the directory lives only in
    # the shared cache, re-read on the first lookup after invalidation
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._zip_directory_cache[self.archive] = (
                zipimport._read_directory(self.archive))
        except zipimport.ZipImportError:
            files = {}
        return files


def _set_files(self, files: dict) -> None:
    # zipimporter.__init__ assigns the directory it has just stored in
    # _zip_directory_cache (before self.archive exists): nothing to keep
    pass


def _invalidate_caches(self) -> None:
    """Invalidates the cache of file data of the archive path."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def backport_lazy_zip_invalidation() -> bool:
    """Make ``zipimporter.invalidate_caches`` lazy, as in CPython 3.13.
    Returns whether anything was patched (nothing on Python >= 3.13)."""
    if sys.version_info >= (3, 13):
        return False
    zipimport.zipimporter._files = property(_get_files, _set_files)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True


if __name__ == "__main__":
    backport_lazy_zip_invalidation()
    from pyspark import daemon

    daemon.manager()
