"""Lazy zip-directory invalidation for ``zipimport`` on CPython before 3.13.

Why it exists: every Spark Python worker call starts with
``pyspark.worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``.  The data-source planner workers
(``pyspark.sql.worker.create_data_source``, ``data_source_pushdown_filters``,
``write_into_data_source``, ``commit_data_source_write``) call it once per
planner call, and ``pyspark.worker`` calls it once per task (every
``versioned_feed`` read and write task, every ``mapInPandas`` task).  On
CPython 3.11, ``zipimporter.invalidate_caches`` re-reads the archive's whole
central directory eagerly, once for each importer Python keeps for it; for
``pyspark.zip`` and its sub-packages that is ~15 re-reads of 1,328 members,
0.13-0.16 s of every call on a 4-core VM.

:func:`install` puts in the scheme CPython 3.13 ships: the directory lives in
``zipimport._zip_directory_cache`` only, ``_files`` reads it through
``_get_files()`` (re-reading the archive on a miss), and
``invalidate_caches()`` drops the archive's entry.  The invalidation
semantics are kept: after ``invalidate_caches()`` the next lookup re-reads the
archive, once per archive and shared by all of its importers, so a module
added to a rewritten archive imports; a vanished archive reads as ``{}``.
``_files`` is a class-level property, so it also overrides the instance
attribute of importers created before installation.  ``pkgutil`` reads the
cache directly, so its zip lister fills the entry first.

Importing this package installs it.  A Spark worker process therefore has it
from the first call that unpickles this package's code; that first call in
each worker process still pays the eager re-read, every later one does not.
Installation is selected by feature: where ``zipimporter`` already has
``_get_files`` (CPython 3.13 and later, or a second installation) it changes
nothing.
"""

from __future__ import annotations

import pkgutil
import zipimport


def _get_files(self) -> dict:
    """The archive's directory, read on a cache miss (CPython 3.13's body)."""
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            return {}
        zipimport._zip_directory_cache[self.archive] = files
        return files


def _set_files(self, files: dict) -> None:
    """Ignore ``__init__``'s assignment: it has just cached ``files``."""


def _invalidate_caches(self) -> None:
    """Drop the archive's directory; the next lookup re-reads it."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def install() -> bool:
    """Install the lazy invalidation; False where ``zipimport`` has it."""
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files"):
        return False
    cls._get_files = _get_files
    cls._files = property(_get_files, _set_files)
    cls.invalidate_caches = _invalidate_caches
    lister = pkgutil.iter_zipimport_modules

    def iter_zipimport_modules(importer, prefix=""):
        importer._get_files()  # pkgutil reads the directory cache directly
        return lister(importer, prefix)

    pkgutil.iter_importer_modules.register(cls, iter_zipimport_modules)
    return True
