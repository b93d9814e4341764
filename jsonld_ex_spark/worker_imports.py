"""Keep zip archives' directories across a reused Python worker's tasks.

Before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``.  On CPython below 3.13 that calls
``zipimporter.invalidate_caches`` on every zip path entry, which re-reads
the archive's whole directory: ``pyspark.zip``, the py4j zip, the
spark-core jar, and ``jsonld_ex_spark.zip`` under ``--py-files``.  On 4
cores that is 0.13–0.20 s of every warm task, before any JSON-LD code
runs.  CPython 3.13 only drops the cached directory and reads it again
on the next lookup.

``keep_zip_directories`` replaces ``importlib.invalidate_caches`` in a
Python worker with a version that lifts the ``zipimporter`` entries out
of ``sys.path_importer_cache`` around the stdlib call and puts them
back afterwards.  Everything else stays stdlib: ``FileFinder`` caches
(the SparkFiles root, where ``addPyFile`` puts ``.py`` files) are still
invalidated, relative path entries are still pruned, and namespace
packages still see a new epoch.  A zip that ``addPyFile`` adds later is
a new path and gets a fresh importer.  What it gives up is noticing an
archive rewritten in place under the same path; Spark does not overwrite
a path it has already added.

The package calls it on import, so it is installed when the first task
of a worker unpickles a function of this package; that worker's later
tasks no longer re-read the directories.
"""

from __future__ import annotations

import functools
import importlib
import os
import sys
import zipimport


def keep_zip_directories() -> None:
    """Install the zip-keeping ``importlib.invalidate_caches`` once per
    process.  Does nothing in the driver (``SparkFiles`` not marked as
    running on a worker) and on Python 3.13 or later."""
    if sys.version_info >= (3, 13):
        return
    # setup_spark_files imports SparkFiles and sets the flag before any
    # task function is unpickled; the driver never sets it
    files = sys.modules.get("pyspark.core.files")
    if files is None or not files.SparkFiles._is_running_on_worker:
        return
    stdlib = importlib.invalidate_caches
    if hasattr(stdlib, "__wrapped__"):
        return

    @functools.wraps(stdlib)
    def invalidate_caches() -> None:
        cache = sys.path_importer_cache
        lifted = {
            path: finder
            for path, finder in cache.items()
            if isinstance(finder, zipimport.zipimporter) and os.path.isabs(path)
        }
        for path in lifted:
            del cache[path]
        try:
            stdlib()
        finally:
            cache.update(lifted)

    importlib.invalidate_caches = invalidate_caches
