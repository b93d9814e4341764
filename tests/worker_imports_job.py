"""One local[1] Spark session that checks ``keep_zip_directories`` inside a
reused Python worker; run by tests/test_worker_imports.py as
``python -m tests.worker_imports_job <tmpdir>`` from the repository root.

A session has one SparkContext per process, so this runs apart from the
shared test session.  The probes are functions of ``__main__``, pickled
by value, and import nothing from ``jsonld_ex_spark``: the package
reaches the worker only through the ``expand_column`` task that runs
first.  Prints one JSON object on its last line.
"""

from __future__ import annotations

import importlib
import json
import os
import sys
import zipfile

import pandas as pd
from pyspark.sql import SparkSession

from jsonld_ex_spark.operators.jsonld_ops import expand_column

ROOT_MOD = "jsonld_probe_root_mod"
ZIP_MOD = "jsonld_probe_zip_mod"


def _one_row(spark, fn, schema):
    return spark.range(1, numPartitions=1).mapInPandas(fn, schema).collect()[0].asDict()


def probe_invalidate(batches):
    """Call the worker's importlib.invalidate_caches() and report whether
    zip directories survived and path-entry finders were reset."""
    import importlib
    import sys
    import zipimport
    from importlib.machinery import FileFinder

    for _ in batches:
        pass
    cache = sys.path_importer_cache
    zips = {k: v._files for k, v in cache.items() if isinstance(v, zipimport.zipimporter)}
    finders = [v for v in cache.values() if isinstance(v, FileFinder)]
    for f in finders:
        f._path_mtime = 0.0
    importlib.invalidate_caches()
    yield pd.DataFrame({
        "package_loaded": ["jsonld_ex_spark" in sys.modules],
        "installed": [hasattr(importlib.invalidate_caches, "__wrapped__")],
        "zips": [len(zips)],
        "zips_kept": [all(
            isinstance(cache.get(k), zipimport.zipimporter) and cache[k]._files is files
            for k, files in zips.items()
        )],
        "finders": [len(finders)],
        "finders_reset": [all(f._path_mtime == -1 for f in finders)],
    })


def probe_fill(batches):
    """Look both probe modules up (they do not exist yet), which fills the
    SparkFiles root's FileFinder cache; report the root's mtime."""
    import os

    from pyspark import SparkFiles

    for _ in batches:
        pass
    for name in (ROOT_MOD, ZIP_MOD):
        try:
            __import__(name)
        except ModuleNotFoundError:
            pass
    yield pd.DataFrame({"mtime_ns": [os.stat(SparkFiles.getRootDirectory()).st_mtime_ns]})


def probe_import(mtime_ns):
    """Pin the SparkFiles root's mtime to the one its FileFinder cached,
    as on a file system with coarse timestamps, then import the modules
    added since: only an invalidated finder can see the new .py file."""

    def run(batches):
        import importlib
        import os

        from pyspark import SparkFiles

        for _ in batches:
            pass
        root = SparkFiles.getRootDirectory()
        os.utime(root, ns=(os.stat(root).st_atime_ns, mtime_ns))
        values = []
        for name in (ROOT_MOD, ZIP_MOD):
            try:
                values.append(importlib.import_module(name).VALUE)
            except ModuleNotFoundError:
                values.append("missing")
        yield pd.DataFrame({"root_mod": [values[0]], "zip_mod": [values[1]]})

    return run


def main(tmpdir: str) -> dict:
    spark = (
        SparkSession.builder.master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "1")
        .appName("worker-imports-probe")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    try:
        docs = spark.createDataFrame([('{"http://example.org/p": 1}',)], "doc string")
        out["expanded"] = expand_column(docs.coalesce(1), "doc").collect()[0]["expanded"]
        out["invalidate"] = _one_row(
            spark, probe_invalidate,
            "package_loaded boolean, installed boolean, zips long, zips_kept boolean, "
            "finders long, finders_reset boolean",
        )

        filled = _one_row(spark, probe_fill, "mtime_ns long")
        py_path = os.path.join(tmpdir, f"{ROOT_MOD}.py")
        with open(py_path, "w") as f:
            f.write("VALUE = 'root'\n")
        zip_path = os.path.join(tmpdir, "probe_late.zip")
        with zipfile.ZipFile(zip_path, "w") as zf:
            zf.writestr(f"{ZIP_MOD}.py", "VALUE = 'zip'\n")
        spark.sparkContext.addPyFile(py_path)
        spark.sparkContext.addPyFile(zip_path)
        out["late"] = _one_row(
            spark, probe_import(filled["mtime_ns"]), "root_mod string, zip_mod string"
        )
    finally:
        spark.stop()

    stdlib = importlib.invalidate_caches
    out["driver_stdlib"] = (
        not hasattr(stdlib, "__wrapped__")
        and stdlib.__code__.co_filename == importlib.__file__
    )
    return out


if __name__ == "__main__":
    print(json.dumps(main(sys.argv[1])))
