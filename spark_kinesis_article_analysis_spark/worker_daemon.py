"""Python worker daemon that starts ``pyspark.daemon`` without archives
on its import path.

Spark puts ``SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip
and the spark-core jar on every Python worker's ``PYTHONPATH``
(``PythonUtils.sparkPythonPath``). Each task then calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``),
and on Python 3.11 every ``zipimporter`` in ``sys.path_importer_cache``
re-reads its archive's whole central directory on that call: one
importer per ``pyspark.zip`` package directory (~9 ms each) and two for
the 5k-entry spark-core jar (~50 ms each), about a quarter second of CPU
per task before any of the task's own work.

Run as ``python -m spark_kinesis_article_analysis_spark.worker_daemon``
(``session.get_spark`` sets it as ``spark.python.daemon.module``), this
module removes from ``sys.path`` and ``sys.path_importer_cache``:

* every ``.jar`` entry — Spark's jars carry no Python;
* the ``SPARK_HOME/python/lib`` pyspark and py4j zips, but only when
  directory copies of both packages are importable from the rest of the
  path and each one's ``version.py`` is byte-identical to the zip's, so
  the workers import the same code from disk.

Then it runs Spark's stock daemon. Archives added per task (``--py-files``,
``addPyFile``) are untouched: they join the path after the daemon starts.
Nothing from ``pyspark`` may be imported before the strip, or its
modules would keep loading from the zip.

The daemon reaches executor Python workers only: the ones that run a
query's Python tasks (UDFs, data source reads and writes). Spark starts
the driver-side planner workers (data source planning, the writers'
``__init__``, the streaming sink commit) from its own ``pyspark.daemon``
whatever ``spark.python.daemon.module`` says, so they are not reached.
Those calls import pyspark before any package code runs, so their
archives cannot be stripped up front; the sink's writers drop the jar
and the cached zip importers there instead
(``sources.s3_objects._drop_archive_importers``).
"""

from __future__ import annotations

import fnmatch
import os
import sys
import zipimport
from importlib.machinery import PathFinder

#: Basename pattern of each ``SPARK_HOME/python/lib`` zip -> the package it holds.
_SPARK_LIB_ZIPS = {"pyspark.zip": "pyspark", "py4j-*.zip": "py4j"}


def _lib_zip_package(entry: str, spark_home: str | None) -> str | None:
    """The package a ``SPARK_HOME/python/lib`` zip entry holds, else None."""
    if not spark_home or not entry.endswith(".zip"):
        return None
    lib = os.path.join(os.path.abspath(spark_home), "python", "lib")
    if os.path.dirname(os.path.abspath(entry)) != lib:
        return None
    name = os.path.basename(entry)
    return next((pkg for pat, pkg in _SPARK_LIB_ZIPS.items() if fnmatch.fnmatch(name, pat)), None)


def _same_installed_copy(zips: dict[str, str], rest: list[str]) -> bool:
    """True when pyspark and py4j both import from a directory on ``rest``
    and each ``version.py`` there equals the one inside its zip."""
    if sorted(zips.values()) != ["py4j", "pyspark"]:
        return False
    for entry, pkg in zips.items():
        spec = PathFinder.find_spec(pkg, rest)
        locations = list(spec.submodule_search_locations or []) if spec else []
        if not locations or not os.path.isdir(locations[0]):
            return False
        try:
            with open(os.path.join(locations[0], "version.py"), "rb") as f:
                installed = f.read()
            packed = zipimport.zipimporter(entry).get_data(f"{pkg}/version.py")
        except (OSError, zipimport.ZipImportError):
            return False
        if installed != packed:
            return False
    return True


def strip_archives(path: list[str], importer_cache: dict, spark_home: str | None) -> list[str]:
    """Remove jar entries, and the Spark lib zips when an identical
    directory copy is importable, from ``path`` and their importers
    (the entry itself and every package directory inside it) from
    ``importer_cache``. Both are changed in place; returns the removed
    entries."""
    jars = [e for e in path if e.endswith(".jar")]
    zips = {e: pkg for e in path if (pkg := _lib_zip_package(e, spark_home))}
    rest = [e for e in path if e not in zips and e not in jars]
    drop = jars + (list(zips) if _same_installed_copy(zips, rest) else [])
    path[:] = [e for e in path if e not in drop]
    for key in list(importer_cache):
        if any(key == e or key.startswith(e + os.sep) for e in drop):
            del importer_cache[key]
    return drop


if __name__ == "__main__":
    strip_archives(sys.path, sys.path_importer_cache, os.environ.get("SPARK_HOME"))
    from pyspark.daemon import manager

    manager()
