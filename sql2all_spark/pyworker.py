"""Spark's Python worker daemon, run on the installed pyspark.

Spark puts its own archives first on every Python worker's ``sys.path``:
``pyspark.zip``, the py4j source zip and the ``spark-core`` jar.  Before
each task, pyspark's ``worker_util.setup_spark_files()`` calls
``importlib.invalidate_caches()``, and on Python 3.11 every cached
``zipimport.zipimporter`` then re-reads its archive's whole directory
(thousands of entries), in every task of every reused worker.  When the
directory entries of the path already hold py4j and the same pyspark (an
identical ``pyspark/version.py``), the worker drops Spark's archives and
runs that copy instead, with its compiled ``.pyc`` files; otherwise it
keeps the path Spark built.

:func:`sql2all_spark.session.get_spark` sets ``spark.python.daemon.module``
to this module for local masters.  Spark starts it as ``python -m``, which
imports the package first, so ``sql2all_spark/__init__.py`` must not
import pyspark.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def _archive_names(entry: str) -> set[str]:
    """Top-level names in a zip or jar path entry; empty for anything else."""
    try:
        with zipfile.ZipFile(entry) as z:
            return {name.split("/", 1)[0] for name in z.namelist()}
    except (OSError, zipfile.BadZipFile):
        return set()


def _read(path: str) -> bytes | None:
    try:
        with open(path, "rb") as f:
            return f.read()
    except OSError:
        return None


def without_spark_archives(path: list[str]) -> list[str]:
    """``path`` without Spark's archives (jars, and zips holding pyspark or
    py4j) when its other entries provide py4j and the same pyspark as the
    archive; otherwise ``path`` unchanged.  Other zips stay on the path."""
    archives = []
    for entry in path:
        names = _archive_names(entry)
        if names and (entry.endswith(".jar") or names & {"pyspark", "py4j"}):
            archives.append(entry)
    rest = [entry for entry in path if entry not in archives]
    pyspark = PathFinder.find_spec("pyspark", rest)
    if not archives or pyspark is None or PathFinder.find_spec("py4j", rest) is None:
        return path
    kept_version = _read(os.path.join(pyspark.submodule_search_locations[0], "version.py"))
    for entry in archives:
        with zipfile.ZipFile(entry) as z:
            if "pyspark/version.py" in z.namelist():
                return rest if z.read("pyspark/version.py") == kept_version else path
    return path


if __name__ == "__main__":
    kept = without_spark_archives(sys.path)
    for entry in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(entry, None)
    sys.path[:] = kept

    from pyspark.daemon import manager

    manager()
