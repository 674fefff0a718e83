"""The Python worker daemon runs on the installed pyspark (``pyworker``)."""

from __future__ import annotations

import subprocess
import sys
import zipfile
from pathlib import Path

from sql2all_spark.pyworker import without_spark_archives

REPO = Path(__file__).resolve().parent.parent


def test_python_tasks_import_no_archive(spark):
    """A task in the session's workers runs pyspark from a directory, and no
    zip importer is left for ``importlib.invalidate_caches()`` to re-read."""

    def probe(_):
        import sys
        import zipimport

        import pyspark

        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        yield pyspark.__file__, zips

    for pyspark_file, zips in spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect():
        assert Path(pyspark_file).parent.is_dir(), pyspark_file
        assert zips == []


def _zip(path: Path, files: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _tree(root: Path, files: dict[str, str]) -> str:
    for name, text in files.items():
        (root / name).parent.mkdir(parents=True, exist_ok=True)
        (root / name).write_text(text)
    return str(root)


def test_path_filter(tmp_path):
    version = "__version__ = '4.1.2'\n"
    pyspark_zip = _zip(tmp_path / "pyspark.zip",
                       {"pyspark/__init__.py": "", "pyspark/version.py": version})
    py4j_zip = _zip(tmp_path / "py4j-src.zip", {"py4j/__init__.py": ""})
    jar = _zip(tmp_path / "spark-core.jar", {"org/apache/spark/A.class": ""})
    user_zip = _zip(tmp_path / "deps.zip", {"mylib/__init__.py": ""})
    site = _tree(tmp_path / "site",
                 {"pyspark/__init__.py": "", "pyspark/version.py": version,
                  "py4j/__init__.py": ""})
    other = _tree(tmp_path / "other",
                  {"pyspark/__init__.py": "", "pyspark/version.py": "__version__ = '4.0.0'\n",
                   "py4j/__init__.py": ""})
    spark_path = [pyspark_zip, py4j_zip, jar, user_zip]

    # same pyspark installed as a directory: Spark's archives go, user zips stay
    assert without_spark_archives(spark_path + [site]) == [user_zip, site]
    # no directory copy of pyspark: unchanged
    assert without_spark_archives(spark_path) == spark_path
    # a directory copy of another pyspark version: unchanged
    assert without_spark_archives(spark_path + [other]) == spark_path + [other]
    # py4j only in the archive: unchanged
    no_py4j = _tree(tmp_path / "no_py4j",
                    {"pyspark/__init__.py": "", "pyspark/version.py": version})
    assert without_spark_archives(spark_path + [no_py4j]) == spark_path + [no_py4j]


def test_package_import_is_pyspark_free():
    """``python -m sql2all_spark.pyworker`` imports the package before it can
    filter the path, so the package itself must not import pyspark."""
    code = """
import sys, types
sys.path.insert(0, sys.argv[1])
import sql2all_spark
assert "pyspark" not in sys.modules, "package import loaded pyspark"
from sql2all_spark import export, get_spark
assert isinstance(export, types.FunctionType) and export.__module__ == "sql2all_spark.export"
assert get_spark.__module__ == "sql2all_spark.session"
"""
    subprocess.run([sys.executable, "-c", code, str(REPO)], check=True)
    # the export submodule loaded first still leaves the package's export the function
    code = """
import sys, types
sys.path.insert(0, sys.argv[1])
import sql2all_spark.export
from sql2all_spark import export
assert isinstance(export, types.FunctionType)
"""
    subprocess.run([sys.executable, "-c", code, str(REPO)], check=True)
