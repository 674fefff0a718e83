"""sql2all_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference SQL2ALL tool.

The reference (read-only at /root/reference) is a Rust CLI that forwards a SQL
string verbatim to SQLite/MySQL/PostgreSQL and streams the result cursor out to
Parquet/CSV/NDJSON (see ``src/lib.rs:92-141``, ``src/main.rs:10-31``).  Its
capability surface is therefore (full SQL dialect of the attached engine) ×
(multi-format streamed export).  This package supplies that surface natively on
Spark:

- :mod:`sql2all_spark.session`   — tuned SparkSession factory
- :mod:`sql2all_spark.tables`    — testdata catalog (parquet star schema)
- :mod:`sql2all_spark.sources`   — URL-scheme source dispatch (reference
  ``src/lib.rs:47-65``) over JDBC/file readers
- :mod:`sql2all_spark.sinks`     — extension→format sink dispatch (reference
  ``src/lib.rs:76-90``) over ``df.write``
- :mod:`sql2all_spark.operators` — the relational operator library (the SQL
  surface the reference delegates, re-expressed as DataFrame builders) plus the
  LLM-data-pipeline extension (dedup, similarity search, text analysis)
- :mod:`sql2all_spark.streaming` — Structured Streaming slice over ``events``
- :mod:`sql2all_spark.registry`  — name → (builder, oracle SQL) registry that
  backs ``__spark_entry__.py``

Importing the package imports no pyspark: ``export`` and ``get_spark`` load
on first use (PEP 562).  Spark's Python workers start as ``python -m
sql2all_spark.pyworker``, which must run before pyspark is imported.
"""

import sys
import types

__all__ = ["get_spark", "export"]
__version__ = "0.1.0"


def __getattr__(name: str):
    if name == "export":
        from sql2all_spark.export import export as value
    elif name == "get_spark":
        from sql2all_spark.session import get_spark as value
    else:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    globals()[name] = value
    return value


class _Package(types.ModuleType):
    def __setattr__(self, name: str, value) -> None:
        # The import system binds each loaded submodule on its package; keep
        # ``sql2all_spark.export`` the function, not the same-named module.
        if name == "export" and isinstance(value, types.ModuleType):
            value = value.export
        super().__setattr__(name, value)


sys.modules[__name__].__class__ = _Package
