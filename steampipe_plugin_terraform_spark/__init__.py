"""PySpark-native analytics engine with the query and data-processing
capabilities of turbot/steampipe-plugin-terraform (reference read-only at
/root/reference), re-expressed Spark-first: declarative DataFrame lineage,
Catalyst optimization, executor-parallel parsing.

The exported names load on first access (PEP 562), so importing a
submodule does not import pyspark: the worker daemon (``daemon.py``) runs
before it and decides where pyspark is imported from.
"""

from __future__ import annotations

import importlib

_EXPORTS = {
    "TerraformEngine": ".engine",
    "TABLE_COLUMNS": ".engine",
    "TABLE_NAMES": ".engine",
    "get_spark": ".session",
}

__all__ = list(_EXPORTS)


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    return getattr(importlib.import_module(_EXPORTS[name], __name__), name)
