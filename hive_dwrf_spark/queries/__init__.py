"""Declared query surface (SURVEY.md §2.C + §2.D).

Each query is registered as a ``(spark, sf_dir) -> DataFrame`` callable plus,
when SQL-expressible, an equivalent ANSI-SQL oracle string for DuckDB.
Column names are aliased identically on both sides because the driver's
comparator sorts columns by name before hashing values.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Decorator registering a query callable and optional oracle SQL."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def load_registry():
    """Import all query modules (side effect: registry population). A
    module that fails to import raises rather than leaving its family
    out of the registry."""
    for mod in ("core", "roundtrip", "pipeline", "extended", "analytics"):
        importlib.import_module(f"{__name__}.{mod}")
    return QUERIES, ORACLE
