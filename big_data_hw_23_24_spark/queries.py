"""The oracle-checked query registry.

Every implemented operator from SURVEY.md §2 (plus the north-star
extensions) is exposed here as a named query: a ``(spark, sf_dir) ->
DataFrame`` callable and, where SQL-expressible, an equivalent DuckDB
SQL string over the same parquet tables. ``__spark_entry__.py`` simply
re-exports this registry.

Conventions:
* every computed column is aliased identically in the Spark plan and
  the oracle SQL (the driver hash-compares by sorted column name);
* floating aggregates are rounded in BOTH engines so double summation
  order can't flip the hash;
* all queries return deterministic row sets (no rand(), no floats as
  sort tiebreakers).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .sources.tables import POINTS_FROM_EVENTS_SQL, load_table, points_from_events


@dataclass
class Query:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, None → rows-only check
    doc: str = ""


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _REGISTRY[name] = Query(name, fn, oracle, doc)
        return fn
    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _ensure_loaded()
    return {name: q.spark_fn for name, q in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {name: q.oracle for name, q in _REGISTRY.items()
            if q.oracle is not None}


_LOADED = False


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent). The
    imports are lazy because those modules import ``register`` from
    here."""
    global _LOADED
    if _LOADED:
        return
    from . import queries_relational  # noqa: F401
    from . import queries_algorithms  # noqa: F401
    from . import queries_llm_dedup  # noqa: F401
    from . import queries_llm_similarity  # noqa: F401
    from . import queries_llm_text  # noqa: F401
    from . import queries_llm_pipeline  # noqa: F401
    _LOADED = True


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return points_from_events(load_table(spark, sf_dir, "events"))


# DuckDB CTE matching _points exactly (same expression text as
# POINTS_FROM_EVENTS_SQL so both engines compute identical doubles).
POINTS_CTE = f"WITH points AS ({POINTS_FROM_EVENTS_SQL})"
