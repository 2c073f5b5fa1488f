"""Central query registry.

Every operator from SURVEY.md §2 registers itself here with:
  - a callable (spark, sf_dir) -> DataFrame  (the Spark-first implementation)
  - an optional ANSI-SQL DuckDB oracle string over the same parquet views
    (None => rows-only check: genuinely non-SQL-expressible ops)

``__spark_entry__.py`` exposes this registry to the driver in registration
order; tests iterate it to run the same oracle comparison locally.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL or None for rows-only
    section: str  # SURVEY §2 section tag, e.g. "A1", "H8"
    bench: bool = True  # include in bench.py headline set


QUERIES: dict[str, QuerySpec] = {}
ORACLES: dict[str, str] = {}


def register(name: str, section: str, oracle: str | None, bench: bool = True):
    """Decorator: register a query implementation under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query key {name!r}")
        QUERIES[name] = QuerySpec(name=name, fn=fn, oracle=oracle, section=section, bench=bench)
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all_queries() -> dict[str, QuerySpec]:
    """Import every query module so registration side-effects run."""
    import debias_spark.queries  # noqa: F401  (imports submodules)

    return QUERIES
