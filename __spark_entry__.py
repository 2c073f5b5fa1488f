"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over debias_spark.registry: every implemented operator from
SURVEY.md §2 registers (spark_fn, duckdb_oracle) there; this module exposes
those registrations to the driver, one entry per key, in registration order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from debias_spark.registry import load_all_queries

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's issue-distribution analytics query run over
    the full pipeline (scan -> vectorized annotate -> filter -> explode ->
    agg -> ranked sort) at sf0.001."""
    specs = load_all_queries()
    return specs["annotate_issue_distribution"].fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in registration
    order."""
    return {name: spec.fn for name, spec in load_all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query key; keys absent here are rows-only
    (genuinely non-SQL-expressible: streaming/state/LSH internals)."""
    return {
        name: spec.oracle
        for name, spec in load_all_queries().items()
        if spec.oracle is not None
    }
