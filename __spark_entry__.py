"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``insight_spark``; this module is a thin
adapter over the query registry (insight_spark/queries).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF0001_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Top-10 customers by revenue with their region (SURVEY.md §7.1
    Phase 0): scan → broadcast dim joins → shuffle agg → top-k.
    """
    from insight_spark.queries import all_queries

    return all_queries()["flagship_top_customers"](spark, SF0001_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator group from SURVEY.md §2."""
    from insight_spark.queries import all_queries

    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-dialect oracle SQL per hashable query (SURVEY.md §7.4)."""
    from insight_spark.queries import all_oracle_sql

    return all_oracle_sql()
