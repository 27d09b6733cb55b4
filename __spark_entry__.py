"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship query (sector rotation rollup, SURVEY.md §7.4)
queries()     — every implemented operator from SURVEY.md §2
oracle_sql()  — matching DuckDB oracle SQL for the hash-checked gate
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from quantitative_database_and_visualization_platform_spark.plans import ORACLES, QUERIES
from quantitative_database_and_visualization_platform_spark.session import (
    release_managed,
    tune_existing,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    tune_existing(spark)
    return QUERIES["sector_rollup"](spark, "/root/testdata/sf0.001")


def _wrap(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        # session TZ must be UTC for timestamp parity with the naive-UTC
        # DuckDB oracle regardless of how the driver built the session
        tune_existing(spark)
        # drop the PREVIOUS query's managed caches: a driver session runs
        # 50 queries back-to-back without calling release_managed itself,
        # and accumulated persisted blocks pressure an unknown-size heap
        # (the session tables of sources.catalog.shared — bars, alpha,
        # IC, pairs, ... — are not managed and survive this)
        release_managed()
        return fn(spark, sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _wrap(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
