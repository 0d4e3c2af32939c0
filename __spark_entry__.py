"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship query (the crawl frontier anti-join — J1, THE
  core crawl operator) on /root/testdata/sf0.001.
- ``queries()``: every implemented operator family from SURVEY.md §2 plus
  the training-data-pipeline operators, as (spark, sf_dir) callables.
- ``oracle_sql()``: DuckDB twins, column-aliased identically.

The real engine lives in ``ba_gepris_crawler_spark``; the crawl itself
(synthetic multi-host site, politeness, bloom-gated exact URL-seen,
snapshot resume) is exercised end-to-end in ``tests/`` against a
straight-line golden simulator.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ba_gepris_crawler_spark.plans.driver_queries import REGISTRY


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: frontier anti-join (J1) at sf0.001."""
    fn, _ = REGISTRY["crawl_frontier_anti_join"]
    return fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _oracle) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: oracle for name, (_fn, oracle) in REGISTRY.items() if oracle is not None}
