"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over ``hive_service_spark.registry``: every operator module
registers named queries + DuckDB oracle SQL via the ``@query``
decorator; this file exposes the collected registry to the driver.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from hive_service_spark.registry import load_all


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001, run
    as a registered query: in its own copy of ``spark``."""
    return load_all()["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.fn for name, spec in load_all().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (where expressible)."""
    return {
        name: spec.oracle
        for name, spec in load_all().items()
        if spec.oracle is not None
    }
