"""Driver contract for the spark-graft builder (PySpark target).

Thin façade over ``sql_engine_triangle_spark.queries.registry`` —
every implemented operator from SURVEY.md §2 is registered there with
its Spark form and (where SQL-expressible) a DuckDB oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Robust against being imported by file path (driver-side importlib):
# the package lives next to this file.
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from sql_engine_triangle_spark.queries import registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (reference Q1 shape) on /root/testdata/sf0.001."""
    return registry.get("q1_agg_by_type").fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator/pipeline from SURVEY.md §2."""
    return registry.all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twin for each SQL-expressible query."""
    return registry.all_oracles()
