"""Driver contract for the spark-graft builder (PySpark target).

entry(spark): flagship query (TPC-H Q1 shape through the engine) on
sf0.001. queries()/oracle_sql(): the SURVEY §2 capability registry —
see the nifi_minifi_cpp_spark/entry_queries package for the implementations and
their DuckDB oracles.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nifi_minifi_cpp_spark import entry_queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return entry_queries.relational.q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return entry_queries.queries()


def oracle_sql() -> dict[str, str]:
    return entry_queries.oracle_sql()
