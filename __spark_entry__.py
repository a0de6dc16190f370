"""Driver contract for the spark-graft builder (PySpark target).

entry()       — flagship query (TPC-H-Q1-shaped aggregation) on sf0.001.
queries()     — every implemented operator from SURVEY.md §2, one callable
                (spark, sf_dir) -> DataFrame per name, backed by the corpus
                registry in aws_saas_factory_multi_tenant_data_pipeline_spark/corpus/.
oracle_sql()  — the DuckDB-equivalent SQL for each hash-checkable query;
                approximate/non-SQL ops are omitted (rows-only check).

Oracle determinism needs session timezone UTC (FIXTURES.md §3). A caller's
session may default to another zone, so entry() and each queries() callable
pin it once per call; no query or table read writes session conf.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import load_all


def _in_utc(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return fn(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _in_utc(load_all()["agg_pricing_summary"].spark_fn)(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: _in_utc(spec.spark_fn) for name, spec in load_all().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per hash-checkable query."""
    return {name: spec.oracle for name, spec in load_all().items() if spec.oracle is not None}
