"""Shared helpers for corpus queries."""

from __future__ import annotations

import string

from pyspark.sql import DataFrame, SparkSession

from aws_saas_factory_multi_tenant_data_pipeline_spark.sources import read_table as t


def _tables(text: str) -> set[str]:
    return {field for _, field, _, _ in string.Formatter().parse(text) if field}


def table_sql(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    """Run ``text`` with each ``{name}`` bound to testdata table ``name`` for
    this call only: ``spark.sql`` names each frame ``_pyspark_<uuid>`` and
    drops the name once the text is analyzed, so no query writes a name a
    concurrent query can resolve."""
    return spark.sql(text, **{name: t(spark, sf_dir, name) for name in _tables(text)})


def duck_sql(text: str) -> str:
    """The DuckDB oracle of a ``table_sql`` text: each ``{name}`` names the
    table itself (the oracle connection has one view per testdata table)."""
    return text.format(**{name: name for name in _tables(text)})
