"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` is a smoke check. ``tools/check.py`` (and, at
sf0.001, the tier-1 ``tests/test_oracle_gate.py``) runs each
``queries()[name]`` and compares it with the matching
``oracle_sql()[name]`` on DuckDB: row count, schema and exact
order-insensitive values.

All queries live in ``go_http_data_pipeline_spark/`` operator modules
and self-register; this file just exposes the merged registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from go_http_data_pipeline_spark import registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (revenue_by_nation) on sf0.001."""
    from go_http_data_pipeline_spark.operators.joins import revenue_by_nation

    return revenue_by_nation(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return registry.all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL for each oracle-checkable query."""
    return registry.all_oracles()
