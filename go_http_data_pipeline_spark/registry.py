"""Query registry: collects every operator's demo query + oracle SQL.

Each operator module registers named queries with the :func:`query`
decorator. ``__spark_entry__.py`` exposes the merged registry, and
``tools/check.py`` (also run in tier-1 by ``tests/test_oracle_gate.py``)
compares each query's Spark result with its DuckDB oracle. Queries
without oracle SQL (non-SQL-expressible ops) get a rows-only check.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLE: dict[str, str] = {}

# Modules that register queries on import.
_MODULES = (
    "go_http_data_pipeline_spark.operators.relational",
    "go_http_data_pipeline_spark.operators.aggregates",
    "go_http_data_pipeline_spark.operators.joins",
    "go_http_data_pipeline_spark.operators.analytics",
    "go_http_data_pipeline_spark.operators.analytics2",
    "go_http_data_pipeline_spark.operators.analytics3",
    "go_http_data_pipeline_spark.operators.sqlapi",
    "go_http_data_pipeline_spark.operators.quality",
    "go_http_data_pipeline_spark.operators.skew",
    "go_http_data_pipeline_spark.operators.storage",
    "go_http_data_pipeline_spark.streaming.stateful",
    "go_http_data_pipeline_spark.operators.windows",
    "go_http_data_pipeline_spark.operators.setops",
    "go_http_data_pipeline_spark.operators.time_windows",
    "go_http_data_pipeline_spark.operators.eventflow",
    "go_http_data_pipeline_spark.functions.record_functions",
    "go_http_data_pipeline_spark.functions.extensions",
    "go_http_data_pipeline_spark.pipelines.parity",
    "go_http_data_pipeline_spark.streaming.core",
    "go_http_data_pipeline_spark.streaming.annindex",
    "go_http_data_pipeline_spark.streaming.pqindex",
    "go_http_data_pipeline_spark.streaming.semindex",
    "go_http_data_pipeline_spark.streaming.capindex",
    "go_http_data_pipeline_spark.streaming.manifestindex",
    "go_http_data_pipeline_spark.sources.http_json",
    "go_http_data_pipeline_spark.sources.jdbc",
    "go_http_data_pipeline_spark.llm.dedup",
    "go_http_data_pipeline_spark.llm.similarity",
    "go_http_data_pipeline_spark.llm.pq",
    "go_http_data_pipeline_spark.llm.recall",
    "go_http_data_pipeline_spark.llm.semdedup",
    "go_http_data_pipeline_spark.llm.chunking",
    "go_http_data_pipeline_spark.llm.clustering",
    "go_http_data_pipeline_spark.llm.textstats",
    "go_http_data_pipeline_spark.llm.cleaning",
    "go_http_data_pipeline_spark.llm.decontam",
    "go_http_data_pipeline_spark.llm.sampling",
    "go_http_data_pipeline_spark.llm.sharding",
    "go_http_data_pipeline_spark.llm.multimodal",
)


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as queries()[name]; ``oracle`` is DuckDB SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLE[name] = oracle
        return fn

    return deco


def _load() -> None:
    for mod in _MODULES:
        try:
            importlib.import_module(mod)
        except ModuleNotFoundError as e:
            # Tolerate not-yet-written modules during incremental build.
            if mod.split(".")[-1] not in str(e):
                raise


def all_queries() -> dict[str, QueryFn]:
    """Every registered query, in registration (module) order."""
    _load()
    return dict(_QUERIES)


def all_oracles() -> dict[str, str]:
    """DuckDB oracle SQL per query, in registration order."""
    _load()
    return dict(_ORACLE)
