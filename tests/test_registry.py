"""Driver-contract invariants: every query registered, every oracle
paired, import works without a SparkSession."""

from __future__ import annotations

import os
import subprocess
import sys

# The checkout root, derived from this file's location (ADVICE r11:
# the fresh-interpreter subprocesses must not hardcode /root/repo).
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_registry_loads_without_session():
    # Run in a fresh interpreter so no fixture-created session leaks in.
    code = (
        f"import sys; sys.path.insert(0, {_REPO_ROOT!r});"
        "from go_http_data_pipeline_spark import registry;"
        "qs = registry.all_queries(); assert len(qs) >= 50, len(qs)"
    )
    subprocess.run([sys.executable, "-c", code], check=True, timeout=120)


def test_every_oracle_has_a_query():
    from go_http_data_pipeline_spark import registry

    qs, oracles = registry.all_queries(), registry.all_oracles()
    assert set(oracles) <= set(qs)


def test_entry_contract_surface():
    import __spark_entry__ as e

    assert callable(e.entry)
    assert set(e.oracle_sql()) <= set(e.queries())


def test_results_invariant_under_partitioning(spark, sf_dir):
    # The determinism contract behind every oracle: results (including
    # float aggregates) must not depend on how the input is split.
    # Exercise the exact-decimal sum path on 1 vs 32 partitions.
    from pyspark.sql import functions as F

    from go_http_data_pipeline_spark.determinism import dsum

    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    def agg(df):
        return {
            tuple(r)
            for r in df.groupBy("l_returnflag")
            .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
            .collect()
        }

    assert agg(l.repartition(1)) == agg(l.repartition(32))
