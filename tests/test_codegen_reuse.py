"""Each generated class is compiled once per session: re-running a
query pays no Janino compile time. The session's codegen cache must
hold a pass's working set, and identical stage code from two plans
must share one cache entry (no ``…ForCodegenStageN`` suffix in the
class name) — without that, these queries recompiled 2-12 classes on
every warm run even with the larger cache.

A query's first run builds its session memos, and ``session_memo``
materializes each persisted one before the query plans over it, so
the second run compiles nothing. A memo left lazy would plan the
first run against a persisted but not yet materialized relation;
its real size can flip a broadcast join's build side on the second
run (``simhash_neardup_pairs`` and ``ivf_ann_top1`` then compile 2
classes once)."""

from __future__ import annotations

import pytest

import __spark_entry__ as e
from go_http_data_pipeline_spark.plans.inspect import codegen_compiles
from go_http_data_pipeline_spark.session import CODEGEN_CACHE_ENTRIES

QUERIES = (
    "tfidf_cosine_verify",
    "ivf_ann_top1",
    "pq_ann_top1",
    "simhash_neardup_pairs",
    "market_share_evolution",
)


def test_session_sizes_codegen_cache_and_drops_stage_ids(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


@pytest.mark.parametrize("name", QUERIES)
def test_warm_run_compiles_nothing(spark, sf_dir, name):
    fn = e.queries()[name]
    first = fn(spark, sf_dir).collect()  # builds the query's memos
    before = codegen_compiles(spark)
    warm = fn(spark, sf_dir).collect()
    after = codegen_compiles(spark)
    assert after["compiles"] - before["compiles"] == 0
    assert after["compile_ms"] == before["compile_ms"]
    assert sorted(map(repr, warm)) == sorted(map(repr, first))
