"""Regression tests for the catalog table() memo invariants flagged
by the round-15 review (VERDICT item 7, ADVICE items 1/2/4):

* the UTC session-timezone pin must hold on every call, including
  memo HITS — downstream expressions are analyzed under the session
  zone at call time, not under the zone the frame was first read in;
* sibling sessions (newSession) must not share memoized frames — temp
  views and runtime conf are per-session;
* queries that reference one memoized table more than once (shared
  attribute IDs -> Catalyst DeduplicateRelations) must keep both
  sides' data columns under count(): count() and collect() row counts
  agree (the pruning-under-count bug class the value oracle cannot
  see, because it always collects all columns).
"""

from __future__ import annotations

import pytest


def test_tz_pin_holds_on_memo_hit(spark, sf_dir):
    from go_http_data_pipeline_spark.catalog import table

    table(spark, sf_dir, "nation")  # prime the memo (also pins UTC)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    table(spark, sf_dir, "nation")  # memo HIT must still re-pin
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def _memo_builders():
    from go_http_data_pipeline_spark.catalog import table
    from go_http_data_pipeline_spark.llm import dedup, pq, similarity

    def nation(spark, sf_dir):
        return table(spark, sf_dir, "nation")

    return (
        nation,
        dedup.shingles_cached,
        dedup.lsh_bands_cached,
        dedup.simhash_fingerprints_cached,
        pq._codes_cached,
        pq._codes_wide_cached,
        pq._query_lut_rows,
        similarity._ann_features,
        similarity.ivf_assign_cached,
    )


@pytest.fixture(scope="module")
def sib(spark):
    return spark.newSession()


@pytest.mark.parametrize("builder", _memo_builders(), ids=lambda b: b.__name__)
def test_sibling_session_gets_its_own_frame(spark, sib, sf_dir, builder):
    base = builder(spark, sf_dir)
    got = builder(sib, sf_dir)
    # The frame handed to the sibling must be bound to IT (temp views
    # registered from the frame land in its session), not a reuse of
    # the base session's memoized frame.
    assert got.sparkSession is sib
    assert base.sparkSession is spark
    assert got is not base


def test_session_memo_is_per_session_timed_and_cleared(spark, sib, sf_dir):
    from go_http_data_pipeline_spark import memo

    built = []

    def build_in(session):
        def build():
            built.append(session)
            return session.range(7).persist()

        return build

    df = memo.session_memo(spark, "test.range", sf_dir, build_in(spark))
    assert memo.session_memo(spark, "test.range", sf_dir, build_in(spark)) is df
    got = memo.session_memo(sib, "test.range", sf_dir, build_in(sib))
    assert got is not df and got.sparkSession is sib
    assert built == [spark, sib]

    pair = memo.session_memo(
        spark, "test.pair", sf_dir, lambda: (spark.range(2).persist(), 5)
    )
    memo.session_memo(spark, "test.plain", sf_dir, lambda: spark.range(3))
    rec = {r["name"]: r for r in memo.stats(spark)}
    assert rec["test.range"]["rows"] == df.count() == 7
    assert rec["test.range"]["seconds"] > 0
    assert rec["test.pair"]["rows"] == [pair[0].count()]
    assert rec["test.plain"]["rows"] is None
    assert [r for r in memo.stats(sib) if r["name"] == "test.range"]

    memo.clear()
    assert not memo.stats(spark)
    assert not df.is_cached
    assert not df.storageLevel.useMemory and not df.storageLevel.useDisk


def test_multi_reference_memo_queries_survive_count_pruning(spark, sf_dir):
    """count() must agree with len(collect()) for queries that read
    the same memoized table twice (self-join / self-cogroup shapes):
    shared attribute IDs let Catalyst's relation dedup strip a side's
    data columns under count(), silently changing the row count
    (round 15 caught exactly this on embedding_neardup_pairs)."""
    import __spark_entry__ as e

    qs = e.queries()
    for name in (
        "embedding_neardup_pairs",  # self-cogroup (fresh=True guard)
        "market_share_evolution",   # two nation scans
        "nation_pairs_same_region", # nation self-join
    ):
        fn = qs.get(name)
        if fn is None:
            continue
        df = fn(spark, sf_dir)
        assert df.count() == len(df.collect()), name
