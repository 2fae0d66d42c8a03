"""Incremental per-host cap index (streaming/capindex.py) — the fifth
GenIndex family: stream==batch equality, oracle exact-values for both
twins, replay/crash shapes, compaction invariance, retraction
semantics (takedown, PROMOTION of a previously-evicted doc, LWW
re-add), and the read-plan contracts."""

from __future__ import annotations

import os

import pytest

from go_http_data_pipeline_spark.streaming import capindex as ci


def _docs(spark, rows):
    """Synthetic (doc_id, source, n_chars) rows."""
    return spark.createDataFrame(
        list(rows), "doc_id long, source string, n_chars long"
    )


# One host with HOST_CAP+2 docs: quality (n_chars) strictly decreasing
# with doc_id, so kept = ids 1..8, evicted = ids 9, 10 — a promotion
# is observable the moment any kept doc dies.
_B0 = tuple((i, "h", 1000 - i) for i in range(1, 7))
_B1 = tuple((i, "h", 1000 - i) for i in range(7, 11))


def _arrive(spark, index_dir):
    ci.cap_index_step(spark, _docs(spark, _B0), 0, index_dir)
    ci.cap_index_step(spark, _docs(spark, _B1), 1, index_dir)


def _caps(spark, index_dir):
    return sorted(map(tuple, ci._caps_from_index(spark, index_dir).collect()))


def _kept_ids(rows):
    return sorted(r[1] for r in rows)


def test_kept_audit_and_ranks(spark, tmp_path):
    """Across two arrivals the read derives the batch cap answer: the
    host's 8 best docs keep ranks 1..8 in quality order, the two
    worst are evicted, and the audit columns ride on every kept row
    (n_docs=10, kept=8, dropped=2)."""
    index_dir = str(tmp_path / "index")
    _arrive(spark, index_dir)
    rows = _caps(spark, index_dir)
    assert _kept_ids(rows) == list(range(1, 9))
    # (source, doc_id, n_chars, src_rank, n_docs, n_kept, n_dropped)
    assert all(r[0] == "h" and r[4:] == (10, 8, 2) for r in rows)
    assert sorted((r[1], r[3]) for r in rows) == [
        (i, i) for i in range(1, 9)
    ]  # rank order == quality order (n_chars = 1000 - id)
    ci._cap_index(index_dir).drop_generations(spark)


def test_replay_is_idempotent(spark, tmp_path):
    """A replayed arrival overwrites its own b-dir — no state exists,
    so the replay is byte-idempotent by construction."""
    index_dir = str(tmp_path / "index")
    _arrive(spark, index_dir)
    want = _caps(spark, index_dir)
    ci.cap_index_step(spark, _docs(spark, _B1), 1, index_dir)  # replay
    assert _caps(spark, index_dir) == want
    ci._cap_index(index_dir).drop_generations(spark)


def test_compaction_invariance(spark, tmp_path, monkeypatch):
    """Same answer whether every append folds immediately or none ever
    do — compaction is layout, not semantics."""
    outs = []
    for sub, every in (("eager", 1), ("never", 99)):
        monkeypatch.setattr(ci, "_CAP_COMPACT_EVERY", every)
        index_dir = str(tmp_path / sub)
        _arrive(spark, index_dir)
        outs.append(_caps(spark, index_dir))
        ci._cap_index(index_dir).drop_generations(spark)
    assert outs[0] == outs[1] and outs[0]


def test_retraction_promotes_next_best(spark, tmp_path):
    """Deleting a KEPT doc promotes the host's best evictee — the
    outcome the lossy top-CAP fold cannot produce: doc 3 dies, doc 9
    enters the kept set, every rank behind 3 shifts up one, and the
    audit re-counts (n_docs 9, dropped 1). Logical apply (tombstones
    live) and physical apply (after compaction) agree."""
    index_dir = str(tmp_path / "index")
    _arrive(spark, index_dir)
    ci.cap_delete_step(spark, _docs(spark, [(3, "h", 0)]), 2, index_dir)
    logical = _caps(spark, index_dir)
    assert _kept_ids(logical) == [1, 2, 4, 5, 6, 7, 8, 9]
    assert all(r[4:] == (9, 8, 1) for r in logical)
    ranks = dict((r[1], r[3]) for r in logical)
    assert ranks == {1: 1, 2: 2, 4: 3, 5: 4, 6: 5, 7: 6, 8: 7, 9: 8}
    ci._cap_index(index_dir).compact(spark, 2)
    assert _caps(spark, index_dir) == logical  # physical == logical
    ci._cap_index(index_dir).drop_generations(spark)


def test_replayed_delete_is_idempotent(spark, tmp_path):
    index_dir = str(tmp_path / "index")
    _arrive(spark, index_dir)
    dead = _docs(spark, [(3, "h", 0)])
    ci.cap_delete_step(spark, dead, 2, index_dir)
    want = _caps(spark, index_dir)
    ci.cap_delete_step(spark, dead, 2, index_dir)  # replay
    assert _caps(spark, index_dir) == want
    ci._cap_index(index_dir).drop_generations(spark)


def test_lww_readd_outlives_earlier_delete(spark, tmp_path):
    """A re-add in a LATER batch outlives the tombstone (LWW): doc 3
    deleted at b2 and re-added at b3 reclaims its kept slot and the
    promoted doc 9 is evicted again."""
    index_dir = str(tmp_path / "index")
    _arrive(spark, index_dir)
    ci.cap_delete_step(spark, _docs(spark, [(3, "h", 0)]), 2, index_dir)
    ci.cap_index_step(spark, _docs(spark, [(3, "h", 997)]), 3, index_dir)
    rows = _caps(spark, index_dir)
    assert _kept_ids(rows) == list(range(1, 9))
    assert all(r[4:] == (10, 8, 2) for r in rows)
    ci._cap_index(index_dir).drop_generations(spark)


def test_full_takedown_then_recompaction_and_fresh_session(spark, tmp_path):
    """Full-host takedown: retract EVERY indexed doc, compact (the
    all-dead fold -> zero-part-file generation), compact AGAIN, and
    read in a catalog-cleared session — empty-but-healthy at every
    step, and later re-adds rebuild the quota (the VERDICT r11 #1
    regression shape, pinned per index family)."""
    index_dir = str(tmp_path / "index")
    _arrive(spark, index_dir)
    dead = _docs(spark, [(i, "h", 0) for i in range(1, 11)])
    ci.cap_delete_step(spark, dead, 2, index_dir)
    idx = ci._cap_index(index_dir)
    idx.compact(spark, 2)  # all-dead fold
    idx.compact(spark, 3)  # re-fold of the empty view
    assert _caps(spark, index_dir) == []
    idx.drop_generations(spark)  # catalog-cleared session
    assert _caps(spark, index_dir) == []
    ci.cap_index_step(spark, _docs(spark, _B0), 4, index_dir)
    ci.cap_index_step(spark, _docs(spark, _B1), 5, index_dir)
    rows = _caps(spark, index_dir)
    assert _kept_ids(rows) == list(range(1, 9))
    ci._cap_index(index_dir).drop_generations(spark)


def test_read_plan_contracts(spark, tmp_path):
    """The read derivation keeps the batch query's scale shape: the
    rank filter compiles to the partial+final WindowGroupLimit pair
    (map tasks keep <= cap rows per host BEFORE the exchange) and no
    CartesianProduct / BroadcastNestedLoopJoin appears anywhere."""
    index_dir = str(tmp_path / "index")
    _arrive(spark, index_dir)
    plan = (
        ci._caps_from_index(spark, index_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("WindowGroupLimit") >= 2  # partial + final
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    ci._cap_index(index_dir).drop_generations(spark)


def test_stream_equals_batch_and_oracle(spark, sf_dir):
    """End-to-end through the engine (availableNow over the sharded
    fixture, >= 2 micro-batches): the live-index quota is
    row-identical to the batch ``host_document_caps`` AND exact-value
    equal to the shared DuckDB oracle."""
    import duckdb

    from go_http_data_pipeline_spark.llm.sampling import host_document_caps

    sdf = ci.streaming_host_cap_index(spark, sf_dir)
    got = sorted(map(tuple, sdf.collect()))
    # Project the batch side onto the streaming query's column order
    # BY NAME before the positional compare: the two orders happen to
    # be identical today (both build kept.join(audit, "source")), but
    # the equality must not silently hinge on that (ADVICE r14).
    batch = sorted(
        map(
            tuple,
            host_document_caps(spark, sf_dir).select(*sdf.columns).collect(),
        )
    )
    assert got == batch and got
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = sorted(map(tuple, con.execute(ci._CAP_STREAM_ORACLE).fetchall()))
    assert got == want


def test_deletes_twin_matches_duckdb_oracle(spark, sf_dir):
    """The retraction twin's answer is value-identical to its DuckDB
    oracle (the batch quota over survivors), dead docs hold no kept
    slot, and the takedown genuinely PROMOTED previously-evicted
    docs on this fixture (mod 7 — mod 5 promotes zero at every
    scale)."""
    import duckdb

    got = sorted(
        map(
            tuple,
            ci.streaming_host_cap_index_with_deletes(
                spark, sf_dir
            ).collect(),
        )
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = sorted(map(tuple, con.execute(ci._CAP_DELETE_ORACLE).fetchall()))
    assert got == want and got
    kept_ids = {r[1] for r in got}
    assert all(d % ci._CAP_DELETE_MOD != 0 for d in kept_ids)
    full_kept = {
        r[0]
        for r in con.execute(
            ci._CAP_STREAM_ORACLE.replace(
                "SELECT k.source, k.doc_id", "SELECT k.doc_id, k.source"
            )
        ).fetchall()
    }
    assert kept_ids - full_kept, (
        "the takedown promoted nothing — pick a modulus that kills "
        "kept rows with evictees behind them"
    )


def test_oracle_factory_empty_render_is_registered_oracle():
    """The no-delete twin shares the REGISTERED batch query's oracle
    verbatim (the factory's empty render IS that oracle — asserted so
    the shared-oracle claim can't silently drift, and so the r14
    factory extraction provably changed zero registered bytes)."""
    from go_http_data_pipeline_spark import registry
    from go_http_data_pipeline_spark.llm.sampling import _host_caps_oracle

    registry.all_queries()
    assert ci._CAP_STREAM_ORACLE == _host_caps_oracle()
    assert registry._ORACLE["host_document_caps"] == _host_caps_oracle()
