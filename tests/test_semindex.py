"""Incremental SemDeDup index (streaming/semindex.py) — the fourth
GenIndex family: stream==batch equality, oracle exact-values for both
twins, replay/crash shapes, compaction invariance, retraction
semantics (pair drop, keep-flip, LWW re-add)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from go_http_data_pipeline_spark.llm.semdedup import semantic_dedup_verdicts
from go_http_data_pipeline_spark.streaming import semindex as si


def _feats(spark, rows):
    """Synthetic (vec_id, cid, q, nrm2) feature rows."""
    data = [
        (vid, cid, [int(x) for x in q], sum(int(x) * int(x) for x in q))
        for vid, cid, q in rows
    ]
    return spark.createDataFrame(
        data, "vec_id long, cid long, q array<bigint>, nrm2 long"
    )


def _verdicts(spark, work):
    return sorted(
        map(
            tuple,
            si._verdicts_from_state(
                spark, os.path.join(work, "index"), os.path.join(work, "state")
            ).collect(),
        )
    )


def _dirs(tmp_path):
    work = str(tmp_path)
    index_dir = os.path.join(work, "index")
    state_dir = os.path.join(work, "state")
    os.makedirs(state_dir, exist_ok=True)
    return work, index_dir, state_dir


# v1 ~ v3 (cosine ~0.995 >= TAU); v2 orthogonal to both (~0.0995 < TAU).
_B0 = ((1, 0, (10, 0)), (2, 0, (0, 10)))
_B1 = ((3, 0, (10, 1)),)


def _arrive(spark, index_dir, state_dir):
    si.sem_index_step(spark, _feats(spark, _B0), 0, index_dir, state_dir)
    si.sem_index_step(spark, _feats(spark, _B1), 1, index_dir, state_dir)


def test_cross_batch_pair_and_verdicts(spark, tmp_path):
    """A near-duplicate arriving LATER is caught by the cross probe:
    after b0={v1,v2}, b1={v3~v1}, the state holds exactly (1,3) and
    the verdicts are the batch SemDeDup rule (lower id survives)."""
    work, index_dir, state_dir = _dirs(tmp_path)
    _arrive(spark, index_dir, state_dir)
    pairs = sorted(
        map(tuple, si._newest_pairs(spark, state_dir).collect())
    )
    assert pairs == [(1, 3, 0)]
    assert _verdicts(spark, work) == [
        (1, 0, 1, True),
        (2, 0, 0, True),
        (3, 0, 1, False),
    ]
    si._sem_index(index_dir).drop_generations(spark)


@pytest.mark.parametrize("crash_point", ["before_state", "after_state"])
def test_replay_is_idempotent(spark, tmp_path, crash_point):
    """Replaying b1 after either crash shape (before the state write
    landed / after it but before the engine commit) leaves the state
    and verdicts unchanged — the distinct fold absorbs re-discovered
    pairs and the s{batch} fixpoint guard skips a completed fold."""
    work, index_dir, state_dir = _dirs(tmp_path)
    _arrive(spark, index_dir, state_dir)
    want = _verdicts(spark, work)
    if crash_point == "before_state":
        # crash before s1 landed: wipe s1 back to s0 to simulate, then
        # replay b1 against an index that already holds its vectors.
        import shutil

        b0_pairs = si._sem_pairs(
            _feats(spark, _B0), _feats(spark, _B0)
        )
        shutil.rmtree(os.path.join(state_dir, "s1"))
        si._write_state(b0_pairs, state_dir, 0)
    si.sem_index_step(spark, _feats(spark, _B1), 1, index_dir, state_dir)
    assert _verdicts(spark, work) == want
    si._sem_index(index_dir).drop_generations(spark)


def test_compaction_invariance(spark, tmp_path, monkeypatch):
    """Same verdicts whether every append folds immediately or none
    ever do — compaction is layout, not semantics."""
    outs = []
    for sub, every in (("eager", 1), ("never", 99)):
        monkeypatch.setattr(si, "_SEM_COMPACT_EVERY", every)
        work = str(tmp_path / sub)
        index_dir, state_dir = (
            os.path.join(work, "index"),
            os.path.join(work, "state"),
        )
        os.makedirs(state_dir, exist_ok=True)
        _arrive(spark, index_dir, state_dir)
        outs.append(_verdicts(spark, work))
        si._sem_index(index_dir).drop_generations(spark)
    assert outs[0] == outs[1]


def test_retraction_drops_pairs_and_flips_keep(spark, tmp_path):
    """Deleting v1 retracts its pairs in O(pairs) with no re-probe:
    v1's verdict row disappears, and v3 — whose ONLY near-duplicate
    died — flips back to keep=TRUE with n_neardups 0 (its duplicate
    left the corpus). Logical apply (tombstones live) and physical
    apply (after compaction) agree."""
    work, index_dir, state_dir = _dirs(tmp_path)
    _arrive(spark, index_dir, state_dir)
    dead = spark.createDataFrame([(1,)], "vec_id long")
    si.sem_delete_step(spark, dead, 2, index_dir, state_dir)
    logical = _verdicts(spark, work)
    assert logical == [(2, 0, 0, True), (3, 0, 0, True)]
    si._sem_index(index_dir).compact(spark, 2)
    assert _verdicts(spark, work) == logical  # physical == logical
    si._sem_index(index_dir).drop_generations(spark)


def test_replayed_delete_is_idempotent(spark, tmp_path):
    work, index_dir, state_dir = _dirs(tmp_path)
    _arrive(spark, index_dir, state_dir)
    dead = spark.createDataFrame([(1,)], "vec_id long")
    si.sem_delete_step(spark, dead, 2, index_dir, state_dir)
    want = _verdicts(spark, work)
    si.sem_delete_step(spark, dead, 2, index_dir, state_dir)  # replay
    assert _verdicts(spark, work) == want
    si._sem_index(index_dir).drop_generations(spark)


def test_lww_readd_outlives_earlier_delete(spark, tmp_path):
    """A re-add in a LATER batch outlives the tombstone (LWW) and
    re-discovers its pairs by probing the live index: v1 deleted at
    b2 and re-added at b3 gets its verdict row back and v3 drops
    again."""
    work, index_dir, state_dir = _dirs(tmp_path)
    _arrive(spark, index_dir, state_dir)
    dead = spark.createDataFrame([(1,)], "vec_id long")
    si.sem_delete_step(spark, dead, 2, index_dir, state_dir)
    si.sem_index_step(
        spark, _feats(spark, ((1, 0, (10, 0)),)), 3, index_dir, state_dir
    )
    assert _verdicts(spark, work) == [
        (1, 0, 1, True),
        (2, 0, 0, True),
        (3, 0, 1, False),
    ]
    si._sem_index(index_dir).drop_generations(spark)


def test_stream_equals_batch_and_oracle(spark, sf_dir):
    """End-to-end through the engine (availableNow over the sharded
    fixture, >= 2 micro-batches): the accumulated verdicts are
    row-identical to the batch ``semantic_dedup_verdicts`` AND
    exact-value equal to the shared DuckDB oracle."""
    import duckdb

    got = sorted(
        map(tuple, si.streaming_semdedup_verdicts(spark, sf_dir).collect())
    )
    batch = sorted(
        map(tuple, semantic_dedup_verdicts(spark, sf_dir).collect())
    )
    assert got == batch and got
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    want = sorted(map(tuple, con.execute(si._SEM_STREAM_ORACLE).fetchall()))
    assert got == want


def test_deletes_twin_matches_duckdb_oracle(spark, sf_dir):
    """The retraction twin's answer is value-identical to its DuckDB
    oracle (the batch verdicts restricted to survivors on pair
    endpoints AND verdict rows), the retraction genuinely removes
    pairs on this fixture (mod 7 — mod 17 touches zero pairs at
    sf0.001), and dead vectors get no verdict row."""
    import duckdb

    got = sorted(
        map(tuple, si.streaming_semdedup_with_deletes(spark, sf_dir).collect())
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    want = sorted(map(tuple, con.execute(si._SEM_DELETE_ORACLE).fetchall()))
    assert got == want and got
    assert all(vid % si._SEM_DELETE_MOD != 0 for vid, *_ in got)
    # The takedown moved real verdicts, not just removed rows: some
    # survivor's near-dup count dropped vs the no-delete answer.
    full = {
        r.vec_id: r.n_neardups
        for r in semantic_dedup_verdicts(spark, sf_dir).collect()
    }
    assert any(
        n < full[vid] for vid, _cid, n, _keep in got if vid in full
    ), "delete batch touched no pairs — pick a modulus that does"


def test_oracle_factory_empty_render_is_registered_oracle():
    """The no-delete twin shares the REGISTERED batch query's oracle
    verbatim (the factory's empty render IS that oracle — asserted so
    the shared-oracle claim can't silently drift)."""
    from go_http_data_pipeline_spark import registry
    from go_http_data_pipeline_spark.llm.semdedup import _VERDICTS_ORACLE

    registry.all_queries()
    assert si._SEM_STREAM_ORACLE == _VERDICTS_ORACLE
    assert registry._ORACLE["semantic_dedup_verdicts"] == _VERDICTS_ORACLE


def test_sem_full_takedown_then_recompaction_and_fresh_session(
    spark, tmp_path
):
    """Full-source takedown (VERDICT r11 #1): retract EVERY indexed
    vector, compact (all-dead fold -> zero-part-file generation),
    compact AGAIN, and read in a catalog-cleared session — pair
    state and verdicts are empty-but-healthy at every step, and a
    later re-add is probed and verdict-ed again. Pre-fix the second
    compact and the fresh-session read threw UNABLE_TO_INFER_SCHEMA."""
    work, index_dir, state_dir = _dirs(tmp_path)
    _arrive(spark, index_dir, state_dir)
    dead = spark.createDataFrame([(1,), (2,), (3,)], "vec_id long")
    si.sem_delete_step(spark, dead, 2, index_dir, state_dir)
    idx = si._sem_index(index_dir)
    idx.compact(spark, 2)  # all-dead fold
    idx.compact(spark, 3)  # re-fold of the empty view
    assert _verdicts(spark, work) == []
    idx.drop_generations(spark)  # catalog-cleared session
    assert sum(
        s.count() for s in si._sem_probe_sides(spark, index_dir)
    ) == 0
    assert _verdicts(spark, work) == []
    # The index keeps WORKING after the takedown: b0+b1 re-adds
    # rebuild the original pair and verdicts.
    si.sem_index_step(spark, _feats(spark, _B0), 4, index_dir, state_dir)
    si.sem_index_step(spark, _feats(spark, _B1), 5, index_dir, state_dir)
    assert _verdicts(spark, work) == [
        (1, 0, 1, True),
        (2, 0, 0, True),
        (3, 0, 1, False),
    ]
    idx.drop_generations(spark)
