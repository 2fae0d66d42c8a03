"""Manifest-committed index + snapshot reads
(streaming/manifestindex.py + streaming/indexstore.py): CAS commit
semantics (lost claims re-apply, dead claims burn a version, crashed
writers stay invisible), store-agnostic value parity with the Posix
control plane, time-travel reads across folds, vacuum retention with
loud revocation, the full-takedown pin every GenIndex family carries,
and the read-plan contracts."""

from __future__ import annotations

import json
import os

import pytest

from go_http_data_pipeline_spark.streaming import capindex as ci
from go_http_data_pipeline_spark.streaming import manifestindex as mi
from go_http_data_pipeline_spark.streaming.indexstore import (
    ManifestIndexStore,
    PosixIndexStore,
)


def _docs(spark, rows):
    return spark.createDataFrame(
        list(rows), "doc_id long, source string, n_chars long"
    )


# The capindex synthetic fixture: one host, HOST_CAP+2 docs, quality
# strictly decreasing with doc_id — kept = 1..8, evicted = 9, 10.
_B0 = tuple((i, "h", 1000 - i) for i in range(1, 7))
_B1 = tuple((i, "h", 1000 - i) for i in range(7, 11))


def _arrive(spark, index_dir, store):
    ci.cap_index_step(spark, _docs(spark, _B0), 0, index_dir, store)
    ci.cap_index_step(spark, _docs(spark, _B1), 1, index_dir, store)


def _caps(spark, index_dir, store):
    return sorted(
        map(tuple, ci._caps_from_index(spark, index_dir, store).collect())
    )


def _snapshot_caps(spark, index_dir, store, version):
    idx = ci._cap_index(index_dir, store)
    return sorted(
        map(
            tuple,
            ci._caps_from_sides(
                spark, mi.snapshot_sides(spark, idx, version)
            ).collect(),
        )
    )


def _kept_ids(rows):
    return sorted(r[1] for r in rows)


def test_manifest_equals_posix_control_plane(spark, tmp_path):
    """Store-agnostic exactness at unit scale: the same arrivals
    through the Posix and manifest control planes derive identical
    quota rows — the seam moves the commit protocol, never a value."""
    pdir, mdir = str(tmp_path / "posix"), str(tmp_path / "manifest")
    store = ManifestIndexStore()
    _arrive(spark, pdir, None)
    _arrive(spark, mdir, store)
    try:
        assert _caps(spark, pdir, None) == _caps(spark, mdir, store)
    finally:
        ci._cap_index(pdir).drop_generations(spark)
        ci._cap_index(mdir, store).drop_generations(spark)


def test_takedown_promotes_and_timetravel_sees_pre_delete(spark, tmp_path):
    """The core twin semantics on one index: kill a kept doc via a
    manifest-committed tombstone + fold (the CAS swap), and (a) the
    LATEST view promotes the best evictee into the freed slot, while
    (b) the version pinned before the takedown still answers the
    FULL pre-delete quota — snapshot isolation across a physical
    fold."""
    index_dir = str(tmp_path / "index")
    store = ManifestIndexStore()
    _arrive(spark, index_dir, store)
    before = _caps(spark, index_dir, store)
    assert _kept_ids(before) == list(range(1, 9))
    v_pre = store.current_version(index_dir)
    ci.cap_delete_step(
        spark, spark.createDataFrame([(3,)], "doc_id long"), 2, index_dir, store
    )
    ci._cap_index(index_dir, store).compact(spark, 2)
    try:
        after = _caps(spark, index_dir, store)
        # doc 3 dead, doc 9 (best evictee) promoted; audit over 9 live
        assert _kept_ids(after) == [1, 2, 4, 5, 6, 7, 8, 9]
        assert all(r[4:] == (9, 8, 1) for r in after)
        # the pinned snapshot is byte-identical to the pre-delete read
        assert _snapshot_caps(spark, index_dir, store, v_pre) == before
    finally:
        ci._cap_index(index_dir, store).drop_generations(spark)


def test_snapshot_applies_its_own_tombstones(spark, tmp_path):
    """A snapshot taken AFTER a tombstone commit but BEFORE any fold
    applies that tombstone logically (the d entry is part of the
    pinned view), while the pre-delete snapshot stays full — deletes
    become visible at their COMMIT, not at the physical fold."""
    index_dir = str(tmp_path / "index")
    store = ManifestIndexStore()
    _arrive(spark, index_dir, store)
    v_pre = store.current_version(index_dir)
    ci.cap_delete_step(
        spark, spark.createDataFrame([(3,)], "doc_id long"), 2, index_dir, store
    )
    v_del = store.current_version(index_dir)
    try:
        assert v_del > v_pre
        assert _kept_ids(_snapshot_caps(spark, index_dir, store, v_pre)) == list(
            range(1, 9)
        )
        assert _kept_ids(_snapshot_caps(spark, index_dir, store, v_del)) == [
            1, 2, 4, 5, 6, 7, 8, 9,
        ]
    finally:
        ci._cap_index(index_dir, store).drop_generations(spark)


def test_full_takedown_folds_all_dead_on_manifest_store(spark, tmp_path):
    """The family's full-takedown pin, on the manifest control plane:
    retracting EVERY live doc folds an all-dead generation (zero part
    files; the schema sidecar rides the store's PUT-atomic write),
    the latest view answers empty, a later re-add resurrects cleanly,
    and the pre-takedown snapshot still answers in full."""
    index_dir = str(tmp_path / "index")
    store = ManifestIndexStore()
    _arrive(spark, index_dir, store)
    v_pre = store.current_version(index_dir)
    all_ids = spark.createDataFrame(
        [(i,) for i in range(1, 11)], "doc_id long"
    )
    ci.cap_delete_step(spark, all_ids, 2, index_dir, store)
    idx = ci._cap_index(index_dir, store)
    idx.compact(spark, 2)
    try:
        assert _caps(spark, index_dir, store) == []
        idx.compact(spark, 3)  # recompaction of the all-dead view
        assert _caps(spark, index_dir, store) == []
        ci.cap_index_step(
            spark, _docs(spark, [(42, "h", 7)]), 4, index_dir, store
        )
        assert _kept_ids(_caps(spark, index_dir, store)) == [42]
        assert _kept_ids(
            _snapshot_caps(spark, index_dir, store, v_pre)
        ) == list(range(1, 9))
    finally:
        idx.drop_generations(spark)


def test_vacuum_revokes_time_travel_loudly(spark, tmp_path):
    """Vacuum to the post-takedown version: the retracted rows'
    prefixes are physically deleted (the forgetting step), the
    latest view is untouched, and a read at the vacuumed version
    raises instead of returning a silently partial view."""
    index_dir = str(tmp_path / "index")
    store = ManifestIndexStore()
    _arrive(spark, index_dir, store)
    v_pre = store.current_version(index_dir)
    ci.cap_delete_step(
        spark, spark.createDataFrame([(3,)], "doc_id long"), 2, index_dir, store
    )
    idx = ci._cap_index(index_dir, store)
    idx.compact(spark, 2)
    try:
        latest = _caps(spark, index_dir, store)
        deleted = store.vacuum(index_dir, store.current_version(index_dir))
        assert deleted, "superseded prefixes must be physically removed"
        assert all(not os.path.isdir(p) for p in deleted)
        assert _caps(spark, index_dir, store) == latest
        with pytest.raises(ValueError, match="not retained"):
            store.entries_at(index_dir, v_pre)
    finally:
        idx.drop_generations(spark)


def test_lost_cas_claim_reapplies_on_winner(tmp_path):
    """A lost claim must re-apply the mutation on the WINNER's
    entries, not silently drop either commit: the first mutate
    attempt loses the race to a competing writer (simulated by
    committing the competitor inside the mutate callback), the retry
    merges, and the final manifest holds both entries."""
    root = str(tmp_path / "idx")
    store = ManifestIndexStore()
    store._commit(root, lambda e: {**e, "b0": "objects/b0-aaaa"})
    calls = []

    def mutate(entries):
        if not calls:
            # competing writer commits FIRST, stealing our target
            # version — our claim below must fail and retry
            store._commit(root, lambda e: {**e, "b1": "objects/b1-bbbb"})
        calls.append(dict(entries))
        return {**entries, "b2": "objects/b2-cccc"}

    v = store._commit(root, mutate)
    assert len(calls) == 2, "the lost claim must re-run the mutation"
    assert "b1" not in calls[0] and "b1" in calls[1]
    entries = dict(store.entries_at(root, v))
    assert set(entries) == {"b0", "b1", "b2"}


def test_dead_claim_burns_a_version_and_readers_fall_back(tmp_path):
    """A writer that crashed between create-exclusive and the content
    replace leaves an unparseable claim: readers fall back to the
    newest COMMITTED manifest, and the next commit burns the dead
    claim's number instead of looping on it."""
    root = str(tmp_path / "idx")
    store = ManifestIndexStore()
    v1 = store._commit(root, lambda e: {**e, "b0": "objects/b0-aaaa"})
    # dead claim at v1+1 (empty file — the crashed writer's residue)
    open(store._mpath(root, v1 + 1), "w").close()
    assert store.current_version(root) == v1
    assert [n for n, _ in store.list_entries(root)] == ["b0"]
    v = store._commit(root, lambda e: {**e, "b1": "objects/b1-bbbb"})
    assert v == v1 + 2, "the dead claim's version number stays burned"
    assert {n for n, _ in store.list_entries(root)} == {"b0", "b1"}
    # Vacuum below the retention cut reaps dead names too (they
    # reference nothing; removing one frees only its number).
    store.vacuum(root, v)
    assert not os.path.exists(store._mpath(root, v1 + 1))
    assert {n for n, _ in store.list_entries(root)} == {"b0", "b1"}


def test_uncommitted_writer_is_invisible_and_vacuumable(spark, tmp_path):
    """Crash safety by commit-ordering: data written under a fresh
    prefix WITHOUT a manifest commit never appears in any listing,
    and vacuum deletes the orphan prefix."""
    index_dir = str(tmp_path / "index")
    store = ManifestIndexStore()
    _arrive(spark, index_dir, store)
    before = store.list_entries(index_dir)
    orphan = store.child(index_dir, "b9")
    _docs(spark, [(99, "h", 1)]).write.parquet(orphan)
    try:
        assert store.list_entries(index_dir) == before
        assert _kept_ids(_caps(spark, index_dir, store)) == list(range(1, 9))
        deleted = store.vacuum(index_dir, 1)
        assert os.path.normpath(orphan) in [
            os.path.normpath(p) for p in deleted
        ]
    finally:
        ci._cap_index(index_dir, store).drop_generations(spark)


def test_replayed_append_repoints_not_duplicates(spark, tmp_path):
    """A replayed batch lands on a FRESH prefix and its commit
    re-points the logical name: the view holds ONE b entry per batch
    id, values are unchanged, and the superseded prefix remains only
    as retained history."""
    index_dir = str(tmp_path / "index")
    store = ManifestIndexStore()
    _arrive(spark, index_dir, store)
    before = _caps(spark, index_dir, store)
    ci.cap_index_step(spark, _docs(spark, _B1), 1, index_dir, store)  # replay
    try:
        names = [n for n, _ in store.list_entries(index_dir)]
        assert names.count("b1") == 1
        assert _caps(spark, index_dir, store) == before
    finally:
        ci._cap_index(index_dir, store).drop_generations(spark)


def test_manifest_objects_are_metadata_sized(spark, tmp_path):
    """The control-plane cost claim: one manifest object per commit,
    each listing entry names only — bytes scale with ENTRY COUNT, not
    corpus rows (the one-GET listing that replaces a LIST walk)."""
    index_dir = str(tmp_path / "index")
    store = ManifestIndexStore()
    _arrive(spark, index_dir, store)
    try:
        versions = store._versions(index_dir)
        assert len(versions) == 2  # one commit per arrival, no fold yet
        sizes = [
            os.path.getsize(store._mpath(index_dir, v)) for v in versions
        ]
        assert max(sizes) < 4096
        data = json.loads(
            open(store._mpath(index_dir, versions[-1])).read()
        )
        assert set(data["entries"]) == {"b0", "b1"}
    finally:
        ci._cap_index(index_dir, store).drop_generations(spark)


def test_read_plan_contracts(spark, tmp_path):
    """The manifest-store quota read keeps the capindex plan shape:
    partial+final WindowGroupLimit ahead of the rank exchange, no
    CartesianProduct, no BroadcastNestedLoopJoin — and the snapshot
    read obeys the same contracts (same derivation, frozen listing)."""
    index_dir = str(tmp_path / "index")
    store = ManifestIndexStore()
    _arrive(spark, index_dir, store)
    v = store.current_version(index_dir)
    idx = ci._cap_index(index_dir, store)
    try:
        for df in (
            ci._caps_from_index(spark, index_dir, store),
            ci._caps_from_sides(spark, mi.snapshot_sides(spark, idx, v)),
        ):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert plan.count("WindowGroupLimit") >= 2  # partial + final
            assert "CartesianProduct" not in plan
            assert "BroadcastNestedLoopJoin" not in plan
    finally:
        idx.drop_generations(spark)
