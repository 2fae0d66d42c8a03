"""Manifest-committed host-cap index + snapshot (time-travel) reads —
the object-store seam (``streaming/indexstore.py``) driven end-to-end
through a real index family.

``streaming/capindex.py`` maintains retraction-capable per-host
quotas on the default POSIX control plane (dir numbering + ``_SUCCESS``
as the implicit manifest). This module runs the SAME machinery — the
same ``GenIndex`` appends/tombstones/folds, the same quota derivation,
the same oracles — on the :class:`~.indexstore.ManifestIndexStore`
control plane, where every mutation is an immutable ``manifest-v{N}``
installed by compare-and-swap. Two things are being proven:

* **Store-agnostic exactness** (``streaming_manifest_cap_takedown``):
  build the index through manifest commits, retract every
  ``_CAP_DELETE_MOD``-th document, fold the tombstones in via the
  manifest SWAP (one CAS adds the generation and drops everything it
  superseded — the commit an object store can make where it cannot
  rename a directory), and the latest view's quota is EXACTLY the
  batch answer over survivors — the capindex delete twin's oracle
  VERBATIM (``capindex._CAP_DELETE_ORACLE``). The porting claim in
  docs/SCALING.md stops being prose: same values, different commit
  protocol.
* **Snapshot isolation** (``streaming_manifest_cap_timetravel``):
  the manifest version pinned BEFORE the takedown stays a complete,
  readable view after it — superseded prefixes are retained until
  ``vacuum`` — so reading as-of that version yields the full
  pre-delete quota: the no-delete oracle VERBATIM
  (``capindex._CAP_STREAM_ORACLE``). This is the audit/reproduce
  read (what did the quota look like when we trained on it?) that
  the Posix control plane structurally cannot offer, because its
  compaction GC physically deletes what it supersedes. Retention is
  a POLICY with teeth: ``vacuum(keep_from)`` deletes unreferenced
  prefixes and a read past retention raises — and on a
  right-to-be-forgotten takedown, vacuuming to the post-takedown
  version is precisely what erases the retracted rows' bytes.

Scale: identical to the capindex twins (per batch only the batch's
key rows shuffle; the quota read keeps the partial+final
WindowGroupLimit shape — pinned in tests/test_manifestindex.py) plus
O(1) manifest objects per commit, each a few hundred bytes listing
entry names: control-plane cost is metadata-sized, never
corpus-sized, and the one-GET listing REPLACES the per-read LIST
walk an object store would otherwise pay.

Both oracles are SHARED verbatim with the capindex twins (the
streaming_priority_sample_state / semindex / capindex discipline).
tests/test_manifestindex.py pins the manifest commits, retention and
the read-time plan shape.

Reference parity: the reference (Server/main.go) has no index,
storage-format, or snapshot concepts; this extends the
beyond-reference curation surface (SURVEY.md, GenIndex family)
toward its 100 TB object-store deployment story.
"""

from __future__ import annotations

import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from .capindex import (
    _CAP_DELETE_MOD,
    _CAP_DELETE_ORACLE,
    _CAP_STREAM_ORACLE,
    _cap_index,
    _caps_from_sides,
    _run_arrivals,
    cap_delete_step,
)
from .genindex import GenIndex
from .indexstore import ManifestIndexStore

# The oracles: both SHARED verbatim with the capindex twins
# (same machinery, same fixture drive, different control plane — the
# values must not move, and sharing the oracle string makes that a
# single source of truth).
_MANIFEST_TAKEDOWN_ORACLE = _CAP_DELETE_ORACLE
_MANIFEST_TIMETRAVEL_ORACLE = _CAP_STREAM_ORACLE


def snapshot_sides(
    spark: SparkSession, idx: GenIndex, version: int
) -> list[DataFrame]:
    """Join-ready index sides AS OF a retained manifest version —
    the time-travel read. The snapshot listing resolves through the
    same audited view logic as a live read (``GenIndex._view_dirs``
    -> ``GenIndex._sides``), and the snapshot's OWN ``d{N}`` entries
    are applied as tombstones with their sizes measured off the
    snapshot listing (the live broadcast-gate discipline, applied to
    the frozen view — a delete committed AFTER the snapshot is
    invisible to it, which is the point)."""
    store = idx.store
    entries = store.entries_at(idx.index_dir, version)
    sides = idx._sides(spark, idx._view_dirs(entries))
    d_dirs = [p for n, p in entries if re.fullmatch(r"d\d+", n)]
    sized = (d_dirs, sum(store.data_bytes(d) for d in d_dirs))
    return [idx.apply_tombstones(spark, s, _sized=sized) for s in sides]


def _run_with_takedown(
    spark: SparkSession, sf_dir: str, work: str
) -> tuple[GenIndex, int]:
    """Shared drive for both twins: arrivals through manifest
    commits, pin the pre-delete version, then retract every
    ``_CAP_DELETE_MOD``-th document and fold the takedown in via the
    manifest swap. Returns (index, pre-delete manifest version)."""
    store = ManifestIndexStore()
    index_dir, seen = _run_arrivals(spark, sf_dir, work, store)
    v_pre = store.current_version(index_dir)
    delete_batch = max(seen, default=-1) + 1
    dead = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % _CAP_DELETE_MOD == 0)
        .select("doc_id")
    )
    cap_delete_step(spark, dead, delete_batch, index_dir, store)
    idx = _cap_index(index_dir, store)
    idx.compact(spark, delete_batch)
    return idx, v_pre


@query("streaming_manifest_cap_takedown", oracle=_MANIFEST_TAKEDOWN_ORACLE)
def streaming_manifest_cap_takedown(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The capindex retraction answer, with every control-plane step
    a manifest commit: arrivals CAS per-batch entries, the takedown
    CAS-commits its tombstones, and the fold is the manifest SWAP —
    one CAS installs the survivors-only generation and logically
    drops everything it superseded (no dir rename, the commit object
    stores can actually make). The latest view's quota is the batch
    oracle over survivors VERBATIM (``_MANIFEST_TAKEDOWN_ORACLE``)
    — store-agnostic exactness, the docs/SCALING.md porting claim as
    a checked value instead of prose."""
    work = tempfile.mkdtemp(prefix="mcap_del_")
    idx, _ = _run_with_takedown(spark, sf_dir, work)
    out = _caps_from_sides(spark, idx.live_sides(spark)).localCheckpoint()
    idx.drop_generations(spark)
    shutil.rmtree(work, ignore_errors=True)
    return out


@query("streaming_manifest_cap_timetravel", oracle=_MANIFEST_TIMETRAVEL_ORACLE)
def streaming_manifest_cap_timetravel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Snapshot isolation under retraction: pin the manifest version
    BEFORE the takedown, let the takedown + physical fold land, then
    read AS OF the pinned version. Retained manifests keep the
    superseded generation's prefixes readable, so the snapshot quota
    is the FULL pre-delete answer — the no-delete oracle VERBATIM
    (``_MANIFEST_TIMETRAVEL_ORACLE``) — while the latest view
    already answers with survivors only (the takedown twin). The
    audit/reproduce read the Posix control plane structurally cannot
    offer; ``vacuum`` is the documented forgetting step that revokes
    it."""
    work = tempfile.mkdtemp(prefix="mcap_tt_")
    idx, v_pre = _run_with_takedown(spark, sf_dir, work)
    out = _caps_from_sides(
        spark, snapshot_sides(spark, idx, v_pre)
    ).localCheckpoint()
    idx.drop_generations(spark)
    shutil.rmtree(work, ignore_errors=True)
    return out
