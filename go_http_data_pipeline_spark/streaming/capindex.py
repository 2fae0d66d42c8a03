"""Incremental per-host cap index — retraction-capable host quotas,
the FIFTH GenIndex instance.

``llm/sampling.py``'s ``host_document_caps`` is the batch curation
path: rank each host's documents by quality (``n_chars`` DESC, ties
to the smaller doc_id), keep rank <= HOST_CAP, with per-host audit
columns riding on every kept row. ``streaming_host_cap_state``
maintains that kept set at ingest as an associative top-CAP fold —
O(hosts x cap) state, the cheapest possible — but the fold is
IRREVERSIBLY LOSSY: a document evicted by the cap is gone from the
state, so a takedown of a KEPT document cannot promote the host's
next-best evictee. A pipeline that must honor removal requests
(GDPR/right-to-be-forgotten, license revocation) needs the quota
re-derived over what actually remains. This module maintains that
retraction-capable variant per micro-batch:

* a **(source)-bucketed generational index** of every live
  document's cap-relevant key columns (``doc_id, source, n_chars`` —
  tens of bytes per doc, never the text) — the same machinery as the
  other four index families (``streaming/genindex.py``): per-batch
  append dirs folding into one bucketed catalog-table generation
  every ``_CAP_COMPACT_EVERY`` appends, LWW tombstones for
  retraction;
* **no auxiliary state at all** — the structural contrast to the
  other families (the LSH/Sem twins carry pair state, the IVF twin a
  repaired top-1 state): the index rows ARE the semantics, so the
  kept set + audit columns re-derive from live rows at read time and
  a takedown is a tombstone write, O(deletes), full stop. Promotion
  of a previously-evicted document falls out of the re-derivation —
  nothing to repair.

The verdicts derived from the live index are EXACTLY the batch
``host_document_caps`` answer, so the no-delete gate query shares
that oracle VERBATIM (``sampling._host_caps_oracle()`` — the
streaming_priority_sample_state / semindex discipline). The
retraction twin answers the survivor render
(``_host_caps_oracle(_CAP_DELETE_MOD)``).

Scale: per batch only the BATCH's key rows shuffle (one bucketed
write); the read-time window is the batch query's shape, so Catalyst
rewrites its rank filter into partial+final WindowGroupLimit — map
tasks keep <= cap rows per host BEFORE the exchange, so the read
shuffles <= cap x hosts x tasks rows, never the corpus — and the
index carries ~3 longs + a host string per document (a 100 TB corpus
of ~100 M docs is a few GB of index). Takedown cost is sized by the
request, not the corpus: record tombstones O(deletes); the next
compaction folds them in physically.

Beyond the oracle gate, tests/test_capindex.py pins the replay/crash
shapes, compaction invariance and the read-time plan shape.

Reference parity: the reference (Server/main.go) has no curation
ops; this extends the beyond-reference curation surface (SURVEY.md
sampling/curation extensions).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..llm.sampling import HOST_CAP, _host_caps_oracle
from ..registry import query
from .genindex import GenIndex

# Fold the per-batch dirs into one bucketed generation every this many
# appends (see GenIndex / SCALING_MEASURED.md §F for why).
_CAP_COMPACT_EVERY = 4
_CAP_BUCKETS = 8

# Every _CAP_DELETE_MOD-th document is retracted in the delete twin.
# Mod 7 is the gate-bearing choice on this fixture: it kills 24-29
# KEPT rows across sf0.001/0.01/0.1 and every kill PROMOTES a
# previously-evicted document into the kept set (mod 5 happens to
# promote zero at all three scales — a retraction that re-elects
# nothing would gate nothing).
_CAP_DELETE_MOD = 7

_IDX_COLS = ("doc_id", "source", "n_chars")

# The oracles: the no-delete twin shares the registered batch
# query's oracle VERBATIM (the live index re-derives the batch
# answer); the retraction twin answers the survivor render.
_CAP_STREAM_ORACLE = _host_caps_oracle()
_CAP_DELETE_ORACLE = _host_caps_oracle(_CAP_DELETE_MOD)


def _cap_index(index_dir: str, store=None) -> GenIndex:
    """``store=None`` -> the Posix default (this family's registered
    path); ``streaming/manifestindex.py`` passes a
    ``ManifestIndexStore`` to run the SAME machinery on the
    manifest-pointer control plane."""
    return GenIndex(
        index_dir,
        bucket_cols=("source",),
        n_buckets=_CAP_BUCKETS,
        prefix="cap_gen",
        tombstone_cols=("doc_id",),
        store=store,
    )


def cap_index_step(
    spark: SparkSession,
    batch_docs: DataFrame,
    batch_id: int,
    index_dir: str,
    store=None,
) -> None:
    """One arrival: append the batch's cap-relevant key columns to the
    index (a pure projection — zero joins, zero shuffles beyond the
    bucketed write), compact every ``_CAP_COMPACT_EVERY`` appends.
    Replay-safe by construction: ``append`` overwrites ``b{batch_id}``
    and there is no auxiliary state to fold, so a replayed batch is
    byte-idempotent.

    PRECONDITION (ADVICE r14): a ``doc_id`` arrives at most ONCE
    across batches unless an intervening tombstone retracted it — the
    engine's disjoint-shard ingest satisfies this by construction
    (``availableNow`` over non-overlapping shards; a replayed batch
    overwrites its own ``b{N}`` dir, never duplicating). Unlike the
    probe-join families, this family's read COUNTS live rows
    (``host_n_docs``), so a re-appended duplicate would double-count
    and could occupy two kept slots. Dedup is deliberately NOT
    applied at read time: a ``doc_id``-keyed dedup would add an
    exchange ahead of the per-host rank window and break the
    partial+final WindowGroupLimit shape the read plan is pinned to
    (tests/test_capindex.py::test_read_plan_contracts)."""
    idx = _cap_index(index_dir, store)
    idx.append(
        batch_docs.select(*_IDX_COLS).withColumn(
            "src_batch", F.lit(batch_id).cast("long")
        ),
        batch_id,
    )
    if idx.pending_appends() >= _CAP_COMPACT_EVERY:
        idx.compact(spark, batch_id)


def cap_delete_step(
    spark: SparkSession,
    doc_ids: DataFrame,
    batch_id: int,
    index_dir: str,
    store=None,
) -> None:
    """One delete batch: record (doc_id, t_batch) tombstones —
    O(deletes), the index untouched until the next compaction, and
    NOTHING else: no state drop (there is no state), no re-probe, no
    repair. The promotion of a host's next-best evictee falls out of
    the read-time re-derivation over live rows — the cheapest
    takedown of the five index families."""
    _cap_index(index_dir, store).append_tombstones(doc_ids, batch_id)


def _caps_from_index(
    spark: SparkSession, index_dir: str, store=None
) -> DataFrame:
    """(source, doc_id, n_chars, src_rank, host_n_docs, host_n_kept,
    host_n_dropped) from the live index rows — the batch
    ``host_document_caps`` derivation verbatim (rank window with the
    WindowGroupLimit-shaped filter + the windowless gap-free audit +
    the host-bounded equi-join), with the document universe read from
    the index's own live rows (tombstones applied — a retracted
    document gets no row and cannot occupy a kept slot). Equality
    with the batch query is pinned in tests/test_capindex.py."""
    return _caps_from_sides(
        spark, _cap_index(index_dir, store).live_sides(spark)
    )


def _caps_from_sides(
    spark: SparkSession, sides: list[DataFrame]
) -> DataFrame:
    """The quota derivation over EXPLICIT index sides — factored from
    ``_caps_from_index`` so a SNAPSHOT view (a retained manifest
    version's sides, ``streaming/manifestindex.py``) derives its
    kept+audit answer through the same audited plan shape."""
    live = None
    for side in sides:
        s = side.select(*_IDX_COLS)
        live = s if live is None else live.unionByName(s)
    if live is None:
        return spark.createDataFrame(
            [],
            "source string, doc_id long, n_chars long, src_rank long,"
            " host_n_docs long, host_n_kept long, host_n_dropped long",
        )
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    kept = (
        live.select("source", "doc_id", "n_chars")
        .withColumn("src_rank", F.row_number().over(w))
        .filter(F.col("src_rank") <= HOST_CAP)
        .withColumn("src_rank", F.col("src_rank").cast("long"))
    )
    cap = F.lit(HOST_CAP).cast("long")
    audit = (
        live.groupBy("source")
        .agg(F.count(F.lit(1)).alias("host_n_docs"))
        .select(
            "source",
            "host_n_docs",
            F.least(F.col("host_n_docs"), cap).alias("host_n_kept"),
            F.greatest(
                F.col("host_n_docs") - cap, F.lit(0).cast("long")
            ).alias("host_n_dropped"),
        )
    )
    return kept.join(audit, "source")


def _run_arrivals(
    spark: SparkSession, sf_dir: str, work: str, store=None
) -> tuple[str, list[int]]:
    """Drive the sharded documents fixture through the engine
    (availableNow, one shard per micro-batch) into a fresh index;
    returns (index_dir, seen batch ids). ``store`` selects the index
    control plane (None -> Posix)."""
    from .core import _docs_sharded_dir

    index_dir = os.path.join(work, "index")
    seen: list[int] = []

    docs = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string,"
            " n_chars long"
        )
        .option("maxFilesPerTrigger", 1)  # one shard per micro-batch
        .parquet(_docs_sharded_dir(spark, sf_dir))
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        cap_index_step(spark, batch_df, batch_id, index_dir, store)
        seen.append(batch_id)

    q = (
        docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return index_dir, seen


@query("streaming_host_cap_index", oracle=_CAP_STREAM_ORACLE)
def streaming_host_cap_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental host quotas: documents arrive in micro-batches;
    each batch appends its cap-relevant key columns to the
    (source)-bucketed generational index, which folds into one
    bucketed generation every ``_CAP_COMPACT_EVERY`` appends. The
    kept set + audit re-derived from the live index equal the batch
    ``host_document_caps`` answer EXACTLY — shared oracle
    (``_CAP_STREAM_ORACLE``)."""
    work = tempfile.mkdtemp(prefix="cap_inc_")
    index_dir, _ = _run_arrivals(spark, sf_dir, work)
    out = _caps_from_index(spark, index_dir).localCheckpoint()
    _cap_index(index_dir).drop_generations(spark)
    shutil.rmtree(work, ignore_errors=True)
    return out


@query("streaming_host_cap_index_with_deletes", oracle=_CAP_DELETE_ORACLE)
def streaming_host_cap_index_with_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The incremental cap index under RETRACTION: arrivals build the
    index as above; a delete batch then retracts every
    ``_CAP_DELETE_MOD``-th document (LWW tombstones — O(deletes),
    nothing to repair), and a compaction folds the tombstones in
    physically. The answer is the live index's quota AFTER the
    takedown: the batch oracle over survivors
    (``_CAP_DELETE_ORACLE``) — a host whose kept doc died PROMOTES
    its next-best previously-evicted doc into the kept set, the
    outcome the lossy ``streaming_host_cap_state`` fold structurally
    cannot produce (its evictees are gone from state)."""
    work = tempfile.mkdtemp(prefix="cap_del_")
    index_dir, seen = _run_arrivals(spark, sf_dir, work)
    delete_batch = max(seen, default=-1) + 1
    dead = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % _CAP_DELETE_MOD == 0)
        .select("doc_id")
    )
    cap_delete_step(spark, dead, delete_batch, index_dir)
    # Fold the retraction in physically; the answer is the same either
    # way (logical==physical is unit-pinned in tests/test_capindex.py).
    _cap_index(index_dir).compact(spark, delete_batch)
    out = _caps_from_index(spark, index_dir).localCheckpoint()
    _cap_index(index_dir).drop_generations(spark)
    shutil.rmtree(work, ignore_errors=True)
    return out
