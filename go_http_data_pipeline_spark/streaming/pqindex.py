"""Incremental IVFPQ index maintenance — the third instance of the
generational bucketed-index machinery (``streaming/genindex.py``),
after the MinHash-LSH band index (``streaming/core.py``) and the IVF
cell index (``streaming/annindex.py``).

Embeddings arrive in micro-batches; per batch the engine assigns each
NEW vector its IVF cell (fixed offline centroids) and its 16 PQ codes
(fixed offline-trained codebook), widens the codes to the storage
layout (one row per vector: ``(vec_id, cid, cidx array<int>[M])``),
and appends to a GenIndex bucketed by cell id, folding into one
compacted generation every ``_PQ_COMPACT_EVERY`` appends.

What makes this index different from its two siblings — and worth
shipping as its own query — is the maintenance cost curve. The LSH
band index's per-arrival cost is ~flat because banding bounds the
probe (SCALING_MEASURED.md §F); the IVF top-1 index's grows LINEARLY
because every arrival must challenge its whole cell (§I). The IVFPQ
codes index is per-vector independent: a batch's append touches ONLY
the batch (broadcast codebook, per-row quantization, no join against
the accumulated index at all), so per-arrival maintenance is O(batch)
regardless of corpus size — the only corpus-sized work is the probe,
which reads 16 bytes/vector of the query's cell. That is why
deployments maintain codes continuously but recompute top-1 graphs
offline.

After all arrivals, probing the accumulated index with the demo
query set gives EXACTLY the batch IVFPQ answer (``ivf_pq_ann_top1``,
llm/pq.py) — same trained codebook, same cell assignment, same ADC
arithmetic — so the gate query shares that oracle verbatim.

Reference parity: the reference (Server/main.go) has no vector ops;
this is part of the beyond-reference training-data surface.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..llm.pq import (
    _IVF_PQ_TOP1_ORACLE,
    _ivf_pq_top1_oracle,
    _query_lut_rows,
    dense_code_ids,
    pq_assign,
    trained_codebook,
    widen_codes,
)
from ..llm.similarity import N_QUERIES, ivf_assign_cached
from ..registry import query
from .annindex import (
    _emb_sharded_dir,
    _stamped,
    ivf_batch_feats,
    ivf_centroids,
)
from .genindex import GenIndex

# Fold the per-batch dirs into one (cid)-bucketed generation every
# this many appends (see GenIndex for the crash-safety ordering).
_PQ_COMPACT_EVERY = 4
_PQ_BUCKETS = 8


def _pq_index(index_dir: str) -> GenIndex:
    return GenIndex(
        index_dir,
        bucket_cols=("cid",),
        n_buckets=_PQ_BUCKETS,
        prefix="ivfpq_gen",
        tombstone_cols=("vec_id",),
    )


def pq_index_step(
    spark: SparkSession,
    batch_df: DataFrame,
    cents: DataFrame,
    codebook: DataFrame,
    code_ids: list[int],
    batch_id: int,
    index_dir: str,
) -> None:
    """One arrival: quantize ONLY the batch (cell via the broadcast
    16-row centroid table, codes via the broadcast trained codebook),
    widen, append as ``b{batch_id}`` (overwrite — a replayed batch is
    idempotent), compact every ``_PQ_COMPACT_EVERY`` appends. Unlike
    the IVF top-1 step there is no probe against the accumulated
    index and no cross-batch state: per-arrival cost is O(batch)."""
    cells = ivf_batch_feats(batch_df, cents).select("vec_id", "cid")
    wide = widen_codes(pq_assign(batch_df, codebook, int_codebook=True), code_ids)
    idx = _pq_index(index_dir)
    idx.append(_stamped(wide.join(cells, "vec_id"), batch_id), batch_id)
    if idx.pending_appends() >= _PQ_COMPACT_EVERY:
        idx.compact(spark, batch_id)


def _pq_probe_sides(spark: SparkSession, index_dir: str) -> list[DataFrame]:
    """The read view as join-ready sides with live tombstones applied
    — see ``GenIndex.live_sides``."""
    return _pq_index(index_dir).live_sides(spark)


def pq_delete_step(vec_ids: DataFrame, batch_id: int, index_dir: str) -> None:
    """One delete batch: record (vec_id, t_batch) tombstones —
    O(deletes), the codes untouched until the next compaction folds
    the retraction in physically. Unlike the IVF top-1 twin
    (``annindex.ivf_delete_step``) there is NO state to repair: the
    codes index holds nothing derived across vectors, so retracting a
    vector is exactly "its 16-byte row stops being probe-visible" —
    probes recompute every answer from the surviving rows. Replaying
    a delete batch overwrites its own d-dir (idempotent)."""
    _pq_index(index_dir).append_tombstones(vec_ids, batch_id)


def ivfpq_probe(
    spark: SparkSession,
    sf_dir: str,
    sides: list[DataFrame],
    q_filter=None,
) -> DataFrame:
    """ADC-probe the accumulated index: each query's broadcast row
    carries its cell id, its 16xK LUT of partial dots, and the
    codeword norms, so the cell restriction and the code lookups are
    ONE broadcast join against the (cid)-bucketed index — per-row
    BIGINT lookup sums in codegen, then a per-query partial max (the
    wide-ADC shape of ``pq_ann_top1_wide``, cell-restricted). Output
    columns match ``ivf_pq_ann_top1``. ``q_filter`` (a Column over
    the raw ``vec_id``) restricts the query set — the retraction
    twin uses it so deleted vectors stop querying as well as
    serving."""
    q_cells = ivf_assign_cached(spark, sf_dir).filter(
        F.col("vec_id") < N_QUERIES
    )
    if q_filter is not None:
        q_cells = q_cells.filter(q_filter)
    q_cells = q_cells.select(F.col("vec_id").alias("qid"), "cid")
    qtab = _query_lut_rows(spark, sf_dir).join(q_cells, "qid")

    look = (
        "aggregate(zip_with(cidx, {t}, (c, t) -> element_at(t, c + 1)),"
        " CAST(0 AS BIGINT), (a, v) -> a + v)"
    )
    scored = None
    for side in sides:
        s = (
            side.withColumnRenamed("cid", "v_cid")
            .join(
                F.broadcast(qtab),
                (F.col("v_cid") == F.col("cid"))
                & (F.col("vec_id") != F.col("qid")),
            )
            .withColumn("adot", F.expr(look.format(t="lut")))
            .withColumn("rn2", F.expr(look.format(t="pn2")))
        )
        scored = s if scored is None else scored.unionByName(s)
    if scored is None:
        return spark.createDataFrame(
            [],
            "qid long, cid long, neighbor_id long, approx_cosine double",
        )
    best = (
        scored.withColumn(
            "score",
            F.col("adot").cast("double") / F.sqrt(F.col("rn2").cast("double")),
        )
        .groupBy("qid", "cid", "q_nrm")
        .agg(
            F.min(
                F.struct(
                    (-F.col("score")).alias("neg"),
                    F.col("vec_id"),
                    F.col("adot"),
                    F.col("rn2"),
                )
            ).alias("b")
        )
    )
    return best.select(
        "qid",
        "cid",
        F.col("b.vec_id").alias("neighbor_id"),
        (
            F.col("b.adot").cast("double")
            / F.sqrt(F.col("b.rn2").cast("double"))
            / F.col("q_nrm")
        ).alias("approx_cosine"),
    )


def _run_arrivals(
    spark: SparkSession, sf_dir: str, work: str, index_dir: str
) -> int:
    """Build the codes index by streaming the sharded embeddings
    fixture through the engine (availableNow, one shard per
    micro-batch), quantizing each batch against the FIXED offline
    codebooks. Shared by the gate query and the retraction twin so
    the arrival loop exists once. Returns the last arrival's batch id
    (-1 if the stream produced no micro-batches)."""
    cents = ivf_centroids(spark, sf_dir).persist()
    cents.count()
    codebook = trained_codebook(spark, sf_dir)
    code_ids = dense_code_ids(spark, sf_dir)
    seen: list[int] = []

    emb = (
        spark.readStream.schema(
            "vec_id long, embedding array<float>, label int"
        )
        .option("maxFilesPerTrigger", 1)  # one shard per micro-batch
        .parquet(_emb_sharded_dir(spark, sf_dir))
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        pq_index_step(
            spark, batch_df, cents, codebook, code_ids, batch_id, index_dir
        )
        seen.append(batch_id)

    q = (
        emb.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    cents.unpersist()
    return max(seen, default=-1)


@query("streaming_ivfpq_index_top1", oracle=_IVF_PQ_TOP1_ORACLE)
def streaming_ivfpq_index_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVFPQ index maintenance: embeddings arrive in
    micro-batches; each batch is cell-assigned and PQ-coded against
    the FIXED offline codebooks and appended to a (cid)-bucketed
    generational index — per-arrival cost O(batch), independent of
    corpus size, because codes are per-vector (no probe, no state
    fold; contrast §I's linearly-growing IVF top-1 maintenance).
    After the final arrival the demo queries ADC-probe the
    accumulated index; the answer is EXACTLY the batch
    ``ivf_pq_ann_top1`` (shared oracle)."""
    work = tempfile.mkdtemp(prefix="ivfpq_inc_")
    index_dir = os.path.join(work, "index")
    _run_arrivals(spark, sf_dir, work, index_dir)
    out = ivfpq_probe(
        spark, sf_dir, _pq_probe_sides(spark, index_dir)
    ).localCheckpoint()
    _pq_index(index_dir).drop_generations(spark)
    shutil.rmtree(work, ignore_errors=True)
    return out


# --- retractions ----------------------------------------------------------
# Round 10 gave the LSH band index (r9) and the IVF cell index LWW
# tombstones; the codes index is the third and last family (VERDICT r9
# item 6: "deletes on every index family"). It is also the easiest:
# there is no maintained state to repair — a probe recomputes every
# answer from the surviving 16-byte rows, so a retraction is complete
# the moment the tombstone lands (logical apply on the probe sides,
# physical fold at the next compaction).

# Every _IVFPQ_DELETE_MOD-th vector is retracted in the twin's delete
# batch (the LSH/IVF convention).
_IVFPQ_DELETE_MOD = 17

# The batch IVFPQ oracle restricted to SURVIVORS on both sides:
# deleted vectors neither query nor serve as neighbors, while the
# offline-trained codebooks keep defining cells and codes. Rendered
# from the ONE shared SQL body in llm/pq.py (the registered queries'
# oracle is the empty-``survive`` render of the same factory).
_IVFPQ_DELETE_ORACLE = _ivf_pq_top1_oracle(
    survive=(
        f"\n          AND p.vec_id % {_IVFPQ_DELETE_MOD} != 0"
        f"\n          AND aq.vec_id % {_IVFPQ_DELETE_MOD} != 0"
    )
)


@query("streaming_ivfpq_index_with_deletes", oracle=_IVFPQ_DELETE_ORACLE)
def streaming_ivfpq_index_with_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The incremental IVFPQ codes index under RETRACTION: embeddings
    arrive and build the (cid)-bucketed codes index exactly as
    ``streaming_ivfpq_index_top1``; then a delete batch retracts every
    ``_IVFPQ_DELETE_MOD``-th vector (LWW tombstones — O(deletes)) and
    a compaction folds the retraction in physically. The ADC probe
    over the surviving rows — deleted vectors neither query nor serve
    — is the answer, and it equals the batch IVFPQ answer restricted
    to survivors on both sides (``_IVFPQ_DELETE_ORACLE``). No state
    repair exists to do: codes are per-vector, so the retraction is
    complete when the tombstone lands. Logical==physical apply,
    replayed-delete idempotence, and LWW re-add are unit-pinned in
    tests/test_pqindex.py."""
    work = tempfile.mkdtemp(prefix="ivfpq_del_")
    index_dir = os.path.join(work, "index")
    delete_batch = _run_arrivals(spark, sf_dir, work, index_dir) + 1
    deleted = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % _IVFPQ_DELETE_MOD == 0)
        .select("vec_id")
    )
    pq_delete_step(deleted, delete_batch, index_dir)
    # Fold the retraction in physically; the probe answers the same
    # either way (logical==physical is unit-pinned).
    _pq_index(index_dir).compact(spark, delete_batch)
    out = ivfpq_probe(
        spark,
        sf_dir,
        _pq_probe_sides(spark, index_dir),
        q_filter=F.col("vec_id") % _IVFPQ_DELETE_MOD != 0,
    ).localCheckpoint()
    _pq_index(index_dir).drop_generations(spark)
    shutil.rmtree(work, ignore_errors=True)
    return out
