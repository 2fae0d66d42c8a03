"""Incremental semantic-dedup index maintenance — the SemDeDup twin
of the incremental LSH / IVF / IVFPQ indexes, the FOURTH GenIndex
instance.

``llm/semdedup.py`` is the batch curation path (Abbas et al.,
arXiv:2303.09540): assign every embedding to its nearest seed
centroid, find near-duplicates only within each cluster, emit a
keep/drop verdict per vector. A training-data pipeline that ingests
continuously needs the same verdicts AT INGEST TIME — a newly crawled
document should be admitted or dropped against everything already
indexed, without recomputing the corpus. This module maintains, per
micro-batch:

* a **cell index** of arrived vectors (quantized array + exact squared
  norm), partitioned by their nearest seed centroid (``cid``) — the
  same generational bucketed machinery as the other three index
  families (``streaming/genindex.py``): per-batch append dirs folding
  into one (cid)-bucketed catalog-table generation every
  ``_SEM_COMPACT_EVERY`` appends, LWW tombstones for retraction;
* a **pair state**: the accumulated intra-cluster semantic-duplicate
  pairs (cosine >= TAU, canonical vec_a < vec_b). The per-batch fold
  is a set union + distinct — associative, idempotent,
  order-insensitive — so replays are absorbed and the final pair set
  provably equals the batch ``_cluster_pairs`` answer: a same-cell
  pair is evaluated exactly when its LATER endpoint arrives (cross
  probe) or when both arrive together (within-batch probe).

The verdicts derived from the final state are EXACTLY the batch
``semantic_dedup_verdicts`` answer, so the gate query shares that
oracle VERBATIM (``semdedup._verdicts_oracle()`` — the
streaming_priority_sample_state discipline). The retraction twin
answers with the oracle's survivor render.

Retraction is the cheapest of the four families: the pair state IS
the semantics, so a delete needs no index re-probe at all — dead
vectors' pairs drop (O(pairs) filter), every other pair is untouched,
and surviving vectors' n_neardups/keep re-derive from the surviving
pair set at read time. Contrast the IVF twin, whose top-1 state must
re-probe the live index for next-best neighbors (streaming/
annindex.py ``ivf_delete_step``).

Scale: per batch only the BATCH's vectors shuffle (cell-keyed); the
probe join against the compacted generation consumes its bucketing
(zero index-side exchange — the GenIndex property); the pair state is
O(duplicate pairs), the same bound as the batch answer; at cluster
scale the state rewrite is a MERGE into a keyed table.

Replay/crash shapes, compaction invariance and retraction are pinned
in tests/test_semindex.py.

Reference parity: the reference (Server/main.go) has no vector or
dedup ops; this extends the beyond-reference curation surface
(SURVEY.md dedup extensions).
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm.clustering import _Q
from ..llm.semdedup import _NORM2, TAU, _seed_best_expr, _verdicts_oracle
from ..registry import query
from .annindex import _emb_sharded_dir, _newest_state_id
from .genindex import GenIndex

# Fold the per-batch cell dirs into one bucketed generation every this
# many appends (see GenIndex / SCALING_MEASURED.md §F for why).
_SEM_COMPACT_EVERY = 4
_SEM_BUCKETS = 8

# Every _SEM_DELETE_MOD-th vector is retracted in the delete twin (the
# LSH/IVF/IVFPQ convention, but mod 7 here: mod 17 touches ZERO
# semantic-dup pairs at sf0.001 — a retraction that removes nothing
# would gate nothing).
_SEM_DELETE_MOD = 7

_FEAT_COLS = ("vec_id", "cid", "q", "nrm2")
_PAIR_COLS = ("vec_a", "vec_b", "cid")

# The staged oracles: the no-delete twin shares the registered batch
# query's oracle VERBATIM (the accumulated state equals the batch
# answer); the retraction twin answers the survivor render.
_SEM_STREAM_ORACLE = _verdicts_oracle()
_SEM_DELETE_ORACLE = _verdicts_oracle(_SEM_DELETE_MOD)


def _sem_index(index_dir: str) -> GenIndex:
    return GenIndex(
        index_dir,
        bucket_cols=("cid",),
        n_buckets=_SEM_BUCKETS,
        prefix="sem_gen",
        tombstone_cols=("vec_id",),
    )


def _sem_probe_sides(spark: SparkSession, index_dir: str) -> list[DataFrame]:
    """The read view as join-ready sides with live tombstones applied —
    pure passthrough when none exist (the ``_ivf_probe_sides``
    discipline)."""
    idx = _sem_index(index_dir)
    return [idx.apply_tombstones(spark, s) for s in idx.probe_sides(spark)]


def sem_batch_feats(
    spark: SparkSession, batch_df: DataFrame, sf_dir: str
) -> DataFrame:
    """(vec_id, cid, q, nrm2) for a batch: the shared ``floor(x*1e7)``
    BIGINT quantization, nearest-seed-centroid assignment via the
    codegen literal (K centroid rows collected ONCE per session from
    the STATIC table — the streaming analogue of an offline-trained
    quantizer; arrivals are assigned against it, they never retrain
    it), and the exact integer squared norm. Zero joins, zero
    shuffles: a pure projection over the batch."""
    best = _seed_best_expr(spark, sf_dir)
    return batch_df.select(
        "vec_id",
        F.expr(f"transform(embedding, x -> {_Q.format(x='x')})").alias("q"),
    ).select(
        "vec_id",
        F.expr(f"{best}.cid").alias("cid"),
        "q",
        F.expr(_NORM2).alias("nrm2"),
    )


def _stamped(feats: DataFrame, batch_id: int) -> DataFrame:
    return feats.withColumn("src_batch", F.lit(batch_id).cast("long"))


def _sem_pairs(new: DataFrame, old: DataFrame) -> DataFrame:
    """Same-cell semantic-duplicate pairs between two feature sets,
    canonicalized (vec_a < vec_b): one cid-keyed join, exact integer
    dot via zip_with, one IEEE division against TAU — the batch
    ``_cluster_pairs`` arithmetic verbatim, so streaming and batch
    cannot disagree on a pair. Passing the same frame twice yields the
    within-batch pairs (the canonical order + distinct absorb the
    doubled directions)."""
    a = new.select(
        F.col("vec_id").alias("ia"),
        F.col("q").alias("qa"),
        "cid",
        F.col("nrm2").alias("na2"),
    )
    b = old.select(
        F.col("vec_id").alias("ib"),
        F.col("q").alias("qb"),
        "cid",
        F.col("nrm2").alias("nb2"),
    )
    dot = (
        "aggregate(zip_with(qa, qb, (x, y) -> x * y),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    return (
        a.join(b, ["cid"])
        .filter(F.col("ia") != F.col("ib"))
        .withColumn("dot", F.expr(dot))
        .withColumn(
            "cosine",
            F.col("dot").cast("double")
            / (
                F.sqrt(F.col("na2").cast("double"))
                * F.sqrt(F.col("nb2").cast("double"))
            ),
        )
        .filter(F.col("cosine") >= TAU)
        .select(
            F.least("ia", "ib").alias("vec_a"),
            F.greatest("ia", "ib").alias("vec_b"),
            "cid",
        )
        .distinct()
    )


def _newest_pairs(spark: SparkSession, state_dir: str) -> DataFrame | None:
    best = _newest_state_id(state_dir)
    if best < 0:
        return None
    return spark.read.parquet(os.path.join(state_dir, f"s{best}"))


def _write_state(pairs: DataFrame, state_dir: str, batch_id: int) -> None:
    """``s{batch_id}`` + ``_SUCCESS`` then GC of superseded
    generations — the crash-safe state discipline every streaming
    index family shares (readers take the newest COMPLETE generation;
    an interrupted write is invisible; a replay overwrites)."""
    pairs.write.mode("overwrite").parquet(
        os.path.join(state_dir, f"s{batch_id}")
    )
    for e in os.scandir(state_dir):
        m = re.fullmatch(r"s(\d+)", e.name)
        if m and int(m.group(1)) < batch_id:
            shutil.rmtree(e.path, ignore_errors=True)


def sem_index_step(
    spark: SparkSession,
    batch_feats: DataFrame,
    batch_id: int,
    index_dir: str,
    state_dir: str,
) -> None:
    """One arrival: probe the accumulated cell index for cross pairs,
    add the within-batch pairs, fold the union into the pair state
    (distinct — idempotent), append the batch to the index, compact
    every ``_SEM_COMPACT_EVERY`` appends.

    Replay-safe by construction: a replayed batch probing an index
    that already holds its own vectors produces the same canonical
    pairs the state already holds (the LSH twin's self-pair hazard
    cannot arise — ``vec_a < vec_b`` excludes self-collisions), and
    the distinct fold absorbs them; when the batch's own state
    generation is already complete (crash between the state write and
    the engine commit) the fold is skipped outright — it is the
    fixpoint, and re-merging would overwrite ``s{batch_id}`` while
    reading it (the ``ivf_index_step`` guard)."""
    idx = _sem_index(index_dir)
    if _newest_state_id(state_dir) >= batch_id:
        idx.append(_stamped(batch_feats, batch_id), batch_id)
        if idx.pending_appends() >= _SEM_COMPACT_EVERY:
            idx.compact(spark, batch_id)
        return
    feats = batch_feats.persist()
    new_pairs = _sem_pairs(feats, feats)
    for side in _sem_probe_sides(spark, index_dir):
        new_pairs = new_pairs.unionByName(
            _sem_pairs(feats, side.select(*_FEAT_COLS))
        )
    prior = _newest_pairs(spark, state_dir)
    if prior is not None:
        new_pairs = new_pairs.unionByName(prior.select(*_PAIR_COLS))
    _write_state(new_pairs.distinct(), state_dir, batch_id)
    idx.append(_stamped(feats, batch_id), batch_id)
    feats.unpersist()
    if idx.pending_appends() >= _SEM_COMPACT_EVERY:
        idx.compact(spark, batch_id)


def sem_delete_step(
    spark: SparkSession,
    vec_ids: DataFrame,
    batch_id: int,
    index_dir: str,
    state_dir: str,
) -> None:
    """One delete batch: record (vec_id, t_batch) tombstones —
    O(deletes), the index untouched until the next compaction — and
    drop the dead vectors' pairs from the state (an O(pairs)
    anti-join against the broadcast takedown-sized dead set). No
    re-probe anywhere: the pair state carries the full semantics, so
    surviving vectors' verdicts re-derive from the surviving pairs at
    read time — the structural contrast to the IVF twin's
    O(affected x cell) top-1 repair. Replay-safe via the same
    ``s{batch_id}`` fixpoint guard."""
    idx = _sem_index(index_dir)
    idx.append_tombstones(vec_ids, batch_id)
    if _newest_state_id(state_dir) >= batch_id:
        return
    prior = _newest_pairs(spark, state_dir)
    if prior is None:
        return
    dead = vec_ids.select("vec_id").distinct()
    survivors = prior.join(
        F.broadcast(dead.withColumnRenamed("vec_id", "vec_a")),
        "vec_a",
        "left_anti",
    ).join(
        F.broadcast(dead.withColumnRenamed("vec_id", "vec_b")),
        "vec_b",
        "left_anti",
    )
    _write_state(survivors.select(*_PAIR_COLS), state_dir, batch_id)


def _verdicts_from_state(
    spark: SparkSession, index_dir: str, state_dir: str
) -> DataFrame:
    """(vec_id, cid, n_neardups, keep) from the live index + pair
    state: the batch query's verdict derivation (sides -> per-vector
    counts -> left join onto assignments) over the accumulated pairs,
    with the arrived-vector set read from the index's own live rows
    (tombstones applied — a retracted vector gets no verdict row)."""
    arrived = None
    for side in _sem_probe_sides(spark, index_dir):
        s = side.select("vec_id", "cid")
        arrived = s if arrived is None else arrived.unionByName(s)
    if arrived is None:
        return spark.createDataFrame(
            [], "vec_id long, cid long, n_neardups bigint, keep boolean"
        )
    pairs = _newest_pairs(spark, state_dir)
    if pairs is None:
        return arrived.distinct().select(
            "vec_id",
            "cid",
            F.lit(0).cast("bigint").alias("n_neardups"),
            F.lit(True).alias("keep"),
        )
    sides = pairs.select(
        F.col("vec_a").alias("vec_id"), F.col("vec_b").alias("partner")
    ).unionAll(
        pairs.select(
            F.col("vec_b").alias("vec_id"), F.col("vec_a").alias("partner")
        )
    )
    per_vec = sides.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n_neardups"),
        F.max(
            F.when(F.col("partner") < F.col("vec_id"), 1).otherwise(0)
        ).alias("dropped"),
    )
    return (
        arrived.distinct()
        .join(per_vec, ["vec_id"], "left")
        .select(
            "vec_id",
            "cid",
            F.coalesce(F.col("n_neardups"), F.lit(0).cast("bigint")).alias(
                "n_neardups"
            ),
            F.when(F.coalesce(F.col("dropped"), F.lit(0)) == 1, F.lit(False))
            .otherwise(F.lit(True))
            .alias("keep"),
        )
    )


def _run_arrivals(
    spark: SparkSession, sf_dir: str, work: str
) -> tuple[str, str, list[int]]:
    """Drive the sharded embeddings fixture through the engine
    (availableNow, one shard per micro-batch) into a fresh index +
    pair state; returns (index_dir, state_dir, seen batch ids)."""
    index_dir = os.path.join(work, "index")
    state_dir = os.path.join(work, "state")
    os.makedirs(state_dir, exist_ok=True)
    seen: list[int] = []

    emb = (
        spark.readStream.schema(
            "vec_id long, embedding array<float>, label int"
        )
        .option("maxFilesPerTrigger", 1)  # one shard per micro-batch
        .parquet(_emb_sharded_dir(spark, sf_dir))
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sem_index_step(
            spark,
            sem_batch_feats(spark, batch_df, sf_dir),
            batch_id,
            index_dir,
            state_dir,
        )
        seen.append(batch_id)

    q = (
        emb.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return index_dir, state_dir, seen


@query("streaming_semdedup_verdicts", oracle=_SEM_STREAM_ORACLE)
def streaming_semdedup_verdicts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental SemDeDup: embeddings arrive in micro-batches; each
    batch is assigned to the fixed seed-centroid codebook, probes the
    accumulated cell index for same-cell near-duplicates (exact
    integer dots, cosine >= TAU), folds the pairs into the state
    (idempotent distinct union), and appends to the index, which
    folds into one (cid)-bucketed generation every
    ``_SEM_COMPACT_EVERY`` appends. The final verdicts equal the
    batch ``semantic_dedup_verdicts`` answer EXACTLY — shared oracle
    (``_SEM_STREAM_ORACLE``)."""
    work = tempfile.mkdtemp(prefix="sem_inc_")
    index_dir, state_dir, _ = _run_arrivals(spark, sf_dir, work)
    out = _verdicts_from_state(spark, index_dir, state_dir).localCheckpoint()
    _sem_index(index_dir).drop_generations(spark)
    shutil.rmtree(work, ignore_errors=True)
    return out


@query("streaming_semdedup_with_deletes", oracle=_SEM_DELETE_ORACLE)
def streaming_semdedup_with_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The incremental SemDeDup index under RETRACTION: arrivals build
    the index + pair state as above; a delete batch then retracts
    every ``_SEM_DELETE_MOD``-th vector (LWW tombstones — O(deletes))
    and drops the dead pairs from the state (O(pairs), no re-probe:
    the pair state carries the semantics), and a compaction folds the
    tombstones in physically. The answer is the live index's verdicts
    AFTER the takedown: the batch oracle restricted to survivors on
    both pair endpoints AND verdict rows (``_SEM_DELETE_ORACLE``) —
    note a survivor whose only near-duplicates died flips back to
    keep=TRUE, the curation-correct outcome (its duplicate left the
    corpus)."""
    work = tempfile.mkdtemp(prefix="sem_del_")
    index_dir, state_dir, seen = _run_arrivals(spark, sf_dir, work)
    delete_batch = max(seen, default=-1) + 1
    dead = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") % _SEM_DELETE_MOD == 0)
        .select("vec_id")
    )
    sem_delete_step(spark, dead, delete_batch, index_dir, state_dir)
    # Fold the retraction in physically; the answer is the same either
    # way (logical==physical is unit-pinned in tests/test_semindex.py).
    _sem_index(index_dir).compact(spark, delete_batch)
    out = _verdicts_from_state(spark, index_dir, state_dir).localCheckpoint()
    _sem_index(index_dir).drop_generations(spark)
    shutil.rmtree(work, ignore_errors=True)
    return out
