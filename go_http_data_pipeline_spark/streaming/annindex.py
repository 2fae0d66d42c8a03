"""Incremental IVF ANN index maintenance — the embedding twin of the
incremental MinHash-LSH index (``streaming/core.py``).

Embeddings arrive in micro-batches; the engine maintains, per batch:

* a **cell index** of arrived vectors, partitioned by their nearest
  coarse centroid (``cid``) — the same generational bucketed machinery
  as the LSH band index (``streaming/genindex.py``): per-batch append
  dirs folding into one (cid)-bucketed catalog-table generation every
  ``_IVF_COMPACT_EVERY`` appends, so a probe's file listing stays
  bounded and the index side of the probe join never shuffles;
* a **top-1 state**: for every vector seen so far, its best same-cell
  neighbor (max cosine, ties to the smaller vec_id). A new arrival
  both *queries* the index (its own top-1) and *challenges* it (it may
  be a better neighbor for vectors that arrived before it) — the merge
  is an associative, idempotent max, which is what makes replays safe
  and the final state equal to the batch answer.

After all arrivals the state is EXACTLY the batch IVF answer (each
vector's nearest neighbor within its centroid cell over the full
corpus) — the oracle in ``streaming_ivf_index_top1`` is that batch
formulation in ANSI SQL, the same shape as ``ivf_ann_top1``'s
(llm/similarity.py) without the query-subset restriction.

Scale: per batch, only the BATCH's vectors shuffle (cell-keyed); the
probe join against the compacted generation consumes its bucketing;
the state rewrite is partitioned by vec_id and at cluster scale is a
MERGE into a keyed table. Nothing corpus-sized recomputes as the
corpus grows — the property measured for the LSH twin in
docs/SCALING_MEASURED.md §F.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..llm.similarity import (
    _CENT_MAX,
    _CENT_STEP,
    _CENTS_SQL,
    _DOT,
    _DOT_SQL,
    _NORMS_SQL,
)
from ..memo import session_memo, temp_dir
from ..registry import query
from .genindex import GenIndex

# Fold the per-batch cell dirs into one bucketed generation every this
# many appends (see GenIndex / SCALING_MEASURED.md §F for why).
_IVF_COMPACT_EVERY = 4
_IVF_BUCKETS = 8
# Arrival count for the gate query: the embeddings fixture split into
# this many micro-batches.
_IVF_ARRIVALS = 4

_STATE_COLS = ("vec_id", "cid", "neighbor_id", "cosine")


def _stamped(feats: DataFrame, batch_id: int) -> DataFrame:
    """Index rows stamped with their arrival batch so retractions can
    be last-writer-wins (a re-add in a later batch outlives an earlier
    delete — GenIndex.apply_tombstones); dead weight until a delete
    batch exists, exactly as the LSH band index stamps its rows."""
    return feats.withColumn("src_batch", F.lit(batch_id).cast("long"))


def _ivf_index(index_dir: str) -> GenIndex:
    return GenIndex(
        index_dir,
        bucket_cols=("cid",),
        n_buckets=_IVF_BUCKETS,
        prefix="ivf_gen",
        tombstone_cols=("vec_id",),
    )


def _ivf_probe_sides(
    spark: SparkSession, index_dir: str
) -> list[DataFrame]:
    """The read view as join-ready sides with live tombstones applied
    (retractions not yet folded by a compaction) — a pure passthrough
    when none exist, so delete-free plans are untouched; the same
    discipline as ``_lsh_probe_sides`` (streaming/core.py)."""
    idx = _ivf_index(index_dir)
    return [idx.apply_tombstones(spark, s) for s in idx.probe_sides(spark)]


def ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The coarse quantizer: 16 deterministic centroids read from the
    STATIC embeddings table (the streaming analogue of offline-trained
    centroids — arrivals are assigned against a fixed codebook, they
    never retrain it). Same centroid rule as the batch IVF queries so
    the two surfaces share one oracle vocabulary."""
    return (
        table(spark, sf_dir, "embeddings")
        .filter(
            (F.col("vec_id") % _CENT_STEP == 0) & (F.col("vec_id") < _CENT_MAX)
        )
        .select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("c_emb"),
            F.sqrt(F.expr(_DOT.format(a="embedding", b="embedding"))).alias(
                "c_nrm"
            ),
        )
    )


def ivf_batch_feats(batch_df: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cid, embedding, nrm) for a batch: nearest-centroid
    assignment via a broadcast of the (16-row) codebook — a 16x row
    expansion, JVM-side integer dot folds, per-vector top-1; only the
    batch shuffles, by vec_id, for the assignment window."""
    dot = F.expr(_DOT.format(a="embedding", b="c_emb"))
    w = Window.partitionBy("vec_id").orderBy(
        (dot / F.col("c_nrm")).desc(), F.col("cid")
    )
    return (
        batch_df.crossJoin(F.broadcast(cents))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "cid",
            "embedding",
            F.sqrt(F.expr(_DOT.format(a="embedding", b="embedding"))).alias(
                "nrm"
            ),
        )
    )


def _newest_state_id(state_dir: str) -> int:
    """Id of the newest COMPLETE (``_SUCCESS`` present) state
    generation, or -1 before the first batch. Crash-safe the same way
    the index read view is: an interrupted state write has no
    ``_SUCCESS`` and is invisible; the replay overwrites it."""
    if not os.path.isdir(state_dir):
        return -1
    best = -1
    for e in os.scandir(state_dir):
        m = re.fullmatch(r"s(\d+)", e.name)
        if (
            m
            and e.is_dir()
            and os.path.exists(os.path.join(e.path, "_SUCCESS"))
        ):
            best = max(best, int(m.group(1)))
    return best


def _newest_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    best = _newest_state_id(state_dir)
    if best < 0:
        return None
    return spark.read.parquet(os.path.join(state_dir, f"s{best}"))


def _merge_top1(candidates: DataFrame) -> DataFrame:
    """Keep each vector's best challenger: max cosine, ties to the
    smaller neighbor_id. Associative and idempotent — merge order and
    replayed duplicates cannot change the fixpoint."""
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        candidates.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(*_STATE_COLS)
    )


def ivf_index_step(
    spark: SparkSession,
    batch_feats: DataFrame,
    batch_id: int,
    index_dir: str,
    state_dir: str,
) -> None:
    """One arrival: probe the accumulated cell index (both directions
    — the new vectors' own top-1 AND their challenges to earlier
    vectors' top-1), fold the challengers into the state, append the
    batch to the index, compact every ``_IVF_COMPACT_EVERY`` appends.

    Replay-safe by construction: the state fold is an idempotent max
    (a replayed batch's challengers are already in the state and
    change nothing), ``s{batch_id}``/``b{batch_id}`` writes overwrite,
    and a recreated-but-superseded b-dir never re-enters the read view
    (GenIndex.visible_dirs). Unlike the LSH index there is no
    self-pair hazard: a replay probing an index that already holds the
    batch's own vectors produces exact-duplicate challenger rows,
    which the max-merge absorbs. When the batch's OWN state generation
    already exists complete (crash between the state write and the
    engine commit), the fold is skipped outright — it is already the
    fixpoint, and re-merging would overwrite ``s{batch_id}`` while
    reading it as the prior state (Spark forbids
    overwrite-while-read); the index append still replays
    idempotently below."""
    if _newest_state_id(state_dir) >= batch_id:
        idx = _ivf_index(index_dir)
        idx.append(_stamped(batch_feats, batch_id), batch_id)
        if idx.pending_appends() >= _IVF_COMPACT_EVERY:
            idx.compact(spark, batch_id)
        return
    feats = batch_feats.persist()
    sides = _ivf_probe_sides(spark, index_dir)

    def directional(joined: DataFrame) -> DataFrame:
        """Both directions of one (new, old) cell collision."""
        cos = F.col("dot") / (F.col("n.nrm") * F.col("o.nrm"))
        return joined.select(
            F.col("n.vec_id").alias("vec_id"),
            F.col("n.cid").alias("cid"),
            F.col("o.vec_id").alias("neighbor_id"),
            cos.alias("cosine"),
        ).unionByName(
            joined.select(
                F.col("o.vec_id").alias("vec_id"),
                F.col("o.cid").alias("cid"),
                F.col("n.vec_id").alias("neighbor_id"),
                cos.alias("cosine"),
            )
        )

    dot = F.expr(_DOT.format(a="n.embedding", b="o.embedding"))
    challengers = None
    for side in sides:
        j = (
            feats.alias("n")
            .join(
                side.alias("o"),
                (F.col("n.cid") == F.col("o.cid"))
                & (F.col("n.vec_id") != F.col("o.vec_id")),
            )
            .withColumn("dot", dot)
        )
        d = directional(j)
        challengers = d if challengers is None else challengers.unionByName(d)
    # Within-batch collisions: the self-join emits each ordered pair
    # once per direction already (the inequality is !=, not <), so no
    # directional() doubling here.
    wb = (
        feats.alias("n")
        .join(
            feats.alias("o"),
            (F.col("n.cid") == F.col("o.cid"))
            & (F.col("n.vec_id") != F.col("o.vec_id")),
        )
        .withColumn("dot", dot)
        .select(
            F.col("n.vec_id").alias("vec_id"),
            F.col("n.cid").alias("cid"),
            F.col("o.vec_id").alias("neighbor_id"),
            (F.col("dot") / (F.col("n.nrm") * F.col("o.nrm"))).alias(
                "cosine"
            ),
        )
    )
    challengers = wb if challengers is None else challengers.unionByName(wb)

    prior = _newest_state(spark, state_dir)
    if prior is not None:
        challengers = challengers.unionByName(prior.select(*_STATE_COLS))
    merged = _merge_top1(challengers)
    out = os.path.join(state_dir, f"s{batch_id}")
    merged.write.mode("overwrite").parquet(out)
    # GC superseded state generations — best-effort, after the new
    # one's _SUCCESS landed; readers never see a partial view.
    for e in os.scandir(state_dir):
        m = re.fullmatch(r"s(\d+)", e.name)
        if m and int(m.group(1)) < batch_id:
            shutil.rmtree(e.path, ignore_errors=True)

    idx = _ivf_index(index_dir)
    idx.append(_stamped(feats, batch_id), batch_id)
    feats.unpersist()
    if idx.pending_appends() >= _IVF_COMPACT_EVERY:
        idx.compact(spark, batch_id)


def _emb_sharded_dir(
    spark: SparkSession, sf_dir: str, n: int = _IVF_ARRIVALS
) -> str:
    """The embeddings fixture staged as ``n`` files, once per session:
    one fixture file = one micro-batch, and incremental indexing needs
    several."""

    def build() -> str:
        d = temp_dir("emb_shards_")
        (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .repartition(n, "vec_id")
            .write.mode("overwrite")
            .parquet(d)
        )
        return d

    return session_memo(spark, f"annindex.emb_shards.{n}", sf_dir, build)


def _ivf_stream_oracle(delete_mod: int | None = None) -> str:
    """The batch formulation of the maintained state: every vector's
    nearest same-cell neighbor. With ``delete_mod``, both sides are
    restricted to SURVIVORS (vec_id % delete_mod != 0) — the
    post-retraction answer: deleted vectors neither query nor serve
    as neighbors, while the fixed centroid codebook (offline-trained)
    keeps defining the cells."""
    survive = (
        f"WHERE a.vec_id % {delete_mod} != 0"
        f" AND b.vec_id % {delete_mod} != 0"
        if delete_mod
        else ""
    )
    return f"""
    WITH {_NORMS_SQL}, {_CENTS_SQL},
    scores AS (
        SELECT a.vec_id AS vec_id, ca.cid AS cid, b.vec_id AS neighbor_id,
               {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
                   / (na.nrm * nb.nrm) AS cosine
        FROM embeddings a
        JOIN cassign ca ON ca.vec_id = a.vec_id
        JOIN cassign cb ON cb.cid = ca.cid
        JOIN embeddings b ON b.vec_id = cb.vec_id AND b.vec_id <> a.vec_id
        JOIN norms na ON na.vec_id = a.vec_id
        JOIN norms nb ON nb.vec_id = b.vec_id,
             (SELECT unnest(generate_series(1, 64)) AS i) i
        {survive}
        GROUP BY a.vec_id, ca.cid, b.vec_id, na.nrm, nb.nrm
    )
    SELECT vec_id, cid, neighbor_id, cosine
    FROM (
        SELECT vec_id, cid, neighbor_id, cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id
               ) AS rn
        FROM scores
    ) WHERE rn = 1
    """


@query("streaming_ivf_index_top1", oracle=_ivf_stream_oracle())
def streaming_ivf_index_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF ANN index maintenance: embeddings arrive in
    micro-batches; each batch is assigned to its nearest coarse
    centroid (fixed offline codebook), probes the accumulated cell
    index for same-cell neighbors in BOTH directions (its own top-1,
    and as a challenger to earlier vectors' top-1), and appends to the
    index, which folds into one (cid)-bucketed generation every
    ``_IVF_COMPACT_EVERY`` appends. After bounded replay the state is
    EXACTLY the batch answer — every vector's nearest same-cell
    neighbor over the full corpus — which is the oracle (the
    ``ivf_ann_top1`` shape without the query-subset restriction).

    Scale: per batch only the batch's vectors shuffle; the probe join
    consumes the compacted generation's bucketing (zero index-side
    exchange — the GenIndex property plan-pinned by
    test_lsh_compacted_probe_has_no_index_side_exchange); the top-1
    state fold is an associative idempotent max, at cluster scale a
    keyed MERGE."""
    work = tempfile.mkdtemp(prefix="ivf_inc_")
    index_dir = os.path.join(work, "index")
    state_dir = os.path.join(work, "state")
    os.makedirs(state_dir, exist_ok=True)
    cents = ivf_centroids(spark, sf_dir).persist()
    cents.count()

    emb = (
        spark.readStream.schema(
            "vec_id long, embedding array<float>, label int"
        )
        .option("maxFilesPerTrigger", 1)  # one shard per micro-batch
        .parquet(_emb_sharded_dir(spark, sf_dir))
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ivf_index_step(
            spark,
            ivf_batch_feats(batch_df, cents),
            batch_id,
            index_dir,
            state_dir,
        )

    q = (
        emb.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = _newest_state(spark, state_dir)
    out = (
        final.select(*_STATE_COLS).localCheckpoint()
        if final is not None
        else spark.createDataFrame(
            [], "vec_id long, cid long, neighbor_id long, cosine double"
        )
    )
    cents.unpersist()
    _ivf_index(index_dir).drop_generations(spark)
    shutil.rmtree(work, ignore_errors=True)
    return out


# --- retractions ----------------------------------------------------------
# The LSH band index grew tombstone support in round 9; a training-data
# pipeline that honors takedowns needs deletes on EVERY index family
# (VERDICT r9 item 6), so the IVF cell index reuses GenIndex's
# LWW-tombstone machinery — O(deletes) to record, applied logically on
# every probe side and physically at the next compaction. The one part
# the pair-valued LSH index did not need: the maintained TOP-1 STATE
# must be REPAIRED when a delete removes some vector's recorded
# nearest neighbor — those vectors re-probe the live index for their
# next-best same-cell neighbor (O(affected x cell), never the corpus).

# Every _IVF_DELETE_MOD-th vector is retracted in the gate query's
# delete batch (the LSH twin's convention).
_IVF_DELETE_MOD = 17


def ivf_delete_step(
    spark: SparkSession,
    vec_ids: DataFrame,
    batch_id: int,
    index_dir: str,
    state_dir: str,
) -> None:
    """One delete batch: record (vec_id, t_batch) tombstones —
    O(deletes), the index untouched until the next compaction — then
    repair the top-1 state:

    * rows whose ``vec_id`` died are dropped;
    * rows whose ``neighbor_id`` died re-probe the LIVE index for the
      vector's next-best same-cell neighbor (a vector whose whole
      cell died simply has no row — the batch oracle's inner join
      shape);
    * everything else is untouched.

    Replay-safe: tombstone appends overwrite (idempotent), and the
    ``s{batch_id}`` fixpoint guard skips a repair whose state
    generation is already complete. Deletes are takedown-sized
    (bounded per batch), so the broadcast of the dead set is
    control-plane — the repair cost is O(affected x cell)."""
    idx = _ivf_index(index_dir)
    idx.append_tombstones(vec_ids, batch_id)
    if _newest_state_id(state_dir) >= batch_id:
        return  # crash between state write and commit: fixpoint
    prior = _newest_state(spark, state_dir)
    if prior is None:
        return
    dead = vec_ids.select("vec_id").distinct()
    dead_nb = dead.withColumnRenamed("vec_id", "neighbor_id")
    survivors = prior.join(F.broadcast(dead), "vec_id", "left_anti")
    unaffected = survivors.join(
        F.broadcast(dead_nb), "neighbor_id", "left_anti"
    ).select(*_STATE_COLS)
    affected = survivors.join(
        F.broadcast(dead_nb), "neighbor_id", "left_semi"
    ).select("vec_id")

    sides = _ivf_probe_sides(spark, index_dir)
    feat_cols = ("vec_id", "cid", "embedding", "nrm")
    aff_feats = None
    for side in sides:
        f = side.select(*feat_cols).join(
            F.broadcast(affected), "vec_id", "left_semi"
        )
        aff_feats = f if aff_feats is None else aff_feats.unionByName(f)
    dot = F.expr(_DOT.format(a="n.embedding", b="o.embedding"))
    repaired = None
    for side in sides:
        j = (
            aff_feats.alias("n")
            .join(
                side.alias("o"),
                (F.col("n.cid") == F.col("o.cid"))
                & (F.col("n.vec_id") != F.col("o.vec_id")),
            )
            .select(
                F.col("n.vec_id").alias("vec_id"),
                F.col("n.cid").alias("cid"),
                F.col("o.vec_id").alias("neighbor_id"),
                (dot / (F.col("n.nrm") * F.col("o.nrm"))).alias("cosine"),
            )
        )
        repaired = j if repaired is None else repaired.unionByName(j)
    new_state = unaffected
    if repaired is not None:
        new_state = new_state.unionByName(_merge_top1(repaired))
    out = os.path.join(state_dir, f"s{batch_id}")
    new_state.write.mode("overwrite").parquet(out)
    for e in os.scandir(state_dir):
        m = re.fullmatch(r"s(\d+)", e.name)
        if m and int(m.group(1)) < batch_id:
            shutil.rmtree(e.path, ignore_errors=True)


@query(
    "streaming_ivf_index_with_deletes",
    oracle=_ivf_stream_oracle(_IVF_DELETE_MOD),
)
def streaming_ivf_index_with_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The incremental IVF index under RETRACTION: embeddings arrive
    and build the cell index + top-1 state exactly as
    ``streaming_ivf_index_top1``; then a delete batch retracts every
    ``_IVF_DELETE_MOD``-th vector (LWW tombstones — O(deletes)) and
    REPAIRS the state (vectors whose recorded neighbor died re-probe
    the live index; dead vectors drop), and a compaction folds the
    tombstones in physically. The returned state is what the live
    index answers AFTER the retraction: every surviving vector's
    nearest surviving same-cell neighbor — the batch oracle restricted
    to survivors on both sides. Logical-vs-physical apply equality,
    repair-to-next-best, replayed-delete idempotence, and whole-cell
    death are unit-pinned in tests/test_annindex.py."""
    work = tempfile.mkdtemp(prefix="ivf_del_")
    index_dir = os.path.join(work, "index")
    state_dir = os.path.join(work, "state")
    os.makedirs(state_dir, exist_ok=True)
    cents = ivf_centroids(spark, sf_dir).persist()
    cents.count()
    seen: list[int] = []

    emb = (
        spark.readStream.schema(
            "vec_id long, embedding array<float>, label int"
        )
        .option("maxFilesPerTrigger", 1)  # one shard per micro-batch
        .parquet(_emb_sharded_dir(spark, sf_dir))
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ivf_index_step(
            spark,
            ivf_batch_feats(batch_df, cents),
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

    delete_batch = max(seen, default=-1) + 1
    deleted = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % _IVF_DELETE_MOD == 0)
        .select("vec_id")
    )
    ivf_delete_step(spark, deleted, delete_batch, index_dir, state_dir)
    # Fold the retraction in physically; the repaired state is the
    # answer either way (logical==physical is unit-pinned).
    _ivf_index(index_dir).compact(spark, delete_batch)
    final = _newest_state(spark, state_dir)
    out = (
        final.select(*_STATE_COLS).localCheckpoint()
        if final is not None
        else spark.createDataFrame(
            [], "vec_id long, cid long, neighbor_id long, cosine double"
        )
    )
    cents.unpersist()
    _ivf_index(index_dir).drop_generations(spark)
    shutil.rmtree(work, ignore_errors=True)
    return out
