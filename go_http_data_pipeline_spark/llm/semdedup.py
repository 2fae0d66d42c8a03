"""Semantic deduplication (SemDeDup-style): cluster-bucketed
embedding near-dup detection with per-vector keep/drop verdicts.

``embedding_neardup_pairs`` (similarity.py) is the EXACT all-pairs
path — O(N²) work split into blocked cogroup tasks. This module is
the sub-quadratic curation path from Abbas et al., "SemDeDup: Data-
efficient learning at web-scale through semantic deduplication"
(arXiv:2303.09540): assign every embedding to its nearest coarse
centroid, then search for near-duplicates ONLY within each cluster.
Work drops from O(N²) to O(Σ |cluster|²) — with K ∝ √N centroids and
balanced clusters that is O(N^1.5) pair evaluations, each a cheap
64-element integer fold, and the only corpus-sized shuffle is the
hash partition by cluster id.

The approximation is quantified, not assumed:
``semdedup_multiassign_recall`` joins the cluster-bucketed pairs
against the exact all-pairs result and reports recall for BOTH the
single-assignment and two-nearest-cluster variants (bucketed pairs are
a strict subset, so precision is 1.0 by construction; the standalone
single-assignment row ``semdedup_recall_eval`` folded into it in
round 13).

Exactness: the shared ``floor(x*1e7)`` BIGINT quantization
(similarity.py convention) makes dot products and squared norms exact
integer sums; the final cosine is one IEEE division over two
correctly-rounded sqrts — bit-identical in Spark and DuckDB.

Scale design: centroid assignment is a pure projection (K×64 centroid
literals folded into codegen — clustering.py's E-step); the
intra-cluster self-join shuffles the corpus ONCE on cid (at
production K ∝ √N there are enough clusters to spread; a skewed
mega-cluster is handled the same way as any skewed join key —
salting or AQE skew-join); the verdict aggregation shuffles pair
endpoints, which is O(duplicate pairs), not O(N²).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..memo import session_memo
from ..registry import query
from .clustering import (
    _DIST,
    _ASSIGN1_SQL,
    _QLONG_SQL,
    _QVECS_SQL,
    _best_expr,
    _cent_literal,
    _quantized,
    _seed_cents,
)

# Cosine threshold for "semantic duplicate" — shared with the exact
# all-pairs path so the recall eval compares like with like.
TAU = 0.4

# Exact integer Σ q_d² over an already-quantized BIGINT array.
_NORM2 = (
    "aggregate(transform(q, x -> x * x), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)

# Shared oracle prefix: quantized vectors, long form, nearest-seed
# assignment (clustering.py CTEs), exact squared norms, intra-cluster
# candidate pairs, exact integer dots, cosine-filtered pairs. A
# FACTORY (the llm/pq.py ``_ivf_pq_top1_oracle`` discipline) so the
# streaming retraction twin (streaming/semindex.py) renders the same
# text restricted to survivors instead of copying it; the empty
# render below is BYTE-IDENTICAL to the pre-factory literal, so the
# three registered queries' oracles are unchanged.


def _pairs_sql(delete_mod: int | None = None) -> str:
    survive = (
        f"\n         AND a1.vec_id % {delete_mod} != 0"
        f" AND a2.vec_id % {delete_mod} != 0"
        if delete_mod
        else ""
    )
    return f"""
    {_QVECS_SQL}, {_QLONG_SQL}, {_ASSIGN1_SQL},
    norms AS (
        SELECT vec_id, CAST(SUM(qd * qd) AS BIGINT) AS nrm2
        FROM qlong GROUP BY vec_id
    ),
    cand AS (
        SELECT a1.vec_id AS vec_a, a2.vec_id AS vec_b
        FROM assign1 a1
        JOIN assign1 a2 ON a1.cid = a2.cid AND a1.vec_id < a2.vec_id{survive}
    ),
    dots AS (
        SELECT c.vec_a, c.vec_b, CAST(SUM(va.qd * vb.qd) AS BIGINT) AS dot
        FROM cand c
        JOIN qlong va ON va.vec_id = c.vec_a
        JOIN qlong vb ON vb.vec_id = c.vec_b AND vb.d = va.d
        GROUP BY c.vec_a, c.vec_b
    ),
    pairs AS (
        SELECT d.vec_a, d.vec_b
        FROM dots d
        JOIN norms na ON na.vec_id = d.vec_a
        JOIN norms nb ON nb.vec_id = d.vec_b
        WHERE CAST(d.dot AS DOUBLE)
              / (sqrt(CAST(na.nrm2 AS DOUBLE)) * sqrt(CAST(nb.nrm2 AS DOUBLE)))
              >= {TAU}
    )
"""


_PAIRS_SQL = _pairs_sql()


def _verdicts_oracle(delete_mod: int | None = None) -> str:
    """The SemDeDup verdict oracle; with ``delete_mod``, pairs and
    verdict rows are restricted to SURVIVORS (vec_id % mod != 0) —
    the post-retraction answer. The fixed seed-centroid codebook
    (vec_id < K, offline-trained) keeps defining the clusters either
    way: a deleted vector stops being corpus but its centroid role is
    the quantizer's, not the data's. Empty render = the registered
    ``semantic_dedup_verdicts`` oracle byte-for-byte."""
    survive = (
        f"\n    WHERE a.vec_id % {delete_mod} != 0" if delete_mod else ""
    )
    return f"""
    WITH {_pairs_sql(delete_mod)},
    sides AS (
        SELECT vec_a AS vec_id, vec_b AS partner FROM pairs
        UNION ALL
        SELECT vec_b AS vec_id, vec_a AS partner FROM pairs
    ),
    per_vec AS (
        SELECT vec_id,
               CAST(COUNT(*) AS BIGINT) AS n_neardups,
               MAX(CASE WHEN partner < vec_id THEN 1 ELSE 0 END) AS dropped
        FROM sides GROUP BY vec_id
    )
    SELECT a.vec_id, a.cid,
           COALESCE(p.n_neardups, 0) AS n_neardups,
           CASE WHEN COALESCE(p.dropped, 0) = 1 THEN FALSE ELSE TRUE END AS keep
    FROM assign1 a LEFT JOIN per_vec p ON p.vec_id = a.vec_id{survive}
    """


_VERDICTS_ORACLE = _verdicts_oracle()


def _seed_cents_literal(spark: SparkSession, sf_dir: str) -> str:
    """The seed centroids as a SQL literal, from the K rows
    ``clustering._seed_cents`` collects once per (session, sf)."""
    return _cent_literal(_seed_cents(spark, sf_dir))


def _seed_best_expr(spark: SparkSession, sf_dir: str) -> str:
    return _best_expr(_seed_cents_literal(spark, sf_dir))


def _seed_top2_expr(spark: SparkSession, sf_dir: str) -> str:
    """array<struct<dist_sq,cid>> of the TWO nearest seed centroids —
    array_sort over structs is lexicographic (dist_sq, cid), the same
    ordering the oracle's ROW_NUMBER uses; still a pure codegen
    projection, no join."""
    lit = _seed_cents_literal(spark, sf_dir)
    d = _DIST.format(a="q", b="c.cq")
    return (
        f"slice(array_sort(transform({lit},"
        f" c -> named_struct('dist_sq', {d}, 'cid', c.cid))), 1, 2)"
    )


def _cluster_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted intra-cluster pair set, memoized per (session, sf):
    consumed by the verdicts query AND both recall evals — without
    the memo a registry sweep recomputes the cluster self-join once
    per consumer."""
    return session_memo(
        spark,
        "semdedup.cluster_pairs",
        sf_dir,
        lambda: _cluster_pairs(spark, sf_dir).persist(),
    )


def _exact_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted exact all-pairs ground truth (the blocked cogroup —
    the most expensive job in the suite), memoized per (session, sf)
    so the two recall evals don't re-run the O(N²) pass the
    ``embedding_neardup_pairs`` query already paid for."""
    from .similarity import embedding_neardup_pairs

    return session_memo(
        spark,
        "semdedup.exact_pairs",
        sf_dir,
        lambda: embedding_neardup_pairs(spark, sf_dir).persist(),
    )


def _cluster_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_a, vec_b, cid): intra-cluster pairs with cosine >= TAU.

    Assignment to the K seed centroids (vec_id < K — the shared
    clustering.py / IVF convention) is a zero-shuffle projection;
    the self-join shuffles once on cid; the cosine filter runs
    inside codegen on exact integer dot/norm folds."""
    vecs = _quantized(spark, sf_dir)
    best = _seed_best_expr(spark, sf_dir)
    assigned = vecs.select(
        "vec_id",
        "q",
        F.expr(f"{best}.cid").alias("cid"),
        F.expr(_NORM2).alias("nrm2"),
    )
    a = assigned.select(
        F.col("vec_id").alias("vec_a"),
        F.col("q").alias("qa"),
        F.col("cid"),
        F.col("nrm2").alias("na2"),
    )
    b = assigned.select(
        F.col("vec_id").alias("vec_b"),
        F.col("q").alias("qb"),
        F.col("cid"),
        F.col("nrm2").alias("nb2"),
    )
    dot = (
        "aggregate(zip_with(qa, qb, (x, y) -> x * y),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    return (
        a.join(b, ["cid"])
        .filter(F.col("vec_a") < F.col("vec_b"))
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
        .select("vec_a", "vec_b", "cid")
    )


@query("semantic_dedup_verdicts", oracle=_VERDICTS_ORACLE)
def semantic_dedup_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup verdict per vector: nearest-centroid cluster, number
    of intra-cluster semantic duplicates (cosine >= TAU), and the
    keep/drop decision — a vector is dropped iff some LOWER-id vector
    in its cluster is a near-duplicate. The lowest id of any pair
    always survives, and every pair loses at least one endpoint;
    when the pair relation is non-transitive a chain can keep more
    than one survivor (pairs (a,c),(b,c) with a<b<c keep both a and
    b) — the SemDeDup paper's per-pair drop rule, not a
    connected-component dedup (that is ``dedup_components``' job).
    Deterministic: no sampling, no float ambiguity (exact integer
    dots, one IEEE division).

    Physical plan: projection (assign) → one cid-shuffled self-join
    bounded by cluster sizes → pair-endpoint aggregation that is
    O(duplicate pairs). Contrast ``embedding_neardup_pairs``: same
    threshold, exhaustive O(N²); this is the curation-scale path."""
    pairs = _cluster_pairs_cached(spark, sf_dir)
    best = _seed_best_expr(spark, sf_dir)
    assigned = _quantized(spark, sf_dir).select(
        "vec_id", F.expr(f"{best}.cid").alias("cid")
    )
    sides = pairs.select(
        F.col("vec_a").alias("vec_id"), F.col("vec_b").alias("partner")
    ).unionAll(
        pairs.select(F.col("vec_b").alias("vec_id"), F.col("vec_a").alias("partner"))
    )
    per_vec = sides.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n_neardups"),
        F.max(
            F.when(F.col("partner") < F.col("vec_id"), 1).otherwise(0)
        ).alias("dropped"),
    )
    return (
        assigned.join(per_vec, ["vec_id"], "left")
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


def _multiassign_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_a, vec_b): cosine >= TAU pairs found when every vector
    belongs to its TWO nearest seed clusters — the SemDeDup recall
    knob (a boundary vector sits in both clusters it straddles, so
    pairs across that boundary become candidates). Candidates from
    either shared cluster are DISTINCT'd before the exact dot, so a
    pair colliding in both clusters is verified once."""
    vecs = _quantized(spark, sf_dir)
    top2 = _seed_top2_expr(spark, sf_dir)
    assigned = vecs.select(
        "vec_id", F.explode(F.expr(f"transform({top2}, s -> s.cid)")).alias("cid")
    )
    a = assigned.select(F.col("vec_id").alias("vec_a"), "cid")
    b = assigned.select(F.col("vec_id").alias("vec_b"), "cid")
    cand = (
        a.join(b, ["cid"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    qa = vecs.select(
        F.col("vec_id").alias("vec_a"),
        F.col("q").alias("qa"),
        F.expr(_NORM2).alias("na2"),
    )
    qb = vecs.select(
        F.col("vec_id").alias("vec_b"),
        F.col("q").alias("qb"),
        F.expr(_NORM2).alias("nb2"),
    )
    dot = (
        "aggregate(zip_with(qa, qb, (x, y) -> x * y),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    return (
        cand.join(qa, ["vec_a"])
        .join(qb, ["vec_b"])
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
        .select("vec_a", "vec_b")
    )


@query(
    "semdedup_multiassign_recall",
    oracle=f"""
    WITH {_PAIRS_SQL},
    assignk AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist_sq, cid) AS rn
            FROM dist1
        ) WHERE rn <= 2
    ),
    cand2 AS (
        SELECT DISTINCT a1.vec_id AS vec_a, a2.vec_id AS vec_b
        FROM assignk a1
        JOIN assignk a2 ON a1.cid = a2.cid AND a1.vec_id < a2.vec_id
    ),
    dots2 AS (
        SELECT c.vec_a, c.vec_b, CAST(SUM(va.qd * vb.qd) AS BIGINT) AS dot
        FROM cand2 c
        JOIN qlong va ON va.vec_id = c.vec_a
        JOIN qlong vb ON vb.vec_id = c.vec_b AND vb.d = va.d
        GROUP BY c.vec_a, c.vec_b
    ),
    pairs2 AS (
        SELECT d.vec_a, d.vec_b
        FROM dots2 d
        JOIN norms na ON na.vec_id = d.vec_a
        JOIN norms nb ON nb.vec_id = d.vec_b
        WHERE CAST(d.dot AS DOUBLE)
              / (sqrt(CAST(na.nrm2 AS DOUBLE)) * sqrt(CAST(nb.nrm2 AS DOUBLE)))
              >= {TAU}
    ),
    brute AS (
        -- Pairwise list_dot_product over the quantized arrays, NOT a
        -- per-dimension join: the long-form join materializes
        -- n(n-1)/2 x 64 rows (800M at sf0.1 -- it spilled ~90 GB of
        -- DuckDB temp before failing), while the array form stays at
        -- n(n-1)/2 rows. Exact: all products and partial sums are
        -- integers < 2^53, so the double accumulation is lossless.
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               CAST(list_dot_product(a.q, b.q) AS BIGINT) AS dot
        FROM qvecs a JOIN qvecs b ON a.vec_id < b.vec_id
    ),
    true_pairs AS (
        SELECT b.vec_a, b.vec_b
        FROM brute b
        JOIN norms na ON na.vec_id = b.vec_a
        JOIN norms nb ON nb.vec_id = b.vec_b
        WHERE CAST(b.dot AS DOUBLE)
              / (sqrt(CAST(na.nrm2 AS DOUBLE)) * sqrt(CAST(nb.nrm2 AS DOUBLE)))
              >= {TAU}
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM true_pairs) AS n_true_pairs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_single_pairs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs2) AS n_multi_pairs,
           CAST((SELECT COUNT(*) FROM pairs) AS DOUBLE)
               / NULLIF((SELECT COUNT(*) FROM true_pairs), 0) AS recall_single,
           CAST((SELECT COUNT(*) FROM pairs2) AS DOUBLE)
               / NULLIF((SELECT COUNT(*) FROM true_pairs), 0) AS recall_multi
    """,
)
def semdedup_multiassign_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SemDeDup recall knob, measured: assigning every vector to
    its TWO nearest seed centroids (multi-assignment — the same trick
    as ANN multiprobe) recovers cluster-boundary pairs that
    single-assignment misses, at ~2× candidate cost. One row compares
    single-assign vs multi-assign pair recall against the exact
    all-pairs ground truth; multi-assign candidates are a superset of
    single-assign by construction, so recall_multi >= recall_single
    always.

    All three pair sets are DataFrame aggregates joined as 1-row
    scalars — no driver-side pair materialization."""
    true_cnt = _exact_pairs_cached(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_true_pairs")
    )
    single_cnt = _cluster_pairs_cached(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_single_pairs")
    )
    multi_cnt = _multiassign_pairs(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_multi_pairs")
    )
    return (
        true_cnt.crossJoin(F.broadcast(single_cnt))
        .crossJoin(F.broadcast(multi_cnt))
        .select(
            "n_true_pairs",
            "n_single_pairs",
            "n_multi_pairs",
            (
                F.col("n_single_pairs").cast("double")
                / F.nullif(F.col("n_true_pairs"), F.lit(0))
            ).alias("recall_single"),
            (
                F.col("n_multi_pairs").cast("double")
                / F.nullif(F.col("n_true_pairs"), F.lit(0))
            ).alias("recall_multi"),
        )
    )
