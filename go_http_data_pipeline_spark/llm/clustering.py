"""Embedding clustering: one exact-integer Lloyd (k-means) round.

``ivf_ann_*`` (similarity.py) assigns vectors to FIXED coarse
centroids; this module runs the actual k-means update those indexes
train with offline: E-step (assign to nearest centroid), M-step
(recompute centroids as cluster means), then re-assign — one full
Lloyd round, every step oracle-checkable.

Why one round and not to-convergence: each round is the SAME dataflow
(the driver loop adds nothing semantically — ``dedup_components``
already demonstrates iterate-until-converged on a distributed op),
and a single round keeps the oracle a finite SQL expression instead
of a recursive CTE over 64-wide state. The convergence signal
(``moved``) is in the output, so callers chain rounds.

Exactness: embeddings quantize to ``floor(x * 1e7)`` BIGINTs (the
shared similarity.py convention). Squared distances are pure BIGINT
sums (max ~9.2e15 < 2^63). Cluster means round to the SAME integer
grid via ``FLOOR(sum::DOUBLE / n)`` — sums < 2^53 are double-exact
and one IEEE division + floor is bit-identical in both engines — so
round 2's distances are again pure integer arithmetic. Ties break to
the lowest centroid id.

Scale design: centroids are O(K * dim) — broadcast; each E-step is a
narrow map over the corpus (zip_with fold per centroid, JVM codegen,
no corpus shuffle); the M-step shuffles only (cid, dim, partial-sum)
after map-side combine — K * 64 rows per partition, independent of
corpus size. That is the canonical 100 TB k-means layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..memo import session_memo
from ..registry import query

K = 8  # clusters; initial centroids = vectors with vec_id < K
DIM = 64

# Quantized element: BIGINT floor(x * 1e7) (similarity.py convention).
_Q = "CAST(FLOOR(CAST({x} AS DOUBLE) * 1e7) AS BIGINT)"

# Exact integer squared distance between a corpus vector and a
# centroid array (both already-quantized BIGINT arrays).
_DIST = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
    " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)

_QVECS_SQL = f"""
    qvecs AS (
        SELECT vec_id,
               list_transform(embedding, x -> {_Q.format(x='x')}) AS q
        FROM embeddings
    )
"""

# Long-form (vec_id, d, qd) view; DuckDB's per-index unnest keeps the
# oracle's arithmetic identical to Spark's zip_with fold.
_QLONG_SQL = f"""
    qlong AS (
        SELECT vec_id, d.d AS d, q[d.d] AS qd
        FROM qvecs, LATERAL (SELECT unnest(generate_series(1, {DIM})) AS d) d
    )
"""

_ASSIGN1_SQL = f"""
    dist1 AS (
        SELECT v.vec_id, c.vec_id AS cid,
               CAST(SUM((v.qd - c.qd) * (v.qd - c.qd)) AS BIGINT) AS dist_sq
        FROM qlong v
        JOIN qlong c ON c.d = v.d AND c.vec_id < {K}
        GROUP BY v.vec_id, c.vec_id
    ),
    assign1 AS (
        SELECT vec_id, cid, dist_sq FROM (
            SELECT vec_id, cid, dist_sq,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist_sq, cid) AS rn
            FROM dist1
        ) WHERE rn = 1
    )
"""

_MSTEP_SQL = """
    means AS (
        SELECT a.cid, v.d,
               CAST(FLOOR(CAST(CAST(SUM(v.qd) AS BIGINT) AS DOUBLE)
                          / COUNT(*)) AS BIGINT) AS md
        FROM qlong v JOIN assign1 a ON a.vec_id = v.vec_id
        GROUP BY a.cid, v.d
    )
"""

_ASSIGN2_SQL = """
    dist2 AS (
        -- CAST: DuckDB widens SUM(BIGINT) to DECIMAL(38,0); Spark
        -- keeps BIGINT, and the driver hash is type-sensitive.
        SELECT v.vec_id, m.cid,
               CAST(SUM((v.qd - m.md) * (v.qd - m.md)) AS BIGINT) AS dist_sq
        FROM qlong v
        JOIN means m ON m.d = v.d
        GROUP BY v.vec_id, m.cid
    ),
    assign2 AS (
        SELECT vec_id, cid, dist_sq FROM (
            SELECT vec_id, cid, dist_sq,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist_sq, cid) AS rn
            FROM dist2
        ) WHERE rn = 1
    )
"""


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, q): embeddings as quantized BIGINT arrays, spread
    across cores (single-file fixture scan -> one input split).
    Persisted per (session, sf): it feeds both k-means passes and
    the dim-stats scan — a checkpointed intermediate at scale."""
    def build() -> DataFrame:
        emb = table(spark, sf_dir, "embeddings").repartition(
            spark.sparkContext.defaultParallelism
        )
        return emb.select(
            "vec_id",
            F.expr(f"transform(embedding, x -> {_Q.format(x='x')})").alias("q"),
        ).persist()

    return session_memo(spark, "clustering.quantized", sf_dir, build)


def _seed_cents(spark: SparkSession, sf_dir: str) -> list:
    """Seed centroids (vec_id < K) collected once per (session, sf) —
    K quantized rows of control-plane data, deterministic for a
    fixture, previously re-collected (one extra job) on every
    ``kmeans_iteration`` call. The M-step's per-call collect stays:
    refreshed centroids ARE the iteration's work."""
    return session_memo(
        spark,
        "clustering.seed_cents",
        sf_dir,
        lambda: [
            (r["vec_id"], r["q"])
            for r in sorted(
                _quantized(spark, sf_dir)
                .filter(F.col("vec_id") < K)
                .collect(),
                key=lambda r: r["vec_id"],
            )
        ],
    )


def _cent_literal(cent_rows: list) -> str:
    """SQL literal ``array<struct<cid,cq>>`` from driver-side centroid
    rows. Centroids are control-plane data (K * DIM ints): every
    practical distributed k-means collects them to the driver between
    rounds and re-broadcasts — here as a literal folded into codegen,
    so the E-step is a pure projection with no join at all."""
    return "array(" + ", ".join(
        f"named_struct('cid', CAST({cid} AS BIGINT), 'cq', array("
        + ", ".join(f"CAST({v} AS BIGINT)" for v in cq)
        + "))"
        for cid, cq in cent_rows
    ) + ")"


def _best_expr(cents_sql: str) -> str:
    """``struct(dist_sq, cid)`` of the nearest centroid: array_min's
    lexicographic struct order = min distance, ties to lowest cid —
    the same (dist_sq, cid) ordering the oracle's ROW_NUMBER uses.
    Zero shuffle: one zip_with fold per centroid inside codegen."""
    d = _DIST.format(a="q", b="c.cq")
    return (
        f"array_min(transform({cents_sql},"
        f" c -> named_struct('dist_sq', {d}, 'cid', c.cid)))"
    )


@query(
    "kmeans_iteration",
    oracle=f"""
    WITH {_QVECS_SQL}, {_QLONG_SQL}, {_ASSIGN1_SQL}, {_MSTEP_SQL}, {_ASSIGN2_SQL}
    SELECT a2.vec_id, a1.cid AS prev_cid, a2.cid, a2.dist_sq,
           CASE WHEN a1.cid <> a2.cid THEN 1 ELSE 0 END AS moved
    FROM assign2 a2 JOIN assign1 a1 ON a1.vec_id = a2.vec_id
    """,
)
def kmeans_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Lloyd round over the embeddings: seed centroids =
    vectors 0..K-1, assign all vectors, recompute centroids as
    integer-grid cluster means, re-assign; report each vector's new
    cluster, its previous one, the exact squared distance, and
    whether it moved (sum(moved) is the convergence signal a driver
    loop would test, exactly as ``dedup_components`` does for label
    propagation).

    Physical plan: the ONLY wide op is the M-step's (cid, dim,
    partial-sum) shuffle — map-side combine makes that K*64 rows per
    partition regardless of corpus size. Both E-steps are pure
    projections (centroid literals folded into codegen, see
    :func:`_cent_literal`), and prev/new assignments come out of one
    final pass over the cached corpus — no join anywhere."""
    vecs = _quantized(spark, sf_dir)
    cents0 = _seed_cents(spark, sf_dir)
    best0 = _best_expr(_cent_literal(cents0))
    a1 = vecs.select("vec_id", "q", F.expr(f"{best0}.cid").alias("cid"))

    # M-step: per-(cid, dim) exact integer sums -> floor-div mean on
    # the same 1e-7 grid (sums < 2^53 are double-exact; one IEEE
    # division + floor is bit-identical in both engines). The K*64
    # result rows come back to the driver — centroids are
    # control-plane data between rounds.
    sums = (
        a1.select("cid", F.posexplode("q").alias("d", "qd"))
        .groupBy("cid", "d")
        .agg(F.sum("qd").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "cid",
            "d",
            F.floor(F.col("s").cast("double") / F.col("n")).alias("md"),
        )
    )
    by_cid: dict = {}
    for r in sums.collect():
        by_cid.setdefault(r["cid"], {})[r["d"]] = r["md"]
    cents1 = [
        (cid, [dims[d] for d in sorted(dims)]) for cid, dims in sorted(by_cid.items())
    ]
    best1 = _best_expr(_cent_literal(cents1))
    return vecs.select(
        "vec_id",
        F.expr(f"{best0}.cid").alias("prev_cid"),
        F.expr(f"{best1}.cid").alias("cid"),
        F.expr(f"{best1}.dist_sq").alias("dist_sq"),
    ).withColumn(
        "moved",
        F.when(F.col("prev_cid") != F.col("cid"), 1).otherwise(0),
    )


# Shared derivation over the per-dimension power sums (n, sq, sqq,
# mn, mx): exact decimal(18,0) products, one double division, then a
# final /1e7 (or /1e14 for the squared units) to return to embedding
# units — every step IEEE-deterministic in both engines. BIGINT power
# sums hold to ~1e18: at 1e9+ vectors per dimension, drop the
# quantization scale or widen the sum to DECIMAL.
_DIM_STATS_FINAL = {
    "mean_val": "(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)) / 1e7",
    "var_val": (
        "(CAST(CAST(n AS DECIMAL(28,0)) * CAST(sqq AS DECIMAL(28,0))"
        " - CAST(sq AS DECIMAL(28,0)) * CAST(sq AS DECIMAL(28,0)) AS DOUBLE)"
        " / CAST(CAST(n AS DECIMAL(28,0)) * CAST(n - 1 AS DECIMAL(28,0))"
        " AS DOUBLE)) / 1e14"
    ),
    "min_val": "CAST(mn AS DOUBLE) / 1e7",
    "max_val": "CAST(mx AS DOUBLE) / 1e7",
}


@query(
    "embedding_dim_stats",
    oracle=f"""
    WITH {_QVECS_SQL}, {_QLONG_SQL},
    s AS (
        SELECT d, COUNT(*) AS n, SUM(qd) AS sq, SUM(qd * qd) AS sqq,
               MIN(qd) AS mn, MAX(qd) AS mx
        FROM qlong
        GROUP BY d
    )
    SELECT d, n AS n_vectors,
           {', '.join(f"{sql} AS {name}" for name, sql in _DIM_STATS_FINAL.items())}
    FROM s
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus statistics over the embedding column
    (mean/variance/min/max of each of the 64 dims) — the diagnostic a
    pipeline runs before whitening, quantization calibration, or
    dead-dimension pruning. Long-form explode then groupBy(dim):
    map-side partial sums reduce the shuffle to 64 rows per task
    regardless of corpus size; all arithmetic is the exact-integer
    moment pattern (see ``operators/aggregates.py``)."""
    longf = (
        _quantized(spark, sf_dir)
        .select(F.posexplode("q").alias("d0", "qd"))
        # bigint d: the oracle's generate_series dimension index is
        # BIGINT and the driver hash is type-sensitive.
        .select((F.col("d0") + 1).cast("bigint").alias("d"), "qd")
    )
    sums = longf.groupBy("d").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qd").alias("sq"),
        F.sum(F.expr("qd * qd")).alias("sqq"),
        F.min("qd").alias("mn"),
        F.max("qd").alias("mx"),
    )
    return sums.select(
        "d",
        F.col("n").alias("n_vectors"),
        *[F.expr(sql).alias(name) for name, sql in _DIM_STATS_FINAL.items()],
    )
