"""Product quantization (PQ) over the ``embeddings`` table — the
memory-bounded ANN path that complements hyperplane-LSH buckets and
IVF cells (``llm/similarity.py``).

PQ splits each 64-d vector into ``M = 16`` subvectors of 4 dims and
quantizes each subvector independently against a per-subspace codebook
of up to ``K = 256`` codewords (the classic PQ16x256 layout: a vector
becomes 16 one-byte codes) — the compression that turns a 100 TB
raw-embedding corpus into a 16-bytes-per-vector codes table, scanned
WITHOUT touching the raw floats. Queries score the compressed corpus
by asymmetric distance computation (ADC): precompute, per query, the
partial dot of the RAW query subvector against every codeword (a
(queries x M x K) lookup table, broadcast), then a corpus vector's
approximate dot is 16 table lookups summed.

The codebook is TRAINED, not sampled: seed codewords are every 8th
vector (the deterministic-seed convention the IVF quantizer uses),
refined by ONE exact-integer Lloyd step — assign all subvectors to
their nearest seed, recompute each codeword as the floor-divided
integer-grid mean of its members (the same bit-identical M-step
``kmeans_iteration`` ships: exact BIGINT sums, one IEEE division,
one floor), empty codes keep their quantized seed. Raw sampled
codebooks were measured useless on this corpus (reconstruction error
~1.0, recall 0 — docs/ANN_COMPARISON.md history); the refined
PQ16 codebook reaches ~0.3-0.4 relative reconstruction error and
10/10 top1-in-top5 recall at sf0.01 and sf0.1.

Determinism: the same ``floor(x * 1e7)`` integer quantization as the
rest of the similarity suite — assignment distances, the Lloyd
M-step, LUT partial dots, and reconstructed norms are exact BIGINT
arithmetic, and the final ``adot / sqrt(rn2) / q_nrm`` uses the same
IEEE-754 op sequence in Spark and DuckDB, so codes, scores, and
rankings hash-match.

Scale design:
* codebook training is one assignment pass + one (sub, code, dim)
  aggregation whose output is K*M*4 <= 16k rows — control-plane data
  collected to the driver and re-broadcast, exactly like
  ``kmeans_iteration``'s centroids;
* the trained codebook and the per-query LUT broadcast; code
  assignment is a per-row K-way expansion within a subspace — no
  corpus shuffle beyond the per-(vec_id, sub) argmin window, and the
  result is cached per (session, fixture) like a checkpointed index;
* ADC probes read ONLY the codes table (16 small ints/vector); the
  one shuffle is the (qid, vec_id) partial-dot fold, map-side
  combined 16 -> 1. Production stores codes wide (one row, M
  columns) and folds per-row without any shuffle — the long form
  here mirrors the SQL oracle; the wide variant is a pivot away;
* the ``pq`` and ``ivfpq`` rows of ``ann_family_recall_eval``
  (llm/recall.py — round 10 folded the per-family eval rows into one
  parameterized gate) measure the quality cost of the compression
  against the exact brute-force top-5, the eval every PQ deployment
  runs before trusting the codes; docs/ANN_COMPARISON.md races all
  three index families on one corpus.

Reference parity: the reference (Server/main.go, Client/main.go) has
no vector ops at all — this module is part of the beyond-reference
training-data surface (SURVEY.md "ANN / embeddings" extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..memo import session_memo
from ..registry import query
from .similarity import (
    _CENTS_SQL,
    _DOT,
    _NORMS_SQL,
    N_QUERIES,
    _spread,
    ivf_assign_cached,
)

M_SUBSPACES = 16
D_SUB = 4  # 64 dims / 16 subspaces
# Seed codewords: every _SEED_STEP-th vector below _SEED_MAX — up to
# 256 seeds on a big corpus, gracefully fewer on small fixtures (the
# IVF deterministic-seed convention, scale-adaptive by construction).
_SEED_STEP = 8
_SEED_MAX = 2048

# Exact quantized-integer squared L2 distance between two D_SUB-dim
# FLOAT slices (both sides quantized inside the fold).
_D2 = (
    "aggregate(zip_with({a}, {b}, (x, y) ->"
    " (FLOOR(CAST(x AS DOUBLE) * 1e7) - FLOOR(CAST(y AS DOUBLE) * 1e7))"
    " * (FLOOR(CAST(x AS DOUBLE) * 1e7) - FLOOR(CAST(y AS DOUBLE) * 1e7))),"
    " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)
# Same, but side {b} is ALREADY on the integer grid (a trained
# codeword): only {a} quantizes.
_D2I = (
    "aggregate(zip_with({a}, {b}, (x, y) ->"
    " (FLOOR(CAST(x AS DOUBLE) * 1e7) - y)"
    " * (FLOOR(CAST(x AS DOUBLE) * 1e7) - y)),"
    " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)
# Exact dot of a float slice {a} against an integer-grid slice {b}.
_PDOTI = (
    "CAST(aggregate(zip_with({a}, {b}, (x, y) ->"
    " FLOOR(CAST(x AS DOUBLE) * 1e7) * y),"
    " CAST(0 AS BIGINT), (acc, v) -> acc + v) AS DOUBLE)"
)
# Exact self-dot of an integer-grid slice.
_N2I = (
    "CAST(aggregate(zip_with({a}, {a}, (x, y) -> x * y),"
    " CAST(0 AS BIGINT), (acc, v) -> acc + v) AS DOUBLE)"
)

_SUBS_SQL = f"(SELECT unnest(generate_series(0, {M_SUBSPACES - 1})) AS s) s"
_DIMS_SQL = f"(SELECT unnest(generate_series(1, {D_SUB})) AS i) i"


def _q(expr: str) -> str:
    """DuckDB: quantize one indexed float element to the int grid."""
    return f"CAST(FLOOR(CAST({expr} AS DOUBLE) * 1e7) AS BIGINT)"


# The trained codebook as composable CTEs ending in
# pq_cb(sub, code, i, md): seeds -> assign -> exact-integer Lloyd
# M-step -> refined codewords (empty codes keep their quantized seed).
_PQ_CB_SQL = f"""
    pq_seeds AS (
        SELECT vec_id AS code, embedding
        FROM embeddings
        WHERE vec_id % {_SEED_STEP} = 0 AND vec_id < {_SEED_MAX}
    ),
    pq_d2_0 AS (
        SELECT e.vec_id, s.s AS sub, c.code,
               SUM(({_q(f"e.embedding[s.s * {D_SUB} + i.i]")}
                  - {_q(f"c.embedding[s.s * {D_SUB} + i.i]")})
                 * ({_q(f"e.embedding[s.s * {D_SUB} + i.i]")}
                  - {_q(f"c.embedding[s.s * {D_SUB} + i.i]")})) AS d2
        FROM embeddings e
        JOIN pq_seeds c ON TRUE, {_SUBS_SQL}, {_DIMS_SQL}
        GROUP BY e.vec_id, s.s, c.code
    ),
    pq_codes_0 AS (
        SELECT vec_id, sub, code FROM (
            SELECT vec_id, sub, code,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id, sub ORDER BY d2, code
                   ) AS rn
            FROM pq_d2_0
        ) WHERE rn = 1
    ),
    pq_mstep AS (
        SELECT c0.sub, c0.code, i.i AS i,
               CAST(FLOOR(
                   CAST(CAST(SUM({_q(f"e.embedding[c0.sub * {D_SUB} + i.i]")})
                        AS BIGINT) AS DOUBLE) / COUNT(*)
               ) AS BIGINT) AS md
        FROM pq_codes_0 c0
        JOIN embeddings e ON e.vec_id = c0.vec_id, {_DIMS_SQL}
        GROUP BY c0.sub, c0.code, i.i
    ),
    pq_cb AS (
        SELECT s.s AS sub, c.code, i.i AS i,
               COALESCE(m.md,
                        {_q(f"c.embedding[s.s * {D_SUB} + i.i]")}) AS md
        FROM pq_seeds c
        CROSS JOIN {_SUBS_SQL}
        CROSS JOIN {_DIMS_SQL}
        LEFT JOIN pq_mstep m
            ON m.sub = s.s AND m.code = c.code AND m.i = i.i
    )
"""

# Final code assignment against the trained codebook.
_PQ_CODES_SQL = f"""
    {_PQ_CB_SQL},
    pq_d2 AS (
        SELECT e.vec_id, b.sub, b.code,
               SUM(({_q(f"e.embedding[b.sub * {D_SUB} + b.i]")} - b.md)
                 * ({_q(f"e.embedding[b.sub * {D_SUB} + b.i]")} - b.md)) AS d2
        FROM embeddings e
        JOIN pq_cb b ON TRUE
        GROUP BY e.vec_id, b.sub, b.code
    ),
    pq_codes AS (
        SELECT vec_id, sub, code, d2 FROM (
            SELECT vec_id, sub, code, d2,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id, sub ORDER BY d2, code
                   ) AS rn
            FROM pq_d2
        ) WHERE rn = 1
    )
"""


def _seed_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sub, code, c_sub float slice): the untrained seed codebook."""
    subs = F.array(*[F.lit(s) for s in range(M_SUBSPACES)])
    return (
        table(spark, sf_dir, "embeddings")
        .filter(
            (F.col("vec_id") % _SEED_STEP == 0) & (F.col("vec_id") < _SEED_MAX)
        )
        .select(
            F.col("vec_id").alias("code"),
            "embedding",
            F.explode(subs).alias("sub"),
        )
        .select(
            "sub",
            "code",
            F.expr(f"slice(embedding, sub * {D_SUB} + 1, {D_SUB})").alias(
                "c_sub"
            ),
        )
    )


def _sub_slices(corpus: DataFrame) -> DataFrame:
    """(vec_id, sub, e_sub): each vector exploded into its M
    subvector slices — pure per-row codegen, no shuffle."""
    subs = F.array(*[F.lit(s) for s in range(M_SUBSPACES)])
    return corpus.select(
        "vec_id", "embedding", F.explode(subs).alias("sub")
    ).select(
        "vec_id",
        "sub",
        F.expr(f"slice(embedding, sub * {D_SUB} + 1, {D_SUB})").alias("e_sub"),
    )


def pq_assign(
    corpus: DataFrame, codebook: DataFrame, int_codebook: bool = False
) -> DataFrame:
    """(vec_id, sub, code, d2): nearest codeword per (vector,
    subspace) — a broadcast of the codebook, a K-way row expansion
    per subspace, exact BIGINT distance folds in codegen, and a
    per-(vec_id, sub) argmin as a ``min(struct(d2, code))`` aggregate:
    lexicographic struct-min over two BIGINTs IS ``ORDER BY d2, code``
    with rn=1 (the shared _adc_top1 selection rule, here with no IEEE
    negation at all since d2 is an exact integer). The aggregate
    partial-combines the K-way expansion map-side — one row per
    (vec_id, sub) per partition reaches the exchange, where the
    row_number window form shuffled the FULL corpus x K expansion
    into per-(vec_id, sub) sorts (at K=256 that exchange carried 256x
    the index size; interleaved A/B below halves the build).
    ``int_codebook`` switches the distance fold to the
    already-quantized trained codewords."""
    d2 = F.expr((_D2I if int_codebook else _D2).format(a="e_sub", b="c_sub"))
    best = (
        _sub_slices(corpus)
        .join(F.broadcast(codebook), "sub")
        .withColumn("d2", d2)
        .groupBy("vec_id", "sub")
        .agg(F.min(F.struct(F.col("d2"), F.col("code"))).alias("b"))
    )
    return best.select(
        "vec_id",
        "sub",
        F.col("b.code").alias("code"),
        F.col("b.d2").alias("d2"),
    )


def trained_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sub, code, c_sub array<bigint>): the Lloyd-refined codebook
    on the 1e-7 integer grid, memoized per (session, fixture). One
    assignment pass against the seeds, one exact-integer M-step
    (floor-divided grid means, the ``kmeans_iteration`` pattern),
    K*M*D <= 16k control-plane rows through the driver."""
    def build() -> DataFrame:
        seeds = _seed_codebook(spark, sf_dir)
        emb = _spread(spark, table(spark, sf_dir, "embeddings"))
        codes0 = pq_assign(emb, seeds).select("vec_id", "sub", "code")
        # M-step: per (sub, code) exact integer sums for all D_SUB dims as
        # agg COLUMNS -> floor-div means on the same grid (sum < 2^53 is
        # double-exact; one IEEE division + floor is bit-identical in both
        # engines). No posexplode (the dim expansion was a 4x row blow-up
        # feeding a 4x-larger shuffle), and the refined codebook assembles
        # IN-PLAN — a left join of the means onto the seeds with the
        # quantized-seed fallback for empty codes, exactly the oracle's
        # pq_cb CTE shape — instead of the previous collect() +
        # createDataFrame round-trip that pulled 16k mean rows and pushed
        # 4k codeword arrays through the driver (measured 4.8 s + 2.5 s
        # cold at sf0.1). The result is one eager localCheckpoint: K*M
        # control-plane rows materialized once per session, every consumer
        # reads the leaf.
        sums = [
            F.sum(
                F.expr(
                    f"CAST(FLOOR(CAST(element_at(e_sub, {i + 1}) AS DOUBLE)"
                    " * 1e7) AS BIGINT)"
                )
            ).alias(f"s{i}")
            for i in range(D_SUB)
        ]
        means = (
            _sub_slices(emb)
            .join(codes0, ["vec_id", "sub"])
            .groupBy("sub", "code")
            .agg(*sums, F.count(F.lit(1)).alias("n"))
            .select(
                "sub",
                "code",
                F.array(
                    *[
                        F.floor(F.col(f"s{i}").cast("double") / F.col("n"))
                        for i in range(D_SUB)
                    ]
                ).alias("md"),
            )
        )
        # Empty code: keep the quantized seed (same FLOOR(x*1e7) grid).
        q_seed = F.expr(
            "transform(c_sub, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e7)"
            " AS BIGINT))"
        )
        return (
            seeds.join(means, ["sub", "code"], "left")
            .select(
                "sub",
                "code",
                F.coalesce(F.col("md"), q_seed).alias("c_sub"),
            )
            .localCheckpoint()
        )

    return session_memo(spark, "pq.codebook", sf_dir, build)


def _codes_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's (vec_id, sub, code) assignment against the
    TRAINED codebook, persisted per (session, fixture) — the PQ index
    table a real pipeline would checkpoint once and probe many
    times."""
    def build() -> DataFrame:
        emb = _spread(spark, table(spark, sf_dir, "embeddings"))
        return (
            pq_assign(emb, trained_codebook(spark, sf_dir), int_codebook=True)
            .select("vec_id", "sub", "code")
            .persist()
        )

    return session_memo(spark, "pq.codes", sf_dir, build)


@query(
    "embedding_pq_codes",
    oracle=f"""
    WITH {_PQ_CODES_SQL}
    SELECT vec_id, sub, code, CAST(d2 AS DOUBLE) AS sq_dist
    FROM pq_codes
    """,
)
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ code assignment: each vector's 16 subvectors quantized to
    their nearest codeword of the Lloyd-refined codebook (exact
    integer L2, ties to the smaller code id), with the squared
    distortion kept per code — the compressed representation ADC
    probes read instead of raw floats, and the distortion column is
    the calibration signal (rising ``sq_dist`` means the codebook no
    longer fits the corpus)."""
    emb = _spread(spark, table(spark, sf_dir, "embeddings"))
    return pq_assign(
        emb, trained_codebook(spark, sf_dir), int_codebook=True
    ).select(
        "vec_id",
        F.col("sub").cast("bigint").alias("sub"),
        "code",
        F.col("d2").cast("double").alias("sq_dist"),
    )


# Per-query ADC lookup table + codeword reconstructed norms, shared by
# the corpus-wide and the IVF-cell-restricted probes.
_PQ_LUT_SQL = f"""
    lut AS (
        SELECT q.vec_id AS qid, b.sub, b.code,
               CAST(CAST(SUM({_q(f"q.embedding[b.sub * {D_SUB} + b.i]")}
                             * b.md) AS BIGINT) AS DOUBLE) AS pdot
        FROM embeddings q
        JOIN pq_cb b ON TRUE
        WHERE q.vec_id < {N_QUERIES}
        GROUP BY q.vec_id, b.sub, b.code
    ),
    cn2 AS (
        SELECT sub, code,
               CAST(CAST(SUM(md * md) AS BIGINT) AS DOUBLE) AS pn2
        FROM pq_cb
        GROUP BY sub, code
    )
"""

_PQ_TOP1_ORACLE = f"""
    WITH {_NORMS_SQL}, {_PQ_CODES_SQL},
    {_PQ_LUT_SQL},
    adc AS (
        SELECT l.qid, p.vec_id, SUM(l.pdot) AS adot, SUM(n.pn2) AS rn2
        FROM pq_codes p
        JOIN lut l ON l.sub = p.sub AND l.code = p.code
        JOIN cn2 n ON n.sub = p.sub AND n.code = p.code
        WHERE p.vec_id <> l.qid
        GROUP BY l.qid, p.vec_id
    )
    SELECT a.qid, a.vec_id AS neighbor_id,
           a.adot / sqrt(a.rn2) / qn.nrm AS approx_cosine
    FROM (
        SELECT qid, vec_id, adot, rn2,
               ROW_NUMBER() OVER (
                   PARTITION BY qid
                   ORDER BY adot / sqrt(rn2) DESC, vec_id
               ) AS rn
        FROM adc
    ) a
    JOIN norms qn ON qn.vec_id = a.qid
    WHERE a.rn = 1
    """


def _adc_inputs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The three broadcast-sized ADC probe inputs: the per-query
    lookup table (qid, sub, code, pdot) — RAW query subvectors dotted
    against every trained codeword once — the codeword reconstructed
    norms (sub, code, pn2), and the query norms (qid, q_nrm).

    Memoized per (session, fixture) like ``trained_codebook`` and
    ``_codes_cached``: all three are constant-size artifacts of the
    memoized codebook and the fixed demo query batch (|q| x M x K <=
    41k rows), and the three PQ probe queries each rebuilt them from
    the raw parquet on EVERY call — up to nine scan+join jobs per
    bench repeat whose outputs never change within a session. The
    query norms are computed on the 10-row filtered scan directly
    (same ``sqrt(_DOT)`` arithmetic as ``vector_norms``); the previous
    ``vector_norms(...).filter(...)`` form computed norms behind a
    corpus-wide repartition exchange just to keep 10 rows."""
    return session_memo(
        spark,
        "pq.adc_inputs",
        sf_dir,
        lambda: tuple(df.persist() for df in _build_adc_inputs(spark, sf_dir)),
    )


def _build_adc_inputs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The un-persisted (lut, cn2, q_norms) derivation — factored out
    so the bounded-read pin (tests/test_pq.py) can audit the one-time
    build's executed scans directly."""
    cb = trained_codebook(spark, sf_dir)
    q_sub = _sub_slices(
        table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < N_QUERIES)
    ).withColumnRenamed("vec_id", "qid").withColumnRenamed("e_sub", "q_sub")
    lut = q_sub.join(F.broadcast(cb), "sub").select(
        "qid",
        "sub",
        "code",
        F.expr(_PDOTI.format(a="q_sub", b="c_sub")).alias("pdot"),
    )
    cn2 = cb.select(
        "sub", "code", F.expr(_N2I.format(a="c_sub")).alias("pn2")
    )
    q_norms = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("qid"),
            F.sqrt(F.expr(_DOT.format(a="embedding", b="embedding"))).alias(
                "q_nrm"
            ),
        )
    )
    return lut, cn2, q_norms


def _adc_top1(
    adc: DataFrame, q_norms: DataFrame, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Rank ADC-scored candidates (qid, vec_id, adot, rn2, *extra):
    top-1 per query by reconstructed cosine, ties to the smaller
    vec_id, normalized by the query norm only after ranking (a
    positive per-qid constant cannot reorder). ONE definition shared
    by the corpus-wide and the cell-restricted probes so the two
    families' ranking arithmetic can never diverge.

    The rank is a per-qid ``min(struct(-score, vec_id, ...))``
    aggregate — lexicographic struct-min is exactly ``ORDER BY score
    DESC, vec_id`` (IEEE negation is exact; scores are finite reals) —
    the same selection rule the wide probe uses. An aggregate
    partial-combines to <= |queries| rows per upstream partition
    before its exchange, where the previous row_number() form shuffled
    EVERY candidate row to a per-qid sort just to keep one (the
    WindowGroupLimit pushdown only capped, never combined)."""
    # NULL-score guard: a zero reconstructed norm (rn2 = 0) makes the
    # score NULL under non-ANSI division, and a NULL first struct
    # field orders SMALLEST — it would WIN the min where the old
    # row_number desc ranked it last. coalesce(neg, +inf) maps a NULL
    # score to the LARGEST sort key instead — exactly the window's
    # NULLS-LAST — as pure row arithmetic inside the aggregate input.
    # (A Filter(rn2 > 0) between the two aggregates was measured at
    # +0.3 s on the probe — 0.72 vs 0.42 s median interleaved — while
    # this form is timing-identical to the unguarded aggregate.)
    neg = F.coalesce(
        -(F.col("adot") / F.sqrt("rn2")), F.lit(float("inf"))
    )
    best = adc.groupBy("qid").agg(
        F.min(
            F.struct(
                neg.alias("neg"),
                F.col("vec_id"),
                *[F.col(c) for c in extra_cols],
                F.col("adot"),
                F.col("rn2"),
            )
        ).alias("b")
    )
    return best.join(F.broadcast(q_norms), "qid").select(
        "qid",
        *[F.col(f"b.{c}").alias(c) for c in extra_cols],
        F.col("b.vec_id").alias("neighbor_id"),
        (F.col("b.adot") / F.sqrt(F.col("b.rn2")) / F.col("q_nrm")).alias(
            "approx_cosine"
        ),
    )


def adc_probe_long(
    spark: SparkSession, sf_dir: str, codes: DataFrame
) -> DataFrame:
    """The long-layout ADC probe over an arbitrary (vec_id, sub, code)
    table: broadcast LUT/norm joins on (sub, code), then the
    (qid, vec_id) partial-dot fold — the shuffle that scales with
    corpus x queries. Factored out so the scaling study can race it
    against the wide probe on amplified codes."""
    lut, cn2, q_norms = _adc_inputs(spark, sf_dir)
    adc = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .join(F.broadcast(cn2), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum("pdot").alias("adot"), F.sum("pn2").alias("rn2"))
    )
    return _adc_top1(adc, q_norms)


@query("pq_ann_top1", oracle=_PQ_TOP1_ORACLE)
def pq_ann_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN by asymmetric distance computation: each query's RAW
    subvectors are dotted against every trained codeword once (a
    16xK-entry LUT per query, broadcast), then a corpus vector's
    approximate cosine is 16 LUT lookups summed over its codes,
    normalized by the query norm and the RECONSTRUCTED corpus norm —
    the corpus's raw floats are never read at probe time, which is
    the whole point at 100 TB. Top-1 per query, ties to the smaller
    vec_id; the ranking divides by sqrt(rn2) only (the per-qid query
    norm is a positive constant, so it cannot reorder)."""
    return adc_probe_long(spark, sf_dir, _codes_cached(spark, sf_dir))


# PQ recall note (round 10): ``pq_recall_eval`` folded into the ONE
# parameterized gate ``ann_family_recall_eval`` (llm/recall.py),
# whose ``pq``/``ivfpq`` branches certify the ADC probes' per-query
# top-1 values against the identical DuckDB twin — VERDICT r9 item 3.


# --- wide-layout ADC probe --------------------------------------------------
# The long (vec_id, sub, code) form above mirrors the SQL oracle; the
# shape a deployment stores is WIDE — one row per vector, its 16 codes
# as one array — because then a probe is pure per-row arithmetic: 16
# array lookups against a broadcast LUT, summed in codegen, with a
# 10-rows-per-partition partial max as the only aggregation. Nothing
# corpus-sized ever shuffles at probe time (the long form's
# (qid, vec_id) fold shuffles corpus x queries rows).

def dense_code_ids(spark: SparkSession, sf_dir: str) -> list[int]:
    """The trained codebook's code ids, sorted — position = the DENSE
    codeword index used by the wide layout (code ids are seed vec_ids,
    so they are sparse; every sub shares one seed set). Memoized per
    (session, fixture): K <= 256 control-plane values."""
    return session_memo(
        spark,
        "pq.dense_code_ids",
        sf_dir,
        lambda: sorted(
            r.code
            for r in trained_codebook(spark, sf_dir)
            .select("code")
            .distinct()
            .collect()
        ),
    )


def widen_codes(codes: DataFrame, code_ids: list[int]) -> DataFrame:
    """(vec_id, cidx array<int>[M]) from the long (vec_id, sub, code)
    assignment: one groupBy per build, positions = subspace, values =
    dense rank of the code id. Shared by the batch wide index and the
    streaming per-batch appends so the two layouts can never skew."""
    dense = F.create_map(
        *[F.lit(v) for c, i in zip(code_ids, range(len(code_ids))) for v in (c, i)]
    )
    return (
        codes.withColumn("cidx1", dense[F.col("code")].cast("int"))
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "cidx1"))),
                lambda s: s.cidx1,
            ).alias("cidx")
        )
    )


def _codes_wide_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cidx: array<int>[M]) — the PQ index in its storage
    layout: each vector's M codes as ONE array, positions = subspace,
    values = DENSE codeword index (rank of the code id among the
    codebook's codes — code ids are seed vec_ids, so they are sparse;
    the dense rank is what lets the LUT be an array instead of a map).
    Built once per (session, fixture) from the long assignment and
    persisted — the one groupBy here is index-BUILD cost, not probe
    cost, exactly like ``_codes_cached``."""
    return session_memo(
        spark,
        "pq.codes_wide",
        sf_dir,
        lambda: widen_codes(
            _codes_cached(spark, sf_dir), dense_code_ids(spark, sf_dir)
        ).persist(),
    )


def _query_lut_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One broadcast row per query: (qid, lut array<array<bigint>>[M][K]
    of partial dots, pn2 array<array<bigint>>[M][K] of codeword
    reconstructed norms, q_nrm). M*K <= 4096 longs per row — the same
    control-plane volume the long form broadcasts, re-shaped so a
    corpus row's score is ``element_at`` lookups instead of a join.
    Assembled entirely JVM-side (two query-batch-sized groupBys);
    nothing round-trips through the driver at probe time. Memoized
    per (session, fixture) alongside ``_adc_inputs``: ten rows derived
    from the memoized codebook + the fixed query batch, previously
    re-assembled (four aggregate jobs) on every probe call."""
    def build() -> DataFrame:
        lut, cn2, q_norms = _adc_inputs(spark, sf_dir)
        code_ids = dense_code_ids(spark, sf_dir)
        dense = F.create_map(
            *[F.lit(v) for c, i in zip(code_ids, range(len(code_ids))) for v in (c, i)]
        )

        def nest(df: DataFrame, keys: list[str], val: str, out: str) -> DataFrame:
            """(…keys, sub, code, val) -> (…keys, out array<array<bigint>>):
            inner arrays dense-indexed by code rank, outer by subspace.
            The codebook is complete per (keys, sub), so array_sort on the
            (index, value) structs yields gap-free positional arrays."""
            return (
                df.withColumn("cidx", dense[F.col("code")].cast("int"))
                .groupBy(*keys, "sub")
                .agg(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("cidx", F.col(val).alias("v")))
                        ),
                        lambda s: s.v,
                    ).alias("arr")
                )
                .groupBy(*keys)
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("sub", "arr"))),
                        lambda s: s.arr,
                    ).alias(out)
                )
            )

        lut_rows = nest(
            lut.withColumn("pdot", F.col("pdot").cast("long")), ["qid"], "pdot", "lut"
        )
        pn2_row = nest(
            cn2.withColumn("pn2", F.col("pn2").cast("long")), [], "pn2", "pn2"
        )
        return (
            lut_rows.crossJoin(F.broadcast(pn2_row))
            .join(F.broadcast(q_norms), "qid")
            .select("qid", "lut", "pn2", "q_nrm")
            .persist()
        )

    return session_memo(spark, "pq.query_lut", sf_dir, build)


def adc_probe_wide(
    spark: SparkSession, sf_dir: str, wide: DataFrame
) -> DataFrame:
    """The wide-layout ADC probe over an arbitrary (vec_id, cidx)
    table — see ``pq_ann_top1_wide`` for the shape's contract."""
    qtab = _query_lut_rows(spark, sf_dir)

    look = (
        "aggregate(zip_with(cidx, {t}, (c, t) -> element_at(t, c + 1)),"
        " CAST(0 AS BIGINT), (a, v) -> a + v)"
    )
    scored = (
        wide.join(F.broadcast(qtab), F.col("vec_id") != F.col("qid"))
        .withColumn("adot", F.expr(look.format(t="lut")))
        .withColumn("rn2", F.expr(look.format(t="pn2")))
        .withColumn(
            "score", F.col("adot").cast("double") / F.sqrt(F.col("rn2").cast("double"))
        )
    )
    # NULL-score guard as in _adc_top1: coalesce(-score, +inf) pins
    # NULLS-LAST inside the sort key (a Filter form measurably broke
    # the aggregate pipeline there; this is free).
    best = scored.groupBy("qid", "q_nrm").agg(
        F.min(
            F.struct(
                F.coalesce(-F.col("score"), F.lit(float("inf"))).alias("neg"),
                F.col("vec_id"),
                F.col("adot"),
                F.col("rn2"),
            )
        ).alias("b")
    )
    return best.select(
        "qid",
        F.col("b.vec_id").alias("neighbor_id"),
        (
            F.col("b.adot").cast("double")
            / F.sqrt(F.col("b.rn2").cast("double"))
            / F.col("q_nrm")
        ).alias("approx_cosine"),
    )


@query("pq_ann_top1_wide", oracle=_PQ_TOP1_ORACLE)
def pq_ann_top1_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC probe over the WIDE codes layout — same answer (and same
    oracle) as ``pq_ann_top1``, restructured for the 100 TB probe
    path: a corpus row's approximate dot is 16 ``element_at`` lookups
    into a broadcast per-query LUT summed as exact BIGINTs in codegen
    (no join, no per-(qid, vec_id) shuffle), and the only aggregation
    is a per-query max that partial-combines to <= |queries| rows per
    partition before the lone exchange. The long form shuffles
    corpus x queries rows to fold 16 partial dots; this one shuffles
    |queries| x partitions pre-combined rows — the difference between
    a probe that scales with the corpus and one that scales with the
    query batch (raced on amplified codes in SCALING_MEASURED.md §K).
    Ranking arithmetic is the shared ``_adc_top1`` rule: max
    reconstructed cosine, ties to the smaller vec_id, the query norm
    divided in only after ranking."""
    return adc_probe_wide(spark, sf_dir, _codes_wide_cached(spark, sf_dir))


# --- IVF x PQ composite ---------------------------------------------------
# The deployment shape docs/ANN_COMPARISON.md points at: IVF prunes the
# candidate set to the query's cell, PQ compresses what remains to be
# scored. At 100 TB a probe then touches 1/K of a 16-bytes-per-vector
# codes table — pruning AND compression compose multiplicatively, and
# neither the raw floats nor out-of-cell codes are read.

def _ivf_pq_top1_oracle(survive: str = "") -> str:
    """Render the batch IVFPQ top-1 oracle. The registered queries use
    the empty-``survive`` render (``_IVF_PQ_TOP1_ORACLE`` below, byte-
    identical to the pre-factory literal); the retraction twin
    (streaming/pqindex.py) passes extra ``AND`` lines restricting both
    sides to survivors — one SQL body, so a future fix to the shared
    ADC arithmetic propagates to every consumer (the
    ``_ivf_stream_oracle(delete_mod)`` pattern from
    streaming/annindex.py)."""
    return f"""
    WITH {_NORMS_SQL}, {_CENTS_SQL}, {_PQ_CODES_SQL},
    {_PQ_LUT_SQL},
    adc AS (
        SELECT l.qid, aq.cid, p.vec_id,
               SUM(l.pdot) AS adot, SUM(n.pn2) AS rn2
        FROM pq_codes p
        JOIN cassign ae ON ae.vec_id = p.vec_id
        JOIN cassign aq ON aq.cid = ae.cid AND aq.vec_id < {N_QUERIES}
        JOIN lut l ON l.qid = aq.vec_id AND l.sub = p.sub AND l.code = p.code
        JOIN cn2 n ON n.sub = p.sub AND n.code = p.code
        WHERE p.vec_id <> aq.vec_id{survive}
        GROUP BY l.qid, aq.cid, p.vec_id
    )
    SELECT a.qid, a.cid, a.vec_id AS neighbor_id,
           a.adot / sqrt(a.rn2) / qn.nrm AS approx_cosine
    FROM (
        SELECT qid, cid, vec_id, adot, rn2,
               ROW_NUMBER() OVER (
                   PARTITION BY qid
                   ORDER BY adot / sqrt(rn2) DESC, vec_id
               ) AS rn
        FROM adc
    ) a
    JOIN norms qn ON qn.vec_id = a.qid
    WHERE a.rn = 1
    """


_IVF_PQ_TOP1_ORACLE = _ivf_pq_top1_oracle()


@query("ivf_pq_ann_top1", oracle=_IVF_PQ_TOP1_ORACLE)
def ivf_pq_ann_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF x PQ ANN: prune to the query's IVF cell, then score ONLY
    that cell's PQ codes by asymmetric distance — the composition a
    real deployment runs (FAISS's IVFPQ layout). The probe joins the
    query's (cid, LUT) against the codes-with-cell index table, so it
    reads 1/K of 16 bytes/vector and nothing else; on a cluster the
    codes table is stored bucketed by cid (the GenIndex layout), so
    the cell restriction is partition pruning, not a filter. Top-1
    per query, ranked by reconstructed cosine, ties to the smaller
    vec_id. Recall sits between raw PQ (which scores everything) and
    raw IVF (which scores exact floats): docs/ANN_COMPARISON.md
    tabulates all the families on one corpus."""
    codes = _codes_cached(spark, sf_dir)
    assign = ivf_assign_cached(spark, sf_dir)
    # The IVFPQ index: every vector's 16 codes tagged with its cell.
    # (vec_id-equi join here; bucketed-by-cid storage on a cluster.)
    cell_codes = codes.join(assign, "vec_id")

    lut, cn2, q_norms = _adc_inputs(spark, sf_dir)
    q_cell = assign.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), "cid"
    )
    # LUT rows gain the query's cell: the join key against the index
    # becomes (cid, sub, code) — cell restriction and code lookup in
    # ONE broadcast hash join.
    lut_cell = lut.join(F.broadcast(q_cell), "qid")

    adc = (
        cell_codes.join(F.broadcast(lut_cell), ["cid", "sub", "code"])
        .join(F.broadcast(cn2), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "cid", "vec_id")
        .agg(F.sum("pdot").alias("adot"), F.sum("pn2").alias("rn2"))
    )
    return _adc_top1(adc, q_norms, extra_cols=("cid",))


def warm_probe_memos(spark: SparkSession, sf_dir: str) -> None:
    """Build every per-(session, fixture) PQ memo the probes read:
    codebook, long + wide code tables, ADC inputs, per-query LUT rows
    (each materialized by ``session_memo``), so a caller can time the
    one-time index build apart from the probes."""
    _codes_wide_cached(spark, sf_dir)
    _query_lut_rows(spark, sf_dir)
