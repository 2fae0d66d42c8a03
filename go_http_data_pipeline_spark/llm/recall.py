"""The ONE recall gate for every approximate-nearest-neighbor family.

Round-9 grew one recall harness per index family (``ann_recall_eval``
for LSH, ``ann_multiprobe_recall_eval`` for its multiprobe knob,
``pq_recall_eval`` for the ADC probe) and the IVF knobs shipped as
standalone top-1 queries (``ivf_ann_nprobe2``) with no recall row at
all. Four near-identical registry rows per corpus question — "did the
approximate index find a true neighbor?" — is rotation pressure, not
capability (VERDICT r9 item 3). This module folds them into ONE
parameterized gate, ``ann_family_recall_eval``: a row per
(family, query) pair, for ALL SIX probe configurations on one corpus:

    lsh            ann_lsh_top1            1 hyperplane bucket
    lsh_multiprobe ann_lsh_multiprobe_top1 9 buckets (Hamming-1)
    ivf            ivf_ann_top1            1 centroid cell
    ivf_nprobe2    ivf_ann_nprobe2         2 centroid cells
    pq             pq_ann_top1             ADC over PQ16 codes
    ivfpq          ivf_pq_ann_top1         cell-pruned ADC

Certification is STRONGER than the retired per-family evals, not a
summary of them: the output carries each family's exact per-query
top-1 neighbor id and score, hash-checked against the DuckDB twin —
so the families whose standalone registry rows retired with this fold
(``ivf_ann_nprobe2``, ``ann_lsh_multiprobe_top1``, and the three eval
shapes) keep their answers value-certified per query, inside one row
set. Per-family recall is ``avg(in_top5) GROUP BY family`` one
aggregation away (docs/ANN_COMPARISON.md tabulates it).

Scale: the exact brute-force side exists only for the sampled query
set (10 vectors, broadcast), and every family's probe keeps its own
bounded shape — bucket/cell equi-joins and code-table lookups, never
an all-pairs pass. Unioning the families multiplies the probe count,
not the asymptotics: each branch is the same plan that backed its
retired standalone row.

Reference parity: the reference (Server/main.go) has no vector ops;
this is the beyond-reference ANN surface's quality gate (SURVEY.md
"similarity search" extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query
from .pq import _IVF_PQ_TOP1_ORACLE, _PQ_TOP1_ORACLE, ivf_pq_ann_top1, pq_ann_top1
from .similarity import (
    N_QUERIES,
    _ANN_TOP1_ORACLE,
    _COSINE_TOPK_ORACLE,
    _IVF_NPROBE2_ORACLE,
    _IVF_TOP1_ORACLE,
    _MULTIPROBE_TOP1_ORACLE,
    ann_lsh_multiprobe_top1,
    ann_lsh_top1,
    cosine_topk,
    ivf_ann_nprobe2,
    ivf_ann_top1,
)

# ONE row per family: (tag, probe fn, probe's DuckDB-twin SQL, score
# column name in both outputs) — the Spark union and the oracle's
# UNION ALL are derived from the SAME table, so a family added or
# renamed on one side cannot silently drift from the other. Order
# fixed here = the oracle's UNION ALL order (rows are compared
# sorted, so order only matters for readability).
_FAMILIES: tuple = (
    ("lsh", ann_lsh_top1, _ANN_TOP1_ORACLE, "cosine"),
    ("lsh_multiprobe", ann_lsh_multiprobe_top1, _MULTIPROBE_TOP1_ORACLE, "cosine"),
    ("ivf", ivf_ann_top1, _IVF_TOP1_ORACLE, "cosine"),
    ("ivf_nprobe2", ivf_ann_nprobe2, _IVF_NPROBE2_ORACLE, "cosine"),
    ("pq", pq_ann_top1, _PQ_TOP1_ORACLE, "approx_cosine"),
    ("ivfpq", ivf_pq_ann_top1, _IVF_PQ_TOP1_ORACLE, "approx_cosine"),
)

# The gate carries miss rows EXPLICITLY. Without them a family that
# finds NO candidate for a query contributes no row, so per-family
# avg(in_top5) excludes its worst case and OVERSTATES recall (59 rows
# at sf0.01, not 6 families x 10 queries = 60; the gap was
# single-bucket LSH's singleton-bucket query). The gate emits the
# full (family, qid) grid with misses carried as ann_neighbor NULL /
# in_top5 0. Both sides derive the grid from the
# SAME _FAMILIES table and the SAME query-set literal (vec_id <
# N_QUERIES — the constant that also parameterizes the brute side and
# every probe), so they cannot drift; deriving qids from the literal
# instead of `SELECT DISTINCT qid FROM brute` keeps the gate from
# executing the brute-force top-k subtree a second time just to
# extract 10 ids (two differently-projected broadcasts of one lineage
# are separate exchanges Spark cannot reuse).
_RECALL_MISS_ORACLE = f"""
    WITH brute AS ({_COSINE_TOPK_ORACLE}),
    fams AS (
        {" UNION ALL ".join(
            f"SELECT '{fam}' AS family, qid, neighbor_id, "
            f"{score} AS ann_score FROM ({sql})"
            for fam, _fn, sql, score in _FAMILIES
        )}
    ),
    grid AS (
        SELECT fam.family, q.qid
        FROM (VALUES {", ".join(f"('{fam}')" for fam, *_ in _FAMILIES)})
             AS fam(family)
        CROSS JOIN (SELECT vec_id AS qid FROM embeddings
                    WHERE vec_id < {N_QUERIES}) q
    )
    SELECT g.family, g.qid, f.neighbor_id AS ann_neighbor, f.ann_score,
           b.rank AS brute_rank,
           CASE WHEN b.rank IS NOT NULL THEN 1 ELSE 0 END AS in_top5
    FROM grid g
    LEFT JOIN fams f
           ON f.family = g.family AND f.qid = g.qid
    LEFT JOIN brute b
           ON b.qid = f.qid AND b.neighbor_id = f.neighbor_id
    """


@query("ann_family_recall_eval", oracle=_RECALL_MISS_ORACLE)
def ann_family_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified ANN quality harness: for each (family, query), the
    family's top-1 neighbor and whether it lands inside the exact
    brute-force top-5 — six probe configurations (LSH, multiprobe
    LSH, IVF nprobe 1 and 2, PQ-ADC, IVFPQ), one hash-checked row set,
    with miss rows made explicit: every (family, query) pair gets a
    row, a family that found no candidate for a query carrying
    ``ann_neighbor`` NULL / ``in_top5`` 0 — so per-family recall
    averages over ALL queries, misses included (the round-13 swap of
    the pre-r13 silent-gap shape; see the oracle comment above).

    Each branch reuses its probe function unchanged, so the certified
    values ARE the standalone probes' answers; the only work beyond
    the probes is a cross join of two control-plane-sized frames
    (|families| x |queries| = 60 rows — a 6-row literal by the 10-row
    pushed-filter query scan, not a re-execution of any probe or of
    the brute pass) the answers left-join onto."""
    brute = cosine_topk(spark, sf_dir).select(
        "qid", F.col("neighbor_id").alias("ann_neighbor"), "rank"
    )
    fams = None
    for fam, fn, _sql, score in _FAMILIES:
        branch = fn(spark, sf_dir).select(
            F.lit(fam).alias("family"),
            "qid",
            F.col("neighbor_id").alias("ann_neighbor"),
            F.col(score).alias("ann_score"),
        )
        fams = branch if fams is None else fams.unionByName(branch)
    # The qid side is the 10-row query scan itself (the same
    # vec_id < N_QUERIES literal the brute side and every probe are
    # built from — a pushed parquet filter, NOT a second execution of
    # the brute top-k lineage), hinted broadcast so the cross join
    # plans as a BroadcastNestedLoopJoin over bounded rows (the
    # documented allowlisted shape) instead of a CartesianProduct,
    # which the registry-wide scale sweep forbids outright
    # (tests/test_plans.py contract 2).
    grid = (
        spark.createDataFrame(
            [(fam,) for fam, *_ in _FAMILIES], "family string"
        )
        .crossJoin(
            F.broadcast(
                table(spark, sf_dir, "embeddings")
                .filter(F.col("vec_id") < N_QUERIES)
                .select(F.col("vec_id").alias("qid"))
            )
        )
    )
    return (
        grid.join(fams, ["family", "qid"], "left")
        .join(F.broadcast(brute), ["qid", "ann_neighbor"], "left")
        .select(
            "family",
            "qid",
            "ann_neighbor",
            "ann_score",
            F.col("rank").alias("brute_rank"),
            F.when(F.col("rank").isNotNull(), 1).otherwise(0).alias("in_top5"),
        )
    )
