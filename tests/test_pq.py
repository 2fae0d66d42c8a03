"""Product quantization (llm/pq.py): code assignment semantics on
synthetic geometry and the ADC ranking. End-to-end value correctness
is the DuckDB oracle's job (tools/check.py — all three PQ queries
hash-checked); here we pin the properties the oracle can't isolate.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from go_http_data_pipeline_spark.llm import pq


def _codebook(spark, rows):
    """rows: (code, embedding 64-d). Sliced per subspace like
    pq._codebook but from synthetic vectors."""
    subs = F.array(*[F.lit(s) for s in range(pq.M_SUBSPACES)])
    return (
        spark.createDataFrame(rows, "code long, embedding array<float>")
        .select("code", "embedding", F.explode(subs).alias("sub"))
        .select(
            "sub",
            "code",
            F.expr(
                f"slice(embedding, sub * {pq.D_SUB} + 1, {pq.D_SUB})"
            ).alias("c_sub"),
        )
    )


def _vec(fill, spike_sub=None, spike_val=None):
    """64-d vector of ``fill``; optionally one subspace overwritten."""
    v = [fill] * 64
    if spike_sub is not None:
        for i in range(pq.D_SUB):
            v[spike_sub * pq.D_SUB + i] = spike_val
    return v


def test_assign_picks_per_subspace_independently(spark):
    """A vector near codeword 0 in three subspaces and near codeword 1
    in the spiked one gets mixed codes — the property that makes PQ's
    effective vocabulary K^M, not K."""
    cb = _codebook(spark, [(0, _vec(0.1)), (1, _vec(0.4))])
    corpus = spark.createDataFrame(
        [(7, _vec(0.11, spike_sub=2, spike_val=0.39))],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r.sub, r.code)
        for r in pq.pq_assign(corpus, cb).select("sub", "code").collect()
    }
    assert got == {
        (s, 1 if s == 2 else 0) for s in range(pq.M_SUBSPACES)
    }


def test_assign_tie_breaks_to_smaller_code(spark):
    """Two identical codewords: the assignment is deterministic (the
    smaller code id), which is what keeps codes hash-stable across
    engines and partitionings."""
    cb = _codebook(spark, [(3, _vec(0.2)), (5, _vec(0.2))])
    corpus = spark.createDataFrame(
        [(1, _vec(0.25))], "vec_id long, embedding array<float>"
    )
    codes = pq.pq_assign(corpus, cb).select("code").distinct().collect()
    assert [r.code for r in codes] == [3]


def test_exact_codeword_match_has_zero_distortion(spark):
    """A corpus vector equal to a codeword reports sq_dist 0 in every
    subspace — the calibration signal's fixed point."""
    cb = _codebook(spark, [(0, _vec(0.1)), (1, _vec(0.4))])
    corpus = spark.createDataFrame(
        [(9, _vec(0.4))], "vec_id long, embedding array<float>"
    )
    rows = pq.pq_assign(corpus, cb).collect()
    assert len(rows) == pq.M_SUBSPACES
    assert all(r.code == 1 and r.d2 == 0 for r in rows)


def test_lloyd_refinement_never_increases_distortion(spark, sf_dir):
    """Total squared quantization error under the TRAINED codebook
    must be <= under the seed codebook (Lloyd monotonicity: the
    M-step minimizes within-cluster SSE, the re-assignment can only
    improve each row further) — the property that makes the one-step
    refinement worth shipping, on the real fixture."""
    from pyspark.sql import functions as F

    from go_http_data_pipeline_spark.catalog import table

    emb = table(spark, str(sf_dir), "embeddings")
    seed_sse = (
        pq.pq_assign(emb, pq._seed_codebook(spark, str(sf_dir)))
        .agg(F.sum("d2"))
        .collect()[0][0]
    )
    trained_sse = (
        pq.pq_assign(
            emb,
            pq.trained_codebook(spark, str(sf_dir)),
            int_codebook=True,
        )
        .agg(F.sum("d2"))
        .collect()[0][0]
    )
    assert trained_sse <= seed_sse
    # and strictly better on this corpus (the seeds were measured
    # useless; equality would mean the training did nothing)
    assert trained_sse < seed_sse


def test_ivf_pq_neighbor_is_in_query_cell(spark, sf_dir):
    """The composite's pruning contract: every reported neighbor
    shares the query's IVF cell (the probe never scored anything
    else), and the reported cid IS the query's cell id."""
    from go_http_data_pipeline_spark.llm.similarity import ivf_assign_cached

    assign = {r.vec_id: r.cid for r in ivf_assign_cached(spark, sf_dir).collect()}
    rows = pq.ivf_pq_ann_top1(spark, sf_dir).collect()
    assert rows, "composite returned no neighbors"
    for r in rows:
        assert r.cid == assign[r.qid]
        assert assign[r.neighbor_id] == r.cid


def test_ivf_pq_agrees_with_raw_pq_when_pq_top1_is_in_cell(spark, sf_dir):
    """Where corpus-wide PQ's winner already lives in the query's
    cell, cell restriction cannot change the answer: the composite
    must report the same neighbor and the same approx_cosine (the
    scoring arithmetic is shared, only the candidate set shrinks)."""
    from go_http_data_pipeline_spark.llm.similarity import ivf_assign_cached

    assign = {r.vec_id: r.cid for r in ivf_assign_cached(spark, sf_dir).collect()}
    raw = {r.qid: r for r in pq.pq_ann_top1(spark, sf_dir).collect()}
    comp = {r.qid: r for r in pq.ivf_pq_ann_top1(spark, sf_dir).collect()}
    agree = 0
    for qid, r in raw.items():
        if assign[r.neighbor_id] == assign[qid]:
            assert comp[qid].neighbor_id == r.neighbor_id
            assert comp[qid].approx_cosine == r.approx_cosine
            agree += 1
    assert agree > 0, "fixture degenerate: no PQ winner in its query's cell"


def test_ivf_pq_probe_plan_is_broadcast_only(spark, sf_dir):
    """The probe-side joins (LUT/cn2/q_norms, all control-plane
    size) are broadcast-hash and nothing is a cartesian product. The
    one non-broadcast join allowed is codes x cell-assignment — the
    index-tagging join that bucketed-by-cid storage replaces on a
    cluster."""
    plan = pq.ivf_pq_ann_top1(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_wide_adc_probe_equals_long_form(spark, sf_dir):
    """The wide-layout probe is a pure re-shape: identical rows
    (neighbor AND score) to the long form that mirrors the SQL
    oracle — the two can never drift because they share the trained
    codebook, the code assignment cache, and the ranking rule."""
    long_rows = sorted(map(tuple, pq.pq_ann_top1(spark, sf_dir).collect()))
    wide_rows = sorted(
        map(tuple, pq.pq_ann_top1_wide(spark, sf_dir).collect())
    )
    assert wide_rows == long_rows


def test_wide_adc_probe_has_single_query_sized_exchange(spark, sf_dir):
    """The wide probe's scale contract: after the index is built, the
    probe plan moves NO corpus-sized data — the only exchange in the
    PROBE section (the plan above the cached index's embedded build
    lineage) is the per-query partial max on qid (<= |queries| rows
    per upstream partition), the LUT join is a broadcast nested loop
    over a 10-row LOCAL table (never a parquet scan), and the corpus
    side reads straight from the persisted wide index."""
    import re

    from go_http_data_pipeline_spark.plans.inspect import (
        plan_str,
        unbounded_nested_loops,
    )

    pq._codes_wide_cached(spark, sf_dir).count()  # build the index first
    df = pq.pq_ann_top1_wide(spark, sf_dir)
    plan = plan_str(df, "simple")
    assert "InMemoryTableScan" in plan  # probe reads the built index
    # Probe section = everything above the cached index's stored
    # build plan (the InMemoryRelation subtree is index-BUILD cost,
    # paid once, not probe cost).
    probe = plan.split("InMemoryRelation", 1)[0]
    shuffles = re.findall(
        r"Exchange (?:hash|range)partitioning\([^)]*\)", probe
    )
    assert len(shuffles) == 1, shuffles
    assert "qid" in shuffles[0]
    assert "CartesianProduct" not in plan
    assert unbounded_nested_loops(df) == []


def test_wide_codes_are_dense_and_complete(spark, sf_dir):
    """Every corpus vector gets exactly M dense code indexes, each a
    valid position in the LUT arrays (0 <= cidx < K) and consistent
    with the long-form assignment under the sorted-code-id rank."""
    code_ids = sorted(
        r.code
        for r in pq.trained_codebook(spark, sf_dir)
        .select("code")
        .distinct()
        .collect()
    )
    dense = {c: i for i, c in enumerate(code_ids)}
    wide = {r.vec_id: r.cidx for r in pq._codes_wide_cached(spark, sf_dir).collect()}
    long_codes = pq._codes_cached(spark, sf_dir).collect()
    assert all(len(v) == pq.M_SUBSPACES for v in wide.values())
    for r in long_codes:
        assert wide[r.vec_id][r.sub] == dense[r.code]


def test_wide_probe_reads_only_the_codes_bytes(spark, sf_dir, tmp_path):
    """The headline 100 TB claim, pinned on EXECUTED input metrics
    (VERDICT r9 item 4): with the wide codes materialized as the
    deployment's parquet table, the probe's corpus side scans ONLY
    that table — 16 small ints per vector — while every raw-float
    scan carries the query-side pushed bound (vec_id < N_QUERIES),
    i.e. at scale the floats are never read for the corpus.

    Three facts from the scan nodes after a real collect():
    1. exactly one scan roots at the codes table; the whole corpus
       flows out of it (numOutputRows == corpus), and its filesSize
       equals the codes parquet bytes on disk;
    2. every embeddings scan has PushedFilters LessThan(vec_id, 10)
       — the broadcast LUT build's bounded query reads (row-group /
       file skipping applies at scale; the one-row-group fixture
       can't show it in numOutputRows);
    3. the probe's corpus input is a fraction of the raw floats
       (measured ~22x smaller at this fixture; asserted < 1/4)."""
    import os

    from go_http_data_pipeline_spark.llm.pq import (
        N_QUERIES,
        _codes_wide_cached,
        adc_probe_wide,
    )
    from go_http_data_pipeline_spark.plans.inspect import scan_audit

    codes_path = str(tmp_path / "codes.parquet")
    _codes_wide_cached(spark, sf_dir).coalesce(1).write.mode(
        "overwrite"
    ).parquet(codes_path)
    probe = adc_probe_wide(spark, sf_dir, spark.read.parquet(codes_path))
    # collect() (not count()) so the inspected queryExecution is the
    # plan that actually ran — count() executes a pruned derivative
    # and leaves probe's own scan metrics at zero.
    assert len(probe.collect()) == N_QUERIES

    audit = scan_audit(probe, codes_path)
    codes_scans, float_scans = audit["corpus"], audit["other"]
    assert len(codes_scans) == 1, audit
    assert all(
        s["location"].endswith("embeddings.parquet") for s in float_scans
    ), audit

    corpus_rows = spark.read.parquet(codes_path).count()
    cm = codes_scans[0]["metrics"]
    assert cm["numOutputRows"] == corpus_rows
    assert cm["filesSize"] == audit["corpus_bytes_on_disk"]
    assert "cidx" in codes_scans[0]["metadata"].get("ReadSchema", "")

    emb_bytes = os.path.getsize(f"{sf_dir}/embeddings.parquet")
    # Since the r15 LUT memoization the probe itself reads NO raw
    # floats at all — the per-(session, fixture) query LUT is served
    # from its persisted cache, so the only file scan in the executed
    # probe is the codes table (strictly stronger than the original
    # pin, which allowed bounded query-vector reads per probe).
    assert float_scans == [], audit
    assert cm["filesSize"] * 4 < emb_bytes, (cm["filesSize"], emb_bytes)

    # The bounded-read claim moves to the LUT's ONE-TIME build (the
    # un-persisted derivation behind the session memo): every
    # embeddings scan it executes carries the pushed vec_id bound —
    # at scale the raw floats are read once per query batch, never
    # per probe, and never for the corpus.
    from go_http_data_pipeline_spark import memo
    from go_http_data_pipeline_spark.llm import pq as pqmod

    # Drop (and unpersist) the session memos first: CacheManager
    # substitutes any matching subtree with the persisted relation, so
    # a fresh derivation would otherwise read the cache, not the file.
    # Later callers simply rebuild the memo on demand.
    memo.clear()
    lut, _cn2, q_norms = pqmod._build_adc_inputs(spark, sf_dir)
    for fresh in (lut, q_norms):
        assert fresh.collect()  # execute so scan metrics exist
        lut_audit = scan_audit(fresh, codes_path)
        lut_scans = [
            s
            for s in lut_audit["other"]
            if s["location"].endswith("embeddings.parquet")
        ]
        assert lut_scans, "the LUT build reads the 10 query vectors"
        for s in lut_scans:
            assert f"LessThan(vec_id,{N_QUERIES})" in s["metadata"].get(
                "PushedFilters", ""
            ), s["metadata"]
