"""Unit tests for the LLM-pipeline operators on hand-built inputs —
exact expected outputs, independent of the fixture tables."""

from __future__ import annotations

from pyspark.sql import functions as F

from go_http_data_pipeline_spark.llm.textstats import _score_lang


def test_language_id_scoring():
    assert _score_lang("the cat and the hat is in that house") == "en"
    assert _score_lang("el que la de los") == "es"
    assert _score_lang("xyzzy plugh") == "und"
    # Tie → lexicographically first language code.
    assert _score_lang("the el") == "en"


def test_dedup_exact_keeps_min_doc_id(spark, sf_dir):
    from go_http_data_pipeline_spark.llm.dedup import dedup_exact

    out = dedup_exact(spark, sf_dir)
    # Every group's representative is its minimum doc_id; group sizes
    # sum back to the corpus size.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert out.agg(F.sum("n_copies")).first()[0] == docs.count()
    assert out.filter(F.col("n_copies") < 1).count() == 0


def test_shingles_exact(spark):
    from go_http_data_pipeline_spark.llm.dedup import shingles as mk

    # Build a one-doc frame shaped like documents and monkey-run the
    # transform expression directly.
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    sh = df.select(
        "doc_id", F.split("text", " ").alias("toks")
    ).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(toks) - 2),"
                    " i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))"
                )
            )
        ).alias("shingle"),
    )
    assert {r.shingle for r in sh.collect()} == {"a b c", "b c d"}


def test_minhash_similar_docs_collide(spark):
    # Two near-identical docs must share all 4 band signatures; an
    # unrelated doc must share none with them.
    from go_http_data_pipeline_spark.llm import dedup

    text_a = " ".join(f"w{i}" for i in range(30))
    text_b = " ".join(f"w{i}" for i in range(29)) + " zz"  # 1-token diff
    text_c = " ".join(f"q{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, text_a), (2, text_b), (3, text_c)], "doc_id long, text string"
    )
    sh = df.select("doc_id", F.split("text", " ").alias("toks")).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(toks) - 2),"
                    " i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))"
                )
            )
        ).alias("shingle"),
    ).select(
        "doc_id",
        # same hash projection shingles() applies (minhash input domain)
        (
            F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long")
            % dedup.P
        ).alias("h"),
    )
    bands = dedup.lsh_bands(sh)
    a = {(r.band, r.sig) for r in bands.filter("doc_id = 1").collect()}
    b = {(r.band, r.sig) for r in bands.filter("doc_id = 2").collect()}
    c = {(r.band, r.sig) for r in bands.filter("doc_id = 3").collect()}
    assert a & b, "near-identical docs should collide in >=1 band"
    assert not (a & c) and not (b & c)


def test_simhash_neardup_pigeonhole_guarantee(spark, sf_dir):
    # The operator is EXACT for Hamming<=1: every such pair leaves one
    # 16-bit half untouched, so the half-collision join finds it, and
    # the verify filter keeps nothing farther than 1 bit.
    from go_http_data_pipeline_spark.llm.dedup import (
        simhash_fingerprints,
        simhash_neardup_pairs,
    )

    pairs = simhash_neardup_pairs(spark, sf_dir)
    assert pairs.filter(
        (F.col("hamming") > 1) | (F.col("doc_a") >= F.col("doc_b"))
    ).count() == 0

    fp = simhash_fingerprints(spark, sf_dir)
    a = fp.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"))
    b = fp.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"))
    close = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= 1)
    )
    missed = close.join(pairs, ["doc_a", "doc_b"], "left_anti")
    assert missed.count() == 0


def test_cosine_topk_self_similarity_excluded(spark, sf_dir):
    from go_http_data_pipeline_spark.llm.similarity import cosine_topk

    out = cosine_topk(spark, sf_dir)
    assert out.filter(F.col("qid") == F.col("neighbor_id")).count() == 0
    # Exactly 5 neighbors per query, ranks 1..5.
    per_q = out.groupBy("qid").count().collect()
    assert all(r["count"] == 5 for r in per_q)
    assert out.agg(F.min("rank"), F.max("rank")).first() == (1, 5)


def test_media_features_pinned(spark, sf_dir):
    from pyspark.sql import functions as F

    from go_http_data_pipeline_spark.llm.multimodal import media_features

    out = media_features(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    joined = out.join(docs, "doc_id").filter(
        F.col("n_samples") != F.octet_length(F.encode("text", "UTF-8"))
    )
    # 'decoded' sample count == payload byte length, for every row.
    assert joined.count() == 0
    row = out.orderBy("doc_id").first()
    text = docs.orderBy("doc_id").first().text.encode()
    import numpy as np

    arr = np.frombuffer(text, dtype=np.uint8)
    assert row.n_samples == arr.size
    assert row.mean_byte == float(arr.mean())
    assert (row.min_byte, row.max_byte) == (int(arr.min()), int(arr.max()))


def test_fake_decode_unknown_type_raises():
    import pytest

    from go_http_data_pipeline_spark.llm.multimodal import _fake_decode

    with pytest.raises(NotImplementedError):
        _fake_decode(b"xx", "application/pdf")


def test_frame_sample_shape(spark, sf_dir):
    from pyspark.sql import functions as F

    from go_http_data_pipeline_spark.llm.multimodal import (
        frame_sample,
        media_table,
    )

    media = media_table(spark, sf_dir)
    frames = frame_sample(media, every_n=50)
    assert frames.columns == ["doc_id", "n_frames", "frames"]
    # frames length == n_frames EXACTLY — including zero frames for
    # sub-stride payloads (the old greatest(n, 1) tolerated a phantom
    # frame that n_frames said did not exist).
    bad = frames.filter(F.size("frames") != F.col("n_frames"))
    assert bad.count() == 0
    # Only video payloads are sampled.
    assert frames.join(media, "doc_id").filter(
        F.col("media_type") != "video/mp4"
    ).count() == 0


def _tmp_docs(spark, tmp_path, texts):
    """Write crafted rows as a documents.parquet fixture clone."""
    rows = [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def test_doc_chunks_exact(spark, tmp_path):
    from go_http_data_pipeline_spark.llm.chunking import doc_chunks

    toks40 = [f"t{i}" for i in range(40)]
    toks10 = [f"u{i}" for i in range(10)]
    d = _tmp_docs(spark, tmp_path, [" ".join(toks40), " ".join(toks10)])
    out = {
        (r.doc_id, r.chunk_idx): r for r in doc_chunks(spark, d).collect()
    }
    # 40 tokens -> chunks at 0 (32 toks) and 24 (16 toks); 10 tokens ->
    # single chunk of all 10.
    assert set(out) == {(0, 0), (0, 1), (1, 0)}
    assert out[(0, 0)].chunk_text == " ".join(toks40[:32])
    assert (out[(0, 1)].start_tok, out[(0, 1)].chunk_tokens) == (24, 16)
    assert out[(0, 1)].chunk_text == " ".join(toks40[24:40])
    assert out[(1, 0)].chunk_text == " ".join(toks10)


def test_doc_chunks_cover_corpus(spark, sf_dir):
    from pyspark.sql import functions as F

    from go_http_data_pipeline_spark.llm.chunking import doc_chunks

    out = doc_chunks(spark, sf_dir)
    # chunk_text really holds chunk_tokens tokens, and per doc the
    # last chunk ends exactly at the token count (full coverage —
    # stride < chunk means no gaps are possible).
    assert out.filter(
        F.size(F.split("chunk_text", " ")) != F.col("chunk_tokens")
    ).count() == 0
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.size(F.split("text", " ")).alias("n")
    )
    ends = out.groupBy("doc_id").agg(
        F.max(F.col("start_tok") + F.col("chunk_tokens")).alias("covered")
    )
    assert ends.join(docs, "doc_id").filter(
        F.col("covered") != F.col("n")
    ).count() == 0


def test_winnowing_differential_python(spark, tmp_path):
    """Exact differential against an independent pure-Python winnower."""
    import hashlib

    from go_http_data_pipeline_spark.llm.chunking import (
        _K,
        _POS_RADIX,
        _W,
        winnowing_fingerprints,
    )
    from go_http_data_pipeline_spark.determinism import MERSENNE31 as P

    toks = [f"w{i % 7}x{i % 5}" for i in range(20)]  # some repeated grams
    d = _tmp_docs(spark, tmp_path, [" ".join(toks)])

    def h(gram: str) -> int:
        return int(hashlib.md5(gram.encode()).hexdigest()[:8], 16) % P

    n_grams = len(toks) - (_K - 1)
    keys = {
        pos: h(" ".join(toks[pos - 1 : pos - 1 + _K])) * _POS_RADIX
        + (_POS_RADIX - 1 - pos)
        for pos in range(1, n_grams + 1)
    }
    expected = set()
    for w_id in range(_W, n_grams + 1):
        sel = min(keys[p] for p in range(w_id - _W + 1, w_id + 1))
        expected.add((_POS_RADIX - 1 - sel % _POS_RADIX, sel // _POS_RADIX))
    got = {
        (r.pos, r.fingerprint)
        for r in winnowing_fingerprints(spark, d).collect()
    }
    assert got == expected


def test_winnowing_shared_run_guarantee(spark, tmp_path):
    """Two docs sharing a run of >= W+K-1 tokens share a fingerprint."""
    from go_http_data_pipeline_spark.llm.chunking import (
        _K,
        _W,
        winnowing_fingerprints,
    )

    shared = [f"s{i}" for i in range(_W + _K - 1)]  # 8 shared tokens
    doc_a = " ".join([f"a{i}" for i in range(6)] + shared + ["atail"])
    doc_b = " ".join(["bhead"] + shared + [f"b{i}" for i in range(8)])
    d = _tmp_docs(spark, tmp_path, [doc_a, doc_b])
    rows = winnowing_fingerprints(spark, d).collect()
    fps = {0: set(), 1: set()}
    for r in rows:
        fps[r.doc_id].add(r.fingerprint)
    assert fps[0] & fps[1], "winnowing guarantee violated"


def test_kmeans_iteration_invariants(spark, sf_dir):
    from pyspark.sql import functions as F

    from go_http_data_pipeline_spark.llm.clustering import K, kmeans_iteration

    out = kmeans_iteration(spark, sf_dir).persist()
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert out.count() == n_vecs
    assert out.select("vec_id").distinct().count() == n_vecs
    assert out.filter((F.col("cid") < 0) | (F.col("cid") >= K)).count() == 0
    assert out.filter(F.col("dist_sq") < 0).count() == 0
    # Seed vectors are their own nearest centroid in round 1 (distance 0).
    seeds = out.filter(F.col("vec_id") < K)
    assert seeds.filter(F.col("prev_cid") != F.col("vec_id")).count() == 0
    # moved is exactly the prev/new disagreement indicator.
    assert out.filter(
        (F.col("moved") == 1) != (F.col("prev_cid") != F.col("cid"))
    ).count() == 0
    out.unpersist()


def test_degenerate_docs_match_oracle(spark, tmp_path):
    """1- and 2-token documents: Spark's bare sequence(1, size-k+1)
    would fabricate descending-index n-grams ([1,0]...) where DuckDB's
    generate_series is empty — the guarded ngram_starts_sql must make
    both engines agree, including NULL dup_bigram_ratio (x/0) for a
    1-token doc instead of an ANSI divide-by-zero crash."""
    import duckdb

    from go_http_data_pipeline_spark.llm.decontam import (
        _REPETITION_ORACLE,
        repetition_scores,
    )
    from go_http_data_pipeline_spark.llm.dedup import shingles
    from go_http_data_pipeline_spark.llm.chunking import winnowing_fingerprints

    d = _tmp_docs(
        spark, tmp_path,
        ["solo", "two tokens", "three tokens here", "a b c d e f g h"],
    )
    got = {
        r.doc_id: r for r in repetition_scores(spark, d).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS FROM '{d}/documents.parquet/*.parquet'"
    )
    want = {
        r[0]: r
        for r in con.execute(_REPETITION_ORACLE).fetchall()
    }
    assert set(got) == set(want) == {0, 1, 2, 3}
    for doc_id, w in want.items():
        g = got[doc_id]
        assert (
            g.n_tokens,
            g.n_distinct_tokens,
            g.dup_token_ratio,
            g.top_token_share,
            g.dup_bigram_ratio,
        ) == (w[1], w[2], w[3], w[4], w[5])
    assert got[0].dup_bigram_ratio is None  # 1 token -> no bigrams

    # 3-gram shingles: none for <3-token docs, never bogus ones.
    sh = shingles(spark, d).select("doc_id").distinct().collect()
    assert {r.doc_id for r in sh} == {2, 3}
    # winnowing (4-grams, window 5): only the 8-token doc has a full
    # window (5 grams); shorter docs produce NO fingerprints in both
    # engines instead of descending-index garbage.
    fp = winnowing_fingerprints(spark, d)
    assert {r.doc_id for r in fp.select("doc_id").distinct().collect()} == {3}


def test_array_kernel_bands_equal_explode_kernel(spark, sf_dir, tmp_path):
    """The array-kernel band builder (lsh_bands_of_docs — the round-16
    production kernel for both the batch band cache and the streaming
    incremental indexer) must stay ROW-IDENTICAL to the definitional
    explode kernel lsh_bands(shingles_of(docs)) that mirrors the SQL
    oracle — on the real fixture AND on degenerate documents (docs
    with <3 tokens produce no shingles, hence no bands, in both)."""
    from go_http_data_pipeline_spark.llm.dedup import (
        lsh_bands,
        lsh_bands_of_docs,
        shingles_of,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = sorted(map(tuple, lsh_bands(shingles_of(docs)).collect()))
    b = sorted(map(tuple, lsh_bands_of_docs(docs).collect()))
    assert a == b and len(a) > 0

    d = _tmp_docs(
        spark, tmp_path,
        ["solo", "two tokens", "three tokens here", "a b c d e f g h"],
    )
    dd = spark.read.parquet(f"{d}/documents.parquet")
    a = sorted(map(tuple, lsh_bands(shingles_of(dd)).collect()))
    b = sorted(map(tuple, lsh_bands_of_docs(dd).collect()))
    assert a == b
    assert {r[0] for r in b} == {2, 3}  # <3-token docs emit nothing


def test_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    """Multi-probe LSH must (a) answer for at least every query the
    single-probe path answers, (b) never return a WORSE neighbor for
    a query both answer, and (c) here, resolve the singleton-bucket
    query single-probe misses."""
    from go_http_data_pipeline_spark.llm.similarity import (
        ann_lsh_multiprobe_top1,
        ann_lsh_top1,
    )

    single = {r.qid: r.cosine for r in ann_lsh_top1(spark, sf_dir).collect()}
    multi = {
        r.qid: r.cosine
        for r in ann_lsh_multiprobe_top1(spark, sf_dir).collect()
    }
    assert set(single) <= set(multi)
    for qid, cos in single.items():
        assert multi[qid] >= cos - 1e-12


def test_recall_gate_carries_explicit_miss_rows(spark, sf_dir):
    """The recall gate's full grid: every (family, qid) pair gets
    a row — a family that finds NO candidate for a query carries
    ``ann_neighbor`` NULL / ``in_top5`` 0 instead of a silent gap, so
    per-family ``avg(in_top5)`` averages over ALL queries, worst cases
    included. Pins the fixture's exact miss set (single-bucket LSH's
    two singleton-bucket queries) so BOTH regressions fail loudly: a
    coverage drop (a family going quiet on a query it used to answer —
    a NEW miss row appears) and a silent-gap reintroduction (a miss
    row lost from the grid)."""
    from go_http_data_pipeline_spark.llm.recall import (
        _FAMILIES,
        ann_family_recall_eval,
    )

    rows = ann_family_recall_eval(spark, sf_dir).collect()
    got = {(r.family, r.qid) for r in rows}
    assert len(rows) == len(got), "duplicate (family, qid) rows"
    families = {fam for fam, _fn, _sql, _score in _FAMILIES}
    assert got == {(fam, qid) for fam in families for qid in range(10)}
    misses = {(r.family, r.qid) for r in rows if r.ann_neighbor is None}
    assert misses == {("lsh", 2), ("lsh", 3)}
    for r in rows:
        if r.ann_neighbor is None:
            assert r.in_top5 == 0
            assert r.brute_rank is None and r.ann_score is None


def test_recall_gate_matches_oracle(spark, sf_dir):
    """Exact-value check of the recall gate against its DuckDB twin
    (``_RECALL_MISS_ORACLE``)."""
    import duckdb

    from go_http_data_pipeline_spark.llm.recall import (
        _RECALL_MISS_ORACLE,
        ann_family_recall_eval,
    )

    got = sorted(
        map(tuple, ann_family_recall_eval(spark, sf_dir).collect()),
        key=lambda t: (t[0], t[1]),
    )
    con = duckdb.connect()
    for t in ("embeddings", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    want = sorted(
        con.execute(_RECALL_MISS_ORACLE).fetchall(), key=lambda t: (t[0], t[1])
    )
    assert len(got) == len(want) == 60  # full grid: 6 families x 10 queries
    assert len({(g[0], g[1]) for g in got}) == 60
    for g, w in zip(got, want):
        assert g[:3] == w[:3]  # family, qid, neighbor (or NULL miss)
        assert (g[3] is None) == (w[3] is None)
        if g[3] is not None:
            assert abs(g[3] - w[3]) < 1e-9
        assert g[4] == w[4] and g[5] == w[5]


def test_recursive_cte_depth_covers_fixture_diameter(spark, sf_dir):
    """`sql_api_components_recursive` truncates its UNION-ALL walk at
    `_RECURSION_DEPTH`; its oracle truncates IDENTICALLY, so the gate
    would stay green even if the bound were too shallow for some
    cluster. This pins the bound against the CONVERGED fixpoint: the
    depth-bounded closure must assign every doc the same component
    (and keeper flag) as `dedup_components`' run-to-convergence label
    propagation over the same edge set. If a fixture ever grows a
    near-dup chain with diameter > _RECURSION_DEPTH, this fails
    loudly instead of both engines agreeing on the wrong answer."""
    from go_http_data_pipeline_spark.llm.dedup import dedup_components
    from go_http_data_pipeline_spark.operators.sqlapi import (
        sql_api_components_recursive,
    )

    fixpoint = {
        r.doc_id: (r.component_id, r.is_keeper)
        for r in dedup_components(spark, sf_dir).collect()
    }
    bounded = {
        r.doc_id: (r.component_id, r.is_keeper)
        for r in sql_api_components_recursive(spark, sf_dir).collect()
    }
    assert bounded == fixpoint
