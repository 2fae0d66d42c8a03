"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Runs each headline query (plan + execute) on a
local[$SPARK_GRAFT_CPUS] session and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

The headline set spans the engine's surface: TPC-H-style scan/agg,
multi-join + broadcast, window functions, event-time windows, and the
LLM-pipeline ops (dedup, MinHash-LSH, cosine top-k). Each query is
timed through ``df.count()`` only, which lets Catalyst prune columns
the count does not need, so a time here can understate the cost of
the full result. ``perfbench/run.py`` times fully collected results.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = (
    "q1_pricing_summary",       # scan-heavy hash agg on lineitem
    "revenue_by_nation",        # 4-way join (broadcast dims) + agg
    "top_revenue_orders",       # join + agg + top-k
    "market_share_evolution",   # 6+-way join, window over years (if present)
    "running_total_per_user",   # window functions over events
    "tumbling_window_counts",   # event-time windows
    "asof_purchase_signup",     # as-of join
    "volume_shipping",          # fact-fact join + disjunctive nation pair
    "min_price_supplier_per_part",  # correlated-MIN rewrite (agg + window)
    "important_parts_value",    # global-scalar broadcast threshold
    "late_order_priority",      # EXISTS -> residual semi-join (Q4 shape)
    "lone_late_supplier",       # double-correlation -> windowed one-pass (Q21)
    "sessionize_events",        # gap-based sessionization (lag + running sum)
    "price_band_density",       # RANGE-frame window (value-based banding)
    "sql_api_revenue_by_year",  # SQL front door (portable ANSI text)
    "dedup_exact",              # exact dedup on documents
    "simhash_neardup_pairs",    # pigeonhole half-collision + Hamming verify
    "embedding_neardup_pairs",  # all-pairs cosine (broadcast matmul)
    "minhash_lsh_pairs",        # MinHash band-LSH near-dup (if present)
    "ngram_jaccard_pairs",      # n-gram Jaccard verify path
    "cosine_topk",              # brute-force ANN baseline (JVM codegen)
    "cosine_topk_vectorized",   # same oracle, Arrow+numpy matmul path
    "ann_lsh_top1",             # bucketed ANN scale path
    "ivf_ann_top1",             # cluster-pruning ANN (cell-local probe)
    "pq_ann_top1",              # product-quantization ADC probe
    "pq_ann_top1_wide",         # wide-layout ADC (no corpus shuffle)
    "ivf_pq_ann_top1",          # IVF cell pruning x PQ codes (IVFPQ)
    "text_quality_scores",      # text analysis sweep
    "doc_chunks",               # token-window chunking (zero-shuffle map)
    "winnowing_fingerprints",   # per-doc winnowing in codegen (zero-shuffle)
    "kmeans_iteration",         # one exact-integer Lloyd round
    "stats_moments_profile",    # exact-integer variance/corr/regression
    "pii_redaction",            # regex scrub (zero-shuffle map)
    "stopword_stripped_docs",   # array-lambda token filter
    "stratified_sample_per_lang",  # two-phase exact-quota sampler
    "priority_sample_docs",     # weighted top-K sample (TakeOrdered)
    "sequence_packing",         # per-shard prefix-sum packing
    "embedding_dim_stats",      # per-dim exact moments over vectors
    "bigram_lang_stats",        # n-gram LM counts + top-k per lang
    "doc_keywords_tfidf",       # rational-idf keyword extraction
    "semantic_dedup_verdicts",  # cluster-bucketed near-dup keep/drop
    "token_rarity_scores",      # corpus-frequency rarity signals
    "trending_event_types",     # windowed top-k + delta-vs-previous
    "funnel_view_click_purchase",  # strict-sequence conversion funnel
    "retention_cohorts",        # weekly cohort retention matrix
    "token_budget_selection",   # two-phase budget cutoff (no global sort)
    "dup_span_coverage",        # span-level dup metric over shingle cache
    "neardup_edit_distance",    # prefix-bounded levenshtein on LSH pairs
    "quality_classifier_logits",  # hashed linear classifier in codegen
    "bpe_apply_merge",          # greedy merge application (windows)
    "dedup_keep_best_quality",  # components + quality argmax selection
    "gap_filled_daily_activity",  # calendar densify + forward fill
    "ema_event_value",          # trailing-8 EMA lag chain
    "rolling_7day_active_users",  # sliding exact-distinct via range join
    "zorder_file_stats",        # Morton-curve layout + per-file boxes
    "incremental_daily_counts",  # partial-aggregate merge maintenance
    "snapshot_diff",            # CDC full-outer table diff
    "compaction_bin_packing",   # prefix-sum file compaction plan
    "tfidf_cosine_verify",      # weighted-cosine LSH-candidate verifier
    "neardup_graph_stats",      # ordered-edge triangle counting
    "layout_skipping_eval",     # zorder-vs-linear measured spans
)


REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))


_HERE = os.path.dirname(os.path.abspath(__file__))
_LOCAL_LOG = os.path.join(_HERE, "BENCH_LOCAL.jsonl")


def _fixture_sig(sf_dir: str) -> str:
    """Content fingerprint of the fixture generation: md5 over the
    sorted (name, size) of the parquet files. The driver regenerates
    /root/testdata between rounds; when the generator's output
    actually changes, per-query costs legitimately move with the data
    (round 9: regenerated documents shifted the MinHash shingle
    volume and minhash_lsh_pairs stepped 0.87 -> 1.23 s with the code
    untouched — the digest "confirmed" a regression that was really a
    new corpus). Records from a different generation are a different
    workload: they can serve as neither baseline nor confirmation
    seed. Size-based (not mtime) so a byte-identical regeneration
    keeps history continuity."""
    import hashlib

    try:
        entries = sorted(
            (e.name, e.stat().st_size)
            for e in os.scandir(sf_dir)
            if e.name.endswith(".parquet")
        )
    except OSError:
        return "unknown"
    return hashlib.md5(repr(entries).encode()).hexdigest()[:12]


def _same_generation(rec: dict, sig: str) -> bool:
    """A record is baseline-eligible unless it PROVABLY belongs to a
    different fixture generation. Sig-less records (pre-round-9) are
    grandfathered — BENCH_LOCAL.jsonl backfills the known split."""
    rs = rec.get("fixture_sig")
    return rs is None or rs == sig


def _code_sig() -> str:
    """Content fingerprint of the query-implementing code: md5 over
    every .py under the package, path-keyed. Two bench records share
    a code_sig iff they measured the SAME plans — the unit the
    recent-median window is capped by (see MAX_SAME_CODE_RECORDS)."""
    import hashlib

    h = hashlib.md5()
    pkg = os.path.join(_HERE, "go_http_data_pipeline_spark")
    for root, dirs, files in os.walk(pkg):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                p = os.path.join(root, fn)
                h.update(os.path.relpath(p, _HERE).encode())
                try:
                    with open(p, "rb") as f:
                        h.update(f.read())
                except OSError:
                    h.update(b"?")
    return h.hexdigest()[:12]


# Bound on how many records of ONE code generation count toward the
# recent-history window (VERDICT r9 "what's wrong" item 2): without
# it, appending several same-code records in one sitting — useful for
# rebuilding history after a fixture regeneration — could fill the
# whole window, and if that sitting was steal-heavy the baseline
# median would silently ratchet toward the slow regime, hiding the
# next genuine regression. Set to MIN_BASELINE_SAMPLES - 1 so one
# code generation alone can NEVER constitute a confirming baseline:
# any median deep enough to flag (>= MIN_BASELINE_SAMPLES samples)
# provably contains at least two generations' evidence. Scanning
# newest-first keeps the most recent records of each generation;
# code_sig-less records (pre-round-10) share one grandfather bucket.
MAX_SAME_CODE_RECORDS = 3


def _prev_bench(sf: float, sig: str = "") -> dict:
    """The reference point for per-query deltas: the last full record
    in BENCH_LOCAL.jsonl **at the same scale factor** (a dev run at
    sf0.01 must not become the baseline for a driver run at sf0.1 —
    the deltas would read as ~10x regressions). The log appends one
    record per run — the driver keeps only a 2000-char tail of
    stdout, which truncated the r3/r4 per-query records to
    `"parsed": null`; the in-repo log is the durable history (VERDICT
    r4 item 3). A malformed line (e.g. a kill mid-append) is skipped,
    not fatal: older valid records still serve. Falls back to the
    newest parseable driver BENCH_r*.json."""
    try:
        with open(_LOCAL_LOG) as f:
            lines = [ln for ln in f if ln.strip()]
    except OSError:
        lines = []
    for ln in reversed(lines):
        try:
            data = json.loads(ln)
        except ValueError:
            continue
        if (
            isinstance(data.get("queries"), dict)
            and data.get("sf") == sf
            and (not sig or _same_generation(data, sig))
        ):
            data["_path"] = os.path.basename(_LOCAL_LOG)
            return data
    import glob

    paths = sorted(glob.glob(os.path.join(_HERE, "BENCH_r*.json")))
    for p in reversed(paths):
        try:
            with open(p) as f:
                data = json.load(f)
            # The driver wraps our JSON line under "parsed".
            if isinstance(data.get("parsed"), dict):
                data = data["parsed"]
            if isinstance(data.get("queries"), dict):
                data["_path"] = os.path.basename(p)
                return data
        except (OSError, ValueError):
            continue
    return {}


REGRESSION_THRESH = 1.25  # flag at >25% over the recent-history median


def _recent_benches(sf: float, k: int = 5, sig: str = "") -> list[dict]:
    """The last ``k`` same-sf, same-fixture-generation records from
    BENCH_LOCAL.jsonl, oldest first. Used for the regression baseline:
    the MEDIAN of a query's recent history, so a single low-bounce
    record (this box jitters 1.12-1.56s on the same plan, VERDICT r5
    item 5) can't make the next normal run read as a regression the
    way a last-record-only delta does. Records from a different
    fixture generation measure a different corpus and are excluded
    (see _fixture_sig). At most MAX_SAME_CODE_RECORDS of the SAME
    code generation count (newest kept), so one sitting's repeated
    records cannot fill the window and ratchet the baseline toward
    whatever regime the box was in that day."""
    try:
        with open(_LOCAL_LOG) as f:
            lines = [ln for ln in f if ln.strip()]
    except OSError:
        return []
    out: list[dict] = []
    per_code: dict[str, int] = {}
    for ln in reversed(lines):
        try:
            data = json.loads(ln)
        except ValueError:
            continue
        if (
            isinstance(data.get("queries"), dict)
            and data.get("sf") == sf
            and (not sig or _same_generation(data, sig))
        ):
            csig = data.get("code_sig") or "pre-round-10"
            if per_code.get(csig, 0) >= MAX_SAME_CODE_RECORDS:
                continue
            per_code[csig] = per_code.get(csig, 0) + 1
            out.append(data)
            if len(out) >= k:
                break
    return list(reversed(out))


# A query's flags are meaningless until its same-generation history is
# deep enough for the median to absorb this box's documented jitter
# (1.12-1.56x bounces on an unchanged plan): with 2-3 samples, two low
# bounces ARE the median and a normal run reads as a 1.28x "step"
# (round 9: lone_late_supplier "confirmed" off a 3-sample baseline
# whose first two records were 0.64/0.70 in a 0.64-1.0 scatter). After
# a fixture regeneration resets the history, the digest goes quiet for
# the first few runs instead of spraying small-sample flags.
MIN_BASELINE_SAMPLES = 4


def _median_baseline(
    recent: list[dict], min_n: int = 1
) -> dict[str, float]:
    """Per-query median time across the recent same-sf records,
    restricted to queries with at least ``min_n`` history samples."""
    hist: dict[str, list[float]] = {}
    for rec in recent:
        for name, t in rec["queries"].items():
            if t:
                hist.setdefault(name, []).append(t)
    return {
        n: sorted(ts)[len(ts) // 2]
        for n, ts in hist.items()
        if len(ts) >= min_n
    }


# A run whose MEDIAN per-query delta vs the history baseline exceeds
# this is globally slow (host CPU steal hitting every query), and its
# per-query flags describe the weather, not any plan: such a run can
# neither confirm a regression nor seed confirmation for the next run.
# The r8 digest confirmed a "regression" on a query untouched since
# round 6 because BOTH flagging runs had uniform ~1.1x median drift
# across 57 queries (VERDICT r8 item 4).
ENV_SLOW_MEDIAN = 1.05
# Second environmental signature (round 9): BURSTY host steal. A
# steal burst hits a few queries 2-4x while the rest run normally, so
# the run-level MEDIAN delta stays ~1.0 and the guard above passes —
# but the burst's cost lands in the suite TOTAL (observed: totals
# 53/71 s against a 44-46 s band with medians 1.036/1.043, and the
# two runs "confirmed" a regression on code untouched for rounds). A
# single genuine one-query regression cannot move a ~59-query total
# by >10% (even a 2x step on a 2 s query is ~+4%), so an off-band
# total says "box", not "plan".
ENV_SLOW_TOTAL = 1.10


def _qsum_ratio(times: dict[str, float], recent: list[dict]) -> float | None:
    """This run's query-time sum vs recent records' — compared over
    the INTERSECTION of query names per record, then the median of
    the per-record ratios. The registry's query set changes across
    rounds (round 10 retired five rows and added the unified recall
    gate); summing whole records would bias the ratio by the set
    difference, letting a genuinely environment-slow run slip under
    ENV_SLOW_TOTAL for the first few post-change runs. Cache-build
    excluded from both sides. None with fewer than
    MIN_BASELINE_SAMPLES comparable records — same small-sample
    discipline as the per-query baseline."""
    ratios = []
    for r in recent:
        q = r.get("queries")
        if not isinstance(q, dict):
            continue
        shared = [k for k in q if k in times and q[k] and times[k]]
        denom = sum(q[k] for k in shared)
        if denom:
            ratios.append(sum(times[k] for k in shared) / denom)
    if len(ratios) < MIN_BASELINE_SAMPLES:
        return None
    ratios.sort()
    return round(ratios[len(ratios) // 2], 3)


def _run_median_delta(
    times: dict[str, float], baseline: dict[str, float]
) -> float | None:
    """Median of per-query time/baseline ratios — the run-level drift.
    ~1.0 means the box was comparable to recent history; >>1 means the
    whole run was slow regardless of plan."""
    ds = sorted(
        times[n] / baseline[n] for n in times if baseline.get(n) and times[n]
    )
    return round(ds[len(ds) // 2], 3) if ds else None


def _confirmed_regressions(
    flagged: dict[str, float],
    run_med: float | None,
    prev_rec: dict | None,
    baseline: dict[str, float],
    qsum_ratio: float | None = None,
    prev_qsum_ratio: float | None = None,
) -> list[str]:
    """The 2-consecutive-flags rule, with the environmental guards: a
    flag confirms only when BOTH flagging runs were themselves normal
    — run-level median delta <= ENV_SLOW_MEDIAN (uniform steal) AND
    query-sum within ENV_SLOW_TOTAL of the recent-history median
    (bursty steal). Either run globally or burstily slow -> its flags
    describe the box, not the plan, and nothing confirms."""
    if run_med is not None and run_med > ENV_SLOW_MEDIAN:
        return []
    if qsum_ratio is not None and qsum_ratio > ENV_SLOW_TOTAL:
        return []
    if not prev_rec:
        return []
    pm = prev_rec.get("run_median_vs_baseline")
    if pm is None:
        pm = _run_median_delta(prev_rec.get("queries", {}), baseline)
    if pm is not None and pm > ENV_SLOW_MEDIAN:
        return []
    if prev_qsum_ratio is not None and prev_qsum_ratio > ENV_SLOW_TOTAL:
        return []
    prev_flagged = prev_rec.get("flagged_vs_median", {}) or {}
    return sorted(set(flagged) & set(prev_flagged))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0

    from go_http_data_pipeline_spark.session import get_spark

    import __spark_entry__ as e

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()
    # Retired-from-registry twin still raced every run: its registry
    # row folded away in round 10 (same oracle as cosine_topk — the
    # row certified nothing extra), but the implementation race
    # (JVM lambda folds vs Arrow+numpy matmul) stays a bench fixture.
    from go_http_data_pipeline_spark.llm.similarity import (
        cosine_topk_vectorized,
    )

    qs.setdefault("cosine_topk_vectorized", cosine_topk_vectorized)

    # Warm the JVM + parquet footer caches once so per-query numbers
    # measure the engine, not first-touch JIT.
    qs["q1_pricing_summary"](spark, sf_dir).count()

    # Build the shared dedup caches (persisted shingle table + banded
    # LSH index) as their own timed phase. These are one-time ingest
    # artifacts — on a cluster, materialized tables — and previously
    # their build cost landed on whichever dedup query ran first,
    # making that query's delta unattributable (VERDICT r3 item 6).
    #
    # The shingle table and the band index are INDEPENDENT since the
    # band cache moved to the array kernel (round 16) — they build as
    # two concurrent jobs (guide §2.6: overlap independent jobs so one
    # build's straggler tail back-fills with the other's tasks); the
    # component labels depend on the band index and run after. The
    # timed quantity is unchanged: wall-clock to materialize the three
    # dedup artifacts.
    from concurrent.futures import ThreadPoolExecutor

    from go_http_data_pipeline_spark.llm.dedup import (
        component_labels_cached,
        lsh_bands_cached,
        shingles_cached,
        simhash_fingerprints_cached,
    )

    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=2) as pool:
        fs = [
            pool.submit(lambda: shingles_cached(spark, sf_dir).count()),
            pool.submit(lambda: lsh_bands_cached(spark, sf_dir).count()),
        ]
        for f in fs:
            f.result()
    # Converged near-dup component labels: the third materialized
    # intermediate (consumed by dedup_components and the keep-best
    # selection) — iterative build cost belongs to the ingest phase.
    component_labels_cached(spark, sf_dir).count()
    cache_build = round(time.perf_counter() - t0, 3)
    print(f"# dedup_cache_build: {cache_build}s", file=sys.stderr)

    # Second timed build phase (round 16, VERDICT r15 item 2): the
    # OTHER session memos headline queries consume — simhash
    # fingerprints, the PQ codebook/codes/LUT chain, the hyperplane
    # feature table, the IVF assignment. Their one-time builds used to
    # run inside the FIRST repeat of whichever query touched them, and
    # min-of-REPEATS discarded that repeat — so the build cost appeared
    # nowhere in the headline total. It is real suite work; time it
    # like the dedup cache build. Three independent chains overlap
    # (§2.6). Additions-only: the JSON keeps every existing key and
    # gains "memo_build_sec"; the old per-query minima are unchanged
    # in meaning.
    from go_http_data_pipeline_spark.llm.pq import warm_probe_memos
    from go_http_data_pipeline_spark.llm.similarity import warm_ann_memos

    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=3) as pool:
        fs = [
            pool.submit(
                lambda: simhash_fingerprints_cached(spark, sf_dir).count()
            ),
            pool.submit(warm_probe_memos, spark, sf_dir),
            pool.submit(warm_ann_memos, spark, sf_dir),
        ]
        for f in fs:
            f.result()
    memo_build = round(time.perf_counter() - t0, 3)
    print(f"# memo_build: {memo_build}s", file=sys.stderr)

    fixture_sig = _fixture_sig(sf_dir)
    prev = _prev_bench(sf, fixture_sig)
    prev_times: dict = prev.get("queries", {})
    recent = _recent_benches(sf, sig=fixture_sig)
    baseline = _median_baseline(recent, MIN_BASELINE_SAMPLES)

    times: dict[str, float] = {}
    medians: dict[str, float] = {}
    deltas: dict[str, float] = {}
    jvm_gc = spark._jvm.java.lang.System.gc
    for name in HEADLINE:
        fn = qs.get(name)
        if fn is None:
            continue
        # JMH-style inter-iteration GC: collect the previous query's
        # garbage (broadcast blocks, shuffle buffers, codegen classes)
        # NOW so it isn't charged to whichever query allocates next —
        # in a shared local JVM that debt showed up as intermittent
        # 10-40s stalls attributed to innocent queries.
        #
        # min-of-REPEATS: this box shows host CPU steal (noisy-
        # neighbor spikes of 3-10x on CPU-parallel stages); the min of
        # the timed runs estimates the engine's actual cost, the mean
        # would mostly measure the neighbors. The median is recorded
        # alongside so min-vs-median spread quantifies that noise —
        # a large spread says "environment", a tight spread with a
        # regressed min says "plan".
        samples, n = [], 0
        for _ in range(max(1, REPEATS)):
            jvm_gc()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        times[name] = round(samples[0], 3)
        medians[name] = round(samples[len(samples) // 2], 3)
        note = ""
        if name in prev_times and prev_times[name]:
            deltas[name] = round(times[name] / prev_times[name], 3)
            note = f"  [{deltas[name]}x vs prev {prev_times[name]}s]"
        print(
            f"# {name}: {n} rows in {times[name]}s"
            f" (median {medians[name]}s){note}",
            file=sys.stderr,
        )

    # Regression discipline (VERDICT r5 item 5): a query is FLAGGED
    # when its min exceeds REGRESSION_THRESH x its median over the
    # last 5 same-sf records, and CONFIRMED only when the previous
    # record flagged it too — one noisy record (or one low-bounce
    # baseline) never surfaces as a headline regression, while a
    # genuine plan regression confirms on its second consecutive run.
    flagged = {
        n: round(times[n] / baseline[n], 3)
        for n in times
        if baseline.get(n) and times[n] / baseline[n] > REGRESSION_THRESH
    }
    run_med = _run_median_delta(times, baseline)
    if run_med is not None and run_med > ENV_SLOW_MEDIAN:
        print(
            f"# run globally slow: median delta {run_med}x vs history —"
            " per-query flags are environmental, confirmation withheld",
            file=sys.stderr,
        )
    qsum_ratio = _qsum_ratio(times, recent)
    if qsum_ratio is not None and qsum_ratio > ENV_SLOW_TOTAL:
        print(
            f"# run burstily slow: query-sum {qsum_ratio}x the recent"
            " median — per-query flags are environmental, confirmation"
            " withheld",
            file=sys.stderr,
        )
    prev_rec = recent[-1] if recent else None
    prev_qsum = None
    if prev_rec is not None:
        prev_qsum = prev_rec.get("qsum_vs_recent")
        if prev_qsum is None:
            prev_qsum = _qsum_ratio(prev_rec.get("queries", {}), recent[:-1])
    confirmed = _confirmed_regressions(
        flagged, run_med, prev_rec, baseline, qsum_ratio, prev_qsum
    )
    for n in sorted(flagged):
        tag = "CONFIRMED" if n in confirmed else "unconfirmed (1st)"
        print(
            f"# regression {tag}: {n} {times[n]}s ="
            f" {flagged[n]}x median({baseline[n]}s)",
            file=sys.stderr,
        )

    # Total includes BOTH build phases: real work the suite needs
    # (previously inside first-repeat times that min-of-N discarded),
    # attributed to their own lines now.
    total = round(sum(times.values()) + cache_build + memo_build, 3)
    full = {
        "metric": "headline_suite_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "repeats": max(1, REPEATS),
        "queries_median": medians,
        "prev_deltas": deltas,
        "flagged_vs_median": flagged,
        "run_median_vs_baseline": run_med,
        "qsum_vs_recent": qsum_ratio,
        "confirmed_regressions": confirmed,
        "fixture_sig": fixture_sig,
        "code_sig": _code_sig(),
        "dedup_cache_build_sec": cache_build,
        "memo_build_sec": memo_build,
        "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
    }
    if prev:
        full["prev_total"] = prev.get("value")
        full["prev_file"] = prev.get("_path")

    # Durable full history: the driver records only a 2000-char tail
    # of stdout, so the complete per-query record is appended here
    # (committed with the round) and the PRINTED line stays compact —
    # totals, the 10 slowest queries, and a delta digest.
    try:
        with open(_LOCAL_LOG, "a") as f:
            f.write(json.dumps(full) + "\n")
    except OSError as exc:  # read-only checkout: still print
        print(f"# BENCH_LOCAL.jsonl append failed: {exc}", file=sys.stderr)

    top10 = dict(
        sorted(times.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    dvals = sorted(deltas.values())
    delta_digest = (
        {
            "n": len(dvals),
            "median": dvals[len(dvals) // 2],
            "max": max(deltas.items(), key=lambda kv: kv[1]),
            "min": min(deltas.items(), key=lambda kv: kv[1]),
        }
        if dvals
        else {}
    )
    out = {
        "metric": "headline_suite_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": top10,
        "sf": sf,
        "repeats": max(1, REPEATS),
        "n_queries": len(times),
        "deltas_vs_prev": delta_digest,
        "confirmed_regressions": confirmed,
        "dedup_cache_build_sec": cache_build,
        "memo_build_sec": memo_build,
        "full_record": "BENCH_LOCAL.jsonl",
    }
    if prev:
        out["prev_total"] = prev.get("value")
        out["prev_file"] = prev.get("_path")
    line = json.dumps(out)
    if len(line) > 1500:  # hard cap: the driver tail must keep it whole
        out.pop("deltas_vs_prev", None)
        out["queries"] = dict(list(top10.items())[:5])
        line = json.dumps(out)
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
