"""``batch_queries``: timed passes over registered batch queries, SQL
analytics and LLM dedup/ANN together in one session. Each query is
fully materialized and returned to the client with ``collect()``, the
action the correctness check needs.

A run generates its fixture from the seed, then runs one first pass
(cold: catalog loads, Spark's first jobs and every LLM session memo
built on first touch, as a user pays it each run) and one warm pass,
both in the seed's query order. The run's length is set by the two
passes, not by ``--seconds``: a second warm pass did not fit the run
budget. After the timed section the warm pass's rows are compared with
each query's DuckDB oracle over the same parquet files, using
``tools/check.py``'s canonical comparison.
"""

from __future__ import annotations

import importlib.util
import statistics
import sys
import time
import traceback
from pathlib import Path

import numpy as np

from perfbench import data
from perfbench.ingest import p95

ROOT = Path(__file__).resolve().parents[1]

# One query per operator family, so that a run fits its time budget:
# aggregate, joins, window, time windows, the SQL API and the batch
# salary ETL (a mapInPandas enrichment + merge).
SQL_QUERIES = (
    "q1_pricing_summary", "revenue_by_nation", "market_share_evolution",
    "lone_late_supplier", "running_total_per_user", "sessionize_events",
    "sql_api_revenue_by_year", "salary_etl_merge",
)
# The dedup, semdedup, similarity, pq, textstats and cleaning kernels
# with the memos they build, and the Python boundary:
# cosine_topk_vectorized is the Arrow/numpy twin of cosine_topk.
LLM_QUERIES = (
    "minhash_lsh_pairs", "simhash_neardup_pairs",
    "semantic_dedup_verdicts", "cosine_topk", "cosine_topk_vectorized",
    "ivf_ann_top1", "pq_ann_top1", "tfidf_cosine_verify",
    "text_quality_scores", "pii_redaction",
)
# cosine_topk_vectorized is not in the registry; it shares the oracle.
ORACLE_OF = {"cosine_topk_vectorized": "cosine_topk"}
# Fixture scale factor per size (documents and embeddings floor at 500
# rows, so both sizes use the same LLM inputs).
SF = {"full": 0.01, "tiny": 0.001}


def _load_check():
    """``tools/check.py`` as a module, without keeping its sys.path edit."""
    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location("repo_check", ROOT / "tools" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def query_fns(names):
    import __spark_entry__ as entry
    from go_http_data_pipeline_spark.llm.similarity import cosine_topk_vectorized

    reg = {**entry.queries(), "cosine_topk_vectorized": cosine_topk_vectorized}
    return {n: reg[n] for n in names}


def oracle_sqls(names):
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    return {n: oracles.get(ORACLE_OF.get(n, n)) for n in names}


def compare(check, sdf, srows, otbl) -> list[str]:
    """Problems between a Spark result (``sdf`` gives the schema and
    column names, ``srows`` the collected rows) and its oracle table;
    an empty list is a match."""
    scols = sdf.columns
    ocols = otbl.schema.names
    orows = list(zip(*[c.to_pylist() for c in otbl.columns])) if ocols else []
    problems = []
    if len(srows) != len(orows):
        problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
    if sorted(scols) != sorted(ocols):
        problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
    else:
        drift = check.type_drift(sdf, otbl.schema)
        if drift:
            problems.append("type drift: " + "; ".join(drift))
    if not problems:
        diffs = sum(a != b for a, b in zip(check.canon(srows, scols), check.canon(orows, ocols)))
        if diffs:
            problems.append(f"{diffs}/{len(srows)} rows differ")
    return problems


def check_outputs(r, results, sf_dir: str) -> dict[str, list[str]]:
    """Compare each query's collected result, ``results[name] =
    (DataFrame, rows)``, with its oracle; a missing result (the query
    raised) is a failure. Queries without an oracle are checked for row
    count (collect vs ``count()``)."""
    import duckdb

    check = _load_check()
    oracles = oracle_sqls(results)
    con = duckdb.connect()
    try:
        for t in check.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        bad = {}
        for name, result in results.items():
            if result is None:
                bad[name] = ["raised"]
                continue
            sdf, srows = result
            if oracles[name] is None:
                n = sdf.count()
                problems = [] if n == len(srows) else [f"count {n} != {len(srows)} rows"]
            else:
                with r.tracer.span("check.oracle"):
                    otbl = con.execute(oracles[name]).arrow()
                with r.tracer.span("check.compare"):
                    problems = compare(check, sdf, srows, otbl)
            if problems:
                bad[name] = problems
        return bad
    finally:
        con.close()


def _timed_pass(r, fns, order, sf_dir, times, phases, errors) -> dict:
    """One pass over ``order``: each query built and collected. Appends
    each query's (host-corrected, wall) seconds to ``times[name]`` and,
    traced, its
    build/plan/collect seconds to ``phases[name]``; counts raised
    queries in ``errors[name]``. Returns ``{name: (DataFrame, rows)}``,
    ``None`` for a query that raised."""
    tr = r.tracer
    results = {}
    for name in order:
        t0 = r.clock.mark()
        results[name] = None
        try:
            with tr.span(f"query.{name}"):
                t = [time.perf_counter()]
                with tr.span("build"):
                    df = fns[name](r.spark, sf_dir)
                t.append(time.perf_counter())
                if r.trace:
                    with tr.span("plan"):
                        df._jdf.queryExecution().executedPlan()
                t.append(time.perf_counter())
                with tr.span("collect"):
                    results[name] = (df, df.collect())
                t.append(time.perf_counter())
        except Exception:
            traceback.print_exc(file=sys.stderr)
            errors[name] += 1
        t1 = r.clock.mark()
        times[name].append((r.clock.length(t0, t1), t1 - t0))
        if r.trace and results[name] is not None:
            phases[name].append(np.diff(t))
    return results


def _build_memos(r, sf_dir: str) -> None:
    """Traced run only: build the LLM session memos the queries read,
    eagerly and one span each, so the first pass that follows times the
    kernels alone. ``dedup.component_labels_cached`` is left out: none
    of the benchmark's queries reads it, so the first pass never pays it."""
    from go_http_data_pipeline_spark.llm import dedup, pq, similarity

    groups = {
        "llm.dedup.memo_build": [
            dedup.shingles_cached, dedup.lsh_bands_cached, dedup.simhash_fingerprints_cached,
        ],
        "llm.pq.memo_build": [pq.warm_probe_memos],
        "llm.similarity.memo_build": [similarity.warm_ann_memos],
    }
    for group, builders in groups.items():
        t0 = time.perf_counter()
        with r.tracer.span(group):
            for build in builders:
                with r.tracer.span(build.__name__):
                    out = build(r.spark, sf_dir)
                    if out is not None:  # a memoized DataFrame: materialize it
                        out.count()
        r.metrics[f"{group}_s"] = time.perf_counter() - t0


def run(r) -> None:
    """Set up, run the first pass and the warm pass, check the warm
    pass's rows and record the metrics."""
    names = SQL_QUERIES + LLM_QUERIES
    sf = SF[r.size]
    sf_dir = str(r.work / "fixture")
    fixture = {}
    r.setup(lambda: fixture.update(data.write_fixture(sf_dir, r.seed, sf)))
    fns = query_fns(names)
    order = [names[i] for i in np.random.default_rng(r.seed).permutation(len(names))]
    times = {n: [] for n in names}
    phases = {n: [] for n in names}
    errors = {n: 0 for n in names}

    t_first = r.clock.mark()
    if r.trace:
        from go_http_data_pipeline_spark import catalog

        t0 = time.perf_counter()
        with r.tracer.span("catalog.load_tables"):
            catalog.load_tables(r.spark, sf_dir)
        r.metrics["catalog.load_tables_s"] = time.perf_counter() - t0
        _build_memos(r, sf_dir)
    with r.tracer.span("pass.first"):
        t0 = r.clock.mark()
        _timed_pass(r, fns, order, sf_dir, times, phases, errors)
        t1 = r.clock.mark()
    first, first_wall = r.clock.length(t0, t1), t1 - t0
    first_total = r.clock.length(t_first, t1)
    with r.tracer.span("pass.warm"):
        results = _timed_pass(r, fns, order, sf_dir, times, phases, errors)
    warm = {n: times[n][1][0] for n in names}
    warm_wall = {n: times[n][1][1] for n in names}

    with r.tracer.span("check"):
        bad = check_outputs(r, results, sf_dir)
    for name, problems in bad.items():
        print(f"check failed: {name}: {'; '.join(problems)}", file=sys.stderr)
    # A query whose output is wrong failed every time it ran.
    r.attempted = sum(len(times[n]) for n in names)
    r.failed = sum(len(times[n]) if n in bad else errors[n] for n in names)

    m = r.metrics
    m["first_pass_s"] = first
    m["pass_s"] = sum(warm.values())
    m["latency_p50_s"] = statistics.median(warm.values())
    m["latency_p95_s"] = p95(warm.values())
    r.walls.update({
        "first_pass_s": first_wall,
        "pass_s": sum(warm_wall.values()),
        "latency_p50_s": statistics.median(warm_wall.values()),
        "latency_p95_s": p95(warm_wall.values()),
    })
    m["trace.first_pass_s"] = first_total
    m["trace.pass_s"] = m["pass_s"]
    r.info.update({
        "sf": sf, "fixture_rows": fixture, "order": order, "failed_checks": bad,
        "query_s": times,
    })
    for n in SQL_QUERIES:
        if phases[n]:  # traced and the query did not raise
            for part, secs in zip(("build", "plan", "collect"), phases[n][-1]):
                m[f"sql.{n}.{part}_s"] = secs
    for n in LLM_QUERIES:
        m[f"llm.{n}.cold_s"] = times[n][0][0]
        m[f"llm.{n}.warm_s"] = warm[n]
