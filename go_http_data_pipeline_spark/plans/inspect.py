"""Physical-plan inspection utilities.

The engine's scale story rests on plan properties, not code paths:
filters reach the parquet scan, projections prune columns, dimension
joins broadcast, hot expressions stay inside whole-stage codegen.
These helpers turn those properties into assertable strings so tests
pin them — a plan regression (a broadcast silently becoming a
sort-merge join, a filter losing pushdown) fails CI instead of
surfacing as a 100x slowdown at 100 TB.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_str(df: DataFrame, mode: str = "formatted") -> str:
    """The plan text of ``df.explain(mode)``, as a string."""
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return qe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Every ``PushedFilters`` list in the plan, flattened."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan_str(df)):
        body = m.group(1).strip()
        if body:
            out.extend(s.strip() for s in body.split(","))
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """Every ``ReadSchema`` struct string (one per file scan)."""
    return re.findall(r"ReadSchema: (struct<[^\n]*)", plan_str(df))


def executed_file_scans(df: DataFrame) -> list[dict]:
    """Every FileSourceScan in the EXECUTED physical plan of an
    already-run ``df``, as ``{"location", "metrics", "metadata"}``
    dicts — location is the scan's root path, metrics the executed
    SQLMetric values (``numFiles``/``filesSize``/``numOutputRows``/…),
    metadata the planning strings (``PushedFilters``/``ReadSchema``).

    This is the input-bytes evidence plan TEXT can't give: after
    ``df.collect()``, each scan node's metrics say what the probe
    actually read — e.g. the PQ wide-probe contract "the corpus flows
    from the 16-byte codes table; raw floats are read only under the
    query-side pushed bound" (VERDICT r9 item 4). Walks through AQE
    query stages and reused exchanges.

    Contract limit: inputs served from a PERSISTED relation surface
    as ``InMemoryTableScanExec`` with no child plan exposed — the
    file scan that originally fed the cache is NOT attributed here
    (its bytes were read at cache-build time, not by this query). A
    bytes audit must therefore run against freshly-READ inputs (the
    deployment's materialized-table shape); ``scan_audit`` below is
    the intended entry point for that pattern."""
    out: list[dict] = []

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "FileSourceScanExec":
            metrics: dict = {}
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                metrics[kv._1()] = kv._2().value()
            metadata: dict = {}
            it = node.metadata().iterator()
            while it.hasNext():
                kv = it.next()
                metadata[kv._1()] = kv._2()
            out.append(
                {
                    "location": node.relation()
                    .location()
                    .rootPaths()
                    .apply(0)
                    .toString(),
                    "metrics": metrics,
                    "metadata": metadata,
                }
            )
            return
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(node.plan())
            return
        if cls == "ReusedExchangeExec":
            walk(node.child())
            return
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def scan_audit(df: DataFrame, corpus_path: str) -> dict:
    """Partition an EXECUTED ``df``'s file scans into the corpus-side
    scan(s) rooted at ``corpus_path`` and everything else, plus the
    corpus table's parquet bytes on disk — the recipe behind the
    wide-ADC-probe bytes pin (tests/test_pq.py). Callers assert; this
    only gathers."""
    import glob
    import os

    scans = executed_file_scans(df)
    corpus = [s for s in scans if corpus_path in s["location"]]
    return {
        "corpus": corpus,
        "other": [s for s in scans if corpus_path not in s["location"]],
        "corpus_bytes_on_disk": sum(
            os.path.getsize(p)
            for p in glob.glob(os.path.join(corpus_path, "*.parquet"))
        ),
    }


def join_strategies(df: DataFrame) -> list[str]:
    """Physical join node names, in plan order."""
    return re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"
        r"|BroadcastNestedLoopJoin|CartesianProduct)",
        plan_str(df),
    )


def join_strategies_for_key(df: DataFrame, key_substring: str) -> list[str]:
    """Strategies of exactly the physical join node(s) whose join keys
    mention ``key_substring`` (e.g. ``"s_suppkey"`` isolates the
    lineitem-supplier join). Plan-wide ``join_strategies`` can't answer
    "did THIS join demote?" — at scale several joins coexist and a
    different join's demotion would pollute the signal (ADVICE r7).
    Under finalized AQE the explain output repeats the initial plan
    after the final one; only the final section is inspected."""
    plan = plan_str(df, "simple")
    cut = plan.find("== Initial Plan ==")
    if cut != -1:
        plan = plan[:cut]
    out: list[str] = []
    for line in plan.splitlines():
        m = re.search(
            r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"
            r"|BroadcastNestedLoopJoin)",
            line,
        )
        if m and key_substring in line:
            out.append(m.group(1))
    return out


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges (excludes broadcast exchanges and
    AQE shuffle reads). Parsed from simple mode, where the node and
    its partitioning share a line."""
    plan = plan_str(df, "simple")
    return len(
        re.findall(r"\bExchange (?:hash|range)partitioning", plan)
    )


def codegen_stage_count(df: DataFrame) -> int:
    """Whole-stage-codegen span count. Under AQE the markers only
    exist in the FINAL plan, so this executes the DataFrame (use on
    test-scale data) and counts the distinct ``*(N)`` spans."""
    df.collect()  # finalize the adaptive plan
    return len(set(re.findall(r"\*\((\d+)\)", plan_str(df, "simple"))))


def codegen_compiles(spark) -> dict:
    """JVM-wide generated-class compiles so far: ``{"compiles",
    "compile_ms"}``. Only a codegen-cache miss compiles, so the delta
    across a re-run of a query is the recompiles that run paid.

    ``compiles`` is the sample count of Spark's ``CodegenMetrics``
    compilation-time histogram (one sample per Janino compile).
    ``compile_ms`` is ``CodeGenerator.compileTime``, the exact
    accumulated compile time: the histogram's decaying reservoir keeps
    at most 1028 samples, so summing it under-counts a long session.
    In ``local[N]`` the executors share the driver JVM, so task-side
    compiles are counted too."""
    jvm = spark._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return {
        "compiles": metrics.METRIC_COMPILATION_TIME().getCount(),
        "compile_ms": codegen.compileTime() / 1e6,
    }


def _node_depths(lines: list[str]) -> list[int]:
    """Tree depth of each simple-plan line = column where the node
    name starts (after the ``+-``/``:-``/indent prefix)."""
    out = []
    for line in lines:
        m = re.search(r"[^\s:+\-]", line)
        out.append(m.start() if m else len(line))
    return out


def unaggregated_global_sorts(df: DataFrame) -> list[str]:
    """Fact-scale data funneled through ONE task: every
    ``Exchange SinglePartition`` whose subtree reaches a parquet scan
    with NO aggregate on the path between them. A single-partition
    exchange is fine when it consumes a HashAggregate (control-plane
    tables: histograms, bucket sums, file stats — bounded rows); it
    is the textbook 100 TB straggler when raw scan rows flow into it
    (an unpartitioned Window/ntile over a fact table). Returns the
    offending scan lines; the scale contract is ``== []``."""
    lines = plan_str(df, "simple").splitlines()
    depths = _node_depths(lines)
    offenders: list[str] = []
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            offenders.extend(
                _scan_lines_without_aggregate_ancestor(lines, depths, i)
            )
    return offenders


def _scan_lines_without_aggregate_ancestor(
    lines: list[str], depths: list[int], root: int
) -> list[str]:
    """Parquet-scan lines inside ``root``'s subtree whose ancestor
    chain up to ``root`` has no Aggregate bounding the row count.

    A scan whose chain crosses an ``InMemoryRelation`` is skipped:
    that scan is the cached plan's PRINTOUT (how the persisted
    intermediate was built, executed once at materialization), not
    work this query performs — and materialized AQE plans print
    Initial/Final sections whose indentation is not a monotone tree,
    so the chain can't be walked through them reliably anyway."""
    out: list[str] = []
    j = root + 1
    while j < len(lines) and depths[j] > depths[root]:
        if "Scan parquet" in lines[j]:
            cur, bounded = depths[j], False
            for k in range(j - 1, root, -1):
                if depths[k] < cur:
                    cur = depths[k]
                    if (
                        "Aggregate" in lines[k]
                        or "InMemoryRelation" in lines[k]
                        or "TakeOrderedAndProject" in lines[k]
                    ):
                        # TakeOrderedAndProject bounds rows exactly
                        # like an aggregate: each task keeps only its
                        # local top-k, the gather carries <= k rows
                        # per partition, and the node emits <= k rows
                        # total (priority_sample_docs' K+1-row take).
                        bounded = True
                        break
            if not bounded:
                out.append(lines[j].strip())
        j += 1
    return out


# Signature FIRST column of each SF-scaled base table's parquet
# relation (grows linearly with scale factor; ~1e9+ rows at the
# 100 TB north star). nation/region are constant-size (25 / 5 rows
# forever) and deliberately absent.
_SF_SCALED_FIRST_COL = {
    "s_suppkey": "supplier",
    "p_partkey": "part",
    "c_custkey": "customer",
    "o_orderkey": "orders",
    "l_orderkey": "lineitem",
    "event_id": "events",
}


def hinted_sf_scaled_broadcasts(df: DataFrame) -> list[str]:
    """Forced ``F.broadcast()`` hints over SF-scaled base-table rows:
    every ``ResolvedHint (strategy=broadcast)`` in the ANALYZED
    logical plan whose subtree reaches a parquet relation of an
    SF-scaled table with NO Aggregate on the path. An explicit hint
    can never be demoted by AQE, so at scale it forces an OOM where
    the unhinted plan would shuffle-join; AQE auto-broadcasts the
    same tables while they are genuinely small, making the hint pure
    downside (VERDICT r5 item 1). Hints over *derived* sides are
    bounded and fine: an ``Aggregate`` on the path, or a SINGLE-key
    ``Deduplicate`` (one attribute's value domain — e.g. distinct
    calendar days — not row count; a multi-key dedup like distinct
    (day, user) pairs is still corpus-sized and stays an offender).
    Returns ``"table (hint-line)"`` strings; contract ``== []``.
    """
    qe = df._jdf.queryExecution()
    lines = qe.analyzed().toString().splitlines()
    depths = _node_depths(lines)
    offenders: list[str] = []
    for i, line in enumerate(lines):
        if "ResolvedHint" not in line or "broadcast" not in line.lower():
            continue
        j = i + 1
        while j < len(lines) and depths[j] > depths[i]:
            m = re.search(r"Relation \[?(\w+)", lines[j])
            if "parquet" in lines[j] and m and m.group(1) in _SF_SCALED_FIRST_COL:
                cur, bounded = depths[j], False
                for k in range(j - 1, i, -1):
                    if depths[k] < cur:
                        cur = depths[k]
                        if "Aggregate" in lines[k] or re.search(
                            r"Deduplicate \[[^,\]]+\]", lines[k]
                        ):
                            bounded = True
                            break
                if not bounded:
                    offenders.append(
                        f"{_SF_SCALED_FIRST_COL[m.group(1)]} "
                        f"({lines[i].strip()})"
                    )
            j += 1
    return offenders


def unbounded_nested_loops(df: DataFrame) -> list[str]:
    """BroadcastNestedLoopJoin nodes whose BROADCAST side carries raw
    (un-aggregated) parquet-scan rows. A nested-loop join against a
    broadcast SCALAR or small aggregate (count grids, 1-row
    thresholds, centroid tables) is control-plane and fine; one whose
    broadcast input is an unbounded scan re-reads the fact table per
    row — O(n x m) at 100 TB. Returns offending scan lines; the scale
    contract is ``== []``."""
    lines = plan_str(df, "simple").splitlines()
    depths = _node_depths(lines)
    offenders: list[str] = []
    for i, line in enumerate(lines):
        if "BroadcastNestedLoopJoin" not in line:
            continue
        # The broadcast side sits under a BroadcastExchange /
        # BroadcastQueryStage inside this join's subtree (nested joins
        # appear deeper; only inspect exchanges whose nearest
        # enclosing join is THIS node).
        j = i + 1
        while j < len(lines) and depths[j] > depths[i]:
            if "BroadcastExchange" in lines[j] or "BroadcastQueryStage" in lines[j]:
                # nearest enclosing join of this exchange
                cur = depths[j]
                encl = None
                for k in range(j - 1, -1, -1):
                    if depths[k] < cur:
                        cur = depths[k]
                        if "Join" in lines[k] or "CartesianProduct" in lines[k]:
                            encl = k
                            break
                if encl == i:
                    offenders.extend(
                        _scan_lines_without_aggregate_ancestor(
                            lines, depths, j
                        )
                    )
            j += 1
    return offenders
