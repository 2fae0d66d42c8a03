"""Codegen-reuse sweep over the full query registry.

Each generated class should be compiled once per session: a re-run of
a query whose classes were evicted from Spark's codegen cache, or
whose stage code differs from its earlier run only in a class-name
suffix, pays Janino compile time again on every run.

For every registered query (plus the bench-only vectorized twin):
build ``fn(spark, sf_dir)`` and ``collect()`` it three times, reading
``plans.inspect.codegen_compiles`` around each run. The first-run
compile total of the whole pass is the number of distinct classes the
pass generates, which ``session.CODEGEN_CACHE_ENTRIES`` must exceed (a
class compiled under both the driver's and the tasks' class loader
takes two entries and counts twice).

The first run of a query builds its session memos, which
``memo.session_memo`` materializes before the query plans over them,
so the second run (``second``) should compile nothing. The third run
(``warm``) is the steady state. A query whose second run compiles
plans differently once something it reads is materialized or cached
(a broadcast join's build side flips on the relation's real size).
Prints one JSON line; exit 1 if any warm run compiles or any query
errors.

A warm run compiles when its generated code differs from the previous
run's. Spark names some variables from JVM-global counters
(``_limit_counter_N`` for a codegen'd limit,
``MapObject_lambda_variable_N`` in typed-state encoders), so a query
holding one recompiles those classes on every run.

Usage:
    python tools/codegen_sweep.py [sf_dir] [query ...]   # default sf0.001
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from go_http_data_pipeline_spark.plans.inspect import codegen_compiles
    from go_http_data_pipeline_spark.session import (
        CODEGEN_CACHE_ENTRIES,
        get_spark,
    )

    import __spark_entry__ as e

    spark = get_spark("codegen_sweep")
    spark.sparkContext.setLogLevel("ERROR")
    qs = dict(e.queries())
    from go_http_data_pipeline_spark.llm.similarity import (
        cosine_topk_vectorized,
    )

    qs.setdefault("cosine_topk_vectorized", cosine_topk_vectorized)
    names = sys.argv[2:] or sorted(qs)

    t0 = time.perf_counter()
    runs: dict[str, list[int]] = {}
    errored: list[str] = []
    for name in names:
        try:
            counts = [codegen_compiles(spark)["compiles"]]
            for _ in range(3):
                qs[name](spark, sf_dir).collect()
                counts.append(codegen_compiles(spark)["compiles"])
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            errored.append(name)
            print(f"# ERROR {name}: {exc}", file=sys.stderr)
            continue
        runs[name] = [b - a for a, b in zip(counts, counts[1:])]
        if runs[name][2]:
            print(f"# RECOMPILED {name}: {runs[name][2]} classes", file=sys.stderr)
    warm = {n: r[2] for n, r in runs.items()}
    recompiled = {n: c for n, c in warm.items() if c}
    print(
        json.dumps(
            {
                "metric": "codegen_sweep",
                "n_queries": len(names),
                "distinct_classes": sum(r[0] for r in runs.values()),
                "cache_entries": CODEGEN_CACHE_ENTRIES,
                "warm_compiles": sum(warm.values()),
                "recompiled": recompiled,
                "second": {n: r[1] for n, r in runs.items() if r[1]},
                "n_errored": len(errored),
                "errored": errored,
                "warm": warm,
                "sf_dir": sf_dir,
                "sec": round(time.perf_counter() - t0, 1),
            }
        )
    )
    return 1 if (recompiled or errored) else 0


if __name__ == "__main__":
    sys.exit(main())
