"""Per-query profiler for the optimization rounds.

For each headline query (or an explicit list): times every repeat
separately (so build-vs-probe cost inside a single query is visible;
the session memos a query builds land in its first repeat), captures
``explain("formatted")`` to ``plans/<tag>/<query>_<suffix>.txt``, and
prints a per-repeat table with each repeat's generated-class compiles
and compile ms (``plans.inspect.codegen_compiles``; a warm repeat
should compile nothing). The JSON line adds ``memo.stats``: each
session memo's build seconds and rows. The timed action matches
bench.py (``df.count()``) so numbers are comparable with
BENCH_LOCAL.jsonl.

Usage:
    python tools/profile_bench.py [--plans-dir plans/r15 --suffix before]
                                  [--repeats 3]
                                  [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--plans-dir", default="")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from go_http_data_pipeline_spark import memo
    from go_http_data_pipeline_spark.plans.inspect import codegen_compiles
    from go_http_data_pipeline_spark.session import get_spark

    import __spark_entry__ as e

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()
    from go_http_data_pipeline_spark.llm.similarity import (
        cosine_topk_vectorized,
    )

    qs.setdefault("cosine_topk_vectorized", cosine_topk_vectorized)

    import bench

    names = args.queries or [n for n in bench.HEADLINE if n in qs]

    sf_dir = args.sf_dir
    qs["q1_pricing_summary"](spark, sf_dir).count()  # warm JVM

    jvm_gc = spark._jvm.java.lang.System.gc
    out: dict[str, dict] = {}
    for name in names:
        fn = qs.get(name)
        if fn is None:
            print(f"# MISSING {name}", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"profile:{name}")
        samples, compiles, compile_ms = [], [], []
        n = 0
        for _ in range(max(1, args.repeats)):
            jvm_gc()
            c0 = codegen_compiles(spark)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()
            samples.append(round(time.perf_counter() - t0, 3))
            c1 = codegen_compiles(spark)
            compiles.append(c1["compiles"] - c0["compiles"])
            compile_ms.append(round(c1["compile_ms"] - c0["compile_ms"], 1))
        spark.sparkContext.setJobDescription(None)
        if args.plans_dir:
            import contextlib
            import io

            os.makedirs(args.plans_dir, exist_ok=True)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                fn(spark, sf_dir).explain("formatted")
            with open(
                os.path.join(args.plans_dir, f"{name}_{args.suffix}.txt"), "w"
            ) as f:
                f.write(buf.getvalue())
        out[name] = {
            "rows": n, "samples": samples, "min": min(samples),
            "compiles": compiles, "compile_ms": compile_ms,
        }
        print(f"{min(samples):7.3f}  {samples}  {name} ({n} rows)"
              f"  compiles={compiles} compile_ms={compile_ms}",
              file=sys.stderr)
    total = sum(v["min"] for v in out.values())
    print(json.dumps({
        "total_min_sum": round(total, 3),
        "memos": memo.stats(spark),
        "queries": {k: v["min"] for k, v in out.items()},
        "compiles": {k: v["compiles"] for k, v in out.items()},
        "compile_ms": {k: v["compile_ms"] for k, v in out.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
