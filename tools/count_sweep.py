"""count()-pruning sweep over the full query registry.

The value oracle (tools/check.py) always collects ALL columns, so it
can never see the pruning-under-count() bug class: a query whose plan
shares attribute IDs across two references to one memoized table can
have a side's data columns stripped by Catalyst's DeduplicateRelations
when the consumer needs no columns (count()), silently changing the
row count. Round 15's ad-hoc sweep caught exactly that on
embedding_neardup_pairs after the catalog memo landed; this tool is
that sweep promoted to a standing gate step (VERDICT r15 item 8).

For every registered query (plus ``cosine_topk_vectorized``, the
unregistered twin of ``cosine_topk``): run ``fn(spark, sf_dir)``
twice and assert ``df.count() == len(df.collect())``. Prints one JSON
line; exit 1 on any mismatch or error.

Usage:
    python tools/count_sweep.py [sf_dir]      # default sf0.001
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

    from go_http_data_pipeline_spark.session import get_spark

    import __spark_entry__ as e

    spark = get_spark("count_sweep")
    spark.sparkContext.setLogLevel("ERROR")
    qs = dict(e.queries())
    from go_http_data_pipeline_spark.llm.similarity import (
        cosine_topk_vectorized,
    )

    qs.setdefault("cosine_topk_vectorized", cosine_topk_vectorized)

    t0 = time.perf_counter()
    mismatched: list[str] = []
    errored: list[str] = []
    for name, fn in sorted(qs.items()):
        try:
            n_count = fn(spark, sf_dir).count()
            n_collect = len(fn(spark, sf_dir).collect())
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            errored.append(name)
            print(f"# ERROR {name}: {exc}", file=sys.stderr)
            continue
        if n_count != n_collect:
            mismatched.append(name)
            print(
                f"# MISMATCH {name}: count()={n_count}"
                f" len(collect())={n_collect}",
                file=sys.stderr,
            )
    print(
        json.dumps(
            {
                "metric": "count_sweep",
                "n_queries": len(qs),
                "n_mismatched": len(mismatched),
                "n_errored": len(errored),
                "mismatched": mismatched,
                "errored": errored,
                "sf_dir": sf_dir,
                "sec": round(time.perf_counter() - t0, 1),
            }
        )
    )
    return 1 if (mismatched or errored) else 0


if __name__ == "__main__":
    sys.exit(main())
