"""Robustness battery: the nondeterminism axes the oracle gate can't
see because it runs one configuration once.

1. **Streaming determinism** — every streaming/stateful query 3x in
   one session; watermark emission and state updates must reproduce
   byte-identical results.
2. **Partition invariance** — a representative query slice compared
   across (local[3], shuffle=5) vs (local[8], shuffle=32); the
   exact-decimal/integer patterns promise results independent of
   parallelism, this checks the promise.
3. **Timezone invariance** — run ``tools/check.py`` separately with
   ``TZ=America/New_York`` over the ts-heavy queries (the session tz
   is pinned UTC in catalog.table; this catches any path that leaks
   the host zone).
4. **AQE invariance** — the representative slice with
   ``spark.sql.adaptive.enabled=false``. Since the round-6/7
   de-hinting, physical join strategy on SF-scaled sides is AQE's
   runtime choice; this axis checks the choice can never leak into
   VALUES (broadcast vs shuffle joins, coalesced vs fixed partitions
   — same rows either way, bit-for-bit).

Usage: python tools/robustness.py [sf_dir]   (axes 1+2+4; axis 3 is a
check.py invocation under TZ, see docstring)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPRESENTATIVE = [
    "q1_pricing_summary", "revenue_by_nation", "minhash_lsh_pairs",
    "simhash_neardup_pairs", "ngram_jaccard_pairs", "dup_span_coverage",
    "neardup_edit_distance", "dedup_components", "dedup_keep_best_quality",
    "kmeans_iteration", "embedding_dim_stats", "stats_moments_profile",
    "tfidf_cosine_verify", "quality_classifier_logits", "bpe_apply_merge",
    "gap_filled_daily_activity", "ema_event_value",
    "rolling_7day_active_users", "zorder_file_stats",
    "incremental_daily_counts", "snapshot_diff", "compaction_bin_packing",
    "neardup_graph_stats", "layout_skipping_eval",
    "sql_api_components_recursive", "data_quality_checks", "column_profile",
    "cosine_topk", "sessionize_events", "retention_cohorts",
    "token_budget_selection", "source_mixture_weights",
    # round 9: the PQ family (integer-exact codes/ADC must not move
    # with parallelism) and the contiguous-id assignment, whose range
    # count P CHANGES across these sessions (local[3] vs local[8]) —
    # partition invariance here means the ids survive a different
    # partitioning of the same corpus, the strongest form of the
    # two-phase design's correctness claim.
    "embedding_pq_codes", "pq_ann_top1",
    "contiguous_global_ids",
    # round 10: the unified per-family recall gate (folds the retired
    # pq/lsh/multiprobe recall rows and the nprobe2/multiprobe probes'
    # value certification into one row set)
    "ann_family_recall_eval",
    # the IVF x PQ composite (cell restriction must not interact with
    # partitioning; added in round 9's final session)
    "ivf_pq_ann_top1",
    # the wide-layout ADC probe: the per-query partial max must pick
    # the same winner however the corpus is partitioned
    "pq_ann_top1_wide",
    # session 7: per-task top-(K+1) heaps must gather to the same
    # K rows + tau whatever the partitioning (TakeOrderedAndProject
    # merge order), and the per-epoch shard positions are windowed
    # per (epoch, shard) so they must not see partition count at all
    "priority_sample_docs", "epoch_shuffle_shards",
    # the incremental host-cap index under retraction: the read-time
    # quota window and the tombstone fold must not see partitioning
    "streaming_host_cap_index_with_deletes",
]


def _session(master: str, shuffle: str, aqe: bool = True):
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master(master)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", str(aqe).lower())
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    return s


def _canon(rows):
    return sorted(tuple(r) for r in rows)


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    rc = 0

    # Axis 1: streaming determinism (3 repeats, one session).
    spark = _session("local[8]", "8")
    import __spark_entry__ as e

    qs = e.queries()
    names = [
        n for n in qs
        if n.startswith("streaming_")
        or n in ("stateful_user_profiles", "stateful_session_ttl")
    ]
    flaky = []
    for n in names:
        outs = [_canon(qs[n](spark, sf).collect()) for _ in range(3)]
        if not (outs[0] == outs[1] == outs[2]):
            flaky.append(n)
    print(f"streaming determinism: {len(names)} queries, flaky={flaky}")
    rc |= bool(flaky)
    spark.stop()

    # Axis 2: partition invariance. Axis 4: AQE invariance (config C
    # disables adaptive execution entirely — join strategies and
    # partition coalescing revert to static planning).
    results = {}
    for tag, master, sp, aqe in (
        ("A", "local[3]", "5", True),
        ("B", "local[8]", "32", True),
        ("C", "local[8]", "32", False),
    ):
        spark = _session(master, sp, aqe)
        import importlib

        importlib.reload(e)
        qs = e.queries()
        results[tag] = {
            n: _canon(qs[n](spark, sf).collect()) for n in REPRESENTATIVE
        }
        spark.stop()
    bad = [n for n in REPRESENTATIVE if results["A"][n] != results["B"][n]]
    print(
        f"partition invariance: {len(REPRESENTATIVE)} queries,"
        f" mismatches={bad}"
    )
    rc |= bool(bad)
    bad_aqe = [n for n in REPRESENTATIVE if results["B"][n] != results["C"][n]]
    print(
        f"AQE invariance (adaptive off): {len(REPRESENTATIVE)} queries,"
        f" mismatches={bad_aqe}"
    )
    rc |= bool(bad_aqe)
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
