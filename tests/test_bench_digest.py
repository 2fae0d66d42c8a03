"""Unit tests for bench.py's regression digest (VERDICT r5 item 5):
median-of-recent-history baseline + the 2-consecutive-records rule,
so same-box jitter (1.12-1.56s bounces on an unchanged plan) never
surfaces as a headline regression while a genuine step regression
confirms on its second run.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench  # noqa: E402


def _write_log(tmp_path, records):
    p = tmp_path / "BENCH_LOCAL.jsonl"
    with open(p, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")
    return str(p)


def test_recent_benches_filters_sf_and_orders(tmp_path, monkeypatch):
    recs = [
        {"queries": {"q": 1.0}, "sf": 0.1, "ts": "t1"},
        {"queries": {"q": 9.0}, "sf": 0.01, "ts": "t2"},  # other sf: skipped
        {"queries": {"q": 2.0}, "sf": 0.1, "ts": "t3"},
    ]
    monkeypatch.setattr(bench, "_LOCAL_LOG", _write_log(tmp_path, recs))
    got = bench._recent_benches(0.1)
    assert [r["ts"] for r in got] == ["t1", "t3"]  # oldest first


def test_median_baseline_resists_one_low_bounce():
    """ngram-style jitter: history 1.38, 1.12 (low bounce), 1.40 —
    the median baseline is 1.38, so a normal 1.39 run is 1.01x, NOT
    the 1.24x a last-record-only delta would report vs the bounce."""
    recent = [
        {"queries": {"q": 1.38}},
        {"queries": {"q": 1.12}},
        {"queries": {"q": 1.40}},
    ]
    base = bench._median_baseline(recent)
    assert base == {"q": 1.38}
    assert 1.39 / base["q"] < bench.REGRESSION_THRESH


def test_step_regression_confirms_on_second_run():
    """A genuine plan regression (1.0s -> 2.0s) is flagged on run N
    (vs the old-history median) and CONFIRMED on run N+1, because the
    5-record median is still dominated by pre-regression times."""
    history = [{"queries": {"q": 1.0}, "flagged_vs_median": {}}] * 4
    base = bench._median_baseline(history)
    flag_n = 2.0 / base["q"] > bench.REGRESSION_THRESH
    assert flag_n  # run N flags (unconfirmed: prev record clean)
    history_n1 = history[1:] + [
        {"queries": {"q": 2.0}, "flagged_vs_median": {"q": 2.0}}
    ]
    base_n1 = bench._median_baseline(history_n1)
    assert base_n1["q"] == 1.0  # median still pre-regression
    flagged_n1 = {"q"} if 2.0 / base_n1["q"] > bench.REGRESSION_THRESH else set()
    confirmed = flagged_n1 & set(history_n1[-1]["flagged_vs_median"])
    assert confirmed == {"q"}


def test_one_noisy_record_never_confirms():
    """A single noisy-slow record flags once; the next normal run is
    within threshold of the median, so nothing is confirmed."""
    history = [{"queries": {"q": 1.0}, "flagged_vs_median": {}}] * 4 + [
        {"queries": {"q": 1.9}, "flagged_vs_median": {"q": 1.9}}
    ]
    base = bench._median_baseline(history[-5:])
    assert base["q"] == 1.0
    flagged_next = 1.05 / base["q"] > bench.REGRESSION_THRESH
    assert not flagged_next  # normal run: no flag, so no confirmation


def test_fixture_sig_tracks_content_not_mtime(tmp_path):
    """Same parquet names+sizes -> same sig (a byte-identical
    regeneration keeps history continuity); a size change -> new sig."""
    d = tmp_path / "sf"
    d.mkdir()
    (d / "a.parquet").write_bytes(b"x" * 10)
    (d / "b.parquet").write_bytes(b"y" * 20)
    s1 = bench._fixture_sig(str(d))
    import os

    os.utime(d / "a.parquet", (1, 1))  # mtime only
    assert bench._fixture_sig(str(d)) == s1
    (d / "a.parquet").write_bytes(b"x" * 11)  # content grew
    assert bench._fixture_sig(str(d)) != s1


def test_recent_benches_fences_other_fixture_generation(tmp_path, monkeypatch):
    """Records from a different fixture generation measure a different
    corpus: excluded from the baseline. Sig-less (pre-round-9) records
    are grandfathered so history isn't orphaned retroactively."""
    recs = [
        {"queries": {"q": 1.0}, "sf": 0.1, "ts": "t1"},  # sig-less: kept
        {"queries": {"q": 5.0}, "sf": 0.1, "ts": "t2", "fixture_sig": "old"},
        {"queries": {"q": 1.2}, "sf": 0.1, "ts": "t3", "fixture_sig": "new"},
    ]
    monkeypatch.setattr(bench, "_LOCAL_LOG", _write_log(tmp_path, recs))
    got = bench._recent_benches(0.1, sig="new")
    assert [r["ts"] for r in got] == ["t1", "t3"]
    # No sig passed -> legacy behavior, everything same-sf kept.
    assert len(bench._recent_benches(0.1)) == 3


def test_prev_bench_skips_other_generation(tmp_path, monkeypatch):
    """The confirmation seed (previous record) must share the fixture
    generation — a flag raised against a different corpus cannot
    confirm a regression on this one."""
    recs = [
        {"queries": {"q": 1.0}, "sf": 0.1, "ts": "t1", "fixture_sig": "new"},
        {"queries": {"q": 9.0}, "sf": 0.1, "ts": "t2", "fixture_sig": "old"},
    ]
    monkeypatch.setattr(bench, "_LOCAL_LOG", _write_log(tmp_path, recs))
    assert bench._prev_bench(0.1, "new")["ts"] == "t1"


def test_min_baseline_samples_suppresses_small_sample_flags():
    """A 3-sample baseline whose first two records are low bounces
    makes a normal run read as a 1.28x step (the round-9
    lone_late_supplier false confirmation). Below
    MIN_BASELINE_SAMPLES the query simply has no baseline — no flag,
    no confirmation — until history accumulates."""
    recent = [
        {"queries": {"q": 0.643}},
        {"queries": {"q": 0.704}},
        {"queries": {"q": 0.908}},
    ]
    assert bench.MIN_BASELINE_SAMPLES > 3
    assert bench._median_baseline(recent, bench.MIN_BASELINE_SAMPLES) == {}
    deep = recent + [{"queries": {"q": 0.902}}]
    base = bench._median_baseline(deep, bench.MIN_BASELINE_SAMPLES)
    assert base["q"] == 0.902  # median of 4 absorbs the two bounces
    assert 0.9 / base["q"] < bench.REGRESSION_THRESH


def test_bursty_slow_run_never_confirms():
    """Bursty host steal: a few queries 2-4x while the run MEDIAN
    stays ~1.0 (the uniform-steal guard passes). The query-sum ratio
    catches it — either flagging run off-band in total -> nothing
    confirms (observed live: totals 53/71 s against a 44-46 s band,
    medians 1.036/1.043, 'confirming' a regression on code untouched
    for rounds)."""
    flagged = {"cosine_topk": 2.2}
    prev = {
        "queries": {"cosine_topk": 1.2, "q2": 1.0},
        "flagged_vs_median": {"cosine_topk": 2.2},
        "run_median_vs_baseline": 1.03,
    }
    baseline = {"cosine_topk": 0.55, "q2": 1.0}
    # both runs median-normal but this run's query-sum is 1.3x the band
    assert (
        bench._confirmed_regressions(
            flagged, 1.04, prev, baseline, qsum_ratio=1.3, prev_qsum_ratio=1.0
        )
        == []
    )
    # prev run bursty instead: same verdict
    assert (
        bench._confirmed_regressions(
            flagged, 1.04, prev, baseline, qsum_ratio=1.0, prev_qsum_ratio=1.3
        )
        == []
    )
    # both runs clean in BOTH senses: the 2-consecutive rule confirms
    assert bench._confirmed_regressions(
        flagged, 1.04, prev, baseline, qsum_ratio=1.0, prev_qsum_ratio=1.0
    ) == ["cosine_topk"]


def test_qsum_ratio_small_sample_and_value():
    """_qsum_ratio needs MIN_BASELINE_SAMPLES records (post-
    regeneration quiet period, like the per-query baseline) and
    compares query-sums cache-build-free."""
    recent_small = [{"queries": {"q": 1.0}}] * (bench.MIN_BASELINE_SAMPLES - 1)
    assert bench._qsum_ratio({"q": 9.0}, recent_small) is None
    recent = [{"queries": {"a": 1.0, "b": 1.0}}] * bench.MIN_BASELINE_SAMPLES
    assert bench._qsum_ratio({"a": 2.0, "b": 1.0}, recent) == 1.5


def test_qsum_ratio_intersects_keys_across_registry_changes():
    """A query-set change (round 10 retired five registry rows) must
    not bias the burst-slow guard: the ratio compares each record
    over the SHARED query names only, so a record that also timed
    since-retired queries contributes the same ratio as one that
    didn't — a uniformly 2x-slow run still reads as 2.0."""
    old_set = {"a": 1.0, "b": 1.0, "retired": 5.0}
    recent = [{"queries": dict(old_set)}] * bench.MIN_BASELINE_SAMPLES
    # This run no longer times "retired"; both shared queries are 2x.
    assert bench._qsum_ratio({"a": 2.0, "b": 2.0}, recent) == 2.0
    # Whole-record sums would have said (4.0 / 7.0) ~ 0.57 — an
    # environment-slow run masquerading as fast.


def test_recent_benches_caps_same_code_generation(tmp_path, monkeypatch):
    """VERDICT r9 item 5: a sitting that appends many same-code
    records cannot fill the recent-median window — at most
    MAX_SAME_CODE_RECORDS of one code_sig count (the newest), so
    older cross-generation evidence stays in the baseline."""
    recs = [
        {"queries": {"q": 1.0}, "sf": 0.1, "ts": "old1", "code_sig": "B"},
        {"queries": {"q": 1.1}, "sf": 0.1, "ts": "old2", "code_sig": "B"},
    ] + [
        {"queries": {"q": 5.0}, "sf": 0.1, "ts": f"a{i}", "code_sig": "A"}
        for i in range(5)
    ]
    monkeypatch.setattr(bench, "_LOCAL_LOG", _write_log(tmp_path, recs))
    got = bench._recent_benches(0.1)
    assert [r["ts"] for r in got] == ["old1", "old2", "a2", "a3", "a4"]


def test_recent_benches_grandfathers_sigless_as_one_generation(
    tmp_path, monkeypatch
):
    """Pre-round-10 records carry no code_sig: they share ONE
    grandfather bucket, so they too are capped rather than exempt."""
    recs = [
        {"queries": {"q": 1.0}, "sf": 0.1, "ts": f"t{i}"} for i in range(5)
    ]
    monkeypatch.setattr(bench, "_LOCAL_LOG", _write_log(tmp_path, recs))
    got = bench._recent_benches(0.1)
    assert [r["ts"] for r in got] == ["t2", "t3", "t4"]


def test_same_code_cap_below_min_baseline_samples():
    """The invariant the cap buys: a baseline deep enough to flag
    (>= MIN_BASELINE_SAMPLES samples) can never consist of one code
    generation's records alone — any confirming median contains at
    least two generations' evidence."""
    assert bench.MAX_SAME_CODE_RECORDS < bench.MIN_BASELINE_SAMPLES


def test_code_sig_is_stable_and_content_keyed(tmp_path, monkeypatch):
    """Same tree -> same sig; touching one query module's CONTENT
    changes it (mtime alone must not — records from an identical
    checkout are the same generation)."""
    pkg = tmp_path / "go_http_data_pipeline_spark"
    pkg.mkdir()
    (pkg / "a.py").write_text("x = 1\n")
    monkeypatch.setattr(bench, "_HERE", str(tmp_path))
    s1 = bench._code_sig()
    import os

    os.utime(pkg / "a.py", (1, 1))  # mtime churn: no change
    assert bench._code_sig() == s1
    (pkg / "a.py").write_text("x = 2\n")
    assert bench._code_sig() != s1
