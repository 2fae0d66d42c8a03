"""Fast tests of the benchmark itself: every workload at a tiny size
emits every named metric with its unit, and the correctness checks
fail on a corrupted expected output.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import data, ingest, passes  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_emits_every_metric(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "6", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    if trace and workload == "ingest_merge":
        assert result["metrics"]["http_json.rows_read_per_record"]["value"] > 0


def test_ingest_check_fails_on_corrupted_expected(tmp_path):
    traffic = ingest.Traffic(seed=5, backlog=50)
    traffic.lines(50, updates=False)
    traffic.lines(20, updates=True)
    rows = [
        (i, nm, a, y, ingest.enriched_salary(s, y, a))
        for i, (nm, a, y, s) in traffic.latest.items()
    ]
    cols = list(zip(*rows))
    table = pa.table(
        [pa.array(c, t.type) for c, t in zip(cols, ingest.TABLE_SCHEMA)],
        schema=ingest.TABLE_SCHEMA,
    )
    base = tmp_path / "employee"
    base.mkdir()
    pq.write_table(table, base / "part-0.parquet")
    assert ingest.check_table(str(base), traffic) == 0

    expected = {i: (nm, a, y, s) for i, nm, a, y, s in rows}
    some_id = next(iter(expected))
    nm, a, y, s = expected[some_id]
    expected[some_id] = (nm, a, y, s + 1)
    assert ingest.check_table(str(base), traffic, expected) == 1


def test_oracle_compare_fails_on_corrupted_expected():
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    check = passes._load_check()
    schema = StructType([StructField("id", LongType()), StructField("name", StringType())])
    sdf = SimpleNamespace(schema=schema, columns=["id", "name"])
    srows = [(1, "a"), (2, "b")]
    good = pa.table({"id": pa.array([2, 1], pa.int64()), "name": ["b", "a"]})
    assert passes.compare(check, sdf, srows, good) == []
    bad = pa.table({"id": pa.array([2, 1], pa.int64()), "name": ["b", "z"]})
    assert passes.compare(check, sdf, srows, bad) == ["1/2 rows differ"]
    short = good.slice(0, 1)
    assert passes.compare(check, sdf, srows, short)


def test_fixture_depends_on_seed_only(tmp_path):
    a, b, c = (tmp_path / n for n in "abc")
    data.write_fixture(str(a), seed=1, sf=0.001)
    data.write_fixture(str(b), seed=1, sf=0.001)
    data.write_fixture(str(c), seed=2, sf=0.001)
    for name in ("lineitem", "documents", "embeddings"):
        ta = pq.read_table(a / f"{name}.parquet")
        assert ta.equals(pq.read_table(b / f"{name}.parquet"))
        assert not ta.equals(pq.read_table(c / f"{name}.parquet"))


def test_self_time_excludes_children():
    tr = Tracer(enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == 0
    self_s = tr.self_times()
    total = outer["end"] - outer["start"]
    assert self_s["outer"] == pytest.approx(total - (inner["end"] - inner["start"]))


def test_host_clock_removes_stolen_time(monkeypatch):
    from perfbench import hostclock

    # (busy, steal) counters at construction and at marks at walls 0, 2, 4, 5.
    counters = iter([(0, 0), (0, 0), (2, 0), (3, 1), (5, 3)])
    walls = iter([0.0, 2.0, 4.0, 5.0])
    monkeypatch.setattr(hostclock, "cpu_seconds", lambda: next(counters))
    monkeypatch.setattr(hostclock.time, "perf_counter", lambda: next(walls))
    clock = hostclock.HostClock()
    for _ in range(3):
        clock.mark()
    # 0-2 s: no steal. 2-4 s: one vCPU had work, 1 s of it stolen, so
    # that second is removed. 4-5 s: 4 vCPUs had work, 2 s stolen
    # between them, so half a second of wall time is removed.
    assert clock.length(0.0, 2.0) == pytest.approx(2.0)
    assert clock.length(2.0, 4.0) == pytest.approx(1.0)
    assert clock.length(4.0, 5.0) == pytest.approx(0.5)
    assert clock.length(1.0, 3.0) == pytest.approx(1.5)
    assert clock.stolen() == 3
