"""``ingest_merge``: HTTP log -> ``httpjson`` url stream -> enrichment
-> keyed merge into a parquet table, the reference's own path.

Traffic follows the reference service: ``/addemployee`` inserts a
record under a fresh auto-increment id, ``/processsalary`` rewrites an
existing employee's salary, each employee at most once per run. So no
id repeats inside one micro-batch.

Phase A (catch-up): a backlog is already in the log; one
``foreach_batch_merge`` call merges it. Phase B (live): an open-loop
generator thread appends one chunk per 50 ms at a fixed record rate,
on a schedule that does not slow when the pipeline does, while the
main thread calls ``foreach_batch_merge`` back to back for
``WARMUP_S`` unmeasured seconds and then ``--seconds`` measured ones.
A final drain merges what is left. A chunk's latency runs from its due
time to the commit of the call that merged it.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCE_SCHEMA = "id bigint, name string, age int, yearsofexp int, salary bigint"
ENRICHED_SCHEMA = "id long, name string, age int, yearsofexp int, salary long, new_salary long"
TABLE_SCHEMA = pa.schema([
    ("id", pa.int64()), ("name", pa.string()), ("age", pa.int32()),
    ("yearsofexp", pa.int32()), ("salary", pa.int64()),
])
CHUNK_S = 0.05
# The live phase first runs this long unmeasured: the first two live
# calls after the catch-up take 1.1-1.3 times as long as the later ones
# (the JVM warming up on small batches), and the open loop needs them
# to reach its steady state.
WARMUP_S = 6.0
# Share of live records that update a backlog employee. The reference
# adds each employee once (``/addemployee``, SURVEY.md section 3.3) and
# its ``/processsalary`` pass updates every employee once (section
# 3.1): one salary update per added record, so half the records.
UPDATE_SHARE = 0.5
ENRICH_REPEATS = 5  # traced run: interleaved scan / scan+enrich timings
SIZES = {
    "full": {"backlog": 14_000, "rate": 1_000},
    "tiny": {"backlog": 2_000, "rate": 500},
}


def enriched_salary(salary, yearsofexp, age):
    """The salary service's rule, restated here as the expected output
    (the package's ``pipelines.parity._enrich_batches`` computes it)."""
    return salary + 500 * yearsofexp + (age % 5) * 250


class Traffic:
    """Seeded record stream: fresh ids from 1 up, plus salary updates
    that each hit a distinct backlog id."""

    def __init__(self, seed: int, backlog: int):
        self.rng = np.random.default_rng(seed)
        self.next_id = 1
        self.backlog = backlog
        self.update_order = self.rng.permutation(np.arange(1, backlog + 1))
        self.n_updates = 0
        self.latest: dict[int, tuple] = {}  # id -> (name, age, yoe, salary) last sent
        self.offered = 0

    def lines(self, n: int, updates: bool) -> bytes:
        """``n`` JSON lines; with ``updates``, about UPDATE_SHARE of them
        give a not-yet-updated backlog employee a new salary."""
        k = 0
        if updates:
            k = min(int(self.rng.binomial(n, UPDATE_SHARE)), self.backlog - self.n_updates)
        out = []
        for j, x in enumerate(self.rng.integers(0, 2**31, n).tolist()):
            salary = 30_000 + (x % 50) * 1_000
            if j < k:
                i = int(self.update_order[self.n_updates])
                self.n_updates += 1
                name, age, yoe, _ = self.latest[i]
            else:
                i = self.next_id
                self.next_id += 1
                name, age, yoe = f"User{x % 10_000}", 18 + x % 40, x % 30
            self.latest[i] = (name, age, yoe, salary)
            out.append(json.dumps(
                {"id": i, "name": name, "age": age, "yearsofexp": yoe, "salary": salary}))
        self.offered += n
        return ("\n".join(out) + "\n").encode()


def p95(xs) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[94]


def _progress(q) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else dict(p) for p in q.recentProgress]


def _end_offset(prog: dict) -> int:
    end = prog["sources"][0]["endOffset"]
    if isinstance(end, str):
        end = json.loads(end)
    return int(end["bytes"])


def _table_stats(path: str) -> tuple[int, int]:
    """(rows, bytes) of the parquet table, from file sizes and footers."""
    rows = size = 0
    for name in os.listdir(path):
        full = os.path.join(path, name)
        if name.endswith(".parquet"):
            rows += pq.ParquetFile(full).metadata.num_rows
        size += os.path.getsize(full)
    return rows, size


class Pipeline:
    """The stream under test and the bookkeeping of its calls."""

    def __init__(self, run, url: str, base: str):
        from go_http_data_pipeline_spark.pipelines.parity import _enrich_batches
        from pyspark.sql import functions as F

        self.run, self.url, self.base = run, url, base
        self.ckpt = str(run.work / "ckpt")
        self.enrich = _enrich_batches
        src = self.source()
        self.stream = src.mapInPandas(_enrich_batches, schema=ENRICHED_SCHEMA).select(
            "id", "name", "age", "yearsofexp", F.col("new_salary").alias("salary")
        )
        self.calls: list[dict] = []
        self.committed = 0

    def source(self):
        return (
            self.run.spark.readStream.format("httpjson")
            .schema(SOURCE_SCHEMA)
            .option("url", self.url)
            .load()
        )

    def call(self, phase: str) -> dict:
        """One ``foreach_batch_merge`` call, run to completion."""
        from go_http_data_pipeline_spark.streaming.core import foreach_batch_merge

        tr = self.run.tracer
        t0 = self.run.clock.mark()
        with tr.span(f"core.foreach_batch_merge.{phase}"):
            q = foreach_batch_merge(self.run.spark, self.stream, self.base, "id",
                                    checkpoint_dir=self.ckpt)
            q.awaitTermination()
        t1 = self.run.clock.mark()
        if q.exception() is not None:
            raise RuntimeError(f"merge call failed: {q.exception()}")
        progs = [p for p in _progress(q) if p.get("numInputRows", 0) > 0]
        start = self.committed
        if progs:
            self.committed = _end_offset(progs[-1])
        c = {
            "phase": phase, "start": t0, "end": t1, "s": self.run.clock.length(t0, t1),
            "bytes": self.committed - start,
            "committed": self.committed,
            "rows_in": sum(p["numInputRows"] for p in progs),
            "trigger_ms": sum(p["durationMs"].get("triggerExecution", 0) for p in progs),
            "add_batch_ms": sum(p["durationMs"].get("addBatch", 0) for p in progs),
            "latest_offset_ms": sum(p["durationMs"].get("latestOffset", 0) for p in progs),
        }
        if self.run.trace:
            c["table_rows"], c["table_bytes"] = _table_stats(self.base)
        self.calls.append(c)
        return c


class Generator(threading.Thread):
    """Open-loop writer: chunk i is due at ``t0 + i * CHUNK_S`` and is
    appended then, however far behind the pipeline is."""

    def __init__(self, srv, traffic: Traffic, rate: int, t0: float, until: float, body_len: int):
        super().__init__(daemon=True)
        self.srv, self.traffic = srv, traffic
        self.per_chunk = max(1, int(rate * CHUNK_S))
        self.t0, self.until = t0, until
        self.length = body_len
        self.chunks: list[tuple[float, int]] = []  # (due, end byte)
        self.lag: list[float] = []
        self.error: Exception | None = None

    def run(self):
        try:
            i = 0
            while (due := self.t0 + i * CHUNK_S) < self.until:
                body = self.traffic.lines(self.per_chunk, updates=True)
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                self.srv.extend(body)
                self.lag.append(time.perf_counter() - due)
                self.length += len(body)
                self.chunks.append((due, self.length))
                i += 1
        except Exception as e:  # re-raised by the main thread after join()
            self.error = e


def check_table(base: str, traffic: Traffic, expected: dict | None = None) -> int:
    """Failures: ids whose merged row is missing or wrong, plus rows
    that should not be there (duplicates, unknown ids)."""
    if expected is None:
        expected = {
            i: (nm, a, y, enriched_salary(s, y, a)) for i, (nm, a, y, s) in traffic.latest.items()
        }
    got = pq.read_table(base).to_pydict()
    seen: dict[int, tuple] = {}
    extra = 0
    for i, nm, a, y, s in zip(got["id"], got["name"], got["age"], got["yearsofexp"], got["salary"]):
        if i in seen or i not in expected:
            extra += 1
        seen[i] = (nm, a, y, s)
    wrong = sum(1 for i, row in expected.items() if seen.get(i) != row)
    return wrong + extra


def run(r) -> None:
    from go_http_data_pipeline_spark.sources import http_json

    size = SIZES[r.size]
    traffic = srv = None
    backlog_bytes = 0
    base = str(r.work / "employee")

    def stage():
        nonlocal traffic, srv, backlog_bytes
        if srv is not None:
            srv.shutdown()
        traffic = Traffic(r.seed, size["backlog"])
        body = traffic.lines(size["backlog"], updates=False)
        backlog_bytes = len(body)
        srv = http_json._RangeLogServer(body)
        os.makedirs(base, exist_ok=True)
        pq.write_table(TABLE_SCHEMA.empty_table(), os.path.join(base, "part-0.parquet"))
        http_json.register(r.spark)

    try:
        r.setup(stage)
        _measure(r, size, traffic, srv, base, backlog_bytes)
    finally:
        if srv is not None:
            srv.shutdown()


def _measure(r, size, traffic: Traffic, srv, base: str, backlog_bytes: int) -> None:
    p = Pipeline(r, srv.url, base)
    tr = r.tracer

    # Phase A: catch-up of the backlog.
    with tr.span("phase.catchup"):
        t0 = r.clock.mark()
        while p.committed < backlog_bytes:
            p.call("catchup")
        t1 = r.clock.mark()
        catchup_s, catchup_wall = r.clock.length(t0, t1), t1 - t0

    # Phase B: open-loop live traffic, calls back to back. Chunks due
    # and calls started in the first WARMUP_S seconds are not measured.
    t_live = r.clock.mark()
    t_meas = t_live + WARMUP_S
    gen = Generator(srv, traffic, size["rate"], t_live, t_meas + r.seconds, backlog_bytes)
    with tr.span("phase.live"):
        gen.start()
        while time.perf_counter() < t_meas + r.seconds:
            p.call("live")
        gen.join()
    if gen.error is not None:
        raise RuntimeError("traffic generator failed") from gen.error
    live_wall = time.perf_counter() - t_live
    with tr.span("phase.drain"):
        for _ in range(5):
            if p.committed >= gen.length:
                break
            p.call("drain")
    if p.committed < gen.length:
        raise RuntimeError(f"drain stopped at byte {p.committed} of {gen.length}")

    # Each measured chunk's latency: due time -> commit of the call
    # covering it.
    lat, lat_wall, merged_by = [], [], []
    for due, end in gen.chunks:
        if due < t_meas:
            continue
        k = next(k for k, c in enumerate(p.calls) if c["committed"] >= end)
        lat.append(r.clock.length(due, p.calls[k]["end"]))
        lat_wall.append(p.calls[k]["end"] - due)
        merged_by.append(k)
    live_all = [c for c in p.calls if c["phase"] == "live"]
    live = [c for c in live_all if c["start"] >= t_meas]
    if not live:
        raise RuntimeError(f"no live call started in the {r.seconds} s measured")
    live_records = traffic.offered - size["backlog"]
    merged_live = gen.per_chunk * sum(end <= live_all[-1]["committed"] for _, end in gen.chunks)

    if r.trace:
        _trace_layers(r, p, traffic)

    with tr.span("check"):
        r.failed = check_table(base, traffic)
    r.attempted = traffic.offered

    m = r.metrics
    m["first_pass_s"] = catchup_s
    m["pass_s"] = statistics.median(c["s"] for c in live)
    m["latency_p50_s"] = statistics.median(lat)
    m["latency_p95_s"] = p95(lat)
    r.walls.update({
        "first_pass_s": catchup_wall,
        "pass_s": statistics.median(c["end"] - c["start"] for c in live),
        "latency_p50_s": statistics.median(lat_wall),
        "latency_p95_s": p95(lat_wall),
    })
    # Chunks merged by one call share its commit time, so the tail rests
    # on as many independent samples as calls it spans.
    tail_calls = {k for x, k in zip(lat, merged_by) if x >= m["latency_p95_s"]}
    m["ingest.catchup_records_per_s"] = size["backlog"] / catchup_s
    m["ingest.live_records_per_s"] = merged_live / live_wall
    m["ingest.generator_lag_ms"] = 1000 * max(gen.lag)
    m["http_json.rows_read_per_record"] = sum(c["rows_in"] for c in p.calls) / traffic.offered
    m["http_json.latest_offset_ms"] = statistics.median(c["latest_offset_ms"] for c in p.calls)
    m["core.call_s"] = m["pass_s"]
    m["core.add_batch_ms"] = statistics.median(c["add_batch_ms"] for c in live)
    m["core.start_stop_s"] = statistics.median(
        (c["end"] - c["start"]) - c["trigger_ms"] / 1000 for c in live
    )
    m["core.live_cycles"] = len(live)
    m["trace.first_pass_s"], m["trace.pass_s"] = m["first_pass_s"], m["pass_s"]
    r.info.update({
        "backlog_records": size["backlog"], "live_records": live_records,
        "live_updates": traffic.n_updates, "rate_per_s": size["rate"],
        "chunks": len(lat), "calls": len(p.calls), "p95_tail_calls": len(tail_calls),
        "live_calls": len(live),
        "calls_s": [  # phase, start after the live phase began, wall, corrected
            [c["phase"], round(c["start"] - t_live, 3), round(c["end"] - c["start"], 3),
             round(c["s"], 3)] for c in p.calls],
    })


def _trace_layers(r, p: Pipeline, traffic: Traffic) -> None:
    """Traced run only: merge write amplification from the table after
    each call, the source timed alone over the whole log, and the
    enrichment timed alone over an already materialized copy of it."""
    m = r.metrics
    merged_calls = [c for c in p.calls if c["rows_in"] > 0]
    m["merge.rows_rewritten_per_record"] = sum(c["table_rows"] for c in merged_calls) / traffic.offered
    m["merge.bytes_written_per_input_byte"] = (
        sum(c["table_bytes"] for c in merged_calls) / sum(c["bytes"] for c in merged_calls)
    )

    # The url stream reader alone, to a noop sink from a fresh checkpoint.
    parts: list[int] = []

    def sink(batch, _id):
        parts.append(batch.rdd.getNumPartitions())
        batch.write.format("noop").mode("overwrite").save()

    reads = []
    for i in range(2):  # the first read of the log also pays warm-up
        t0 = time.perf_counter()
        with r.tracer.span("http_json.read"):
            q = (p.source().writeStream.foreachBatch(sink)
                 .option("checkpointLocation", str(r.work / f"ckpt_read_{i}"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        reads.append(time.perf_counter() - t0)
    m["http_json.read_s"] = statistics.median(reads)
    m["http_json.partitions_per_batch"] = statistics.median(parts)

    # The enrichment alone: the log, fetched once and cached in one
    # partition as the url reader decodes it, is scanned to noop with
    # and without mapInPandas(_enrich_batches), interleaved; the
    # medians' difference is the enrichment's time.
    log = r.work / "log.jsonl"
    with urllib.request.urlopen(p.url) as resp:
        log.write_bytes(resp.read())
    cached = r.spark.read.schema(SOURCE_SCHEMA).json(str(log)).coalesce(1).cache()
    cached.count()
    enriched = cached.mapInPandas(p.enrich, schema=ENRICHED_SCHEMA)
    scans, enrichs = [], []
    for _ in range(ENRICH_REPEATS):
        for df, out, name in ((cached, scans, "scan"), (enriched, enrichs, "parity.enrich")):
            t0 = time.perf_counter()
            with r.tracer.span(name):
                df.write.format("noop").mode("overwrite").save()
            out.append(time.perf_counter() - t0)
    cached.unpersist()
    m["parity.enrich_s"] = statistics.median(enrichs) - statistics.median(scans)
