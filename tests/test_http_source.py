"""Custom httpjson DataSource: decode parity, partitioning, and
streaming offset/replay semantics."""

from __future__ import annotations

import json
import os

from go_http_data_pipeline_spark.sources.http_json import (
    _decode_line,
    register,
)

FIELDS = [("name", "string"), ("age", "int"), ("salary", "bigint")]


def test_decode_go_semantics():
    # Unknown fields dropped, missing null, wrong type null, malformed
    # all-null (Server/main.go:211 Go encoding/json behavior).
    assert _decode_line('{"name":"a","age":30,"salary":1,"x":9}', FIELDS) == (
        "a",
        30,
        1,
    )
    assert _decode_line('{"name":"a"}', FIELDS) == ("a", None, None)
    assert _decode_line('{"name":"a","age":"old"}', FIELDS) == ("a", None, None)
    assert _decode_line("garbage", FIELDS) == (None, None, None)
    assert _decode_line("[1,2,3]", FIELDS) == (None, None, None)


def _write_spool(tmp, files):
    for i, recs in enumerate(files):
        with open(os.path.join(tmp, f"f{i}.jsonl"), "w") as fh:
            for r in recs:
                fh.write((r if isinstance(r, str) else json.dumps(r)) + "\n")


def test_batch_read_partition_per_file(spark, tmp_path):
    _write_spool(
        tmp_path,
        [
            [{"name": "a", "age": 1, "salary": 10}],
            [{"name": "b", "age": 2, "salary": 20}, "broken"],
        ],
    )
    register(spark)
    df = (
        spark.read.format("httpjson")
        .schema("name string, age int, salary bigint")
        .option("spool", str(tmp_path))
        .load()
    )
    assert df.rdd.getNumPartitions() == 2
    rows = {tuple(r) for r in df.collect()}
    assert rows == {("a", 1, 10), ("b", 2, 20), (None, None, None)}


def test_stream_read_batched_replay(spark, tmp_path):
    recs = [{"name": f"u{i}", "age": i, "salary": 100 + i} for i in range(25)]
    _write_spool(tmp_path, [recs])
    register(spark)
    sdf = (
        spark.readStream.format("httpjson")
        .schema("name string, age int, salary bigint")
        .option("spool", str(tmp_path))
        .option("split_size", 10)  # shards the offset range into 3 partitions
        .load()
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("http_stream_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("http_stream_t")
    assert out.count() == 25  # every record exactly once
    assert {r.name for r in out.collect()} == {f"u{i}" for i in range(25)}


def test_stream_incremental_files_exactly_once(spark, tmp_path):
    # Second spool file lands between runs; resuming from the same
    # checkpoint reads ONLY the new records (exercising the per-file
    # count index / whole-file skip in _SpoolStreamReader.read).
    import json
    import os

    from go_http_data_pipeline_spark.sources.http_json import register

    ckpt = os.path.join(str(tmp_path), "_ckpt")
    spool = os.path.join(str(tmp_path), "spool")
    os.makedirs(spool)

    def land(fname, lo, hi):
        with open(os.path.join(spool, fname), "w") as fh:
            for i in range(lo, hi):
                fh.write(json.dumps({"name": f"u{i}", "age": i}) + "\n")

    register(spark)

    def run_once():
        got = []
        sdf = (
            spark.readStream.format("httpjson")
            .schema("name string, age int")
            .option("spool", spool)
            .option("split_size", 7)
            .load()
        )

        def collect(batch_df, batch_id):
            got.extend(r.name for r in batch_df.collect())

        q = (
            sdf.writeStream.foreachBatch(collect)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return got

    land("a_first.jsonl", 0, 20)
    assert sorted(run_once()) == sorted(f"u{i}" for i in range(20))
    land("b_second.jsonl", 20, 30)
    # Resuming from the checkpoint, the second run must emit exactly
    # the 10 new records — no replays, no gaps.
    assert sorted(run_once()) == sorted(f"u{i}" for i in range(20, 30))


class _OneShotJsonServer:
    """Localhost HTTP test double for the `url` transport: serves one
    fixed body on every GET (the salary-service / employees-endpoint
    stand-in, Server/main.go:229-259)."""

    def __init__(self, body: str, content_type: str = "application/json"):
        import http.server
        import threading

        payload = body.encode("utf-8")

        class H(http.server.BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 (stdlib API name)
                self.send_response(200)
                self.send_header("Content-Type", content_type)
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def log_message(self, *a):  # keep pytest output clean
                pass

        self._srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
        self._thread = threading.Thread(target=self._srv.serve_forever, daemon=True)
        self._thread.start()
        self.url = f"http://127.0.0.1:{self._srv.server_address[1]}/"

    def close(self):
        self._srv.shutdown()
        self._srv.server_close()


def test_url_transport_json_array(spark):
    body = json.dumps(
        [
            {"name": "a", "age": 1, "salary": 10, "unknown": "x"},
            {"name": "b", "age": "oops", "salary": 20},
        ]
    )
    srv = _OneShotJsonServer(body)
    try:
        register(spark)
        df = (
            spark.read.format("httpjson")
            .schema("name string, age int, salary bigint")
            .option("url", srv.url)
            .load()
        )
        rows = {tuple(r) for r in df.collect()}
    finally:
        srv.close()
    # Go-decode semantics hold over the network path too: unknown
    # fields dropped, wrong-typed values null.
    assert rows == {("a", 1, 10), ("b", None, 20)}


def test_url_transport_json_lines(spark):
    body = "\n".join(
        [json.dumps({"name": "x", "age": 5, "salary": 50}), "not json", ""]
    )
    srv = _OneShotJsonServer(body, content_type="application/x-ndjson")
    try:
        register(spark)
        df = (
            spark.read.format("httpjson")
            .schema("name string, age int, salary bigint")
            .option("url", srv.url)
            .load()
        )
        rows = {tuple(r) for r in df.collect()}
    finally:
        srv.close()
    assert rows == {("x", 5, 50), (None, None, None)}


class _AppendLogServer:
    """Localhost HTTP double for the streaming `url` transport: an
    append-only JSONL log with byte-Range support (206/416), the
    contract _UrlStreamReader's offsets are built on. Records every
    Range header seen so tests can assert delta-only polling.
    ``support_range=False`` degrades to a full-body 200 responder to
    exercise the reader's local-slice fallback."""

    def __init__(self, support_range: bool = True):
        import http.server
        import threading

        state = self._state = {"body": b"", "ranges": []}

        class H(http.server.BaseHTTPRequestHandler):
            def do_HEAD(self):  # noqa: N802 (stdlib API name)
                self.send_response(200)
                if support_range:
                    self.send_header("Accept-Ranges", "bytes")
                self.send_header("Content-Length", str(len(state["body"])))
                self.end_headers()

            def do_GET(self):  # noqa: N802 (stdlib API name)
                body = state["body"]
                rng = self.headers.get("Range")
                state["ranges"].append(rng)
                if support_range and rng:
                    spec = rng.split("=", 1)[1]
                    lo_s, hi_s = spec.split("-", 1)
                    lo = int(lo_s)
                    hi = int(hi_s) + 1 if hi_s else len(body)
                    if lo >= len(body):
                        self.send_response(416)
                        self.send_header(
                            "Content-Range", f"bytes */{len(body)}"
                        )
                        self.end_headers()
                        return
                    chunk = body[lo:hi]
                    self.send_response(206)
                    self.send_header("Content-Length", str(len(chunk)))
                    self.send_header(
                        "Content-Range",
                        f"bytes {lo}-{lo + len(chunk) - 1}/{len(body)}",
                    )
                    self.end_headers()
                    self.wfile.write(chunk)
                    return
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):
                pass

        self._srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
        self._thread = threading.Thread(
            target=self._srv.serve_forever, daemon=True
        )
        self._thread.start()
        self.url = f"http://127.0.0.1:{self._srv.server_address[1]}/"

    def append(self, text: str) -> None:
        self._state["body"] += text.encode("utf-8")

    def truncate(self, n: int) -> None:
        self._state["body"] = self._state["body"][:n]

    @property
    def ranges(self):
        return self._state["ranges"]

    def close(self):
        self._srv.shutdown()
        self._srv.server_close()


def _url_stream_run(spark, url, ckpt):
    """One availableNow run of the url stream; returns emitted names."""
    got = []
    sdf = (
        spark.readStream.format("httpjson")
        .schema("name string, age int")
        .option("url", url)
        .load()
    )

    def collect(batch_df, batch_id):
        got.extend(r.name for r in batch_df.collect())

    q = (
        sdf.writeStream.foreachBatch(collect)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return got


def test_url_stream_kill_restart_exactly_once(spark, tmp_path):
    """VERDICT r5/r7 item: the exactly-once claim for the URL
    transport, exercised end-to-end against a localhost HTTP double.
    The query is stopped (killed) after committing, the remote log
    grows — including a torn in-flight append with no trailing
    newline — and a restart from the same checkpoint must emit
    EXACTLY the new complete records: no duplicate from the committed
    range, no loss, and never a half-written line."""
    import os

    from go_http_data_pipeline_spark.sources.http_json import register

    register(spark)
    srv = _AppendLogServer()
    ckpt = os.path.join(str(tmp_path), "_ckpt")
    try:
        for i in range(20):
            srv.append(json.dumps({"name": f"u{i}", "age": i}) + "\n")
        assert sorted(_url_stream_run(spark, srv.url, ckpt)) == sorted(
            f"u{i}" for i in range(20)
        )
        # Log grows between runs; last append is torn (no newline yet).
        for i in range(20, 30):
            srv.append(json.dumps({"name": f"u{i}", "age": i}) + "\n")
        srv.append('{"name":"torn"')
        assert sorted(_url_stream_run(spark, srv.url, ckpt)) == sorted(
            f"u{i}" for i in range(20, 30)
        )
        # The torn line completes: exactly that one record arrives.
        srv.append(',"age":99}\n')
        assert _url_stream_run(spark, srv.url, ckpt) == ["torn"]
        # Steady-state polls fetched deltas, not the whole log: every
        # open-ended poll range ("bytes=N-") after the first starts
        # past byte 0. (Bounded ranges are batch READS of committed
        # spans — the first batch legitimately reads from byte 0.)
        polls = [r for r in srv.ranges if r and r.endswith("-")][1:]
        assert polls and all(not r.startswith("bytes=0-") for r in polls)
    finally:
        srv.close()


def test_url_stream_mid_batch_kill_replays_identically(spark, tmp_path):
    """Kill-mid-batch replay at the reader level: a batch's byte range
    is planned (offsets written to the WAL), the process dies before
    processing, and on restart a FRESH reader instance — all in-memory
    state lost, log since grown — must re-read the SAME committed
    range byte-identically. This is the replayability contract that
    makes checkpoint recovery at-least-once (and the idempotent merge
    effectively-once)."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from go_http_data_pipeline_spark.sources.http_json import _UrlStreamReader

    schema = StructType(
        [StructField("name", StringType()), StructField("age", IntegerType())]
    )
    srv = _AppendLogServer()
    try:
        for i in range(15):
            srv.append(json.dumps({"name": f"u{i}", "age": i}) + "\n")
        rdr = _UrlStreamReader(schema, srv.url, 5.0)
        start = rdr.initialOffset()
        end = rdr.latestOffset()
        parts = rdr.partitions(start, end)
        planned = [tuple(r) for p in parts for r in rdr.read(p)]
        assert planned == [(f"u{i}", i) for i in range(15)]
        # Crash: reader state is gone; the log keeps growing.
        for i in range(15, 40):
            srv.append(json.dumps({"name": f"u{i}", "age": i}) + "\n")
        fresh = _UrlStreamReader(schema, srv.url, 5.0)
        replayed = [
            tuple(r)
            for p in fresh.partitions(start, end)
            for r in fresh.read(p)
        ]
        assert replayed == planned
        # And the next batch picks up exactly after the committed end.
        nxt = fresh.latestOffset()
        delta = [
            tuple(r)
            for p in fresh.partitions(end, nxt)
            for r in fresh.read(p)
        ]
        assert delta == [(f"u{i}", i) for i in range(15, 40)]
    finally:
        srv.close()


def test_url_stream_truncated_log_fails_loudly(spark, tmp_path):
    """A truncated/rotated remote log violates the append-only
    contract the byte offsets are built on. The reader must raise a
    clear error (via Content-Range totals) rather than silently idle
    at a now-impossible offset or replay rotated content as a
    continuation."""
    import os

    import pytest

    from go_http_data_pipeline_spark.sources.http_json import register

    register(spark)
    srv = _AppendLogServer()
    ckpt = os.path.join(str(tmp_path), "_ckpt")
    try:
        for i in range(10):
            srv.append(json.dumps({"name": f"u{i}", "age": i}) + "\n")
        assert len(_url_stream_run(spark, srv.url, ckpt)) == 10
        srv.truncate(5)  # the log shrinks below the committed offset
        with pytest.raises(Exception, match="truncated"):
            _url_stream_run(spark, srv.url, ckpt)
    finally:
        srv.close()


def test_url_batch_parallel_splits_every_line_exactly_once(spark):
    """The batch URL reader plans byte-range splits off a HEAD probe
    and applies Hadoop text-split semantics (skip leading partial
    line, overscan to finish the trailing one). Torture the boundary
    rule with a tiny split size so MANY lines straddle splits: every
    record must appear exactly once, at every split granularity."""
    from go_http_data_pipeline_spark.sources.http_json import register

    register(spark)
    srv = _AppendLogServer()
    try:
        # Variable-length lines so boundaries fall mid-line often.
        for i in range(200):
            srv.append(json.dumps({"name": f"u{i}" + "x" * (i % 17), "age": i}) + "\n")
        for split in (37, 256, 10**9):
            df = (
                spark.read.format("httpjson")
                .schema("name string, age int")
                .option("url", srv.url)
                .option("split_bytes", str(split))
                .load()
            )
            got = sorted(r.age for r in df.collect())
            assert got == list(range(200)), f"split_bytes={split}"
        # Small split genuinely parallelized the scan.
        df = (
            spark.read.format("httpjson")
            .schema("name string, age int")
            .option("url", srv.url)
            .option("split_bytes", "256")
            .load()
        )
        assert df.rdd.getNumPartitions() > 4
    finally:
        srv.close()


def test_url_batch_split_property_exactly_once():
    """Property: for ANY line-length profile and ANY split size, the
    byte-range split reader decodes every record exactly once. Drives
    _UrlBatchReader directly (no Spark session) against the Range
    double, so hypothesis can afford many examples."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from go_http_data_pipeline_spark.sources.http_json import _UrlBatchReader

    schema = StructType(
        [StructField("name", StringType()), StructField("age", IntegerType())]
    )

    @settings(
        max_examples=25,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        pads=st.lists(st.integers(0, 40), min_size=1, max_size=60),
        split=st.integers(5, 400),
    )
    def check(pads, split):
        srv = _AppendLogServer()
        try:
            for i, pad in enumerate(pads):
                srv.append(
                    json.dumps({"name": "u" + "x" * pad, "age": i}) + "\n"
                )
            rdr = _UrlBatchReader(schema, srv.url, 5.0, split)
            got = sorted(
                r[1] for p in rdr.partitions() for r in rdr.read(p)
            )
            assert got == list(range(len(pads))), (pads, split)
        finally:
            srv.close()

    check()


def test_url_batch_split_is_consistent_snapshot_of_planned_total():
    """A batch read is a snapshot of the byte range planned at probe
    time: a line appended between planning and task execution must NOT
    leak into the last split's overscan (ADVICE r8 — the overscan loop
    previously read past the planned total). Plan the splits, grow the
    log, then execute the planned partitions."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from go_http_data_pipeline_spark.sources.http_json import _UrlBatchReader

    schema = StructType(
        [StructField("name", StringType()), StructField("age", IntegerType())]
    )
    srv = _AppendLogServer()
    try:
        for i in range(40):
            srv.append(json.dumps({"name": f"u{i}", "age": i}) + "\n")
        rdr = _UrlBatchReader(schema, srv.url, 5.0, 64)
        parts = rdr.partitions()  # snapshot planned here
        assert len(parts) > 1
        # The race: the log grows after planning, before reading.
        srv.append(json.dumps({"name": "late", "age": 999}) + "\n")
        got = sorted(r[1] for p in parts for r in rdr.read(p))
        assert got == list(range(40)), "post-snapshot line leaked into batch"
    finally:
        srv.close()


def test_url_batch_json_array_never_byte_split(spark):
    """A large JSON ARRAY body has no line structure — byte-splitting
    would shred the document. The reader must detect the '[' opener
    via a tiny Range peek and fall back to one whole-body partition,
    decoding every element, even when split_bytes is tiny."""
    from go_http_data_pipeline_spark.sources.http_json import register

    register(spark)
    srv = _AppendLogServer()
    try:
        srv.append(
            json.dumps([{"name": f"u{i}", "age": i} for i in range(300)])
        )
        df = (
            spark.read.format("httpjson")
            .schema("name string, age int")
            .option("url", srv.url)
            .option("split_bytes", "64")
            .load()
        )
        assert df.rdd.getNumPartitions() == 1
        assert sorted(r.age for r in df.collect()) == list(range(300))
    finally:
        srv.close()


def test_url_batch_rangeless_server_single_partition(spark):
    """No Accept-Ranges on HEAD -> one full-body partition, same
    rows."""
    from go_http_data_pipeline_spark.sources.http_json import register

    register(spark)
    srv = _AppendLogServer(support_range=False)
    try:
        for i in range(50):
            srv.append(json.dumps({"name": f"u{i}", "age": i}) + "\n")
        df = (
            spark.read.format("httpjson")
            .schema("name string, age int")
            .option("url", srv.url)
            .option("split_bytes", "64")
            .load()
        )
        assert df.rdd.getNumPartitions() == 1
        assert sorted(r.age for r in df.collect()) == list(range(50))
    finally:
        srv.close()


def test_url_stream_works_without_server_range_support(spark, tmp_path):
    """A server that ignores Range (returns 200 + full body) must
    yield the same exactly-once behavior via the local-slice
    fallback."""
    import os

    from go_http_data_pipeline_spark.sources.http_json import register

    register(spark)
    srv = _AppendLogServer(support_range=False)
    ckpt = os.path.join(str(tmp_path), "_ckpt")
    try:
        for i in range(8):
            srv.append(json.dumps({"name": f"n{i}", "age": i}) + "\n")
        assert sorted(_url_stream_run(spark, srv.url, ckpt)) == sorted(
            f"n{i}" for i in range(8)
        )
        for i in range(8, 11):
            srv.append(json.dumps({"name": f"n{i}", "age": i}) + "\n")
        assert sorted(_url_stream_run(spark, srv.url, ckpt)) == sorted(
            f"n{i}" for i in range(8, 11)
        )
    finally:
        srv.close()


def test_stream_offsets_stable_under_adversarial_arrivals(spark, tmp_path):
    """The two producer patterns that broke the old global-index
    offsets: (1) a new file that sorts lexicographically FIRST, and
    (2) an append to a non-last existing file. Per-file offsets must
    emit exactly the new records — the global index would replay
    committed rows and skip new ones."""
    import json
    import os

    from go_http_data_pipeline_spark.sources.http_json import register

    ckpt = os.path.join(str(tmp_path), "_ckpt")
    spool = os.path.join(str(tmp_path), "spool")
    os.makedirs(spool)

    def land(fname, lo, hi, mode="w"):
        with open(os.path.join(spool, fname), mode) as fh:
            for i in range(lo, hi):
                fh.write(json.dumps({"name": f"u{i}", "age": i}) + "\n")

    register(spark)

    def run_once():
        got = []
        sdf = (
            spark.readStream.format("httpjson")
            .schema("name string, age int")
            .option("spool", spool)
            .option("split_size", 7)
            .load()
        )

        def collect(batch_df, batch_id):
            got.extend(r.name for r in batch_df.collect())

        q = (
            sdf.writeStream.foreachBatch(collect)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return got

    land("m_mid.jsonl", 0, 20)
    assert sorted(run_once()) == sorted(f"u{i}" for i in range(20))
    # (1) new file sorting BEFORE the committed one
    land("a_early.jsonl", 20, 30)
    assert sorted(run_once()) == sorted(f"u{i}" for i in range(20, 30))
    # (2) append to the non-last committed file
    land("m_mid.jsonl", 30, 35, mode="a")
    assert sorted(run_once()) == sorted(f"u{i}" for i in range(30, 35))


def test_legacy_global_index_offset_migrates(tmp_path):
    """A checkpoint committed by the old reader stored one global
    record index ({"index": n}); resolving it as an empty per-file
    map would re-emit the ENTIRE spool. _migrate must allocate the
    first n records across name-sorted files, so partitions() emits
    only the genuinely-new range.

    Builds the schema with StructType/StructField constructors (not
    StructType.fromDDL, which needs an active SparkContext) so the
    test also passes when run standalone."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from go_http_data_pipeline_spark.sources.http_json import (
        _SpoolStreamReader,
    )

    import json as _json

    for fname, lo, hi in (("a.jsonl", 0, 10), ("b.jsonl", 10, 17)):
        with open(tmp_path / fname, "w") as fh:
            for i in range(lo, hi):
                fh.write(_json.dumps({"name": f"u{i}", "age": i}) + "\n")
    schema = StructType(
        [StructField("name", StringType()), StructField("age", IntegerType())]
    )
    rdr = _SpoolStreamReader(schema, str(tmp_path), 0)
    # Legacy start: 13 records consumed = all of a.jsonl + 3 of b.
    assert rdr._migrate({"index": 13}) == {
        "files": {"a.jsonl": 10, "b.jsonl": 3}
    }
    parts = rdr.partitions({"index": 13}, rdr.latestOffset())
    ranges = sorted(p.value for p in parts)
    assert ranges == [(str(tmp_path / "b.jsonl"), 3, 7)]
    # New-format offsets pass through untouched; junk raises clearly.
    assert rdr._migrate({"files": {"a.jsonl": 2}}) == {"files": {"a.jsonl": 2}}
    import pytest

    with pytest.raises(ValueError, match="unsupported httpjson offset"):
        rdr._migrate({"what": 1})


def test_coerce_is_type_strict_like_go():
    """Go's decoder does not parse numeric strings into ints, truncate
    fractional floats, or truthify strings into bools — wrong-typed
    values null out instead of fabricating data."""
    from go_http_data_pipeline_spark.sources.http_json import _decode_line

    fields = [("age", "int"), ("ok", "boolean"), ("score", "double"),
              ("name", "string")]
    line = '{"age":"12","ok":"false","score":"3.5","name":7}'
    assert _decode_line(line, fields) == (None, None, None, None)
    # Go parses int fields from the raw LITERAL (strconv.ParseInt):
    # 3.0 is rejected for an int just like 3.9 — only integer
    # literals decode; real bools/doubles/strings pass through.
    line = '{"age":3,"ok":true,"score":2,"name":"x"}'
    assert _decode_line(line, fields) == (3, True, 2.0, "x")
    assert _decode_line('{"age":3.0}', fields) == (None, None, None, None)
    assert _decode_line('{"age":3.9}', fields) == (None, None, None, None)
    assert _decode_line('{"age":true}', fields)[0] is None


def test_url_ingest_scan_matches_spool_transport(spark):
    """Transport parity end-to-end: the generated ingest log served by
    a live localhost endpoint and scanned through `option("url")` with
    forced byte-range splits must yield EXACTLY the rows the spool
    transport yields — same decode kernel, different transport — and
    the scan must actually have run as multiple range splits (the
    split path, not the whole-body fallback)."""
    from go_http_data_pipeline_spark.sources.http_json import (
        http_ingest_scan,
        url_ingest_scan,
    )

    from collections import Counter

    via_url = url_ingest_scan(spark, "")
    via_spool = http_ingest_scan(spark, "")
    assert via_url.rdd.getNumPartitions() > 1  # ranged splits engaged
    assert Counter(map(tuple, via_url.collect())) == Counter(
        map(tuple, via_spool.collect())
    )


def test_url_ingest_scan_against_oracle(spark):
    """The registered oracle reproduces the url-transport rows (the
    same gate the driver runs, in-process via DuckDB)."""
    import duckdb

    from go_http_data_pipeline_spark.sources.http_json import (
        _INGEST_ORACLE,
        url_ingest_scan,
    )

    from collections import Counter

    got = Counter(map(tuple, url_ingest_scan(spark, "").collect()))
    want = Counter(map(tuple, duckdb.sql(_INGEST_ORACLE).fetchall()))
    assert got == want


def test_url_ingest_stream_matches_batch_transport(spark):
    """The polling stream over the served log must surface exactly the
    batch scan's rows — the transport-matrix closure (spool/url x
    batch/stream, one decode kernel, one oracle)."""
    from collections import Counter

    from go_http_data_pipeline_spark.sources.http_json import (
        url_ingest_scan,
        url_ingest_stream,
    )

    stream_rows = Counter(map(tuple, url_ingest_stream(spark, "").collect()))
    batch_rows = Counter(map(tuple, url_ingest_scan(spark, "").collect()))
    assert stream_rows == batch_rows
    assert sum(stream_rows.values()) > 0


def test_url_ingest_multipoll_runs_twice_per_session(spark):
    """The multi-batch gate query (VERDICT r8 item 5) must be
    re-runnable in one session — fresh staged server, fresh checkpoint,
    unique memory sink per call — because the driver and tools/check.py
    may both invoke it in the same process. The >=2 data-carrying
    batches assertion is inside the query (it raises on regression to
    a single poll)."""
    from go_http_data_pipeline_spark.sources.http_json import (
        url_ingest_multipoll,
    )

    for _ in range(2):
        df = url_ingest_multipoll(spark, "unused")
        rows = df.collect()
        assert len(rows) == 1000
        assert sum(1 for r in rows if r.name is None) == 11  # malformed lines


def test_url_fanin_resumes_each_source_independently(spark, tmp_path):
    """The fan-in shape behind url_fanin_union: ONE streaming query
    over a union of N httpjson url sources keeps PER-SOURCE offsets in
    the shared checkpoint — appends to one endpoint must surface only
    that endpoint's new records on restart, with every other source
    resuming from its own committed position (no replays, no gaps)."""
    import os

    from go_http_data_pipeline_spark.sources.http_json import register

    register(spark)
    ckpt = os.path.join(str(tmp_path), "_ckpt")
    srv_a, srv_b = _AppendLogServer(), _AppendLogServer()
    try:
        for i in range(5):
            srv_a.append(json.dumps({"name": f"a{i}", "age": i}) + "\n")
            srv_b.append(json.dumps({"name": f"b{i}", "age": i}) + "\n")

        def run_once():
            got = []
            streams = [
                spark.readStream.format("httpjson")
                .schema("name string, age int")
                .option("url", u)
                .load()
                for u in (srv_a.url, srv_b.url)
            ]
            sdf = streams[0].unionByName(streams[1])
            q = (
                sdf.writeStream.foreachBatch(
                    lambda df, _id: got.extend(r.name for r in df.collect())
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return sorted(got)

        assert run_once() == sorted(
            [f"a{i}" for i in range(5)] + [f"b{i}" for i in range(5)]
        )
        # Grow ONLY endpoint B: the restart must emit exactly B's new
        # records — A resumes silently from its own offset.
        for i in range(5, 8):
            srv_b.append(json.dumps({"name": f"b{i}", "age": i}) + "\n")
        assert run_once() == [f"b{i}" for i in range(5, 8)]
        # Now ONLY endpoint A grows.
        srv_a.append(json.dumps({"name": "a5", "age": 5}) + "\n")
        assert run_once() == ["a5"]
    finally:
        srv_a.close()
        srv_b.close()


# Raw U+2028/U+2029/U+0085 are legal inside JSON strings; invalid UTF-8
# inside a string becomes U+FFFD per byte (Go encoding/json), and an
# invalid byte outside a string makes only its own line malformed.
_HOSTILE_LOG = b"".join(
    [
        '{"name":"a\u2028b","age":1,"salary":10}\n'.encode(),
        '{"name":"c\u2029d","age":2,"salary":20}\n'.encode(),
        '{"name":"e\u0085f","age":3,"salary":30}\n'.encode(),
        b'{"name":"g\xffh","age":4,"salary":40}\n',
        b'{"name":"j\xe2\x82k","age":5,"salary":50}\n',
        b'{"name":"x","age":6,"salary":60}\xff\n',
        b'{"name":"z","age":7,"salary":70}\n',
    ]
)
_HOSTILE_ROWS = {
    ("a\u2028b", 1, 10): 1,
    ("c\u2029d", 2, 20): 1,
    ("e\u0085f", 3, 30): 1,
    ("g\ufffdh", 4, 40): 1,
    ("j\ufffd\ufffdk", 5, 50): 1,
    (None, None, None): 1,
    ("z", 7, 70): 1,
}


def test_decode_invalid_utf8_is_replaced_per_byte_like_go():
    assert _decode_line(b'{"name":"g\xffh"}', FIELDS) == ("g\ufffdh", None, None)
    # A truncated 3-byte sequence is two invalid bytes: two U+FFFD.
    assert _decode_line(b'{"name":"j\xe2\x82k"}', FIELDS)[0] == "j\ufffd\ufffdk"
    assert _decode_line(b'{"name":"x"}\xff', FIELDS) == (None, None, None)
    assert _decode_line('{"name":"a\u2028b"}'.encode(), FIELDS)[0] == "a\u2028b"


def test_hostile_log_gives_same_rows_on_every_transport(spark, tmp_path):
    """Unicode line separators inside strings and invalid UTF-8 give
    the same rows through the spool reader, the url batch reader (whole
    body and byte-range splits) and the url stream reader."""
    from collections import Counter

    from go_http_data_pipeline_spark.sources.http_json import _RangeLogServer

    ddl = "name string, age int, salary bigint"
    spool = tmp_path / "spool"
    spool.mkdir()
    (spool / "log.jsonl").write_bytes(_HOSTILE_LOG)
    register(spark)
    srv = _RangeLogServer(_HOSTILE_LOG)
    try:
        got = {
            "spool": spark.read.format("httpjson").schema(ddl)
            .option("spool", str(spool)).load().collect(),
            "url": spark.read.format("httpjson").schema(ddl)
            .option("url", srv.url).load().collect(),
            "url_split": spark.read.format("httpjson").schema(ddl)
            .option("url", srv.url).option("split_bytes", 40).load().collect(),
        }
        streamed = []
        q = (
            spark.readStream.format("httpjson").schema(ddl)
            .option("url", srv.url).load()
            .writeStream.foreachBatch(lambda b, _: streamed.extend(b.collect()))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got["url_stream"] = streamed
    finally:
        srv.shutdown()
    for transport, rows in got.items():
        assert Counter(map(tuple, rows)) == _HOSTILE_ROWS, transport
