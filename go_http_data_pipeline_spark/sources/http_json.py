"""Custom ``httpjson`` DataSource (Python DataSource API) — the real
replacement for the reference's HTTP ingest surface (S1/S8/T1:
``POST /addemployee`` handled one record at a time,
``Server/main.go:209-227, 329-336``).

Registered with ``spark.dataSource.register(HttpJsonDataSource)``,
then:

    spark.read.format("httpjson").schema(ddl).option(...).load()
    spark.readStream.format("httpjson").schema(ddl).option(...).load()

Two transports, chosen by option:

* ``url``   — GET an endpoint returning a JSON array (batch) or an
  append-only JSON-lines log (streaming poll via byte-offset Range
  requests — ``_UrlStreamReader``). Exercised in tests against a
  localhost HTTP double (``tests/test_http_source.py``), including
  kill-and-restart replay from a committed checkpoint.
* ``spool`` — a local directory of ``*.jsonl`` files standing in for
  the HTTP request stream (each line = one POSTed record). This is
  the deterministic transport the oracle gate and pytest use.

Decoding mirrors Go ``encoding/json`` semantics (SURVEY.md §1.1.3):
unknown fields dropped, missing fields null, malformed lines -> all-
null row (PERMISSIVE) rather than an error.

Every transport frames records the same way: bodies and files are
split on the newline byte only, and each line is decoded on its own.
Raw U+2028, U+2029 and U+0085 are legal inside JSON strings, so they
must not split a record (``str.splitlines()`` would). Invalid UTF-8
becomes U+FFFD, one per invalid byte, as Go's decoder does inside
strings; an invalid byte therefore spoils at most its own line (a byte
outside a string makes that line malformed) instead of failing the
whole partition on every replay.

Streaming offsets are PER-FILE record counts (``{"files": {name:
n}}``), monotonic because ingest files are append-only. Per-file
tracking (not a single global index over name-sorted files) is what
makes the offsets stable: a new file that doesn't sort last, or an
append to a non-last file, changes nothing about already-committed
positions — a global index would silently re-emit committed records
and skip new ones after such an arrival. Each micro-batch's ranges
are sharded into ``split_size`` partitions for parallel decode; the
source is replayable from any committed offset, so checkpoint
recovery gives at-least-once, which the idempotent downstream merge
upgrades to effectively-once.
"""

from __future__ import annotations

import json
import os
import re
import urllib.error
import urllib.request
from collections.abc import Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

DEFAULT_SCHEMA = "name string, age int, yearsofexp int, salary bigint"


def _coerce(value, dt: str):
    """Go ``encoding/json`` typing: a wrong-typed value becomes null
    (the reference errors the request; schema-on-read nulls the
    field). Strict by LITERAL, not by convertibility — Go's decoder
    into a typed struct (``Server/main.go:34``) does not parse
    ``"12"`` into an int field, truncate ``3.9``, truthify
    ``"false"`` into a bool, or accept the non-integer literal
    ``3.0`` for an int (strconv.ParseInt on the raw literal rejects
    it). Python's json mirrors the literal split (``3`` -> int,
    ``3.0`` -> float), so type-checking the parsed value reproduces
    Go's rule exactly."""
    if value is None:
        return None
    # bool is an int subclass in Python: check it FIRST so JSON
    # true/false never leaks into numeric fields.
    if dt in ("int", "integer", "bigint", "long"):
        if isinstance(value, bool):
            return None
        return value if isinstance(value, int) else None
    if dt == "double":
        if isinstance(value, bool):
            return None
        return float(value) if isinstance(value, (int, float)) else None
    if dt == "string":
        return value if isinstance(value, str) else None
    if dt == "boolean":
        return value if isinstance(value, bool) else None
    return value


def _decode_obj(obj, fields: list[tuple[str, str]]):
    """One parsed JSON value -> one row tuple (PERMISSIVE)."""
    if not isinstance(obj, dict):
        return tuple(None for _ in fields)
    return tuple(_coerce(obj.get(name), dt) for name, dt in fields)


# surrogateescape maps each invalid byte to one lone surrogate in this
# range; strict UTF-8 never decodes to one.
_ESCAPED_BYTE = re.compile("[\udc80-\udcff]")


def _text(raw: bytes) -> str:
    """Bytes -> str with Go's invalid-UTF-8 rule: each invalid byte
    becomes one U+FFFD (``utf8.DecodeRune`` returns width 1). Python's
    "replace" would fold a truncated multi-byte sequence into one."""
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        escaped = raw.decode("utf-8", "surrogateescape")
        return _ESCAPED_BYTE.sub("\ufffd", escaped)


def _records(data: bytes):
    """The non-blank JSONL lines of ``data``, split on the newline byte
    only."""
    return (line for line in data.split(b"\n") if line.strip())


def _decode_line(line: bytes | str, fields: list[tuple[str, str]]):
    """One JSON text (raw line bytes, or already text) -> one row
    tuple (PERMISSIVE)."""
    try:
        obj = json.loads(line if isinstance(line, str) else _text(line))
    except json.JSONDecodeError:
        return tuple(None for _ in fields)
    return _decode_obj(obj, fields)


def _spool_files(spool: str) -> list[str]:
    return sorted(
        os.path.join(spool, f)
        for f in os.listdir(spool)
        if f.endswith(".jsonl")
    )


# Spool files are append-only (module contract), so a file's record
# count at a given size is immutable: cache per path as (size, count)
# — an append replaces the entry instead of leaking one stale
# (path, old_size) key per poll of a growing file — and latestOffset()
# only recounts files whose size changed.
_COUNT_CACHE: dict[str, tuple[int, int]] = {}


def _file_record_counts(spool: str) -> list[tuple[str, int]]:
    out = []
    for path in _spool_files(spool):
        size = os.path.getsize(path)
        cached = _COUNT_CACHE.get(path)
        if cached is not None and cached[0] == size:
            n = cached[1]
        else:
            with open(path, "rb") as fh:
                n = sum(1 for line in fh if line.strip())
            _COUNT_CACHE[path] = (size, n)
        out.append((path, n))
    return out


def _fields(schema: StructType) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


class _SpoolBatchReader(DataSourceReader):
    def __init__(self, schema: StructType, spool: str):
        self._fields = _fields(schema)
        self._spool = spool

    def partitions(self) -> Sequence[InputPartition]:
        # One partition per spool file: reads scale with ingest files.
        return [InputPartition(p) for p in _spool_files(self._spool)]

    def read(self, partition: InputPartition):
        with open(partition.value, "rb") as fh:
            for line in fh:
                if line.strip():
                    yield _decode_line(line, self._fields)


class _UrlBatchReader(DataSourceReader):
    """Batch GET of a JSON endpoint. JSONL bodies are read in PARALLEL
    byte-range splits when the server advertises Range support
    (``Accept-Ranges: bytes`` + Content-Length on a HEAD probe): the
    driver plans fixed-size byte splits WITHOUT fetching any data, and
    each executor task applies the classic distributed-text-split rule
    (the same contract Hadoop's TextInputFormat uses): a split skips
    its first partial line (it belongs to the previous split, which
    reads PAST its end to finish it), so every line is decoded exactly
    once regardless of where split boundaries fall. A JSON-array body
    or a Range-less server degrades to one full-body partition."""

    # Bodies smaller than this aren't worth splitting (per-request
    # overhead dominates); also the per-split size when splitting.
    SPLIT_BYTES = 4 * 1024 * 1024

    def __init__(
        self,
        schema: StructType,
        url: str,
        timeout_s: float,
        split_bytes: int | None = None,
    ):
        self._fields = _fields(schema)
        self._url = url
        self._timeout = timeout_s
        self._split = split_bytes or self.SPLIT_BYTES

    def _probe(self) -> int | None:
        """HEAD the endpoint; returns Content-Length if byte ranges
        are usable, else None (no data fetched either way)."""
        req = urllib.request.Request(self._url, method="HEAD")
        try:
            with urllib.request.urlopen(req, timeout=self._timeout) as resp:
                if resp.headers.get("Accept-Ranges", "").lower() != "bytes":
                    return None
                length = resp.headers.get("Content-Length")
                return int(length) if length else None
        except (urllib.error.URLError, ValueError):
            return None  # HEAD unsupported: single-partition fallback

    def partitions(self) -> Sequence[InputPartition]:
        total = self._probe()
        if total is None or total <= self._split:
            return [InputPartition((0, None, None))]  # whole body, one task
        # Byte splits are only valid for JSONL. A JSON ARRAY body has
        # no line structure — splitting it would shred the document —
        # so peek at the first bytes (one tiny Range request): a body
        # whose first non-whitespace char is '[' reads whole.
        head = _http_range(self._url, 0, 64, self._timeout).lstrip()
        if head.startswith(b"["):
            return [InputPartition((0, None, None))]
        # `total` rides along in every split so read()'s overscan can
        # stop at the PLANNED snapshot length: a log that grows between
        # the HEAD probe and task execution must not leak post-snapshot
        # lines into the last split (a batch read is a consistent
        # snapshot of the probed byte range — ADVICE r8).
        return [
            InputPartition((lo, min(lo + self._split, total), total))
            for lo in range(0, total, self._split)
        ]

    def read(self, partition):
        lo, hi, total = partition.value
        if hi is None:
            # Whole body: may be a JSON array or JSONL.
            with urllib.request.urlopen(
                self._url, timeout=self._timeout
            ) as resp:
                body = resp.read()
            try:
                records = json.loads(_text(body))
            except json.JSONDecodeError:
                records = None
            if isinstance(records, list):  # JSON array body
                for obj in records:
                    yield _decode_obj(obj, self._fields)
            else:  # JSON-lines body
                for line in _records(body):
                    yield _decode_line(line, self._fields)
            return
        # Ranged JSONL split [lo, hi): Hadoop text-split semantics.
        # A non-first split fetches from lo-1 and discards through the
        # FIRST newline: if byte lo-1 is itself a newline, only that
        # byte is dropped and the line starting exactly at lo is kept
        # (dropping to the first newline of [lo, hi) instead would
        # lose every line that begins precisely on a boundary).
        fetch_lo = lo - 1 if lo > 0 else 0
        chunk = _http_range(self._url, fetch_lo, hi, self._timeout)
        if lo > 0:
            nl = chunk.find(b"\n")
            if nl == -1:
                # No newline at all: every byte belongs to a line the
                # previous split owns (it overscans to finish it).
                return
            chunk = chunk[nl + 1 :]
        if not chunk:
            # The split held only the tail of a line owned by its
            # predecessor: overscanning here would steal (and
            # duplicate) the NEXT split's first line.
            return
        if not chunk.endswith(b"\n"):
            # Overscan past hi to finish the last (cut) line — but
            # never past the planned snapshot total: bytes appended
            # after the planning probe are the NEXT read's data, not
            # this one's (consistent-snapshot batch semantics).
            pos = hi
            while pos < total:
                more = _http_range(
                    self._url, pos, min(pos + 65536, total), self._timeout
                )
                if not more:
                    break
                nl = more.find(b"\n")
                if nl != -1:
                    chunk += more[: nl + 1]
                    break
                chunk += more
                pos += len(more)
        for line in _records(chunk):
            yield _decode_line(line, self._fields)


class _SpoolStreamReader(DataSourceStreamReader):
    """Offset = {"files": {basename: records consumed}} — PER FILE,
    so a committed position never moves when a new file arrives at
    any sort position or an existing file is appended (a single
    global index over name-sorted files would re-emit committed
    records and skip new ones on either event). Replayable:
    partitions(start, end) re-reads any committed range
    deterministically."""

    def __init__(self, schema: StructType, spool: str, split_size: int):
        self._fields = _fields(schema)
        self._spool = spool
        self._split = split_size

    def initialOffset(self) -> dict:
        return {"files": {}}

    def latestOffset(self) -> dict:
        return {
            "files": {
                os.path.basename(p): n
                for p, n in _file_record_counts(self._spool)
            }
        }

    def _migrate(self, off: dict) -> dict:
        """Accept a legacy ``{"index": n}`` offset (one global record
        index over name-sorted files) from a checkpoint committed by
        the pre-per-file reader. Without this, ``.get("files", {})``
        resolves the legacy offset to "nothing consumed" and silently
        re-emits the ENTIRE spool — duplicates for non-idempotent
        sinks. Conversion walks the current name-sorted files and
        allocates the first ``n`` records across them, which is
        exactly what the legacy reader had consumed (its correctness
        precondition — files only ever appended at the end of the
        sort order — is the same one the legacy checkpoint was
        written under)."""
        if "files" in off:
            return off
        if "index" not in off:
            raise ValueError(f"unsupported httpjson offset: {off!r}")
        remaining = int(off["index"])
        files: dict[str, int] = {}
        for path, n in sorted(_file_record_counts(self._spool)):
            take = min(remaining, n)
            if take <= 0:
                break
            files[os.path.basename(path)] = take
            remaining -= take
        return {"files": files}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        # The committed range [start, end) must be read in full (the
        # engine commits `end` regardless) — so `split_size` shards
        # each file's delta into parallel partitions rather than
        # throttling it; ingest throttling is the trigger's job
        # (T2: processingTime trigger).
        start, end = self._migrate(start), self._migrate(end)
        s, e = start.get("files", {}), end.get("files", {})
        parts: list[InputPartition] = []
        for name in sorted(e):
            lo, hi = s.get(name, 0), e[name]
            if hi <= lo:
                continue
            path = os.path.join(self._spool, name)
            step = self._split if self._split > 0 else hi - lo
            parts.extend(
                InputPartition((path, i, min(i + step, hi)))
                for i in range(lo, hi, step)
            )
        return parts or [InputPartition((None, 0, 0))]

    def read(self, partition: InputPartition):
        path, lo, hi = partition.value
        if path is None or hi <= lo:
            return
        pos = 0
        with open(path, "rb") as fh:
            for line in fh:
                if not line.strip():
                    continue
                if pos >= hi:
                    break
                if pos >= lo:
                    yield _decode_line(line, self._fields)
                pos += 1

    def commit(self, end: dict) -> None:
        pass  # spool files are append-only; nothing to clean up


def _http_range(url: str, lo: int, hi: int | None, timeout_s: float):
    """GET ``url`` with ``Range: bytes=lo-(hi-1)`` (or open-ended when
    ``hi`` is None). Returns the requested slice as bytes, degrading
    transparently when the server ignores Range (status 200 = full
    body: slice locally) or reports nothing-new (416). Delta reads are
    the point: an append-only ingest log re-polled every trigger must
    not be re-downloaded from byte 0 each time."""
    rng = f"bytes={lo}-" if hi is None else f"bytes={lo}-{hi - 1}"
    req = urllib.request.Request(url, headers={"Range": rng})
    try:
        with urllib.request.urlopen(req, timeout=timeout_s) as resp:
            body = resp.read()
            if resp.status == 206:
                return body
            # Server ignored Range: slice the full body locally.
            return body[lo:] if hi is None else body[lo:hi]
    except urllib.error.HTTPError as e:
        if e.code == 416:  # range starts at/after EOF: nothing new
            return b""
        raise


def _http_range_with_total(url: str, lo: int, timeout_s: float):
    """Open-ended Range GET returning ``(data, total_length)``.
    ``total_length`` comes from the Content-Range header — present on
    both 206 (``bytes lo-hi/total``) and 416 (``bytes */total``)
    responses — or Content-Length on a Range-ignoring 200; None when
    the server reports neither. The total is what lets the stream
    reader DETECT a truncated/rotated log instead of stalling."""
    req = urllib.request.Request(url, headers={"Range": f"bytes={lo}-"})

    def _total(headers) -> int | None:
        cr = headers.get("Content-Range", "")
        m = re.search(r"/(\d+)\s*$", cr)
        return int(m.group(1)) if m else None

    try:
        with urllib.request.urlopen(req, timeout=timeout_s) as resp:
            body = resp.read()
            if resp.status == 206:
                return body, _total(resp.headers)
            return body[lo:], len(body)  # 200: full body, exact length
    except urllib.error.HTTPError as e:
        if e.code == 416:
            return b"", _total(e.headers)
        raise


class _UrlStreamReader(DataSourceStreamReader):
    """Polling stream reader over an append-only JSONL log served at
    a URL — the streaming twin of ``_UrlBatchReader`` and the
    network-transport twin of ``_SpoolStreamReader``.

    Offset = ``{"bytes": n}``: the byte position of a LINE BOUNDARY
    in the log. ``latestOffset()`` fetches only the delta
    (``Range: bytes=known-``) and advances to the last newline seen,
    so a partial trailing line (an in-flight append) is never split
    across batches; ``partitions(start, end)`` describes the exact
    committed byte range and ``read()`` re-fetches it with the same
    Range request, so ANY committed range replays byte-identically
    after a crash — the engine's checkpointed offsets plus this
    deterministic re-read give at-least-once, which the idempotent
    downstream merge upgrades to effectively-once (same contract the
    spool reader is tested for).

    One partition per micro-batch: a single HTTP endpoint is one
    serial log (the moral equivalent of a single Kafka partition) —
    byte ranges can only be split at line boundaries the driver would
    have to fetch data to discover. Scale-out ingest comes from MANY
    endpoints/spools unioned, not from slicing one endpoint's log."""

    def __init__(self, schema: StructType, url: str, timeout_s: float):
        self._fields = _fields(schema)
        self._url = url
        self._timeout = timeout_s
        self._known = 0  # line-boundary byte position we've polled to

    def initialOffset(self) -> dict:
        return {"bytes": 0}

    def latestOffset(self) -> dict:
        tail, total = _http_range_with_total(
            self._url, self._known, self._timeout
        )
        if total is not None and total < self._known:
            # The log SHRANK: it was truncated or rotated, violating
            # the append-only contract this source's offsets (and any
            # committed checkpoint) are built on. Failing loudly beats
            # the two silent alternatives — idling forever at a
            # now-impossible offset, or replaying a rotated file's
            # fresh content as if it continued the old byte space.
            raise ValueError(
                f"httpjson url log truncated: length {total} < committed "
                f"offset {self._known} — the endpoint must be append-only "
                "(rotate to a NEW url instead)"
            )
        cut = tail.rfind(b"\n")
        if cut != -1:
            self._known += cut + 1
        return {"bytes": self._known}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo, hi = int(start["bytes"]), int(end["bytes"])
        # After a restart, self._known resets to 0 while the engine
        # replays from the checkpointed offset — resync so the next
        # poll reads only the genuine delta instead of from byte 0.
        self._known = max(self._known, hi)
        if hi <= lo:
            return [InputPartition((None, 0, 0))]
        return [InputPartition((self._url, lo, hi))]

    def read(self, partition: InputPartition):
        url, lo, hi = partition.value
        if url is None or hi <= lo:
            return
        for line in _records(_http_range(url, lo, hi, self._timeout)):
            yield _decode_line(line, self._fields)

    def commit(self, end: dict) -> None:
        pass  # the remote log is append-only; nothing to clean up


class HttpJsonDataSource(DataSource):
    """``format("httpjson")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "httpjson"

    def schema(self) -> str:
        return DEFAULT_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        spool = self.options.get("spool")
        url = self.options.get("url")
        if spool:
            return _SpoolBatchReader(schema, spool)
        if url:
            split = self.options.get("split_bytes")
            return _UrlBatchReader(
                schema,
                url,
                float(self.options.get("timeout_s", 10)),
                int(split) if split else None,
            )
        raise ValueError("httpjson: set option 'spool' (dir) or 'url'")

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        spool = self.options.get("spool")
        url = self.options.get("url")
        if spool:
            return _SpoolStreamReader(
                schema, spool, int(self.options.get("split_size", 0))
            )
        if url:
            return _UrlStreamReader(
                schema, url, float(self.options.get("timeout_s", 10))
            )
        raise ValueError(
            "httpjson streaming: set option 'spool' (dir) or 'url'"
        )


def register(spark) -> None:
    spark.dataSource.register(HttpJsonDataSource)


# ---------------------------------------------------------- oracle query

from ..registry import query  # noqa: E402  (import cycle-safe: registry has no spark deps)

_N_GEN = 1000
_BAD_EVERY = 97  # every 97th "request" is malformed -> all-null row


def stage_spool(tmp_root: str | None = None) -> str:
    """Write the deterministic ingest spool once per process: the
    Random client's records (seeded LCG, as ``generated_users``) with
    unknown fields on every record and a malformed line every 97th —
    exercising Go-decode parity (drop unknown, null on malformed)."""
    import shutil
    import tempfile

    root = tmp_root or os.path.join(tempfile.gettempdir(), "httpjson_spool_v1")
    done = os.path.join(root, "_SUCCESS")
    if os.path.exists(done):
        return root
    # Stage into a process-private directory, then rename into place:
    # a bare check-then-write would let two processes (pytest workers,
    # driver + tests) truncate each other's half-written files in 'w'
    # mode. rename is atomic; the loser just discards its staging.
    staging = tempfile.mkdtemp(
        prefix="httpjson_stage_", dir=os.path.dirname(root) or None
    )
    roles = ("intern", "developer", "manager", "analyst")
    # Two files so the batch reader gets two partitions.
    half = _N_GEN // 2
    for fi, lo in enumerate((0, half)):
        with open(os.path.join(staging, f"ingest_{fi}.jsonl"), "w") as fh:
            for n in range(lo, lo + half):
                if n % _BAD_EVERY == 0:
                    fh.write("not json at all\n")
                    continue
                x = (1103515245 * (n + 42) + 12345) % 2147483648
                rec = {
                    "name": f"User{x % 10000}",
                    "role": roles[x % 4],
                    "age": 18 + x % 40,
                    "unknown_field": n,  # dropped by schema-on-read
                }
                fh.write(json.dumps(rec) + "\n")
    with open(os.path.join(staging, "_SUCCESS"), "w"):
        pass
    try:
        os.rename(staging, root)
    except OSError:  # another process won the race: its spool is complete
        shutil.rmtree(staging, ignore_errors=True)
    return root


# One oracle for BOTH ingest transports (spool + url): the generated
# records regenerated relationally, so each transport's decode path is
# proven inside the correctness gate, not just in unit tests.
_INGEST_ORACLE = f"""
    WITH gen AS (
        SELECT n, (1103515245 * (n + 42) + 12345) % 2147483648 AS x
        FROM range(0, {_N_GEN}) t(n)
    )
    SELECT CASE WHEN n % {_BAD_EVERY} = 0 THEN NULL
                ELSE 'User' || CAST(x % 10000 AS VARCHAR) END AS name,
           CASE WHEN n % {_BAD_EVERY} = 0 THEN NULL
                ELSE ['intern','developer','manager','analyst'][CAST(x % 4 AS INT) + 1]
           END AS role,
           CASE WHEN n % {_BAD_EVERY} = 0 THEN NULL
                ELSE CAST(18 + x % 40 AS INT) END AS age
    FROM gen
    """


@query("http_ingest_scan", oracle=_INGEST_ORACLE)
def http_ingest_scan(spark, sf_dir: str):
    """S1/S8 through the custom DataSource: JSON records decoded with
    Go semantics (unknown fields dropped, malformed -> null row),
    one partition per spool file. The oracle regenerates the same
    records relationally — proving the source's decode path inside
    the correctness gate, not just in unit tests."""
    register(spark)
    spool = stage_spool()
    return (
        spark.read.format("httpjson")
        .schema("name string, role string, age int")
        .option("spool", spool)
        .load()
    )


# Process-lifetime localhost servers keyed by spool dir: the returned
# DataFrame is lazy — the driver collects it AFTER the query fn
# returns, so the server must outlive the call (same pattern as the
# embedded-Derby memo in sources/jdbc.py). Daemon threads die with the
# process; nothing to clean up.
_LOG_SERVERS: dict = {}


class _RangeLogServer:
    """Localhost HTTP double for an append-only remote log with
    byte-Range support (Accept-Ranges on HEAD; 206/416 on GET) — the
    contract the url transport's parallel byte-splits and streaming
    delta polls are built on. ``extend()`` grows the log between
    requests, exactly like a live ingest endpoint appending records;
    HEAD/Content-Range always reflect the CURRENT length. The
    in-process double stands in for the reference's remote HTTP
    endpoint exactly as embedded Derby stands in for its MySQL."""

    def __init__(self, body: bytes):
        import http.server
        import threading

        state = self._state = {"body": body}

        class H(http.server.BaseHTTPRequestHandler):
            def do_HEAD(self):  # noqa: N802 (stdlib API name)
                b = state["body"]
                self.send_response(200)
                self.send_header("Accept-Ranges", "bytes")
                self.send_header("Content-Length", str(len(b)))
                self.end_headers()

            def do_GET(self):  # noqa: N802 (stdlib API name)
                b = state["body"]
                rng = self.headers.get("Range")
                if rng:
                    spec = rng.split("=", 1)[1]
                    lo_s, hi_s = spec.split("-", 1)
                    lo = int(lo_s)
                    hi = int(hi_s) + 1 if hi_s else len(b)
                    if lo >= len(b):
                        self.send_response(416)
                        self.send_header(
                            "Content-Range", f"bytes */{len(b)}"
                        )
                        self.end_headers()
                        return
                    chunk = b[lo:hi]
                    self.send_response(206)
                    self.send_header("Content-Length", str(len(chunk)))
                    self.send_header(
                        "Content-Range",
                        f"bytes {lo}-{lo + len(chunk) - 1}/{len(b)}",
                    )
                    self.end_headers()
                    self.wfile.write(chunk)
                    return
                self.send_response(200)
                self.send_header("Content-Length", str(len(b)))
                self.end_headers()
                self.wfile.write(b)

            def log_message(self, *a):
                pass

        self._srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
        threading.Thread(target=self._srv.serve_forever, daemon=True).start()
        self.url = f"http://127.0.0.1:{self._srv.server_address[1]}/ingest.jsonl"

    def extend(self, more: bytes) -> None:
        # Single assignment keeps concurrent handler reads atomic.
        self._state["body"] = self._state["body"] + more

    def shutdown(self) -> None:
        self._srv.shutdown()


def _spool_body(spool: str) -> bytes:
    """The spool's jsonl files, name-sorted and concatenated — ONE
    append-only log body."""
    chunks = []
    for f in sorted(os.listdir(spool)):
        if f.endswith(".jsonl"):
            with open(os.path.join(spool, f), "rb") as fh:
                chunks.append(fh.read())
    return b"".join(chunks)


def serve_spool_log(spool: str) -> str:
    """Serve the spool as one append-only log at a localhost URL
    (process-lifetime, memoized per spool dir)."""
    if spool not in _LOG_SERVERS:
        _LOG_SERVERS[spool] = _RangeLogServer(_spool_body(spool)).url
    return _LOG_SERVERS[spool]


@query("url_ingest_scan", oracle=_INGEST_ORACLE)
def url_ingest_scan(spark, sf_dir: str):
    """S1 through the url transport END-TO-END: the same generated
    records served by a live localhost HTTP endpoint and read back
    through ``option("url", ...)`` with ``split_bytes`` forced small
    enough that the scan runs as PARALLEL byte-range requests (HEAD
    probe -> fixed-size splits -> Hadoop text-split rule per task).
    Hash-matching the relational oracle proves the whole network path
    — Range negotiation, split-boundary line ownership, Go-strict
    decode — inside the correctness gate. The spool twin
    (``http_ingest_scan``) proves the decode kernel; this proves the
    transport around it."""
    register(spark)
    url = serve_spool_log(stage_spool())
    return (
        spark.read.format("httpjson")
        .schema("name string, role string, age int")
        .option("url", url)
        .option("split_bytes", 16384)  # ~70 KB body -> ~5 range splits
        .load()
    )


@query("url_ingest_stream", oracle=_INGEST_ORACLE)
def url_ingest_stream(spark, sf_dir: str):
    """T1 through the url transport: the same served log consumed by
    the POLLING stream reader (byte-offset Range deltas, offsets =
    line boundaries) driven to completion with availableNow.
    Completes the transport matrix — spool/url x batch/stream all
    hash-checked against the one relational oracle. The reader's
    crash-replay and truncation-detection behavior is covered by
    tests/test_http_source.py; this registers the happy path in the
    driver's independent gate."""
    register(spark)
    url = serve_spool_log(stage_spool())
    sdf = (
        spark.readStream.format("httpjson")
        .schema("name string, role string, age int")
        .option("url", url)
        .load()
    )
    from ..streaming.core import run_to_memory

    return run_to_memory(spark, sdf, "url_ingest_stream_sink", "append")


_MULTIPOLL_RUNS = __import__("itertools").count()  # unique sink per run


@query("url_ingest_multipoll", oracle=_INGEST_ORACLE)
def url_ingest_multipoll(spark, sf_dir: str):
    """T1 through the url transport across MULTIPLE engine-driven
    micro-batches (VERDICT r8 item 5): the Python DataSource stream
    API has no Trigger.AvailableNow contract, so the availableNow gate
    query (``url_ingest_stream``) runs as one engine-collapsed batch.
    Here the log is served in two growing stages under a
    processingTime trigger — the second half is appended only AFTER
    the first batch's rows are visible in the sink, so the engine is
    FORCED through at least two data-carrying polls (latestOffset ->
    partitions -> read -> commit, twice). Fails loudly if fewer than
    two batches carried rows, making the driver's hash row double as
    the pinned multi-batch evidence; the oracle is the same relational
    regeneration as the rest of the ingest matrix."""
    import tempfile
    import time

    register(spark)
    body = _spool_body(stage_spool())
    lines = body.split(b"\n")[:-1]  # trailing "" from the final \n
    half = len(lines) // 2
    first = b"".join(ln + b"\n" for ln in lines[:half])
    rest = b"".join(ln + b"\n" for ln in lines[half:])
    srv = _RangeLogServer(first)

    sink = f"url_multipoll_sink_{next(_MULTIPOLL_RUNS)}"
    q = (
        spark.readStream.format("httpjson")
        .schema("name string, role string, age int")
        .option("url", srv.url)
        .load()
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(processingTime="50 milliseconds")
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="url_multipoll_")
        )
        .start()
    )

    def await_rows(n: int, timeout_s: float = 120.0) -> None:
        deadline = time.monotonic() + timeout_s
        while spark.table(sink).count() < n:
            if not q.isActive:
                raise RuntimeError(
                    f"stream died before {n} rows: {q.exception()}"
                )
            if time.monotonic() > deadline:
                raise RuntimeError(
                    f"timed out waiting for {n} rows in {sink}"
                )
            time.sleep(0.05)

    try:
        await_rows(half)  # stage 1 committed by the engine
        srv.extend(rest)  # the log grows only now
        await_rows(len(lines))
    finally:
        q.stop()
        q.awaitTermination()
        srv.shutdown()

    def input_rows(p) -> int:
        try:
            return int(p["numInputRows"])
        except TypeError:
            return int(p.numInputRows)

    data_batches = sum(1 for p in q.recentProgress if input_rows(p) > 0)
    if data_batches < 2:
        raise RuntimeError(
            f"expected >=2 data-carrying micro-batches, saw {data_batches}"
        )
    return spark.table(sink)


# Process-lifetime fan-in endpoints: N servers each holding a disjoint
# slice of the generated ingest log (the reference's "run N identical
# server instances on different ports" scale-out, Server/main.go:59).
_FANIN_SERVERS: dict = {}


def _fanin_endpoints(n: int = 3) -> list[str]:
    if n not in _FANIN_SERVERS:
        lines = _spool_body(stage_spool()).split(b"\n")[:-1]
        per = (len(lines) + n - 1) // n
        _FANIN_SERVERS[n] = [
            _RangeLogServer(
                b"".join(ln + b"\n" for ln in lines[i * per : (i + 1) * per])
            ).url
            for i in range(n)
        ]
    return _FANIN_SERVERS[n]


_FANIN_RUNS = __import__("itertools").count()  # unique sink per run


@query("url_fanin_union", oracle=_INGEST_ORACLE)
def url_fanin_union(spark, sf_dir: str):
    """S1/T1 scale-out fan-in (VERDICT r8 item 7): the reference scales
    by running N identical server instances on different ports
    (``Server/main.go:59`` port flag) with the client round-robining.
    Spark-first, that is ONE streaming query over a UNION of N
    ``httpjson`` url sources — the engine tracks each source's offsets
    independently inside the same checkpoint (source ids in the offset
    log), so a restart resumes every endpoint from its own committed
    position and a slow endpoint never stalls another's progress
    bookkeeping. Three live localhost endpoints each serve a disjoint
    third of the generated log; the union must hash-match the same
    relational oracle as the single-endpoint transports
    (per-source-offset resume is pinned in
    tests/test_http_source.py::test_url_fanin_resumes_each_source_independently).
    """
    from functools import reduce

    from ..streaming.core import run_to_memory

    register(spark)
    urls = _fanin_endpoints()
    streams = [
        spark.readStream.format("httpjson")
        .schema("name string, role string, age int")
        .option("url", u)
        .load()
        for u in urls
    ]
    sdf = reduce(lambda a, b: a.unionByName(b), streams)
    sink = f"url_fanin_sink_{next(_FANIN_RUNS)}"
    return run_to_memory(spark, sdf, sink, "append")
