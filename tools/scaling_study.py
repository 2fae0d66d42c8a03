"""Scale-stress study: measured scaling exponents for the headline
plans (VERDICT r4 item 6).

Two experiments, results written to docs/SCALING.md:

A. **Generator 10x**: the driver's own fixtures sf0.01 -> sf0.1 are a
   true 10x scale-up from the same generator. Each studied query runs
   at both sizes (min-of-REPEATS, same discipline as bench.py) and we
   report the scaling exponent ``log10(t_big / t_small)`` — 1.0 is
   linear, < 1 sublinear (fixed planning/dispatch overhead amortizing
   plus sublinear plan work), > 1 superlinear (a plan that would NOT
   survive 100 TB).

B. **Amplified 10x on top of sf0.1** for the z-order pair: orders is
   replicated 10x with disjoint key spaces (shard semantics — the same
   thing a bigger generator run produces), and the NEW broadcast
   grid-histogram bucketing is raced against the OLD exact-ntile
   formulation (global single-task sort) it replaced. This is the
   direct evidence that the rewrite beats the straggler plan at scale.

C. **Time-span stretch for the rolling-WAU pair**: the OLD
   formulation (broadcast day-grid range join) does O(observed_days x
   pairs) comparisons, so its cost axis is the CALENDAR, not the row
   count — invisible in experiment A/B where the fixture spans 30
   days. Here the same 100k events are deterministically re-dated
   across a ~3000-day window (row count, user set and answer
   semantics unchanged) and the old range-join is raced against the
   NEW pair-explosion (O(7 x pairs), span-independent); both outputs
   are asserted equal first.

D. **Amplified supplier x10000** for the de-hinted analytics queries
   (VERDICT r5 items 1+3, r7 item 3): supplier is SF-scaled, so the
   forced ``F.broadcast(s)`` hints removed in rounds 6-7 were a
   latent OOM — but the hazard only MANIFESTS once the dim outgrows
   the broadcast threshold. The threshold applies to the PRUNED
   projection, not the file: volume_shipping reads only
   (s_suppkey, s_nationkey), so x3000 (3M rows, 19 MB file) still
   estimated 8.2 MB after column pruning and Spark — correctly —
   kept broadcasting (the x1000 and x3000 runs of earlier rounds
   demonstrated nothing for exactly this reason). At x10000 the
   pruned side is ~27 MB and the cliff actually executes: the
   unhinted supplier join demotes to SortMergeJoin while the hint
   pins a 10M-row broadcast build that no statistics can override —
   on a real cluster that build is a driver collect + per-executor
   ship, so the local-mode gap UNDERSTATES the cliff. Outputs of
   both formulations are asserted equal first, and the structural
   check inspects the SUPPLIER join node specifically (matching the
   join whose keys mention s_suppkey), not the whole plan — another
   join's demotion must not pollute the signal.

E. **URL byte-range split race** (round 8): the httpjson batch URL
   transport gained Hadoop-style byte-range splits planned off a HEAD
   probe. A ~40 MB synthetic JSONL log served by a localhost HTTP
   double is read whole-body (1 partition) vs split (4 MB ranges);
   decoded row sets asserted equal first. The split path's speedup is
   per-core decode parallelism — on a real cluster the same splits
   fan out across executors while the driver never touches data.

F. **Incremental LSH index vs per-arrival recompute** (round 8): the
   claim behind ``streaming_lsh_index_candidates`` — "per-batch work
   scales with the BATCH, not the corpus" — measured. An amplified
   corpus (sf0.01 documents x INC_COPIES, per-copy token-rehashed so
   copies don't near-collide and candidate volume stays realistic)
   arrives in INC_SHARDS batches. Incremental: each arrival runs ONE
   ``lsh_index_step`` (the exact code the streaming query ships —
   probe the accumulated index, then append). Naive baseline: each
   arrival re-runs the full batch LSH candidate build over the whole
   corpus so far. Final candidate sets asserted equal first. Per-
   arrival incremental cost stays ~flat (batch-sized shingle/minhash
   work + an index probe that at cluster scale is a bucketed
   co-located join); naive per-arrival cost grows with the corpus,
   i.e. quadratic total — the difference IS the case for maintaining
   the index.

G. **Hot-key join race** (round 9): the skew story executed — the
   sf0.1 events fact re-shaped so ONE user_id holds ~half the rows,
   joined to a per-user dimension with broadcast disabled (the
   dimension-too-big-to-broadcast scenario where a hot key pins a
   stage). Three legs, digests asserted equal: unsalted SortMergeJoin
   with AQE skew-splitting off (the straggler), with AQE
   skew-splitting on (runtime mitigation; the split is detected
   structurally — "SortMergeJoin(skew=true)" in the FINAL adaptive
   plan, never by substring, which the fixture path can spoof), and
   the explicit ``salted_join`` (planned mitigation — the form that
   also covers aggregation skew and non-SMJ joins AQE can't touch).
   Each leg also records the join stage's max/median task duration
   (UI REST taskSummary): local wall-clock is core-bounded, the task
   distribution is the cluster-predictive number.

Usage: python tools/scaling_study.py [out_md]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SMALL = "/root/testdata/sf0.01"
BIG = "/root/testdata/sf0.1"
AMP_DIR = "/tmp/scale10_sf1"
AMP_COPIES = 10
SPAN_DIR = "/tmp/span100_sf1"
SPAN_BLOCKS = 100  # events re-dated across 100 x 30-day blocks
# supplier x10000 = 10M rows: the threshold is compared against the
# column-PRUNED side (volume_shipping reads 2 of 4 columns), so x3000
# still estimated 8.2 MB < 10 MB and AQE — correctly — kept
# broadcasting; x10000's pruned estimate is ~27 MB and the unhinted
# join demonstrably demotes to SortMergeJoin.
SUP_DIR = "/tmp/sup10000_sf1"
SUP_COPIES = 10000
INC_DIR = "/tmp/lsh_inc_docs"
INC_COPIES = 1024  # sf0.01 docs x1024 = 512k docs (64k per arrival)
INC_SHARDS = 8  # = arrival batches (2 copies per shard)
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))

# The study set: the most expensive headline queries (VERDICT r4 perf
# audit) plus every plan this round's rewrites touched.
STUDY = (
    "q1_pricing_summary",
    "revenue_by_nation",
    "market_share_evolution",
    "sql_api_revenue_by_year",
    "ngram_jaccard_pairs",
    "simhash_neardup_pairs",
    "minhash_lsh_pairs",
    "cosine_topk",
    "dedup_exact",
    "zorder_file_stats",
    "layout_skipping_eval",
    "rolling_7day_active_users",
)


def _timed(fn, *args) -> float:
    samples = []
    for _ in range(max(1, REPEATS)):
        t0 = time.perf_counter()
        fn(*args).count()
        samples.append(time.perf_counter() - t0)
    return round(min(samples), 3)


def _build_amplified(spark) -> None:
    """orders + events from sf0.1, replicated AMP_COPIES times with
    disjoint key spaces (shard semantics: copy i's keys are offset by
    i * (max_key + 1), dates/values untouched)."""
    import duckdb

    os.makedirs(AMP_DIR, exist_ok=True)
    # Skip only if BOTH outputs exist: a crash between the two COPYs
    # must not poison the cache into a half-built fixture forever.
    if os.path.exists(f"{AMP_DIR}/orders.parquet") and os.path.exists(
        f"{AMP_DIR}/events.parquet"
    ):
        return
    con = duckdb.connect()
    rng = f"range({AMP_COPIES})"
    con.execute(
        f"""
        COPY (
            SELECT o_orderkey + i * 6000000 AS o_orderkey,
                   o_custkey + i * 1500000 AS o_custkey,
                   o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM '{BIG}/orders.parquet', (SELECT unnest({rng}) AS i)
        ) TO '{AMP_DIR}/orders.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
            SELECT event_id + i * 100000000 AS event_id, ts,
                   user_id + i * 1000000 AS user_id,
                   event_type, value, props
            FROM '{BIG}/events.parquet', (SELECT unnest({rng}) AS i)
        ) TO '{AMP_DIR}/events.parquet' (FORMAT PARQUET)
        """
    )


def _build_span_stretched() -> None:
    """sf0.1 events re-dated over a ~3000-day window: each event's ts
    is shifted by an md5-derived whole number of 30-day blocks
    (deterministic, same idiom as the fixture subsampler). Row count
    and user ids are untouched; only the calendar widens — precisely
    the axis the legacy WAU range-join is quadratic in."""
    import duckdb

    os.makedirs(SPAN_DIR, exist_ok=True)
    if os.path.exists(f"{SPAN_DIR}/events.parquet"):
        return
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
            SELECT event_id,
                   ts + (CAST(('0x' || substr(md5('sp' ||
                             CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
                         % {SPAN_BLOCKS}) * INTERVAL 30 DAY AS ts,
                   user_id, event_type, value, props
            FROM '{BIG}/events.parquet'
        ) TO '{SPAN_DIR}/events.parquet' (FORMAT PARQUET)
        """
    )


def _build_amplified_supplier() -> None:
    """supplier from sf0.1 replicated SUP_COPIES times with disjoint
    s_suppkey (copies match no lineitem rows, so every query's OUTPUT
    is unchanged — only the dim's size grows, which is precisely what
    a forced broadcast hint is sensitive to). Every other table is
    symlinked from sf0.1."""
    import duckdb

    os.makedirs(SUP_DIR, exist_ok=True)
    if not os.path.exists(f"{SUP_DIR}/supplier.parquet"):
        con = duckdb.connect()
        con.execute(
            f"""
            COPY (
                SELECT s_suppkey + i * 10000000 AS s_suppkey,
                       s_name, s_nationkey, s_acctbal
                FROM '{BIG}/supplier.parquet',
                     (SELECT unnest(range({SUP_COPIES})) AS i)
            ) TO '{SUP_DIR}/supplier.parquet' (FORMAT PARQUET)
            """
        )
    for t in (
        "region nation customer part orders lineitem events documents "
        "embeddings"
    ).split():
        link = f"{SUP_DIR}/{t}.parquet"
        if not os.path.exists(link):
            os.symlink(f"{BIG}/{t}.parquet", link)


def _hinted_volume_shipping(spark, sf_dir):
    """The formulation rounds 6-7 REPLACED (kept here only as the
    scaling-study baseline): identical to volume_shipping but with
    the forced F.broadcast(s) hint on the SF-scaled supplier scan."""
    from pyspark.sql import functions as F

    from go_http_data_pipeline_spark.catalog import table
    from go_http_data_pipeline_spark.determinism import dsum
    from go_http_data_pipeline_spark.operators.analytics2 import _rev_col

    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    cn = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(dsum(_rev_col()).alias("revenue"))
    )


def _legacy_wau(spark, sf_dir):
    """The formulation the round-5 rewrite REPLACED (kept here only
    as the scaling-study baseline): broadcast the observed-day grid
    and range-join it to the distinct (day, user) pairs — a
    BroadcastNestedLoopJoin doing O(observed_days x pairs)
    comparisons, so cost grows with the corpus TIME-SPAN."""
    from pyspark.sql import functions as F

    from go_http_data_pipeline_spark.catalog import table

    ev = table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    du = ev.distinct()
    days = du.select("day").distinct()
    return (
        F.broadcast(days.alias("d"))
        .join(
            du.alias("u"),
            (F.col("u.day") >= F.date_sub(F.col("d.day"), 6))
            & (F.col("u.day") <= F.col("d.day")),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.countDistinct("u.user_id").alias("wau"))
    )


def _legacy_ntile_zorder(spark, sf_dir):
    """The formulation this round REPLACED (kept here only as the
    scaling-study baseline): exact ntile over the whole orders table
    = all rows through one task's sort, twice."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from go_http_data_pipeline_spark.catalog import table
    from go_http_data_pipeline_spark.operators.storage import (
        _Z_FILES_SHIFT,
        _zkey_spark,
        Z_BITS,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff("o_orderdate", F.lit("1970-01-01")).alias("day"),
    )
    n = 2 ** Z_BITS
    wx = Window.orderBy("o_custkey", "o_orderkey")
    wy = Window.orderBy("day", "o_orderkey")
    bucketed = o.select(
        "o_custkey",
        "day",
        (F.ntile(n).over(wx) - 1).alias("bx"),
        (F.ntile(n).over(wy) - 1).alias("by"),
    )
    keyed = bucketed.select(
        "o_custkey", "day", F.expr(_zkey_spark("bx", "by")).alias("zkey")
    )
    return keyed.groupBy(
        F.expr(f"CAST(shiftright(zkey, {_Z_FILES_SHIFT}) AS BIGINT)").alias(
            "file_id"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_custkey").cast("bigint").alias("min_cust"),
        F.max("o_custkey").cast("bigint").alias("max_cust"),
        F.min("day").cast("bigint").alias("min_day"),
        F.max("day").cast("bigint").alias("max_day"),
    )


# The double's handler, run in a CHILD process (argv: body-file,
# ranges-flag). The first cut served from a daemon thread inside the
# driver; in a long-lived study session (~1200 stages in) the handler
# threads waited on the driver's GIL for minutes at a time — §E
# crawled at one range task per ~40 s and run 1 froze outright, while
# the identical server on a fresh session served the same race in
# seconds. A child process owns its own GIL, so serving can never
# contend with whatever the driver is doing.
_RANGE_SERVER_SCRIPT = r"""
import http.server
import sys

# Die with the parent: a subprocess outlives a hard-killed or crashed
# study run (close() only runs on clean paths; atexit covers normal
# exits but not SIGKILL). Set POST-exec, in this fresh single-threaded
# child — running ctypes/dlopen in a preexec_fn between fork and exec
# of the multithreaded Spark driver is a documented deadlock hazard.
# The fork-to-prctl race window (parent dying first) is acceptable for
# a test double.
try:
    import ctypes
    import signal

    ctypes.CDLL(None, use_errno=True).prctl(1, signal.SIGTERM, 0, 0, 0)
except Exception:
    pass  # non-Linux libc: the parent's atexit hook still cleans up

body = open(sys.argv[1], "rb").read()
ranges = sys.argv[2] == "1"


class H(http.server.BaseHTTPRequestHandler):
    def do_HEAD(self):  # noqa: N802
        self.send_response(200)
        if ranges:
            self.send_header("Accept-Ranges", "bytes")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()

    def do_GET(self):  # noqa: N802
        rng = self.headers.get("Range") if ranges else None
        if rng:
            spec = rng.split("=", 1)[1]
            lo_s, hi_s = spec.split("-", 1)
            if lo_s:
                lo = int(lo_s)
                hi = int(hi_s) + 1 if hi_s else len(body)
            elif hi_s:
                # Suffix range (bytes=-N): the final N bytes. The
                # first cut crashed here (int('') in the handler,
                # traceback on the study run's inherited stderr).
                lo = max(0, len(body) - int(hi_s))
                hi = len(body)
            else:
                self.send_response(416)
                self.send_header("Content-Range", f"bytes */{len(body)}")
                self.end_headers()
                return
            if lo >= len(body):
                self.send_response(416)
                self.send_header("Content-Range", f"bytes */{len(body)}")
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


srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
print(srv.server_address[1], flush=True)
srv.serve_forever()
"""


class _RangeLogServer:
    """Minimal localhost double serving one fixed body with byte-Range
    support (206/416 + Content-Range) and a HEAD probe advertising
    Accept-Ranges — the contract the URL transport's split planner
    needs. ``ranges=False`` models a dumb endpoint (no Accept-Ranges,
    full-body GETs only) for the §J fan-in race. Served from a CHILD
    process (see _RANGE_SERVER_SCRIPT for why). (Compact twin of the
    tests' _AppendLogServer, inlined so tools/ never imports tests/.)"""

    def __init__(self, body: bytes, ranges: bool = True):
        import atexit
        import subprocess
        import tempfile

        fd, self._body_path = tempfile.mkstemp(prefix="urlbody_")
        with os.fdopen(fd, "wb") as f:
            f.write(body)
        self._proc = None
        # Belt (atexit: any sys.exit / uncaught exception) and braces
        # (the script's own PDEATHSIG: SIGKILLed parent) so an
        # abnormal study exit cannot orphan the serve_forever() child
        # or leak the body file; close() is idempotent so the clean
        # path double-calling it is harmless.
        atexit.register(self.close)
        try:
            self._proc = subprocess.Popen(
                [
                    sys.executable,
                    "-c",
                    _RANGE_SERVER_SCRIPT,
                    self._body_path,
                    "1" if ranges else "0",
                ],
                stdout=subprocess.PIPE,
                text=True,
            )
            port = int(self._proc.stdout.readline())
        except Exception:
            # A daemon thread died with the interpreter; a child does
            # not — clean up our own child (and body file) so a failed
            # construction can't orphan a serve_forever() process.
            self.close()
            raise
        self.url = f"http://127.0.0.1:{port}/"

    def close(self):
        if self._proc is not None:
            self._proc.terminate()
            try:
                self._proc.wait(timeout=10)
            except Exception:
                self._proc.kill()
                self._proc.wait()  # reap: a SIGKILLed child must not zombie
            self._proc.stdout.close()
            self._proc = None
        try:
            os.unlink(self._body_path)
        except OSError:
            pass


def _url_split_race(spark):
    """Section E measurement: returns (n_rows, body_mb, t_single,
    t_split, parts_split)."""
    import json as _json

    from go_http_data_pipeline_spark.sources.http_json import register

    register(spark)
    n = 400_000
    body = "".join(
        _json.dumps({"name": f"user{i:07d}", "age": i % 97, "salary": i}) + "\n"
        for i in range(n)
    ).encode()
    srv = _RangeLogServer(body)
    try:

        def rd(split_bytes):
            return (
                spark.read.format("httpjson")
                .schema("name string, age int, salary bigint")
                .option("url", srv.url)
                .option("split_bytes", str(split_bytes))
                .load()
            )

        assert rd(4 << 20).count() == rd(1 << 40).count() == n
        t_single = _timed(lambda: rd(1 << 40))
        t_split = _timed(lambda: rd(4 << 20))
        parts = rd(4 << 20).rdd.getNumPartitions()
    finally:
        srv.close()
    return n, round(len(body) / 1e6, 1), t_single, t_split, parts


def _build_inc_docs(spark) -> None:
    """Amplified corpus for the incremental-LSH race: sf0.01 documents
    x INC_COPIES with disjoint doc_ids and per-copy token-REHASHED
    text. A straight text copy would make every copy-pair an exact LSH
    collision — candidate volume, not index maintenance, would then
    dominate both sides of the race; rehashing every token with the
    copy id keeps each copy's internal duplicate structure (same token
    -> same mapped token within a copy) while making shingles disjoint
    ACROSS copies. Written as INC_SHARDS doc_id-ranged parquet shards
    = arrival batches."""
    import shutil

    from pyspark.sql import functions as F

    if os.path.isdir(os.path.join(INC_DIR, f"shard_{INC_SHARDS - 1}")):
        return
    shutil.rmtree(INC_DIR, ignore_errors=True)
    docs = spark.read.parquet(f"{SMALL}/documents.parquet")
    copies = spark.range(INC_COPIES).withColumnRenamed("id", "copy")
    amp = docs.crossJoin(copies).select(
        "copy",
        (F.col("doc_id") + F.col("copy") * 1_000_000).alias("doc_id"),
        F.array_join(
            F.transform(
                F.split("text", " "),
                lambda t: F.substring(
                    F.md5(F.concat(t, F.lit("#"), F.col("copy").cast("string"))),
                    1,
                    8,
                ),
            ),
            " ",
        ).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    per_shard = INC_COPIES // INC_SHARDS
    for s in range(INC_SHARDS):
        amp.filter(
            (F.col("copy") >= s * per_shard)
            & (F.col("copy") < (s + 1) * per_shard)
        ).drop("copy").coalesce(2).write.mode("overwrite").parquet(
            os.path.join(INC_DIR, f"shard_{s}")
        )


def _lsh_incremental_race(spark):
    """Section F measurement: per-arrival seconds for the incremental
    index step (compaction ON and OFF) vs the naive full-corpus
    recompute, plus the parquet file count each arrival's probe reads
    (the compaction payoff — VERDICT r8 item 6). Final candidate sets
    asserted equal across all three legs."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from go_http_data_pipeline_spark.llm.dedup import lsh_bands, shingles_of
    from go_http_data_pipeline_spark.streaming import core

    _build_inc_docs(spark)
    shards = [os.path.join(INC_DIR, f"shard_{s}") for s in range(INC_SHARDS)]

    def full_candidates(paths):
        bands = lsh_bands(shingles_of(spark.read.parquet(*paths)))
        a, b = bands.alias("a"), bands.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.sig") == F.col("b.sig"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )

    # Warm up codegen/JIT on a throwaway build so arrival-1 times
    # measure the plan, not first-use compilation.
    full_candidates(shards[:1]).count()

    def probe_files(index_dir):
        """Parquet files the NEXT probe will list/open (the read view)."""
        return sum(
            sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
            for d in core.lsh_visible_dirs(index_dir)
        )

    # Incremental: one lsh_index_step per arrival (single-shot times —
    # multi-second batches, and the index state makes repeats unequal
    # work by construction). Two legs: compaction disabled (the round-8
    # design, one b-dir per arrival forever) vs enabled (fold every
    # _LSH_COMPACT_EVERY arrivals into one generation).
    def run_inc(compact_every):
        prev = core._LSH_COMPACT_EVERY
        core._LSH_COMPACT_EVERY = compact_every
        work = tempfile.mkdtemp(prefix="lsh_race_")
        index_dir = os.path.join(work, "index")
        cand_dir = os.path.join(work, "cands")
        times, files = [], []
        try:
            for s, path in enumerate(shards):
                files.append(probe_files(index_dir))
                t0 = time.perf_counter()
                core.lsh_index_step(
                    spark, spark.read.parquet(path), s, index_dir, cand_dir
                )
                times.append(round(time.perf_counter() - t0, 2))
        finally:
            core._LSH_COMPACT_EVERY = prev
        cands = (
            spark.read.option("recursiveFileLookup", "true")
            .parquet(cand_dir)
            .distinct()
        )
        return work, times, files, cands

    work_off, inc_off_times, files_off, inc_off = run_inc(10**9)
    work, inc_times, files_on, inc = run_inc(core._LSH_COMPACT_EVERY)

    # Naive baseline: each arrival recomputes candidates over the
    # whole corpus so far (count() forces the full build each time).
    naive_times = []
    for k in range(1, INC_SHARDS + 1):
        t0 = time.perf_counter()
        full_candidates(shards[:k]).count()
        naive_times.append(round(time.perf_counter() - t0, 2))

    # Equality: union of per-arrival incremental candidates == the
    # full-corpus batch candidate set, for BOTH incremental legs.
    full = full_candidates(shards)
    n_full = full.count()
    for label, leg in (("compact", inc), ("no-compact", inc_off)):
        n_leg = leg.count()
        assert n_leg == n_full and leg.exceptAll(full).count() == 0, (
            f"incremental[{label}] {n_leg} != full {n_full}"
        )
    n_docs = spark.read.parquet(*shards).count()
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(work_off, ignore_errors=True)
    return (
        n_docs,
        n_full,
        inc_times,
        naive_times,
        inc_off_times,
        files_on,
        files_off,
    )


def _compact_every() -> int:
    from go_http_data_pipeline_spark.streaming import core

    return core._LSH_COMPACT_EVERY


SKEW_HOT_USER = 7  # every hot row remaps to this single user_id
SKEW_SALTS = 8
# sf0.1 events is ~100k rows; the straggler only shows once the hot
# partition's sort dominates task dispatch, so the fact amplifies to
# ~8M rows with ~half of them on the one hot key.
SKEW_HOT_COPIES = 8000
SKEW_BASE_COPIES = 160
# Written as 16 files: a single-file fixture gives the map side only
# ~2 input splits on local[4], and the shared scan+shuffle-write cost
# then swamps the reduce-side straggler the section exists to show.
SKEW_FILES = 16
SKEW_DIR = (
    f"/tmp/skew_events_{SKEW_HOT_COPIES}x{SKEW_BASE_COPIES}_p{SKEW_FILES}"
)


def _build_skew_events(spark) -> None:
    """A deliberately skewed fact table from sf0.1 events: rows of
    every 50th user replicate x SKEW_HOT_COPIES and all remap to ONE
    user_id, the rest replicate x SKEW_BASE_COPIES — one viral key
    holding ~half of a ~32M-row fact. The disjoint-copy trick of
    sections B/D keeps values honest; the uniquifier keeps replicated
    rows distinct so dedup can't hide the skew."""
    from pyspark.sql import functions as F

    from go_http_data_pipeline_spark.catalog import table

    if os.path.exists(os.path.join(SKEW_DIR, "_SUCCESS")):
        return
    ev = table(spark, BIG, "events").select("event_id", "user_id", "value")
    hot = F.col("user_id") % 50 == 0
    fact = (
        ev.withColumn(
            "copy",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.when(hot, SKEW_HOT_COPIES - 1).otherwise(
                        SKEW_BASE_COPIES - 1
                    ),
                )
            ),
        )
        .select(
            F.when(hot, F.lit(SKEW_HOT_USER))
            .otherwise(F.col("user_id"))
            .alias("user_id"),
            F.xxhash64("event_id", "copy").alias("uniq"),
            "value",
        )
    )
    fact.repartition(SKEW_FILES).write.mode("overwrite").parquet(SKEW_DIR)


# 24M keys: at 6M the naive single-task sort of 8-byte keys still
# fit one core's cache-friendly sort and the race showed nothing —
# the naive plan's cost axis is one task's sort+memory, so the race
# must be big enough for that term to dominate dispatch overhead.
GID_ROWS_TARGET = 24_000_000
GID_FILES = 16
GID_DIR = f"/tmp/gid_keys_{GID_ROWS_TARGET}_p{GID_FILES}"


def _build_gid_keys(spark) -> None:
    """~6M unique, non-contiguous bigint keys from sf0.1 orders
    (o_orderkey x a disjoint copy offset), written as multiple files
    so both legs' scans parallelize identically."""
    from pyspark.sql import functions as F

    from go_http_data_pipeline_spark.catalog import table

    if os.path.exists(os.path.join(GID_DIR, "_SUCCESS")):
        return
    orders = table(spark, BIG, "orders").select("o_orderkey")
    n = orders.count()
    copies = max(1, GID_ROWS_TARGET // n)
    keys = orders.withColumn(
        "copy", F.explode(F.sequence(F.lit(0), F.lit(copies - 1)))
    ).select((F.col("o_orderkey") * copies + F.col("copy")).alias("k"))
    keys.repartition(GID_FILES).write.mode("overwrite").parquet(GID_DIR)


def _gid_race(spark):
    """Section H: contiguous global-id assignment, two ways — the
    naive ``row_number() OVER (ORDER BY k)`` (every row through ONE
    task's sort) vs the two-phase range-partition + offsets form the
    registry ships (``assign_contiguous_ids``). Run on the pinned
    small session for the same reason as F/G: the question is fixed
    compute + a growing corpus. Digests asserted equal first."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from go_http_data_pipeline_spark.llm.sharding import (
        assign_contiguous_ids,
    )

    _build_gid_keys(spark)
    src = spark.read.parquet(GID_DIR)
    n_rows = src.count()

    def digest(df):
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(k, gid))").alias("x"),
        ).collect()[0]

    def naive():
        return src.select(
            "k",
            (F.row_number().over(Window.orderBy("k")) - 1)
            .cast("bigint")
            .alias("gid"),
        )

    def two_phase():
        out, cached = assign_contiguous_ids(spark, src, "k")
        d = digest(out)
        cached.unpersist()
        return d

    # min-of-2 per leg: the naive leg's single-task sort shows heavy
    # run-to-run GC variance (observed 20-49 s on identical input).
    t_naive, t_two = [], []
    for _ in range(2):
        t0 = time.perf_counter()
        d_naive = digest(naive())
        t_naive.append(round(time.perf_counter() - t0, 2))
        t0 = time.perf_counter()
        d_two = two_phase()
        t_two.append(round(time.perf_counter() - t0, 2))
        assert (d_naive.n, d_naive.x) == (d_two.n, d_two.x), (
            "gid formulations diverge"
        )
    return n_rows, min(t_naive), min(t_two)


def _priority_race(spark):
    """Section L: global top-K selection, three ways, on §H's key
    fixture with the exact one-division priority arithmetic
    ``priority_sample_docs`` ships (k -> doc_id, weight = k % 9973 +
    1). Legs: (1) the shipped ``orderBy().limit(K+1)``
    (TakeOrderedAndProject); (2) the "naive" literal rank filter
    ``row_number() OVER (ORDER BY ...) <= K+1`` — which Catalyst's
    LimitPushDownThroughWindow REWRITES into leg 1's plan (the first
    draft of this section raced only these two and measured a dead
    tie, 4.75 s vs 4.75 s — the tie IS the finding, and the
    structural assertions below pin why); (3) the same rank filter
    with a DATA-DEPENDENT bound (K+1 arrives in a broadcast 1-row
    table, the "take top-budget rows" shape where the budget was
    computed upstream) — no literal, no rewrite, and the full
    corpus funnels through one task's sort. Kept row sets asserted
    identical across all three."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from go_http_data_pipeline_spark.determinism import md5_int
    from go_http_data_pipeline_spark.llm.sampling import K_PRIORITY, MOD
    from go_http_data_pipeline_spark.plans.inspect import plan_str

    _build_gid_keys(spark)
    u = (
        md5_int(F.concat(F.lit("pri:"), F.col("k").cast("string"))) % MOD
        + 1
    )
    src = spark.read.parquet(GID_DIR).select(
        "k",
        ((((F.col("k") % 9973) + 1) * MOD).cast("double") / u).alias(
            "priority"
        ),
    )
    n_rows = src.count()

    def _w():
        return Window.orderBy(F.col("priority").desc(), "k")

    # Each timed run gets a FRESH DataFrame: re-collecting the same
    # DF object reuses its exchanges' shuffle files (the engine skips
    # every stage before an exchange on re-execution), which times
    # only the post-shuffle stage — 0.07 s for the literal leg's
    # 26-row window, a measurement of nothing. The exchange-free
    # TakeOrderedAndProject leg has no such discount, so sharing DF
    # objects would bias the race toward the plans it indicts.
    def ship_df():
        return src.orderBy(F.col("priority").desc(), "k").limit(
            K_PRIORITY + 1
        )

    def lit_df():
        return (
            src.withColumn("rk", F.row_number().over(_w()))
            .filter(F.col("rk") <= K_PRIORITY + 1)
            .drop("rk")
        )

    def dd_df():
        lim = spark.createDataFrame([(K_PRIORITY + 1,)], "k_lim int")
        return (
            src.withColumn("rk", F.row_number().over(_w()))
            .join(F.broadcast(lim), F.col("rk") <= F.col("k_lim"))
            .select("k", "priority")
        )

    # Structural pins, so the prose can't drift from the plans.
    assert "TakeOrderedAndProject" in plan_str(ship_df(), "simple")
    rescued = "TakeOrderedAndProject" in plan_str(lit_df(), "simple")
    funneled = "Exchange SinglePartition" in plan_str(dd_df(), "simple")

    times, outs = {}, {}
    for name, make in (("ship", ship_df), ("lit", lit_df), ("dd", dd_df)):
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            outs[name] = sorted(map(tuple, make().collect()))
            el = round(time.perf_counter() - t0, 2)
            best = el if best is None else min(best, el)
        times[name] = best
    assert outs["ship"] == outs["lit"] == outs["dd"], (
        "top-K formulations diverge"
    )
    return n_rows, times["ship"], times["lit"], times["dd"], rescued, funneled


# §I fixture: sf0.1 embeddings amplified x EMB_COPIES, arriving in
# EMB_ARRIVALS micro-batches.
EMB_COPIES = 16
EMB_ARRIVALS = 8
EMB_DIR = f"/tmp/ivf_inc_embs_{EMB_COPIES}x{EMB_ARRIVALS}"


def _build_inc_embs(spark) -> None:
    """Amplified corpus for the incremental-IVF race: sf0.1 embeddings
    x EMB_COPIES with disjoint vec_ids and each copy's dimensions
    ROTATED by its copy index — rotation genuinely changes the cosine
    geometry (a straight duplicate would land every copy in the same
    cell tied at cosine 1.0 with its twins, so the race would measure
    tie-breaking, not index maintenance). Written as EMB_ARRIVALS
    vec_id-hashed parquet shards = arrival batches."""
    import shutil

    from pyspark.sql import functions as F

    if os.path.isdir(os.path.join(EMB_DIR, f"shard_{EMB_ARRIVALS - 1}")):
        return
    shutil.rmtree(EMB_DIR, ignore_errors=True)
    emb = spark.read.parquet(f"{BIG}/embeddings.parquet")
    base_n = emb.count()
    amp = emb.crossJoin(
        spark.range(EMB_COPIES).withColumnRenamed("id", "copy")
    ).select(
        (F.col("vec_id") + F.col("copy") * base_n).alias("vec_id"),
        F.expr(
            "concat(slice(embedding, CAST(copy % 64 AS INT) + 1,"
            " 64 - CAST(copy % 64 AS INT)),"
            " slice(embedding, 1, CAST(copy % 64 AS INT)))"
        ).alias("embedding"),
    )
    for s in range(EMB_ARRIVALS):
        amp.filter(F.col("vec_id") % EMB_ARRIVALS == s).coalesce(
            2
        ).write.mode("overwrite").parquet(os.path.join(EMB_DIR, f"shard_{s}"))


# §K: the ADC probe layouts raced on amplified codes. COPIES scales
# the CODES table only (codes are per-vector independent, so a
# replicated-and-rotated code table is exactly what a larger coded
# corpus looks like to the probe); the raw embeddings are never read
# by either leg.
PQ_PROBE_COPIES = 64


def _pq_probe_race(spark):
    """Section K measurement: long-layout ADC probe (broadcast joins +
    the corpus x queries partial-dot shuffle) vs the wide-layout probe
    (per-row LUT lookups, query-sized exchange) on the sf0.1 codes
    table and on the same codes amplified x PQ_PROBE_COPIES. Each
    copy's dense code indexes are ROTATED by its copy id so scores
    genuinely differ per copy; outputs of the two layouts asserted
    row-identical on both corpora."""
    from pyspark.sql import functions as F

    from go_http_data_pipeline_spark.llm import pq as pqm

    base = pqm._codes_cached(spark, BIG)
    code_ids = pqm.dense_code_ids(spark, BIG)
    k = len(code_ids)
    ids_arr = F.array(*[F.lit(c) for c in code_ids])
    dense = F.create_map(
        *[F.lit(v) for c, i in zip(code_ids, range(k)) for v in (c, i)]
    )
    base_n = base.agg(F.max("vec_id")).collect()[0][0] + 1
    amp_long = (
        base.crossJoin(
            spark.range(PQ_PROBE_COPIES).withColumnRenamed("id", "copy")
        )
        .select(
            (F.col("vec_id") + F.col("copy") * base_n).alias("vec_id"),
            "sub",
            F.element_at(
                ids_arr,
                ((dense[F.col("code")] + F.col("copy")) % k + 1).cast("int"),
            ).alias("code"),
        )
        .persist()
    )
    n_amp = amp_long.select("vec_id").distinct().count()
    amp_wide = pqm.widen_codes(amp_long, code_ids).persist()
    amp_wide.count()
    base_wide = pqm._codes_wide_cached(spark, BIG)
    base_wide.count()

    t_long_1 = _timed(pqm.adc_probe_long, spark, BIG, base)
    t_wide_1 = _timed(pqm.adc_probe_wide, spark, BIG, base_wide)
    t_long_n = _timed(pqm.adc_probe_long, spark, BIG, amp_long)
    t_wide_n = _timed(pqm.adc_probe_wide, spark, BIG, amp_wide)

    for codes_l, codes_w in ((base, base_wide), (amp_long, amp_wide)):
        a = sorted(
            map(tuple, pqm.adc_probe_long(spark, BIG, codes_l).collect())
        )
        b = sorted(
            map(tuple, pqm.adc_probe_wide(spark, BIG, codes_w).collect())
        )
        assert a == b and a, "ADC layouts diverge"
    amp_long.unpersist()
    amp_wide.unpersist()
    return n_amp, t_long_1, t_wide_1, t_long_n, t_wide_n


def _pq_probe_bytes(spark):
    """Section M measurement (VERDICT r9 item 4): EXECUTED input
    bytes of the wide ADC probe when the codes are a MATERIALIZED
    parquet table — the deployment layout. For the sf0.1 codes and
    the same codes amplified x PQ_PROBE_COPIES (dense indexes rotated
    per copy, as §K), read the probe's FileSourceScan metrics after a
    real collect(): the corpus-side scan must root at the codes
    table (filesSize == the parquet bytes on disk, numOutputRows ==
    the corpus), and every raw-float scan must carry the query-side
    pushed bound (vec_id < N_QUERIES) — the "probe never reads the
    floats" claim as numbers instead of prose. Returns per-leg
    (copies, vectors, codes MB, probe seconds) plus the raw
    embeddings MB the probe avoided."""
    from pyspark.sql import functions as F

    from go_http_data_pipeline_spark.llm import pq as pqm
    from go_http_data_pipeline_spark.plans.inspect import scan_audit

    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="pq_bytes_")
    base_wide = pqm._codes_wide_cached(spark, BIG)
    code_k = len(pqm.dense_code_ids(spark, BIG))
    base_n = base_wide.count()
    legs = []
    for copies in (1, PQ_PROBE_COPIES):
        wide = base_wide
        if copies > 1:
            wide = _amp_wide_codes(spark, base_wide, copies, base_n, code_k)
        path = os.path.join(work, f"codes_x{copies}.parquet")
        wide.write.mode("overwrite").parquet(path)
        probe = pqm.adc_probe_wide(spark, BIG, spark.read.parquet(path))
        t0 = time.perf_counter()
        n_out = len(probe.collect())
        t = round(time.perf_counter() - t0, 3)
        assert n_out, "probe returned nothing"
        audit = scan_audit(probe, path)
        codes, floats = audit["corpus"], audit["other"]
        assert len(codes) == 1
        assert all(
            s["location"].endswith("embeddings.parquet")
            and "LessThan(vec_id,"
            in s["metadata"].get("PushedFilters", "")
            for s in floats
        ), "raw-float scan without the query-side bound"
        on_disk = audit["corpus_bytes_on_disk"]
        cm = codes[0]["metrics"]
        assert cm["filesSize"] == on_disk
        assert cm["numOutputRows"] == base_n * copies
        legs.append((copies, base_n * copies, round(on_disk / 1e6, 2), t))
    emb_mb = round(os.path.getsize(f"{BIG}/embeddings.parquet") / 1e6, 2)
    shutil.rmtree(work, ignore_errors=True)
    return legs, emb_mb


def _amp_wide_codes(spark, wide, copies, base_n, code_k, keep=()):
    """Replicate a wide-codes table x ``copies`` with disjoint vec_ids
    and per-copy-ROTATED dense indexes — the §K amplification
    convention, shared by §M and §N so both sections measure the same
    amplified corpus shape. ``keep`` names extra columns carried
    through unchanged (§N keeps the cell id)."""
    from pyspark.sql import functions as F

    return wide.crossJoin(
        spark.range(copies).withColumnRenamed("id", "copy")
    ).select(
        (F.col("vec_id") + F.col("copy") * base_n).alias("vec_id"),
        *keep,
        F.transform(
            "cidx", lambda c: ((c + F.col("copy")) % code_k).cast("int")
        ).alias("cidx"),
    )


# §N: what a takedown costs the codes index. The delete batch stays
# the SAME size at both corpus scales — a takedown is sized by the
# request, not the corpus — so flat columns mean O(deletes)/O(probe).
RETRACT_DELETES = 500


def _codes_retraction_race(spark):
    """Section N measurement: retraction cost on the IVFPQ codes
    index (the round-10 capability, streaming/pqindex.py). For x1 and
    x{PQ_PROBE_COPIES} corpora, the cell-tagged wide codes (rotated
    per copy, as §K/§M) are maintained as a GenIndex — 4 src_batch-
    stamped appends folding into one (cid)-bucketed generation, the
    gate query's exact layout — then a {RETRACT_DELETES}-vector
    delete batch (fixed vec_id range, no demo queries) is recorded
    and the ADC probe timed in three states: delete-free, live
    tombstones (logical apply: a broadcast anti-filter on every probe
    side), and after the next compaction folds the retraction in
    (physical). The tombstone record and the fold are single-shot
    walls (state-mutating); probes are min-of-REPEATS. Probe outputs
    asserted EQUAL between the logical and physical states, and no
    retracted vector may appear as a neighbor in either."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from go_http_data_pipeline_spark.llm import pq as pqm
    from go_http_data_pipeline_spark.llm.similarity import (
        ivf_assign_cached,
    )
    from go_http_data_pipeline_spark.streaming import pqindex as pqi
    from go_http_data_pipeline_spark.streaming.annindex import _stamped

    base = pqm._codes_wide_cached(spark, BIG).join(
        ivf_assign_cached(spark, BIG), "vec_id"
    )
    code_k = len(pqm.dense_code_ids(spark, BIG))
    base_n = base.agg(F.max("vec_id")).collect()[0][0] + 1
    dead = spark.range(100, 100 + RETRACT_DELETES).withColumnRenamed(
        "id", "vec_id"
    )
    dead_ids = set(range(100, 100 + RETRACT_DELETES))
    legs = []
    for copies in (1, PQ_PROBE_COPIES):
        rows = base
        if copies > 1:
            rows = _amp_wide_codes(
                spark, base, copies, base_n, code_k, keep=("cid",)
            )
        work = tempfile.mkdtemp(prefix=f"retract_x{copies}_")
        idx = pqi._pq_index(work)
        for b in range(4):
            idx.append(
                _stamped(rows.filter(F.col("vec_id") % 4 == b), b), b
            )
        idx.compact(spark, 3)

        def probe():
            return pqi.ivfpq_probe(spark, BIG, idx.live_sides(spark))

        t_free = _timed(probe)
        t0 = time.perf_counter()
        idx.append_tombstones(dead, 4)
        t_record = round(time.perf_counter() - t0, 3)
        t_live = _timed(probe)
        live_rows = sorted(map(tuple, probe().collect()))
        t0 = time.perf_counter()
        idx.compact(spark, 4)
        t_fold = round(time.perf_counter() - t0, 3)
        t_after = _timed(probe)
        after_rows = sorted(map(tuple, probe().collect()))
        assert live_rows == after_rows and live_rows, (
            "logical and physical retraction diverge"
        )
        assert all(
            r[2] not in dead_ids for r in live_rows
        ), "retracted vector served as a neighbor"
        legs.append(
            (copies, base_n * copies, t_free, t_record, t_live, t_fold,
             t_after)
        )
        idx.drop_generations(spark)
        shutil.rmtree(work, ignore_errors=True)
    return legs


# §O: what a takedown costs the semantic-dedup index (the round-11
# held capability, streaming/semindex.py). Same fixed-size delete
# discipline as §N: the batch is sized by the request, not the corpus.
def _sem_retraction_race(spark):
    """Section O measurement: retraction cost on the incremental
    SemDeDup index. For x1 (sf0.1, 4 arrivals) and x{EMB_COPIES}
    (§I's rotated-copy fixture, {EMB_ARRIVALS} arrivals), the pair
    state + (cid)-bucketed cell index are built through
    ``sem_index_step``, then a {RETRACT_DELETES}-vector delete batch
    is recorded and the VERDICT READ timed in three states:
    delete-free, live tombstones (logical apply), after the
    compaction fold (physical). The structural claim next to §N: a
    semdedup takedown needs NO index re-probe at all — the pair
    state carries the semantics, so ``sem_delete_step`` is a
    tombstone write plus an O(pairs) anti-join against the broadcast
    dead set — where the IVF twin must re-probe O(affected x cell)
    to repair its top-1 state (streaming/annindex.py
    ``ivf_delete_step``). Verdict outputs asserted EQUAL between the
    logical and physical states; no retracted vector keeps a verdict
    row.

    Also returns the §P legs: after the fixed-size leg, the SAME
    index takes a FULL-corpus takedown (retract every vector, fold
    all-dead into an empty generation, read it — including from a
    catalog-cleared session off the ``_schema.json`` sidecar — then
    re-add a batch), the edge the round-12 GenIndex fix enabled."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from go_http_data_pipeline_spark.streaming import semindex as si

    _build_inc_embs(spark)
    dead = spark.range(100, 100 + RETRACT_DELETES).withColumnRenamed(
        "id", "vec_id"
    )
    dead_ids = set(range(100, 100 + RETRACT_DELETES))
    legs = []
    take_legs = []
    for copies in (1, EMB_COPIES):
        if copies == 1:
            emb = spark.read.parquet(f"{BIG}/embeddings.parquet")
            batches = [
                emb.filter(F.col("vec_id") % 4 == b) for b in range(4)
            ]
        else:
            batches = [
                spark.read.parquet(os.path.join(EMB_DIR, f"shard_{s}"))
                for s in range(EMB_ARRIVALS)
            ]
        work = tempfile.mkdtemp(prefix=f"sem_retract_x{copies}_")
        index_dir = os.path.join(work, "index")
        state_dir = os.path.join(work, "state")
        os.makedirs(state_dir, exist_ok=True)
        t0 = time.perf_counter()
        for b, bdf in enumerate(batches):
            si.sem_index_step(
                spark,
                si.sem_batch_feats(spark, bdf, BIG),
                b,
                index_dir,
                state_dir,
            )
        t_build = round(time.perf_counter() - t0, 3)

        def verdicts():
            return si._verdicts_from_state(spark, index_dir, state_dir)

        n_vecs = verdicts().count()
        pairs_before = si._newest_pairs(spark, state_dir).count()
        t_free = _timed(verdicts)
        t0 = time.perf_counter()
        si.sem_delete_step(spark, dead, len(batches), index_dir, state_dir)
        t_record = round(time.perf_counter() - t0, 3)
        t_live = _timed(verdicts)
        live_rows = sorted(map(tuple, verdicts().collect()))
        t0 = time.perf_counter()
        si._sem_index(index_dir).compact(spark, len(batches))
        t_fold = round(time.perf_counter() - t0, 3)
        t_after = _timed(verdicts)
        after_rows = sorted(map(tuple, verdicts().collect()))
        assert live_rows == after_rows and live_rows, (
            "logical and physical retraction diverge"
        )
        assert all(r[0] not in dead_ids for r in live_rows), (
            "retracted vector kept a verdict row"
        )
        pairs_dropped = pairs_before - si._newest_pairs(
            spark, state_dir
        ).count()
        # The delete modulus is chosen so the takedown removes REAL
        # pairs (ADVICE r11: >= 0 was vacuous — the post-delete state
        # is an anti-join subset, so the difference can't be negative;
        # a takedown that removed nothing would gate nothing).
        assert pairs_dropped > 0, "takedown removed no pairs"
        legs.append(
            (copies, n_vecs, pairs_before, pairs_dropped, t_build,
             t_free, t_record, t_live, t_fold, t_after)
        )
        # §P (round 12): the FULL-corpus takedown on the same built
        # index — the all-dead-fold edge the round-12 GenIndex fix
        # enabled (pre-fix this path crashed the next compaction and
        # any fresh-session read with UNABLE_TO_INFER_SCHEMA). The
        # delete request names EVERY vector, so the record and fold
        # legs are corpus-sized BY DEFINITION (the last cost the
        # index ever pays); the claim worth measuring is the state it
        # leaves behind: the post-takedown read and the
        # catalog-cleared (fresh-session) read of the empty
        # generation, which must be near-zero and corpus-flat, and a
        # re-add arrival must bring the index back to life.
        nb = len(batches)
        all_ids = batches[0].select("vec_id")
        for bdf in batches[1:]:
            all_ids = all_ids.union(bdf.select("vec_id"))
        t0 = time.perf_counter()
        si.sem_delete_step(
            spark, all_ids.distinct(), nb + 1, index_dir, state_dir
        )
        t_record_all = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        si._sem_index(index_dir).compact(spark, nb + 1)  # all-dead fold
        t_fold_all = round(time.perf_counter() - t0, 3)
        t_read_empty = _timed(verdicts)
        assert verdicts().count() == 0, "full takedown left verdict rows"
        si._sem_index(index_dir).drop_generations(spark)
        t_fresh = _timed(verdicts)  # catalog-cleared: sidecar-schema read
        assert verdicts().count() == 0
        t0 = time.perf_counter()
        si.sem_index_step(
            spark,
            si.sem_batch_feats(spark, batches[0], BIG),
            nb + 2,
            index_dir,
            state_dir,
        )
        t_readd = round(time.perf_counter() - t0, 3)
        assert verdicts().count() > 0, "index dead after full takedown"
        take_legs.append(
            (copies, n_vecs, t_record_all, t_fold_all, t_read_empty,
             t_fresh, t_readd)
        )
        si._sem_index(index_dir).drop_generations(spark)
        shutil.rmtree(work, ignore_errors=True)
    return legs, take_legs


# §Q fixture: sf0.1 documents amplified x CAP_COPIES with disjoint
# doc_ids and the SAME hosts (per-host GROUP SIZE is the scale axis
# the cap read actually feels — 250 -> 4000 docs/host), written as
# CAP_ARRIVALS doc_id-striped parquet shards = arrival batches.
CAP_COPIES = 16
CAP_ARRIVALS = 8
CAP_DOC_DIR = f"/tmp/cap_inc_docs_{CAP_COPIES}x{CAP_ARRIVALS}"


def _build_inc_cap_docs(spark) -> None:
    from pyspark.sql import functions as F

    if os.path.isdir(os.path.join(CAP_DOC_DIR, f"shard_{CAP_ARRIVALS - 1}")):
        return
    import shutil

    shutil.rmtree(CAP_DOC_DIR, ignore_errors=True)
    docs = spark.read.parquet(f"{BIG}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    )
    copies = spark.range(CAP_COPIES).withColumnRenamed("id", "copy")
    amp = docs.crossJoin(copies).select(
        (F.col("doc_id") + F.col("copy") * 1_000_000).alias("doc_id"),
        "source",
        # Spread quality per copy so the amplified order is not a
        # 16-way tie at every n_chars value (ties resolve by doc_id
        # anyway; the spread keeps the rank window honest).
        (F.col("n_chars") + F.col("copy")).alias("n_chars"),
        "copy",
    )
    for s in range(CAP_ARRIVALS):
        amp.filter(F.col("doc_id") % CAP_ARRIVALS == s).drop(
            "copy"
        ).coalesce(2).write.mode("overwrite").parquet(
            os.path.join(CAP_DOC_DIR, f"shard_{s}")
        )


def _cap_retraction_race(spark):
    """Section Q measurement: retraction cost on the incremental
    host-cap index (the round-14 held capability,
    streaming/capindex.py, the FIFTH GenIndex family). For x1 (sf0.1,
    4 arrivals) and x{CAP_COPIES} (amplified same-host fixture,
    {CAP_ARRIVALS} arrivals), the (source)-bucketed key index is
    built through ``cap_index_step``, then the takedown that stresses
    this family hardest — retract the ENTIRE CURRENT KEPT SET (cap x
    hosts rows, corpus-INDEPENDENT by construction: the quota is
    fixed), forcing one promotion per kept slot — and the quota read
    timed delete-free, with live tombstones, and after the fold. The
    structural claim next to §N/§O: this family has NO auxiliary
    state at all, so ``cap_delete_step`` is a tombstone write, full
    stop — no pair filter (§O), no top-1 repair probe (ivf), and
    promotion falls out of the read-time re-derivation. Quota
    outputs asserted EQUAL between the logical and physical states;
    no retracted doc keeps a slot; every freed slot re-fills."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from go_http_data_pipeline_spark.streaming import capindex as ci

    _build_inc_cap_docs(spark)
    legs = []
    for copies in (1, CAP_COPIES):
        if copies == 1:
            docs = spark.read.parquet(f"{BIG}/documents.parquet").select(
                "doc_id", "source", "n_chars"
            )
            batches = [
                docs.filter(F.col("doc_id") % 4 == b) for b in range(4)
            ]
        else:
            batches = [
                spark.read.parquet(os.path.join(CAP_DOC_DIR, f"shard_{s}"))
                for s in range(CAP_ARRIVALS)
            ]
        work = tempfile.mkdtemp(prefix=f"cap_retract_x{copies}_")
        index_dir = os.path.join(work, "index")
        t0 = time.perf_counter()
        for b, bdf in enumerate(batches):
            ci.cap_index_step(spark, bdf, b, index_dir)
        t_build = round(time.perf_counter() - t0, 3)

        def caps():
            return ci._caps_from_index(spark, index_dir)

        n_docs = sum(b.count() for b in batches)
        kept_before = {r.doc_id for r in caps().select("doc_id").collect()}
        # FIXTURE PRECONDITION (ADVICE r14): the every-freed-slot-
        # re-fills assert below (len(kept_after) == len(kept_before))
        # holds only when EVERY host carries at least 2x HOST_CAP docs
        # — this leg deletes the whole kept set, so a host needs cap
        # surviving evictees to re-fill all its slots. Assert the
        # precondition here, on the audit column the read already
        # carries, so a small-tail-host fixture fails loudly AT THE
        # CAUSE instead of confusingly at the refill assert.
        from go_http_data_pipeline_spark.llm.sampling import HOST_CAP

        host_min = min(
            r.host_n_docs
            for r in caps().select("source", "host_n_docs").distinct().collect()
        )
        assert host_min >= 2 * HOST_CAP, (
            f"fixture violates the >=2x-cap-per-host precondition "
            f"(min host_n_docs={host_min}, cap={HOST_CAP})"
        )
        t_free = _timed(caps)
        dead = spark.createDataFrame(
            [(i,) for i in sorted(kept_before)], "doc_id long"
        )
        t0 = time.perf_counter()
        ci.cap_delete_step(spark, dead, len(batches), index_dir)
        t_record = round(time.perf_counter() - t0, 3)
        t_live = _timed(caps)
        live_rows = sorted(map(tuple, caps().collect()))
        t0 = time.perf_counter()
        ci._cap_index(index_dir).compact(spark, len(batches))
        t_fold = round(time.perf_counter() - t0, 3)
        t_after = _timed(caps)
        after_rows = sorted(map(tuple, caps().collect()))
        assert live_rows == after_rows and live_rows, (
            "logical and physical retraction diverge"
        )
        kept_after = {r[1] for r in live_rows}
        assert not kept_after & kept_before, "retracted doc kept a slot"
        assert len(kept_after) == len(kept_before), (
            "a freed slot failed to re-fill (every host has >= cap "
            "surviving evictees — precondition asserted above)"
        )
        legs.append(
            (copies, n_docs, len(kept_before), t_build, t_free,
             t_record, t_live, t_fold, t_after)
        )
        ci._cap_index(index_dir).drop_generations(spark)
        shutil.rmtree(work, ignore_errors=True)
    return legs


def _manifest_control_race(spark):
    """Section R measurement: what the manifest-pointer control plane
    (streaming/indexstore.py, the round-15 object-store seam) COSTS
    and what it BUYS, on the §Q fixture at x1 and x{CAP_COPIES}. The
    same cap-index arrivals run on the Posix and manifest stores
    (quota rows asserted identical — store-agnostic exactness at
    scale), manifest objects are measured (count + max bytes: the
    metadata-sized-control-plane claim), then the kept-set takedown
    lands through manifest commits and the SNAPSHOT read at the
    pre-takedown version is timed against the latest read, followed
    by vacuum (physical prune + loud time-travel revocation)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from go_http_data_pipeline_spark.streaming import capindex as ci
    from go_http_data_pipeline_spark.streaming import manifestindex as mfi
    from go_http_data_pipeline_spark.streaming.indexstore import (
        ManifestIndexStore,
    )

    _build_inc_cap_docs(spark)
    legs = []
    for copies in (1, CAP_COPIES):
        if copies == 1:
            batches = [
                spark.read.parquet(f"{BIG}/documents.parquet")
                .select("doc_id", "source", "n_chars")
                .filter(F.col("doc_id") % CAP_ARRIVALS == s)
                for s in range(CAP_ARRIVALS)
            ]
        else:
            batches = [
                spark.read.parquet(os.path.join(CAP_DOC_DIR, f"shard_{s}"))
                for s in range(CAP_ARRIVALS)
            ]
        n_docs = sum(b.count() for b in batches)
        work = tempfile.mkdtemp(prefix=f"mfx_ctl_x{copies}_")
        p_dir = os.path.join(work, "posix")
        m_dir = os.path.join(work, "manifest")
        store = ManifestIndexStore()

        t0 = time.perf_counter()
        for b, bdf in enumerate(batches):
            ci.cap_index_step(spark, bdf, b, p_dir)
        t_build_p = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        for b, bdf in enumerate(batches):
            ci.cap_index_step(spark, bdf, b, m_dir, store)
        t_build_m = round(time.perf_counter() - t0, 3)

        t_read_p = _timed(ci._caps_from_index, spark, p_dir)
        t_read_m = _timed(ci._caps_from_index, spark, m_dir, store)
        pre_p = sorted(map(tuple, ci._caps_from_index(spark, p_dir).collect()))
        pre_m = sorted(
            map(tuple, ci._caps_from_index(spark, m_dir, store).collect())
        )
        assert pre_p == pre_m and pre_p, (
            "posix and manifest control planes must derive identical quotas"
        )

        v_pre = store.current_version(m_dir)
        n_man = len(store._versions(m_dir))
        man_bytes = max(
            os.path.getsize(store._mpath(m_dir, v))
            for v in store._versions(m_dir)
        )

        kept = {r[1] for r in pre_m}
        dead = spark.createDataFrame(
            [(i,) for i in sorted(kept)], "doc_id long"
        )
        ci.cap_delete_step(spark, dead, len(batches), m_dir, store)
        ci._cap_index(m_dir, store).compact(spark, len(batches))

        idx = ci._cap_index(m_dir, store)

        def snap_df():
            return ci._caps_from_sides(
                spark, mfi.snapshot_sides(spark, idx, v_pre)
            )

        t_snap = _timed(snap_df)
        assert (
            sorted(map(tuple, snap_df().collect())) == pre_m
        ), "the pre-takedown snapshot must answer the full pre-delete quota"
        latest = sorted(
            map(tuple, ci._caps_from_index(spark, m_dir, store).collect())
        )
        assert not kept & {r[1] for r in latest}, "retracted doc kept a slot"

        t0 = time.perf_counter()
        pruned = store.vacuum(m_dir, store.current_version(m_dir))
        t_vac = round(time.perf_counter() - t0, 3)
        assert latest == sorted(
            map(tuple, ci._caps_from_index(spark, m_dir, store).collect())
        ), "vacuum must not disturb the latest view"
        revoked = False
        try:
            store.entries_at(m_dir, v_pre)
        except ValueError:
            revoked = True
        assert revoked, "time travel past retention must raise"

        legs.append(
            (copies, n_docs, t_build_p, t_build_m, n_man, man_bytes,
             t_read_p, t_read_m, t_snap, t_vac, len(pruned))
        )
        ci._cap_index(p_dir).drop_generations(spark)
        idx.drop_generations(spark)
        shutil.rmtree(work, ignore_errors=True)
    return legs


def _ivf_incremental_race(spark):
    """Section I measurement: per-arrival seconds + probe file count
    for the incremental IVF cell index (compaction ON and OFF) vs the
    naive full-corpus within-cell recompute — the GenIndex twin of §F
    (round-10 plan item). Final top-1 state asserted equal to the
    batch answer for BOTH incremental legs."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from go_http_data_pipeline_spark.streaming import annindex as ai

    _build_inc_embs(spark)
    shards = [
        os.path.join(EMB_DIR, f"shard_{s}") for s in range(EMB_ARRIVALS)
    ]
    cents = ai.ivf_centroids(spark, BIG).persist()
    cents.count()

    def probe_files(index_dir):
        """Parquet files the NEXT probe will list/open (read view)."""
        return sum(
            sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
            for d in ai._ivf_index(index_dir).visible_dirs()
        )

    def batch_answer(paths):
        """The batch oracle shape: every vector's best same-cell
        neighbor over the given corpus (exactly what the incremental
        state must equal after the last arrival)."""
        feats = ai.ivf_batch_feats(spark.read.parquet(*paths), cents)
        dot = F.expr(ai._DOT.format(a="n.embedding", b="o.embedding"))
        pairs = (
            feats.alias("n")
            .join(
                feats.alias("o"),
                (F.col("n.cid") == F.col("o.cid"))
                & (F.col("n.vec_id") != F.col("o.vec_id")),
            )
            .withColumn("dot", dot)
            .select(
                F.col("n.vec_id").alias("vec_id"),
                F.col("n.cid").alias("cid"),
                F.col("o.vec_id").alias("neighbor_id"),
                (F.col("dot") / (F.col("n.nrm") * F.col("o.nrm"))).alias(
                    "cosine"
                ),
            )
        )
        return ai._merge_top1(pairs)

    # Warm up codegen/JIT untimed so arrival-1 measures the plan.
    batch_answer(shards[:1]).count()

    def run_inc(compact_every):
        prev = ai._IVF_COMPACT_EVERY
        ai._IVF_COMPACT_EVERY = compact_every
        work = tempfile.mkdtemp(prefix="ivf_race_")
        index_dir = os.path.join(work, "index")
        state_dir = os.path.join(work, "state")
        os.makedirs(state_dir, exist_ok=True)
        times, files = [], []
        try:
            for s, path in enumerate(shards):
                files.append(probe_files(index_dir))
                t0 = time.perf_counter()
                ai.ivf_index_step(
                    spark,
                    ai.ivf_batch_feats(spark.read.parquet(path), cents),
                    s,
                    index_dir,
                    state_dir,
                )
                times.append(round(time.perf_counter() - t0, 2))
        finally:
            ai._IVF_COMPACT_EVERY = prev
        final = ai._newest_state(spark, state_dir)
        rows = sorted(map(tuple, final.select(*ai._STATE_COLS).collect()))
        ai._ivf_index(index_dir).drop_generations(spark)
        shutil.rmtree(work, ignore_errors=True)
        return times, files, rows

    inc_off_times, files_off, state_off = run_inc(10**9)
    inc_times, files_on, state_on = run_inc(ai._IVF_COMPACT_EVERY)

    # Naive baseline: each arrival recomputes the full within-cell
    # top-1 over the whole corpus so far (single-shot times, as §F).
    naive_times = []
    for k in range(1, EMB_ARRIVALS + 1):
        t0 = time.perf_counter()
        batch_answer(shards[:k]).count()
        naive_times.append(round(time.perf_counter() - t0, 2))

    expected = sorted(map(tuple, batch_answer(shards).collect()))
    assert state_on == expected, "incremental[compact] != batch answer"
    assert state_off == expected, "incremental[no-compact] != batch answer"
    n_vecs = spark.read.parquet(*shards).count()
    cents.unpersist()
    return (
        n_vecs,
        len(expected),
        inc_times,
        naive_times,
        inc_off_times,
        files_on,
        files_off,
    )


def _ivf_compact_every() -> int:
    from go_http_data_pipeline_spark.streaming import annindex

    return annindex._IVF_COMPACT_EVERY


def _url_fanin_race(spark):
    """Section J measurement: N-endpoint fan-in vs one endpoint when
    the serving side has NO byte-range support (Accept-Ranges absent,
    so each endpoint degrades to one full-body read task — the shape
    §E's splits cannot help). Decoded row multisets asserted equal
    first. Returns (n_rows, body_mb, t_one, t_fanin, n_endpoints).

    4x §E's body: at 21 MB a single-endpoint read is ~2 s and the
    per-job fixed overhead (~1.5 s) swamps the race — measured, not
    guessed; the first cut showed 1.05x. The race needs the decode
    term to dominate, which is also the only regime where fan-in
    matters at all."""
    import json as _json
    from functools import reduce

    from pyspark.sql import functions as F

    from go_http_data_pipeline_spark.sources.http_json import register

    register(spark)
    n = 1_600_000
    n_end = 4
    lines = [
        _json.dumps({"name": f"user{i:07d}", "age": i % 97, "salary": i})
        + "\n"
        for i in range(n)
    ]
    body = "".join(lines).encode()
    per = (n + n_end - 1) // n_end
    chunks = [
        "".join(lines[i * per : (i + 1) * per]).encode()
        for i in range(n_end)
    ]
    one = _RangeLogServer(body, ranges=False)
    many = [_RangeLogServer(c, ranges=False) for c in chunks]
    try:

        def rd(url):
            return (
                spark.read.format("httpjson")
                .schema("name string, age int, salary bigint")
                .option("url", url)
                .load()
            )

        def fanin():
            return reduce(
                lambda a, b: a.unionByName(b), [rd(s.url) for s in many]
            )

        def digest(df):
            return tuple(
                df.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("salary").alias("s"),
                    F.expr("bit_xor(xxhash64(name, age, salary))").alias(
                        "h"
                    ),
                ).collect()[0]
            )

        assert digest(fanin()) == digest(rd(one.url))
        # Range-less endpoint: the planner must degrade to ONE task.
        assert rd(one.url).rdd.getNumPartitions() == 1
        t_one = _timed(lambda: rd(one.url))
        t_fan = _timed(fanin)
    finally:
        one.close()
        for s in many:
            s.close()
    return n, round(len(body) / 1e6, 1), t_one, t_fan, n_end


def _skew_race(spark):
    """Section G: the hot-key join, three ways — unsalted SortMergeJoin
    with AQE skew-splitting OFF (the straggler), AQE skew-splitting ON
    (runtime mitigation), and the explicit ``salted_join`` (planned
    mitigation, the form that also covers aggregations AQE can't
    touch). Broadcast is disabled: the scenario is a dimension too big
    to broadcast, which is exactly when a hot fact key pins a stage.
    AQE's skew thresholds are scaled to the local data size the same
    way a cluster scales them to executor memory (defaults are 256 MB
    partitions — nothing local ever crosses them)."""
    from pyspark.sql import functions as F

    from go_http_data_pipeline_spark.operators.skew import salted_join

    _build_skew_events(spark)
    fact = spark.read.parquet(SKEW_DIR)
    n_rows = fact.count()
    n_hot = fact.filter(F.col("user_id") == SKEW_HOT_USER).count()
    # The dimension is MATERIALIZED as its own table, not derived from
    # fact in the same query: OptimizeSkewedJoin only matches
    # SMJ(Sort(shuffle), Sort(shuffle)) — an aggregate between the
    # sort and the shuffle (e.g. a distinct() building the dim
    # inline) silently disqualifies the whole join from splitting,
    # which is itself worth knowing at scale.
    dim_dir = SKEW_DIR + "_dim"
    if not os.path.exists(os.path.join(dim_dir, "_SUCCESS")):
        fact.select("user_id").distinct().select(
            "user_id",
            F.concat(
                F.lit("tier_"), (F.col("user_id") % 3).cast("string")
            ).alias("tier"),
        ).write.mode("overwrite").parquet(dim_dir)
    dim = spark.read.parquet(dim_dir)

    def digest(joined):
        """Cheap full-equality surrogate: per-tier count + exact sum."""
        return sorted(
            map(
                tuple,
                joined.groupBy("tier")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("value").cast("decimal(18,4)")).alias("s"),
                )
                .collect(),
            )
        )

    # Per-task time distribution via the UI REST API: on local[4] the
    # wall-clock gap is bounded by the core count (a key holding half
    # the rows caps the win at 2x on 4 cores), but on a wide cluster
    # the slowest task IS the wall-clock — so the max-vs-median task
    # duration of the join stage is the number that predicts cluster
    # behavior, and it is measured, not asserted.
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    def _rest(path):
        import json as _json
        import urllib.request

        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}{path}", timeout=10
        ) as r:
            return _json.load(r)

    def _completed_stages():
        if not ui:
            return []
        try:
            return _rest("/stages?status=COMPLETE")
        except Exception:
            return []

    def _task_skew(before_ids):
        """(max task s, median task s) of the JOIN stage — identified
        as the new stage reading the most shuffle bytes (the join
        reads both sides' shuffle output; the final count reduce
        reads ~KB). Picking the slowest-task stage instead is a trap:
        once a mitigation dissolves the join straggler, the slowest
        task moves to the shared map-side scan and the table silently
        compares DIFFERENT stages across legs."""
        join_stage = None
        for s in _completed_stages():
            if s["stageId"] in before_ids:
                continue
            if join_stage is None or (s.get("shuffleReadBytes") or 0) > (
                join_stage.get("shuffleReadBytes") or 0
            ):
                join_stage = s
        if join_stage is None:
            return (None, None)
        try:
            q = _rest(
                f"/stages/{join_stage['stageId']}/{join_stage['attemptId']}"
                "/taskSummary?quantiles=0.0,0.5,1.0"
            )
        except Exception:
            return (None, None)
        dur = q.get("duration") or []
        if len(dur) != 3:
            return (None, None)
        return (round(dur[2] / 1000.0, 2), round(dur[1] / 1000.0, 2))

    def leg(salted: bool, skew_on: bool):
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.enabled", str(skew_on).lower()
        )
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0"
        )
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "2m",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m"
        )
        try:
            join = (
                (lambda: salted_join(fact, dim, key="user_id", n_salts=SKEW_SALTS))
                if salted
                else (lambda: fact.join(dim, "user_id"))
            )
            samples, plans, tasks = [], [], []
            for _ in range(3):
                # Execute THIS df's own query execution (toRdd), not a
                # count() on top: AQE finalizes per-execution, and the
                # skew-split marker only exists in the FINAL plan of
                # the execution that ran — a separate count() QE would
                # leave this one unfinalized and the check would read
                # the static plan.
                jdf = join()
                qe = jdf._jdf.queryExecution()
                before = {s["stageId"] for s in _completed_stages()}
                t0 = time.perf_counter()
                qe.toRdd().count()
                samples.append(round(time.perf_counter() - t0, 2))
                plans.append(qe.executedPlan().toString().lower())
                tasks.append(_task_skew(before))
            d = digest(join())
            best = samples.index(min(samples))
            # Structural split detection: the optimized join prints
            # "SortMergeJoin(skew=true)" and its shuffle read prints
            # "AQEShuffleRead skewed". A bare substring like "skew"
            # is a trap — it matches the fixture's own file PATH in
            # the FileScan node (found the hard way).
            split = any(
                "sortmergejoin(skew=true)" in p or "aqeshuffleread skewed" in p
                for p in plans
            )
            return samples[best], d, split, tasks[best]
        finally:
            for k in (
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.skewJoin.enabled",
                "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            ):
                spark.conf.unset(k)

    t_plain, d_plain, _, k_plain = leg(salted=False, skew_on=False)
    t_aqe, d_aqe, aqe_split, k_aqe = leg(salted=False, skew_on=True)
    t_salt, d_salt, _, k_salt = leg(salted=True, skew_on=False)
    assert d_plain == d_aqe == d_salt, "skew race legs diverge"
    return (
        n_rows,
        n_hot,
        t_plain,
        t_aqe,
        aqe_split,
        t_salt,
        k_plain,
        k_aqe,
        k_salt,
    )


def main() -> int:
    out_md = sys.argv[1] if len(sys.argv) > 1 else "docs/SCALING_MEASURED.md"

    import __spark_entry__ as e
    from go_http_data_pipeline_spark.llm.dedup import (
        lsh_bands_cached,
        shingles_cached,
    )
    from go_http_data_pipeline_spark.operators.storage import (
        zorder_file_stats,
    )
    from go_http_data_pipeline_spark.session import get_spark

    spark = get_spark("scaling-study")
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()

    # Untimed: warm JVM + build the dedup ingest caches at both sizes
    # (one-time artifacts, their build is bench.py's own phase).
    for d in (SMALL, BIG):
        qs["q1_pricing_summary"](spark, d).count()
        shingles_cached(spark, d).count()
        lsh_bands_cached(spark, d).count()

    rows = []
    for name in STUDY:
        t_small = _timed(qs[name], spark, SMALL)
        t_big = _timed(qs[name], spark, BIG)
        exp = round(math.log10(max(t_big, 1e-3) / max(t_small, 1e-3)), 2)
        rows.append((name, t_small, t_big, exp))
        print(f"# {name}: sf0.01={t_small}s sf0.1={t_big}s exp={exp}", flush=True)

    _build_amplified(spark)
    z_new_1 = _timed(zorder_file_stats, spark, BIG)
    z_new_10 = _timed(zorder_file_stats, spark, AMP_DIR)
    z_old_1 = _timed(_legacy_ntile_zorder, spark, BIG)
    z_old_10 = _timed(_legacy_ntile_zorder, spark, AMP_DIR)
    print(
        f"# zorder new: {z_new_1}s -> {z_new_10}s | "
        f"old(ntile): {z_old_1}s -> {z_old_10}s"
    )

    wau_1 = _timed(qs["rolling_7day_active_users"], spark, BIG)
    wau_10 = _timed(qs["rolling_7day_active_users"], spark, AMP_DIR)
    print(f"# rolling_wau sf0.1={wau_1}s amp10={wau_10}s", flush=True)

    # C. time-span stretch: same rows, ~100x the observed days.
    _build_span_stretched()
    new_out = sorted(
        map(tuple, qs["rolling_7day_active_users"](spark, SPAN_DIR).collect())
    )
    old_out = sorted(map(tuple, _legacy_wau(spark, SPAN_DIR).collect()))
    assert new_out == old_out, "WAU formulations diverge on span fixture"
    w_new_30 = _timed(qs["rolling_7day_active_users"], spark, BIG)
    w_old_30 = _timed(_legacy_wau, spark, BIG)
    w_new_3k = _timed(qs["rolling_7day_active_users"], spark, SPAN_DIR)
    w_old_3k = _timed(_legacy_wau, spark, SPAN_DIR)
    print(
        f"# wau span race: new {w_new_30}s -> {w_new_3k}s | "
        f"old {w_old_30}s -> {w_old_3k}s"
    )

    # D. amplified-supplier race: unhinted vs forced-broadcast plan.
    from go_http_data_pipeline_spark.plans.inspect import (
        join_strategies_for_key,
    )

    _build_amplified_supplier()
    uh = qs["volume_shipping"]
    assert sorted(map(tuple, uh(spark, SUP_DIR).collect())) == sorted(
        map(tuple, _hinted_volume_shipping(spark, SUP_DIR).collect())
    ), "volume_shipping formulations diverge on amplified supplier"
    vs_new_1 = _timed(uh, spark, BIG)
    vs_old_1 = _timed(_hinted_volume_shipping, spark, BIG)
    vs_new_1k = _timed(uh, spark, SUP_DIR)
    vs_old_1k = _timed(_hinted_volume_shipping, spark, SUP_DIR)
    # Structural check on the SUPPLIER join node specifically (the
    # join whose keys mention s_suppkey — a different join's demotion
    # must not pollute the signal): at x10000 the pruned supplier side
    # crosses the broadcast threshold, AQE demotes the unhinted join
    # to a shuffle join; the hint pins the broadcast build.
    df_new = uh(spark, SUP_DIR)
    df_old = _hinted_volume_shipping(spark, SUP_DIR)
    df_new.count(), df_old.count()  # finalize adaptive plans
    sup_new = join_strategies_for_key(df_new, "s_suppkey")
    sup_old = join_strategies_for_key(df_old, "s_suppkey")
    new_demoted = sup_new and all(
        s in ("SortMergeJoin", "ShuffledHashJoin") for s in sup_new
    )
    old_pinned = sup_old and all(s == "BroadcastHashJoin" for s in sup_old)
    print(
        f"# supplier race: new {vs_new_1}s -> {vs_new_1k}s | "
        f"old(hinted) {vs_old_1}s -> {vs_old_1k}s | "
        f"unhinted supplier join: {sup_new} | hinted: {sup_old}"
    )

    # E. URL byte-range split race.
    u_rows, u_mb, u_single, u_split, u_parts = _url_split_race(spark)
    print(
        f"# url split race: {u_rows} rows / {u_mb} MB | whole-body "
        f"{u_single}s | split({u_parts} parts) {u_split}s"
    )

    # J. URL fan-in race (range-less endpoints: splits can't help).
    j_rows, j_mb, j_one, j_fan, j_ends = _url_fanin_race(spark)
    print(
        f"# url fanin race: {j_rows} rows / {j_mb} MB | one endpoint "
        f"{j_one}s | fan-in x{j_ends} {j_fan}s"
    )

    # F. Incremental LSH index vs per-arrival recompute — on a
    # deliberately SMALL fixed-parallelism session (local[4]). At
    # local[32] the corpus-growth term hides below cluster
    # saturation: an 8x corpus recompute ran in the SAME wall time
    # because the smaller runs left 27 of 32 cores idle and the
    # growth was absorbed by elastic capacity. Fixed compute +
    # growing data is the actual question the race answers (a real
    # cluster's size is fixed while the corpus compounds), so F pins
    # cores to make wall time proportional to work.
    spark.stop()
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        # UI explicitly ON: §G reads per-task durations from the UI
        # REST taskSummary endpoint. get_spark() disables the UI and
        # that conf SURVIVES spark.stop() into the next getOrCreate()
        # in the same JVM (builder options accumulate), so relying on
        # the default silently yields uiWebUrl=None and n/a task
        # columns — it must be forced back on here.
        .config("spark.ui.enabled", "true")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    (
        f_docs,
        f_cands,
        f_inc,
        f_naive,
        f_inc_off,
        f_files_on,
        f_files_off,
    ) = _lsh_incremental_race(spark)
    print(
        f"# lsh incremental race: {f_docs} docs / {f_cands} candidate "
        f"pairs | inc per-arrival {f_inc} (total "
        f"{round(sum(f_inc), 1)}s) | inc-nocompact {f_inc_off} (total "
        f"{round(sum(f_inc_off), 1)}s) | naive per-arrival {f_naive} "
        f"(total {round(sum(f_naive), 1)}s) | probe files on/off "
        f"{f_files_on} vs {f_files_off}"
    )

    # G. hot-key join race on the same pinned small session (the
    # straggler question is also a fixed-compute question: one hot
    # partition pins one of FEW cores).
    (
        g_rows,
        g_hot,
        g_plain,
        g_aqe,
        g_split,
        g_salt,
        g_k_plain,
        g_k_aqe,
        g_k_salt,
    ) = _skew_race(spark)
    print(
        f"# skew race: {g_rows} rows ({g_hot} on one key) | unsalted "
        f"{g_plain}s (max/med task {g_k_plain[0]}/{g_k_plain[1]}s) | "
        f"aqe-split {g_aqe}s (max/med task {g_k_aqe[0]}/{g_k_aqe[1]}s, "
        f"split fired={g_split}) | salted(x{SKEW_SALTS}) {g_salt}s "
        f"(max/med task {g_k_salt[0]}/{g_k_salt[1]}s)"
    )

    # H. contiguous-id race on the same pinned small session.
    h_rows, h_naive, h_two = _gid_race(spark)
    print(
        f"# gid race: {h_rows} rows | naive single-partition "
        f"{h_naive}s | two-phase {h_two}s"
    )

    # L. top-K selection race on the same pinned small session.
    l_rows, l_ship, l_lit, l_dd, l_rescued, l_funneled = _priority_race(
        spark
    )
    print(
        f"# priority topk race: {l_rows} rows | take-ordered {l_ship}s"
        f" | literal rank filter {l_lit}s (rescued={l_rescued})"
        f" | data-dependent K {l_dd}s (single-partition={l_funneled})"
    )

    # I. incremental IVF index race on the same pinned small session
    # (the §F question for the GenIndex twin).
    (
        i_vecs,
        i_state,
        i_inc,
        i_naive,
        i_inc_off,
        i_files_on,
        i_files_off,
    ) = _ivf_incremental_race(spark)
    print(
        f"# ivf incremental race: {i_vecs} vectors / {i_state} state "
        f"rows | inc per-arrival {i_inc} (total {round(sum(i_inc), 1)}s)"
        f" | inc-nocompact {i_inc_off} (total "
        f"{round(sum(i_inc_off), 1)}s) | naive per-arrival {i_naive} "
        f"(total {round(sum(i_naive), 1)}s) | probe files on/off "
        f"{i_files_on} vs {i_files_off}"
    )

    # K. ADC probe layout race: long (corpus x queries shuffle) vs
    # wide (per-row lookups, query-sized exchange) on amplified codes.
    k_vecs, k_long_1, k_wide_1, k_long_n, k_wide_n = _pq_probe_race(spark)
    print(
        f"# pq probe race: base long {k_long_1}s wide {k_wide_1}s | "
        f"x{PQ_PROBE_COPIES} ({k_vecs} vectors) long {k_long_n}s "
        f"wide {k_wide_n}s",
        flush=True,
    )

    # M. wide-probe input bytes on materialized codes (the "probe
    # never reads the floats" claim as executed scan metrics).
    m_legs, m_emb_mb = _pq_probe_bytes(spark)
    print(
        "# pq probe bytes: "
        + " | ".join(
            f"x{c}: {n} vectors, {mb} MB codes, {t}s"
            for c, n, mb, t in m_legs
        )
        + f" | raw floats {m_emb_mb} MB",
        flush=True,
    )

    # N. retraction cost on the codes index: tombstone record,
    # logical-apply probe overhead, physical fold — x1 vs amplified.
    n_legs = _codes_retraction_race(spark)
    print(
        "# codes retraction race: "
        + " | ".join(
            f"x{c}: {n} vectors, free {tf}s, record {tr}s, "
            f"live {tl}s, fold {tc}s, after {ta}s"
            for c, n, tf, tr, tl, tc, ta in n_legs
        ),
        flush=True,
    )

    # O. retraction cost on the semantic-dedup index: tombstone +
    # O(pairs) state filter, no re-probe — x1 vs amplified.
    # P. full-corpus takedown on the same index: the all-dead-fold
    # edge (round-12 GenIndex fix) — empty-but-healthy, measured.
    o_legs, p_legs = _sem_retraction_race(spark)
    print(
        "# semdedup retraction race: "
        + " | ".join(
            f"x{c}: {n} vectors, {pb} pairs ({pd} dropped), build {tb}s, "
            f"free {tf}s, record {tr}s, live {tl}s, fold {tc}s, after {ta}s"
            for c, n, pb, pd, tb, tf, tr, tl, tc, ta in o_legs
        ),
        flush=True,
    )
    print(
        "# full takedown race: "
        + " | ".join(
            f"x{c}: {n} vectors, record-all {tr}s, all-dead fold {tc}s, "
            f"read {te}s, fresh read {tf}s, re-add {ta}s"
            for c, n, tr, tc, te, tf, ta in p_legs
        ),
        flush=True,
    )

    # Q. retraction cost on the incremental host-cap index: the
    # kept-set takedown (quota-sized, corpus-independent) — x1 vs
    # amplified per-host groups.
    q_legs = _cap_retraction_race(spark)
    print(
        "# cap retraction race: "
        + " | ".join(
            f"x{c}: {n} docs, {k} kept retracted, build {tb}s, "
            f"free {tf}s, record {tr}s, live {tl}s, fold {tc}s, after {ta}s"
            for c, n, k, tb, tf, tr, tl, tc, ta in q_legs
        ),
        flush=True,
    )

    # R. manifest control plane: commit overhead, snapshot reads,
    # vacuum — the round-15 object-store seam, measured.
    r_legs = _manifest_control_race(spark)
    print(
        "# manifest control race: "
        + " | ".join(
            f"x{c}: {n} docs, build posix {tbp}s vs manifest {tbm}s, "
            f"{nm} manifests (max {mb} B), read {trp}s vs {trm}s, "
            f"snapshot {ts}s, vacuum {tv}s ({np} prefixes pruned)"
            for c, n, tbp, tbm, nm, mb, trp, trm, ts, tv, np in r_legs
        ),
        flush=True,
    )

    lines = [
        "# SCALING — measured scale-stress evidence (rounds 5-10)",
        "",
        "Method: every time is min-of-%d (the bench discipline: this"
        % max(1, REPEATS),
        "box shows CPU-steal spikes; the min estimates engine cost).",
        "Exponent = log10(t_10x / t_1x); 1.0 = linear. Sub-second",
        "queries carry ~0.1-0.3 s fixed planning/dispatch overhead, so",
        "their exponents UNDERSTATE growth; the point of the table is",
        "that nothing is superlinear.",
        "",
        "## A. Generator 10x: sf0.01 -> sf0.1 (driver fixtures)",
        "",
        "| query | sf0.01 (s) | sf0.1 (s) | exponent |",
        "|---|---|---|---|",
    ]
    for name, t_small, t_big, exp in rows:
        lines.append(f"| {name} | {t_small} | {t_big} | {exp} |")
    amp_rows_o = AMP_COPIES
    lines += [
        "",
        "## B. Amplified 10x over sf0.1 (orders/events x%d, disjoint"
        % amp_rows_o,
        "key shards): the z-order rewrite vs the plan it replaced",
        "",
        "| plan | sf0.1 (s) | 10x (s) | growth |",
        "|---|---|---|---|",
        f"| zorder NEW (grid-histogram, broadcast) | {z_new_1} |"
        f" {z_new_10} | {round(z_new_10 / z_new_1, 2)}x |",
        f"| zorder OLD (exact ntile, single-task sort) | {z_old_1} |"
        f" {z_old_10} | {round(z_old_10 / z_old_1, 2)}x |",
        f"| rolling_7day_active_users (pair-explosion) | {wau_1} |"
        f" {wau_10} | {round(wau_10 / wau_1, 2)}x |",
        "",
        f"At 10x the new z-order plan is {round(z_old_10 / z_new_10, 2)}x"
        " faster than the ntile formulation it replaced, and the gap is",
        "structural: the old plan funnels every row through ONE task's",
        "sort (growth tracks data size on a single core), the new one",
        "does two distributed groupBys + broadcast joins, so its",
        "per-task work stays constant as executors scale out. The WAU",
        "pair-explosion grows with distinct (day,user) pairs only.",
        "",
        "",
        "## C. Time-span stretch: the WAU rewrite vs the replaced range join",
        "",
        "Same 100k events re-dated from 30 to ~3000 observed days;",
        "outputs of both formulations asserted equal first.",
        "",
        "| plan | 30-day span (s) | ~3000-day span (s) | growth |",
        "|---|---|---|---|",
        f"| WAU NEW (pair-explosion) | {w_new_30} | {w_new_3k} |"
        f" {round(w_new_3k / w_new_30, 2)}x |",
        f"| WAU OLD (broadcast range join) | {w_old_30} | {w_old_3k} |"
        f" {round(w_old_3k / w_old_30, 2)}x |",
        "",
        "The old plan's comparisons scale with observed_days x pairs",
        "(the calendar axis experiments A/B cannot see on a 30-day",
        "fixture); the explosion's 7x pair fan-out is span-independent.",
        "",
        "",
        "## D. Amplified supplier x%d: unhinted vs forced-broadcast"
        % SUP_COPIES,
        "(the rounds-6/7 de-hinting, VERDICT r5 items 1+3, r7 item 3)",
        "",
        "supplier grows to %dM rows (disjoint keys -> outputs equal,"
        % (SUP_COPIES // 1000),
        "asserted); volume_shipping raced against its old formulation",
        "with the forced F.broadcast(s) hint.",
        "",
        f"| plan | supplier x1 (s) | x{SUP_COPIES} (s) | growth |",
        "|---|---|---|---|",
        f"| volume_shipping UNHINTED (AQE decides) | {vs_new_1} |"
        f" {vs_new_1k} | {round(vs_new_1k / vs_new_1, 2)}x |",
        f"| volume_shipping OLD (forced broadcast) | {vs_old_1} |"
        f" {vs_old_1k} | {round(vs_old_1k / vs_old_1, 2)}x |",
        "",
        "Structural check on the supplier join node itself (the join",
        "whose keys mention s_suppkey; inspecting the whole plan would",
        "let some OTHER join's strategy pollute the signal):",
        "",
        f"- unhinted plan's supplier join at x{SUP_COPIES}: "
        f"**{', '.join(sup_new)}** (demoted = {bool(new_demoted)})",
        f"- hinted plan's supplier join at x{SUP_COPIES}: "
        f"**{', '.join(sup_old)}** (pinned broadcast = {bool(old_pinned)})",
        "",
        "The demotion threshold applies to the column-PRUNED side:",
        "volume_shipping reads (s_suppkey, s_nationkey) only, so x3000",
        "(3M rows, 19 MB file) still estimated 8.2 MB and Spark —",
        "correctly — kept broadcasting; earlier rounds' x1000/x3000",
        "runs demonstrated nothing for exactly this reason. At",
        f"x{SUP_COPIES} the pruned estimate is ~27 MB, the unhinted",
        "join executes a real SortMergeJoin (outputs still equal), and",
        "the hinted plan ships a 10M-row broadcast build that no",
        "statistics can override. At x10 both plans are identical (AQE",
        "auto-broadcasts below the threshold) — asserted by",
        "tests/test_plans.py — which is exactly why the hint bought",
        "nothing locally while pinning a broadcast build that grows",
        "with scale factor. Local mode shares the broadcast in one",
        "JVM; on a real cluster the build is a driver collect plus a",
        "per-executor ship, so this gap UNDERSTATES the cliff.",
        "",
        "",
        "",
        "## E. URL byte-range split race (round 8)",
        "",
        f"A {u_mb} MB / {u_rows}-row JSONL log on a localhost HTTP",
        "double with Range support; decoded row sets asserted equal",
        "first. Split size 4 MB.",
        "",
        "| read path | partitions | time (s) |",
        "|---|---|---|",
        f"| whole body | 1 | {u_single} |",
        f"| byte-range splits | {u_parts} | {u_split} |",
        "",
        f"{round(u_single / u_split, 2)}x from per-core decode",
        "parallelism alone; on a real cluster the same splits fan out",
        "across executors (the driver plans them from a HEAD probe and",
        "never touches data), and the serving side would be object",
        "storage rather than one localhost socket.",
        "",
        "## J. URL fan-in: N range-less endpoints vs one (round 9)",
        "",
        f"A {j_mb} MB / {j_rows}-row JSONL log (4x §E's body — at",
        "21 MB the ~1.5 s fixed job overhead swamped the race: the",
        "first cut measured 1.05x and was rejected), served by",
        "endpoints WITHOUT byte-range support (no Accept-Ranges on",
        "HEAD) — §E's split planner correctly degrades each endpoint",
        "to ONE full-body task (asserted), so endpoint count is the",
        "only parallelism axis left. This is the reference's own",
        "scale-out shape (N server instances on different ports,",
        f"Server/main.go:59), ingested as a union of {j_ends} httpjson",
        "sources — the batch analogue of url_fanin_union's streaming",
        "union with per-source offsets. Decoded row multisets",
        "asserted equal first.",
        "",
        "| read path | endpoint tasks | time (s) |",
        "|---|---|---|",
        f"| one endpoint, whole body | 1 | {j_one} |",
        f"| fan-in union x{j_ends} | {j_ends} | {j_fan} |",
        "",
        f"{round(j_one / j_fan, 2)}x: each endpoint's download+decode",
        "runs as its own task. §E and §J compose — a ranged endpoint",
        "splits WITHIN itself, a fan-in parallelizes ACROSS endpoints",
        "— so ingest parallelism survives either a dumb server or a",
        "single fat one.",
        "",
        "## F. Incremental LSH index vs per-arrival recompute (rounds 8-9)",
        "",
        f"{f_docs} docs (sf0.01 x{INC_COPIES}, per-copy token-rehashed",
        "so copies don't near-collide) arriving in"
        f" {INC_SHARDS} batches; {f_cands}",
        "candidate pairs every way (final sets asserted EQUAL across",
        "all three legs). Incremental = one lsh_index_step per arrival",
        "(the exact code streaming_lsh_index_candidates ships: probe",
        "the accumulated index, then append, folding the index into",
        "one (band, sig)-partitioned generation every"
        f" {_compact_every()} arrivals —",
        "round 9; the no-compaction column is the round-8 design that",
        "kept one directory per arrival forever). Naive = re-run the",
        "full batch LSH build over the whole corpus-so-far at each",
        "arrival. 'Probe files' = parquet files the arrival's index",
        "probe lists/opens. Single-shot times (the index state makes",
        "repeats unequal work), measured on a PINNED local[4] session:",
        "at local[32] the growth term hid below cluster saturation",
        "(the small runs left most cores idle, so an 8x corpus",
        "recomputed in the same wall time); fixed compute + growing",
        "data is the question a real cluster faces, since its size is",
        "fixed while the corpus compounds.",
        "",
        "| arrival | incremental (s) | probe files | no-compaction (s)"
        " | probe files | naive recompute (s) |",
        "|---|---|---|---|---|---|",
    ] + [
        f"| {i + 1} | {f_inc[i]} | {f_files_on[i]} | {f_inc_off[i]} |"
        f" {f_files_off[i]} | {f_naive[i]} |"
        for i in range(INC_SHARDS)
    ] + [
        f"| **total** | **{round(sum(f_inc), 1)}** | |"
        f" **{round(sum(f_inc_off), 1)}** | |"
        f" **{round(sum(f_naive), 1)}** |",
        "",
        "Per-arrival incremental cost stays ~flat — the shingle/",
        "minhash/banding work is batch-sized, and the index probe is",
        "an equi-join whose index side (locally a bounded parquet",
        "scan) is at cluster scale a bucketed co-located join with no",
        "index-side shuffle. Compaction bounds what a probe reads:",
        "without it the file count grows one directory per arrival",
        "forever (hourly arrivals for a year = ~9k dirs of small",
        "files), with it the count re-anchors at one generation every",
        "fold. The fold's own cost is visible as the bump on the fold",
        "arrivals (4 and 8): a rewrite of the index-so-far, paid every",
        "K batches to keep the per-probe listing O(1) instead of O(t)",
        "— locally (tens of files) the two columns' totals are within",
        "noise of each other, and the win is the bounded file count,",
        "which at one-dir-per-hour scale is the difference between a",
        "working probe and a listing storm.",
        "Naive per-arrival cost grows with the corpus —",
        "quadratic total, and the gap widens with every arrival: at",
        "100 TB with hourly arrivals the naive form is simply not",
        "runnable, which is the case for maintaining the index.",
        "",
        "## G. Hot-key join: straggler vs AQE skew-split vs salting (round 9)",
        "",
        f"{g_rows} fact rows with {g_hot}",
        f"({round(100 * g_hot / g_rows)}%) on ONE user_id (sf0.1 events,",
        "hot users' rows x200 remapped to a single key, written as",
        f"{SKEW_FILES} files so the shared map side parallelizes),",
        "joined to a per-user dimension with broadcast DISABLED — the",
        "scenario is a dimension too big to broadcast, exactly when a",
        "hot fact key pins a stage. Same pinned small session as F;",
        "per-tier count+exact-sum digests asserted equal across all",
        "three legs. AQE skew thresholds scaled to local partition",
        "sizes (2 MB advisory/threshold, factor 2) the way a cluster",
        "scales them to executor memory — the 256 MB defaults never",
        "trigger on local data. Max/median task durations come from",
        "the join stage via the UI REST taskSummary endpoint.",
        "",
        "| leg | wall (s) | max task (s) | median task (s) |",
        "|---|---|---|---|",
        f"| unsalted SMJ, skew-split OFF | {g_plain} |"
        f" {g_k_plain[0]} | {g_k_plain[1]} |",
        f"| unsalted SMJ, AQE skew-split ON (split in final plan:"
        f" {g_split}) | {g_aqe} | {g_k_aqe[0]} | {g_k_aqe[1]} |",
        f"| salted_join (x{SKEW_SALTS} salts), skew-split OFF |"
        f" {g_salt} | {g_k_salt[0]} | {g_k_salt[1]} |",
        "",
        "The wall-clock gap on local[4] is bounded by the core count:",
        f"a key holding {round(100 * g_hot / g_rows)}% of the rows caps",
        "the possible win at ~2x on 4 cores, because the balanced legs",
        "still execute the same total work on the same 4 cores. The",
        "cluster-predictive number is the TASK distribution: on a wide",
        "cluster the slowest task IS the stage wall-clock, and the",
        "straggler leg's max task is the whole hot key on one core",
        "while both mitigations break it apart (max/median ratio",
        "above). The explicit pattern (operators/skew.py) still",
        "matters at scale for what AQE cannot touch: aggregation skew",
        "and non-SMJ joins; AQE covers the plain SMJ case",
        "automatically, which is why the engine leaves it ON and",
        "reserves salting for those shapes.",
        "",
        "## H. Contiguous global ids: naive global sort vs two-phase"
        " (round 9)",
        "",
        f"{h_rows} unique keys (sf0.1 orders x disjoint copies,"
        f" {GID_FILES} files);",
        "count + bit_xor(xxhash64(k, gid)) digests asserted equal",
        "each round. Same pinned local[4] session as F/G; min-of-2",
        "per leg (the naive leg's one-task sort shows 2x+ GC",
        "variance on identical input — itself a symptom of the",
        "pattern).",
        "",
        "| plan | wall (s) |",
        "|---|---|",
        f"| naive row_number() OVER (ORDER BY k) — Exchange"
        f" SinglePartition | {h_naive} |",
        f"| two-phase (range shuffle + id-stamp + offsets,"
        f" assign_contiguous_ids) | {h_two} |",
        "",
        f"{round(h_naive / max(h_two, 0.01), 2)}x on 4 cores — and the",
        "gap is structural, not a constant: the naive plan funnels",
        "every row through ONE task's sort buffer (its time tracks",
        "corpus size on a single core, and at 100 TB one task cannot",
        "even hold the data), while the two-phase form's per-task work",
        "shrinks as executors scale out and its only global state is P",
        "partition counts on the driver. Getting the parallel form to",
        "actually WIN locally took two iterations, both kept on record:",
        "an Arrow/mapInPandas assignment paid an O(N) Python round-trip",
        "(32 s — slower than the naive 20 s best case), and a window",
        "over the range id paid a second full shuffle; the shipped form",
        "stamps monotonically_increasing_id in range-sorted order (range",
        "id in the upper bits, position in the lower 33) so the",
        "assignment after the one range shuffle is map-side bit",
        "arithmetic + a P-row broadcast join. The plan shape is pinned",
        "by tests/test_plans.py: the naive control MUST contain Exchange",
        "SinglePartition, the shipped form must not, outputs equal.",
        "",
        "## L. Global top-K: literal rank filter vs data-dependent K"
        " (round 9)",
        "",
        f"Same {l_rows}-key fixture and pinned local[4] session as §H,",
        "with the exact one-division priority arithmetic",
        "priority_sample_docs ships (weight = k % 9973 + 1). Three",
        "formulations of the same top-(K+1), row sets asserted",
        "identical; min-of-2 per leg, each run on a FRESH DataFrame —",
        "re-collecting a shared DF object reuses its exchanges'",
        "shuffle files and times only the post-shuffle stage (0.07 s",
        "for the literal leg's 26-row window — a hazard this section's",
        "second draft measured and the method now fences, like §G's",
        "five documented fixes). The first draft raced only the",
        "first two and measured a DEAD TIE — which is the finding:",
        "Catalyst's LimitPushDownThroughWindow rewrites the",
        "empty-partition rank filter with a LITERAL bound into the",
        "TakeOrderedAndProject plan, so on Spark 4 the 'naive' spelling",
        "is rescued. The cliff only returns when the bound is",
        "DATA-DEPENDENT (K arrives in a broadcast 1-row table — the",
        "'keep top budget-many' shape where the budget was computed",
        "upstream): no literal, no rewrite, full one-task sort.",
        "",
        "| plan | wall (s) | plan shape (asserted) |",
        "|---|---|---|",
        f"| shipped orderBy().limit(K+1) | {l_ship} |"
        f" TakeOrderedAndProject |",
        f"| row_number() <= LITERAL K+1 | {l_lit} |"
        f" rewritten to TakeOrderedAndProject = {bool(l_rescued)} |",
        f"| row_number() <= K+1 from a 1-row table | {l_dd} |"
        f" Exchange SinglePartition = {bool(l_funneled)} |",
        "",
        f"{round(l_dd / max(l_ship, 0.01), 2)}x on 4 cores once the",
        "rewrite can't fire — and structural, not constant: the",
        "data-dependent form funnels the whole corpus through one",
        "task's sort buffer (time tracks corpus size on one core; at",
        "100 TB one task cannot hold the data), while",
        "TakeOrderedAndProject keeps a K+1-row heap per task and",
        "gathers <= K+1 rows per partition — per-task work shrinks",
        "with executor count and nothing corpus-sized crosses the",
        "wire. Two shipped consequences: priority_sample_docs bakes K",
        "into the plan as a literal (re-plan per budget change, never",
        "a data-dependent bound), and the plan inspector counts",
        "TakeOrderedAndProject as row-bounding (unit-pinned in",
        "tests/test_loader_sampling.py). token_budget_selection is the",
        "same lesson at output scale: when the SURVIVORS are",
        "corpus-sized, no top-k node exists and the two-phase bucket",
        "prefix-sum is the only shape that avoids this funnel.",
        "",
        "## I. Incremental IVF index vs per-arrival recompute (round 9)",
        "",
        f"{i_vecs} vectors (sf0.1 embeddings x{EMB_COPIES}, each copy's",
        "dims rotated so the cosine geometry differs per copy) arriving",
        f"in {EMB_ARRIVALS} batches; final top-1 state ({i_state} rows)",
        "asserted EQUAL to the batch within-cell answer for both",
        "incremental legs. Same method as §F but for the GenIndex",
        "TWIN: ivf_index_step (the exact code streaming_ivf_index_top1",
        "ships — probe the accumulated cell index in both directions,",
        "fold the idempotent top-1 max state, append, compact every"
        f" {_ivf_compact_every()}",
        "arrivals). Naive = recompute the full within-cell top-1 over",
        "the corpus-so-far each arrival. Same pinned local[4] session",
        "and single-shot discipline as §F.",
        "",
        "| arrival | incremental (s) | probe files | no-compaction (s)"
        " | probe files | naive recompute (s) |",
        "|---|---|---|---|---|---|",
    ] + [
        f"| {i + 1} | {i_inc[i]} | {i_files_on[i]} | {i_inc_off[i]} |"
        f" {i_files_off[i]} | {i_naive[i]} |"
        for i in range(EMB_ARRIVALS)
    ] + [
        f"| **total** | **{round(sum(i_inc), 1)}** | |"
        f" **{round(sum(i_inc_off), 1)}** | |"
        f" **{round(sum(i_naive), 1)}** |",
        "",
        "Two differences from §F, both structural. (1) The LSH index's",
        "per-arrival cost is ~flat because banding bounds collisions;",
        "the IVF probe's cost GROWS with the corpus (a batch joins",
        "1/16 of everything seen so far), so per-arrival time rises",
        "LINEARLY — against the naive leg's quadratic total that is",
        "still the difference between maintainable and not. At real",
        "scale the linear term is what nprobe/cell-count tuning and",
        "the IVFPQ composition (score codes, not floats — llm/pq.py)",
        "attack; the maintenance dataflow is unchanged. (2) The same",
        "compaction economics: probe file count re-anchors at one",
        "bucketed generation every fold instead of growing one dir",
        "per arrival forever, and the probe join consumes the",
        "generation's bucketing with zero index-side exchange",
        "(plan-pinned by test_annindex.py).",
        "",
        "## K. ADC probe layout: long (join + corpus-sized shuffle) vs"
        " wide (per-row lookups) (round 9)",
        "",
        "The two shipped PQ probe layouts raced on the sf0.1 codes",
        f"table and on the same codes amplified x{PQ_PROBE_COPIES}",
        f"({k_vecs} vectors; each copy's dense code indexes rotated by",
        "its copy id so scores genuinely differ per copy — codes are",
        "per-vector independent, so a replicated-and-rotated codes",
        "table is exactly what a larger coded corpus looks like to the",
        "probe). Outputs asserted row-identical between the layouts on",
        "both corpora; both probe legs read PERSISTED codes (index",
        "build is untimed, as in docs/ANN_COMPARISON.md).",
        "",
        "| corpus | long probe (s) | wide probe (s) |",
        "|---|---|---|",
        f"| sf0.1 codes | {k_long_1} | {k_wide_1} |",
        f"| x{PQ_PROBE_COPIES} | {k_long_n} | {k_wide_n} |",
        "",
        "The long layout (pq_ann_top1, the oracle's shape) joins the",
        "broadcast LUT to 16 code rows per vector and folds them in a",
        "(qid, vec_id) hash aggregate — corpus x queries rows through",
        "an exchange, growing with the corpus. The wide layout",
        "(pq_ann_top1_wide) scores each vector row with 16 element_at",
        "lookups in codegen and pre-combines the per-query max",
        "map-side, so its lone exchange carries <= |queries| rows per",
        "partition at ANY corpus size (plan-pinned in",
        "tests/test_pq.py). At the fixture's 2000 vectors both probes",
        "are overhead-dominated (the wide form additionally pays a",
        "~0.3 s fixed LUT-assembly stage, so it can even trail); the",
        "amplified corpus is where the shuffle term separates them —",
        "the wide form stays ~flat (its growth is the scan) while the",
        "long form pays scan + join + shuffle + 16x-wider aggregate",
        "input, growing with the corpus.",
        "",
        "## M. Wide-probe input bytes: the codes table IS the probe's"
        " corpus (round 10)",
        "",
        "§K raced the layouts' time; this section pins the BYTES",
        "(VERDICT r9 item 4). The wide codes were materialized as a",
        "parquet table — the deployment layout — and the probe's",
        "executed FileSourceScan metrics read back after a real",
        "collect(): the corpus-side scan roots at the codes table",
        "(filesSize == the parquet bytes on disk, numOutputRows ==",
        "the corpus, asserted), and EVERY raw-float scan carries the",
        "query-side pushed bound LessThan(vec_id, 10) — the floats",
        "are read only for the broadcast LUT build, never for the",
        "corpus (asserted; also unit-pinned per-run in",
        "tests/test_pq.py::test_wide_probe_reads_only_the_codes_bytes).",
        "",
        "| corpus | vectors | codes scanned (MB) | floats avoided (MB)"
        " | probe (s) |",
        "|---|---|---|---|---|",
    ] + [
        f"| x{c} | {n} | {mb} | "
        f"{round(m_emb_mb * c, 2)} | {t} |"
        for c, n, mb, t in m_legs
    ] + [
        "",
        f"At x1 the codes table is {round(m_emb_mb / m_legs[0][2], 1)}x"
        " smaller than the raw floats it replaces at probe time; the",
        "ratio is structural (16 one-byte codes vs 64 float32s per",
        "vector — parquet framing costs both sides), so at 100 TB of",
        "embeddings the probe's scan is a few TB of codes, cell-pruned",
        "further by the IVFPQ composite's bucketing.",
        "",
        "## N. Retraction cost on the codes index (round 10)",
        "",
        "What a takedown costs the IVFPQ codes index",
        "(streaming/pqindex.py): the cell-tagged wide codes maintained",
        "as a GenIndex (4 src_batch-stamped appends folded into one",
        "(cid)-bucketed generation — the gate query's layout), then a",
        f"{RETRACT_DELETES}-vector delete batch recorded and the ADC",
        "probe timed delete-free, with LIVE tombstones (logical",
        "apply: a broadcast anti-filter on each probe side), and",
        "after the next compaction folds the retraction in. The",
        "delete batch stays the SAME size at both corpus scales — a",
        "takedown is sized by the request, not the corpus. Probe",
        "outputs asserted equal between the logical and physical",
        "states; no retracted vector served as a neighbor (also",
        "plan-pinned:",
        "test_pqindex.py::test_tombstone_apply_is_passthrough_then_broadcast).",
        "",
        "| corpus | vectors | probe, no deletes (s) | tombstone"
        " record (s) | probe, live tombstones (s) | fold (s) |"
        " probe, after fold (s) |",
        "|---|---|---|---|---|---|---|",
    ] + [
        f"| x{c} | {n} | {tf} | {tr} | {tl} | {tc} | {ta} |"
        for c, n, tf, tr, tl, tc, ta in n_legs
    ] + [
        "",
        "Recording a takedown is corpus-independent (a distinct+write",
        "of the delete keys); the logical-apply overhead a probe pays",
        "until the next fold is a broadcast hash join against the",
        "O(deletes) tombstone table — no corpus shuffle, no index",
        "rewrite on the takedown path — and the fold returns the",
        "probe to its delete-free plan. At 100 TB this is the",
        "difference between takedowns costing an index rebuild and",
        "costing a small write plus one broadcast per probe until the",
        "next scheduled compaction.",
        "",
        "## O. Retraction cost on the semantic-dedup index (round 11)",
        "",
        "The same takedown question for the round-11 capability",
        "(streaming/semindex.py, the fourth GenIndex family): the pair",
        "state + (cid)-bucketed cell index built through",
        "sem_index_step arrivals, then the SAME fixed-size",
        f"{RETRACT_DELETES}-vector delete batch recorded at x1 and",
        f"x{EMB_COPIES} the corpus (§I's rotated-copy fixture), and",
        "the verdict read timed delete-free, with live tombstones,",
        "and after the fold. The structural contrast to §N and the",
        "IVF twin: a semdedup takedown needs NO index re-probe at all",
        "— the pair state carries the semantics, so sem_delete_step",
        "is a tombstone write plus an O(pairs) anti-join against the",
        "broadcast dead set, and surviving vectors' verdicts",
        "(including keep flipping back to TRUE when a vector's only",
        "near-duplicates died) re-derive from the surviving pairs at",
        "read time. Verdict outputs asserted equal between the",
        "logical and physical states; no retracted vector keeps a",
        "verdict row.",
        "",
        "| corpus | vectors | pairs (dropped) | build (s) | read,"
        " no deletes (s) | record+filter (s) | read, live (s) |"
        " fold (s) | read, after (s) |",
        "|---|---|---|---|---|---|---|---|---|",
    ] + [
        f"| x{c} | {n} | {pb} ({pd}) | {tb} | {tf} | {tr} | {tl} |"
        f" {tc} | {ta} |"
        for c, n, pb, pd, tb, tf, tr, tl, tc, ta in o_legs
    ] + [
        "",
        "The record+filter column is the whole takedown path — sized",
        "by the delete request and the accumulated pair set, with no",
        "term that grows with the corpus (the build column is what",
        "DOES grow: arrivals pay the §I-shaped incremental probe).",
        "At 100 TB the takedown on this family is the cheapest of the",
        "four indexes: one small write plus one pair-state filter,",
        "no repair probe.",
        "",
        "## P. Full-corpus takedown (the all-dead-fold edge, round 12)",
        "",
        "The §O index takes a takedown that retracts EVERY vector —",
        "the right-to-be-forgotten edge where the compaction fold is",
        "all-dead and the generation materializes with ZERO part",
        "files (bucketed saveAsTable writes none for an empty frame).",
        "Before the round-12 GenIndex fix this path crashed the next",
        "compact() and any fresh-session read with",
        "UNABLE_TO_INFER_SCHEMA; now the fold persists a _schema.json",
        "sidecar and readers recover the schema from it. The record",
        "and fold legs are corpus-sized BY DEFINITION (the request",
        "names everyone — the last cost the index ever pays); the",
        "structural claims are the OTHER columns: the post-takedown",
        "read and the catalog-cleared fresh-session read are",
        "near-zero and corpus-flat (the view is one empty generation,",
        "whatever the corpus was), and a re-add arrival brings the",
        "index back to life at O(batch). Asserted: zero verdict rows",
        "after the takedown in both sessions; verdicts reappear after",
        "the re-add.",
        "",
        "| corpus | vectors | record-all (s) | all-dead fold (s) |"
        " read, after (s) | read, fresh session (s) | re-add (s) |",
        "|---|---|---|---|---|---|---|",
    ] + [
        f"| x{c} | {n} | {tr} | {tc} | {te} | {tf} | {ta} |"
        for c, n, tr, tc, te, tf, ta in p_legs
    ] + [
        "",
        "## Q. Retraction cost on the host-cap index (round 14)",
        "",
        "The same takedown question for the round-14 held capability",
        "(streaming/capindex.py, the fifth GenIndex family —",
        "retraction-capable host quotas): the (source)-bucketed key",
        "index built through cap_index_step arrivals at x1 (sf0.1,",
        f"250 docs/host) and x{CAP_COPIES} (amplified SAME hosts, so",
        "the per-host group size the rank window feels grows",
        f"{CAP_COPIES}x), then the takedown that stresses this family",
        "hardest — retract the ENTIRE CURRENT KEPT SET (cap x hosts",
        "rows, corpus-INDEPENDENT by construction: the quota is",
        "fixed), forcing one promotion per kept slot — and the quota",
        "read timed delete-free, with live tombstones, and after the",
        "fold. The structural claim next to §N/§O: this family has",
        "NO auxiliary state at all, so cap_delete_step is a tombstone",
        "write, full stop — no pair-state filter (§O), no top-1",
        "repair probe (§N's IVF contrast) — and promotion of each",
        "host's next-best evictees falls out of the read-time",
        "re-derivation over live rows. Quota outputs asserted equal",
        "between the logical and physical states; no retracted doc",
        "keeps a slot; every freed slot re-fills.",
        "",
        "| corpus | docs | kept retracted | build (s) | read,"
        " no deletes (s) | record (s) | read, live (s) |"
        " fold (s) | read, after (s) |",
        "|---|---|---|---|---|---|---|---|---|",
    ] + [
        f"| x{c} | {n} | {k} | {tb} | {tf} | {tr} | {tl} |"
        f" {tc} | {ta} |"
        for c, n, k, tb, tf, tr, tl, tc, ta in q_legs
    ] + [
        "",
        "The record column is the WHOLE takedown path — one",
        "tombstone write sized by the (fixed) kept set, with no",
        "state to filter and nothing to repair: the cheapest",
        "takedown of the five index families. The reads before and",
        "after bound what the retraction costs consumers: the live",
        "read pays one broadcast anti-join against the",
        "request-sized tombstones; the fold returns the read to its",
        "delete-free plan.",
        "",
        "## R. Manifest control plane: commit overhead, snapshot",
        "reads, vacuum (round 15)",
        "",
        "The object-store seam (streaming/indexstore.py) measured on",
        "the §Q fixture: the SAME cap-index arrivals run on the Posix",
        "control plane (dir numbering + _SUCCESS) and the manifest",
        "control plane (one immutable manifest-v{N} per commit,",
        "installed by CAS), quota rows asserted identical at both",
        "scales — store-agnostic exactness as a measured fact, not a",
        "unit test. Manifest objects are counted and sized (the",
        "metadata-sized-control-plane claim: bytes scale with ENTRY",
        "NAMES, never corpus rows). Then the kept-set takedown lands",
        "through manifest commits and two reads race: the LATEST view",
        "(survivors, promotions applied) vs the SNAPSHOT at the",
        "pre-takedown version (the full quota, readable because",
        "superseded prefixes are retained until vacuum — the",
        "time-travel read the Posix plane structurally cannot offer).",
        "Vacuum then prunes every unreferenced prefix, the latest",
        "view is asserted undisturbed, and time travel past retention",
        "is asserted to RAISE rather than answer partially.",
        "",
        "| corpus | docs | build posix (s) | build manifest (s) |"
        " manifests | max manifest (B) | read posix (s) |"
        " read manifest (s) | snapshot read (s) | vacuum (s) |"
        " prefixes pruned |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ] + [
        f"| x{c} | {n} | {tbp} | {tbm} | {nm} | {mb} | {trp} |"
        f" {trm} | {ts} | {tv} | {np} |"
        for c, n, tbp, tbm, nm, mb, trp, trm, ts, tv, np in r_legs
    ] + [
        "",
        "The build delta IS the commit overhead: a handful of",
        "metadata-sized CAS objects per run (corpus-flat count, the",
        "same at x1 and x16), paid once per mutation and never per",
        "row. The manifest read matches the Posix read (the one-GET",
        "listing replaces the scandir walk; the data-plane scan",
        "dominates both), the snapshot read costs the same shape as",
        "a live read (same plan over retained prefixes), and vacuum",
        "is a listing diff plus unreferenced-prefix deletes — sized",
        "by history, not by corpus.",
        "",
        "Generated by tools/scaling_study.py.",
        "",
    ]
    with open(out_md, "w") as f:
        f.write("\n".join(lines))
    print(f"# wrote {out_md}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
