"""Storage-layout operators: bucketed co-located joins and
partition-pruned scans.

At 100 TB the two highest-leverage storage decisions are:

* **Bucketing** the fact tables on their join key — ``lineitem`` and
  ``orders`` hash-bucketed by orderkey join with NO exchange on
  either side (the scan itself provides the hash distribution), and
  with ``sortBy`` the sort-merge join skips its sorts too. This is
  the difference between re-shuffling 100 TB per join and never
  shuffling it at all.
* **Partitioning** event data by date — a date-range query prunes to
  the matching partition directories at PLANNING time (the scan's
  ``PartitionFilters``), so a day's query over a year of data reads
  ~1/365th of the files.

The fixtures are single unbucketed files, so each operator first
materializes the laid-out table once per session (a temp-path /
warehouse write, memoized) — modeling the real pipeline where layout
happens at ingest and every downstream query inherits it. The
oracle checks the query RESULTS against the raw tables: layout must
never change answers, only plans; ``tests/test_plans.py`` pins the
plan half (no exchange under the bucketed join, partition filters
present).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..determinism import davg, davg_sql, dsum, dsum_sql
from ..memo import session_memo, temp_dir
from ..registry import query

N_BUCKETS = 8


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write lineitem + orders hash-bucketed (and sorted) by orderkey
    into the session warehouse, once per (session, sf). Returns the
    two table names. At production scale this is the ingest job;
    every orderkey-equi-join thereafter is exchange-free."""
    def build() -> tuple[str, str]:
        # Stable digest, NOT Python hash(): str hash is PYTHONHASHSEED-
        # salted per process, which minted fresh table names every run and
        # left orphaned bucketed copies piling up in the warehouse.
        import hashlib
        import shutil
        from urllib.parse import urlparse

        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        li_name, ord_name = f"li_bkt_{tag}", f"ord_bkt_{tag}"
        # The warehouse directory outlives the per-process metastore: a
        # fresh session doesn't know the table, but its location from a
        # previous run still exists and saveAsTable refuses the name.
        # Drop both the catalog entry and any orphaned location.
        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        for name in (li_name, ord_name):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)
        li = table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount", "l_quantity"
        )
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_orderdate"
        )
        (
            li.write.mode("overwrite")
            .format("parquet")
            .bucketBy(N_BUCKETS, "l_orderkey")
            .sortBy("l_orderkey")
            .saveAsTable(li_name)
        )
        (
            orders.write.mode("overwrite")
            .format("parquet")
            .bucketBy(N_BUCKETS, "o_orderkey")
            .sortBy("o_orderkey")
            .saveAsTable(ord_name)
        )
        return li_name, ord_name

    return session_memo(spark, "storage.bucketed_tables", sf_dir, build)


def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw bucketed l⋈o join (pre-aggregation) — exposed for the
    plan test, which asserts ZERO exchanges feed the join."""
    li_name, ord_name = _bucketed_tables(spark, sf_dir)
    li = spark.table(li_name).hint("merge")
    orders = spark.table(ord_name).hint("merge")
    return li.join(orders, li.l_orderkey == orders.o_orderkey)


@query(
    "bucketed_priority_revenue",
    oracle=f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def bucketed_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by order priority over the BUCKETED join: both sides
    arrive hash-distributed and sorted by orderkey straight from the
    scan, so the merge join runs with no exchange and no sort — the
    only shuffle in the whole query is the final 5-group aggregation.
    The oracle computes the same answer from the raw tables: layout
    changes the plan, never the result."""
    joined = bucketed_join(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum(rev, 4).alias("revenue"),
    )


def _partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Write events partitioned by event_date once per session;
    returns the path. The ingest-time layout every time-series store
    uses: queries with a date predicate read only matching
    directories."""

    def build() -> str:
        path = temp_dir("events_by_date_")
        ev = table(spark, sf_dir, "events").withColumn(
            "event_date", F.to_date("ts")
        )
        ev.write.mode("overwrite").partitionBy("event_date").parquet(path)
        return path

    return session_memo(spark, "storage.partitioned_events", sf_dir, build)


def partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pruned scan itself (pre-aggregation) — exposed for the plan
    test, which asserts the date predicate lands in PartitionFilters."""
    path = _partitioned_events(spark, sf_dir)
    return spark.read.parquet(path).filter(
        F.col("event_date").between("2024-01-08", "2024-01-14")
    )


@query(
    "partition_pruned_week_activity",
    oracle=f"""
    SELECT CAST(ts AS DATE) AS event_date,
           event_type,
           COUNT(*) AS n_events,
           {dsum_sql('value', 4)} AS total_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
    GROUP BY 1, 2
    """,
)
def partition_pruned_week_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One week's activity from the date-partitioned layout: the
    BETWEEN predicate prunes to 7 of ~30 partition directories at
    planning time — on a year of 100 TB telemetry the scan reads
    ~2% of the files before a single row is decoded. Oracle runs the
    same query over the raw (unpartitioned) events: identical rows,
    different I/O."""
    pruned = partition_pruned_scan(spark, sf_dir)
    return pruned.groupBy("event_date", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", 4).alias("total_value"),
    )


# --- Z-order multi-dimensional layout --------------------------------------

# Bits per dimension for the interleaved curve key. Each dimension is
# first RANGE-BUCKETED into 2^Z_BITS equal-frequency buckets (how
# Delta's OPTIMIZE ZORDER BY works: interleaving raw values wastes the
# key space on empty value ranges — the fixture's custkey/date both
# occupy a sliver of 16 bits, which would put every row in one file).
Z_BITS = 8


def _zkey_spark(x: str, y: str) -> str:
    terms = []
    for b in range(Z_BITS):
        terms.append(f"shiftleft(shiftright({x}, {b}) & 1, {2 * b})")
        terms.append(f"shiftleft(shiftright({y}, {b}) & 1, {2 * b + 1})")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def _zkey_duck(x: str, y: str) -> str:
    terms = []
    for b in range(Z_BITS):
        terms.append(f"((({x} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({y} >> {b}) & 1) << {2 * b + 1})")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


# 2*Z_BITS-bit zkey >> shift = 6 leading curve bits = 64 files.
_Z_FILES_SHIFT = 2 * Z_BITS - 6

# Fixed value-grid resolution for the equal-frequency bucketing: each
# dimension is first mapped onto 2^12 equal-WIDTH cells (pure per-row
# arithmetic off broadcast min/max), then cells are assigned to the
# 2^Z_BITS equal-FREQUENCY buckets from the cell histogram's
# cumulative counts. The histogram is a control-plane table (≤4096
# rows per dimension), so the only work proportional to the fact
# table is one groupBy per dimension and two broadcast hash joins —
# no global sort anywhere. (The previous formulation used exact
# ``ntile`` over the whole table: a single-task sort of every row,
# twice — the textbook 100 TB straggler. VERDICT r4 item 2.)
_Z_GRID = 4096


def _z_bucketed_cte_duck() -> str:
    """DuckDB CTE mirror of :func:`_equidepth_bucketed` (must stay
    bit-identical: same grid rule, same cumulative-count bucket rule,
    all-integer math)."""
    nb = 2 ** Z_BITS
    return f"""
    base AS (
        SELECT o_custkey,
               (CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS day
        FROM orders
    ),
    mm AS (
        SELECT CAST(MIN(o_custkey) AS BIGINT) AS cmin,
               CAST(MAX(o_custkey) AS BIGINT) AS cmax,
               CAST(MIN(day) AS BIGINT) AS dmin,
               CAST(MAX(day) AS BIGINT) AS dmax
        FROM base
    ),
    cells AS (
        SELECT o_custkey, day,
               ((o_custkey - cmin) * {_Z_GRID}) // (cmax - cmin + 1) AS cx,
               ((day - dmin) * {_Z_GRID}) // (dmax - dmin + 1) AS cy
        FROM base CROSS JOIN mm
    ),
    hx AS (SELECT cx, COUNT(*) AS c FROM cells GROUP BY cx),
    mapx AS (
        SELECT cx,
               CAST((SUM(c) OVER (ORDER BY cx) - c) * {nb}
                        // SUM(c) OVER () AS BIGINT) AS bx,
               CAST((SUM(c) OVER (ORDER BY cx) - c) * 64
                        // SUM(c) OVER () AS BIGINT) AS lin_file
        FROM hx
    ),
    hy AS (SELECT cy, COUNT(*) AS c FROM cells GROUP BY cy),
    mapy AS (
        SELECT cy,
               CAST((SUM(c) OVER (ORDER BY cy) - c) * {nb}
                        // SUM(c) OVER () AS BIGINT) AS by
        FROM hy
    ),
    bucketed AS (
        SELECT o_custkey, day, bx, by, lin_file
        FROM cells JOIN mapx USING (cx) JOIN mapy USING (cy)
    )
    """


def _equidepth_parts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(mm, cells, hist): the shared building blocks of the
    equal-frequency bucketing, with the two CONTROL-PLANE
    intermediates materialized per call via eager ``localCheckpoint``
    so multi-reference consumers read a tiny RDD leaf instead of
    re-executing the orders subtree per reference (guide §1.2/§5 —
    the previous lazy form re-ran the scan + grid crossJoin once for
    EACH of the two histogram broadcasts and once for the row side:
    the executed zorder/layout plans carried 12/26 parquet scans).

    * ``mm``  — the 1-row min/max bounds (one orders scan, job 1);
    * ``cells`` — the per-row grid-cell frame (lazy; consumers pay
      exactly one orders scan per executed plan);
    * ``hist`` — BOTH dimensions' cell histograms in ONE pass over
      ``cells`` (explode to (dim, cell), one groupBy — job 2), ≤2 ×
      ``_Z_GRID`` rows, checkpointed: the histogram maps derive from
      it without touching orders again.

    The checkpoints are per-call (recomputed from parquet every
    invocation — nothing persists across calls); at 100 TB they are
    1-row / ≤8192-row control tables, the metadata a layout planner
    would keep on the driver anyway."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff("o_orderdate", F.lit("1970-01-01")).alias("day"),
    )
    mm = o.agg(
        F.min("o_custkey").cast("bigint").alias("cmin"),
        F.max("o_custkey").cast("bigint").alias("cmax"),
        F.min("day").cast("bigint").alias("dmin"),
        F.max("day").cast("bigint").alias("dmax"),
    ).localCheckpoint()
    cells = o.crossJoin(F.broadcast(mm)).selectExpr(
        "o_custkey",
        "day",
        f"((CAST(o_custkey AS BIGINT) - cmin) * {_Z_GRID})"
        " div (cmax - cmin + 1) AS cx",
        f"((CAST(day AS BIGINT) - dmin) * {_Z_GRID})"
        " div (dmax - dmin + 1) AS cy",
    )
    hist = (
        cells.select(
            F.explode(
                F.array(
                    F.struct(F.lit(0).alias("dim"), F.col("cx").alias("cell")),
                    F.struct(F.lit(1).alias("dim"), F.col("cy").alias("cell")),
                )
            ).alias("dc")
        )
        .groupBy(F.col("dc.dim").alias("dim"), F.col("dc.cell").alias("cell"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    return mm, cells, hist


def _equidepth_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency bucket assignment for (custkey, day) without a
    global sort: equal-width grid cells per dimension (codegen row
    math off a broadcast 1-row min/max), a per-dimension cell
    histogram (ONE distributed groupBy over both dimensions at once,
    ≤2·``_Z_GRID`` output rows), cumulative-count bucket ids over that
    control-plane histogram, and broadcast joins back onto the rows.
    The two unpartitioned windows here run over the ≤4096-row
    per-dimension histogram slices — control-plane by construction,
    never the fact table."""
    return _bucketed_from_parts(_equidepth_parts(spark, sf_dir))


def _bucketed_from_parts(
    parts: tuple[DataFrame, DataFrame, DataFrame]
) -> DataFrame:
    """The bucket-map join over already-built parts — factored out so
    ``layout_skipping_eval`` (which also needs ``mm`` for its range
    normalizer) builds the per-call checkpoints exactly once."""
    _, cells, hist = parts
    nb = 2 ** Z_BITS
    mapx = hist.filter(F.col("dim") == 0).selectExpr(
        "cell AS cx",
        f"CAST((SUM(c) OVER (ORDER BY cell) - c) * {nb}"
        " div SUM(c) OVER () AS BIGINT) AS bx",
        "CAST((SUM(c) OVER (ORDER BY cell) - c) * 64"
        " div SUM(c) OVER () AS BIGINT) AS lin_file",
    )
    mapy = hist.filter(F.col("dim") == 1).selectExpr(
        "cell AS cy",
        f"CAST((SUM(c) OVER (ORDER BY cell) - c) * {nb}"
        " div SUM(c) OVER () AS BIGINT) AS `by`",
    )
    return (
        cells.join(F.broadcast(mapx), "cx")
        .join(F.broadcast(mapy), "cy")
        .select("o_custkey", "day", "bx", "by", "lin_file")
    )


@query(
    "zorder_file_stats",
    oracle=f"""
    WITH {_z_bucketed_cte_duck()},
    keyed AS (
        SELECT o_custkey, day, {_zkey_duck("bx", "by")} AS zkey
        FROM bucketed
    )
    SELECT CAST(zkey >> {_Z_FILES_SHIFT} AS BIGINT) AS file_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(o_custkey) AS BIGINT) AS min_cust,
           CAST(MAX(o_custkey) AS BIGINT) AS max_cust,
           CAST(MIN(day) AS BIGINT) AS min_day,
           CAST(MAX(day) AS BIGINT) AS max_day
    FROM keyed
    GROUP BY 1
    """,
)
def zorder_file_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) layout for two-dimensional data
    clustering — the Delta/Iceberg ``ZORDER BY (custkey, orderdate)``
    primitive: range-bucket each dimension into 2^8 equal-frequency
    buckets (via :func:`_equidepth_bucketed`'s grid-histogram rule —
    broadcast boundaries, no global sort), interleave the bucket bits
    into a 16-bit curve key, and cut the curve into 64 files (top 6
    key bits). Every file then has a BOUNDED min/max box in BOTH
    dimensions — exactly the footer stats a writer persists and the
    data-skipping evidence this query emits.

    Scale: per-row work is 32 codegen bit ops, bucketing is two
    broadcast hash joins off control-plane histograms, the stats one
    rollup shuffle. Writing the layout is ``repartitionByRange(64,
    zkey)`` + sortWithinPartitions + write."""
    bucketed = _equidepth_bucketed(spark, sf_dir)
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


# --- Incremental aggregate maintenance -------------------------------------


@query(
    "incremental_daily_counts",
    oracle=f"""
    SELECT CAST(ts AS DATE) AS day, event_type,
           COUNT(*) AS n_events,
           {dsum_sql('value', 4)} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def incremental_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained daily aggregate: the stored partial
    state (counts + EXACT DECIMAL sums) from a base batch is merged
    with a late-arriving delta batch by re-aggregating the partials —
    and the oracle is a FULL RECOMPUTE, so the hash check proves
    merge(partial(A), partial(B)) == aggregate(A ∪ B) bit-for-bit.

    That identity is the foundation of incremental materialized
    views and of exactly-once streaming upserts (``foreachBatch``
    merging batch partials into a running table): it holds here
    because the partial sums stay DECIMAL until after the merge —
    decimal addition is associative, double addition is not. The
    fixture's split (even/odd event ids) makes every (day, type)
    group overlap both batches, so the merge path is actually
    exercised, not a disjoint union."""
    ev = table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        "event_type",
        "value",
        "event_id",
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("s"),
        )

    base = partial(ev.filter(F.col("event_id") % 2 == 0))
    late = partial(ev.filter(F.col("event_id") % 2 == 1))
    return (
        base.unionByName(late)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("s").cast("double").alias("total_value"),
        )
    )


# --- Compaction planning ----------------------------------------------------

# Target compacted-file size (bytes, synthetic scale): files are rolled
# into a bin until the running total crosses the target.
_COMPACT_TARGET = 20_000


@query(
    "compaction_bin_packing",
    oracle=f"""
    WITH files AS (
        SELECT CAST(ts AS DATE) AS day,
               event_type,
               COUNT(*) * 64 + CAST(SUM(len(props)) AS BIGINT) AS bytes
        FROM events GROUP BY 1, 2
    ),
    planned AS (
        SELECT day, event_type, bytes,
               CAST((SUM(bytes) OVER (ORDER BY day, event_type) - bytes)
                        // {_COMPACT_TARGET} AS BIGINT) AS bin_id
        FROM files
    )
    SELECT bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(bytes) AS BIGINT) AS total_bytes,
           MIN(day) AS min_day, MAX(day) AS max_day
    FROM planned
    GROUP BY bin_id
    """,
)
def compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner: roll per-(day, type) files into
    target-sized output bins by prefix sum — ``bin = (cumulative
    bytes BEFORE this file) div target`` assigns consecutive files to
    a bin until the target is crossed, the same size-tiered policy
    behind OPTIMIZE/auto-compaction in table formats. The plan (not
    the rewrite) is the query: bins with file counts, byte totals,
    and the day range each merged file will span.

    Scale: file metadata is O(files), thousands of rows per million
    data files — the prefix sum is one window over that metadata
    table, never over data. A real compactor would then launch one
    write task per bin. The full-table ordering models the manifest
    scan; per-partition compaction adds the partition key to the
    window's PARTITION BY."""
    files = (
        table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            (F.count(F.lit(1)) * 64 + F.sum(F.length("props")))
            .cast("bigint")
            .alias("bytes")
        )
    )
    w = Window.orderBy("day", "event_type")
    # Integer `div`, not floor(double /): manifest byte totals beyond
    # 2^53 (multi-PB) would round in the double quotient and diverge
    # from the oracle's exact // — same overflow-free integer form as
    # token_budget_selection.
    planned = files.withColumn(
        "bin_id",
        F.expr(
            f"(sum(bytes) OVER (ORDER BY day, event_type"
            f" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            f" - bytes) div {_COMPACT_TARGET}"
        ).cast("bigint"),
    )
    return planned.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("bytes").cast("bigint").alias("total_bytes"),
        F.min("day").alias("min_day"),
        F.max("day").alias("max_day"),
    )


@query(
    "layout_skipping_eval",
    oracle=f"""
    WITH {_z_bucketed_cte_duck()},
    rng AS (
        SELECT CAST(MAX(o_custkey) - MIN(o_custkey) AS DOUBLE) AS c_rng,
               CAST(MAX(day) - MIN(day) AS DOUBLE) AS d_rng
        FROM base
    ),
    keyed AS (
        SELECT o_custkey, day, lin_file,
               {_zkey_duck("bx", "by")} >> {_Z_FILES_SHIFT} AS z_file
        FROM bucketed
    ),
    files AS (
        SELECT 'zorder' AS layout, z_file AS f,
               CAST(MAX(o_custkey) - MIN(o_custkey) AS DOUBLE) AS c_span,
               CAST(MAX(day) - MIN(day) AS DOUBLE) AS d_span
        FROM keyed GROUP BY z_file
        UNION ALL
        SELECT 'linear' AS layout, lin_file AS f,
               CAST(MAX(o_custkey) - MIN(o_custkey) AS DOUBLE) AS c_span,
               CAST(MAX(day) - MIN(day) AS DOUBLE) AS d_span
        FROM keyed GROUP BY lin_file
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           {davg_sql('c_span / rng.c_rng', 6)} AS avg_cust_span,
           {davg_sql('d_span / rng.d_rng', 6)} AS avg_day_span
    FROM files CROSS JOIN rng
    GROUP BY layout
    """,
)
def layout_skipping_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measured case FOR z-order: the same 64-file budget laid
    out two ways — single-column sort (linear by custkey) vs the
    Morton curve — and, per layout, the average per-file min/max span
    in EACH dimension, normalized to the column's range. Linear sort
    gives ~1/64 custkey spans but ~full-range date spans (date
    predicates skip nothing); z-order pays a slightly wider custkey
    box to bound BOTH dims (~1/8 each), which is exactly the
    data-skipping trade a ZORDER BY decision should be based on —
    numbers, not folklore (mirrors the recall-eval pattern used for
    the ANN knobs).

    Scale: identical shapes to ``zorder_file_stats`` — the linear
    baseline's 64 files reuse the custkey histogram's cumulative
    counts (one extra control-plane column, no extra pass); all
    downstream work is over 128 file-stat rows."""
    parts = _equidepth_parts(spark, sf_dir)
    mm = parts[0]
    bucketed = _bucketed_from_parts(parts)
    keyed = bucketed.select(
        "o_custkey",
        "day",
        "lin_file",
        F.expr(
            f"CAST(shiftright({_zkey_spark('bx', 'by')}, {_Z_FILES_SHIFT})"
            " AS BIGINT)"
        ).alias("z_file"),
    )
    # rng needs only the raw min/max — and the checkpointed 1-row
    # bounds (mm) already ARE exactly max/min per dimension, so the
    # ranges derive from it with no extra orders scan (the previous
    # form re-aggregated a fresh projection; the oracle computes the
    # same CAST(MAX - MIN AS DOUBLE) from base).
    rng = mm.select(
        (F.col("cmax") - F.col("cmin")).cast("double").alias("c_rng"),
        (F.col("dmax") - F.col("dmin")).cast("double").alias("d_rng"),
    )
    # Both layouts' per-file spans in ONE pass over `keyed` (the
    # previous two-groupBy union re-executed the bucketing subtree per
    # layout): explode each row to (layout, file) and aggregate once —
    # partial aggregation shrinks the doubled stream to ≤128 groups
    # map-side before the exchange.
    files = (
        keyed.select(
            "o_custkey",
            "day",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("zorder").alias("layout"),
                        F.col("z_file").alias("f"),
                    ),
                    F.struct(
                        F.lit("linear").alias("layout"),
                        F.col("lin_file").alias("f"),
                    ),
                )
            ).alias("lf"),
        )
        .groupBy(F.col("lf.layout").alias("layout"), F.col("lf.f").alias("f"))
        .agg(
            (F.max("o_custkey") - F.min("o_custkey"))
            .cast("double")
            .alias("c_span"),
            (F.max("day") - F.min("day")).cast("double").alias("d_span"),
        )
    )
    return (
        files.crossJoin(F.broadcast(rng))
        .groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            davg(F.col("c_span") / F.col("c_rng"), 6).alias("avg_cust_span"),
            davg(F.col("d_span") / F.col("d_rng"), 6).alias("avg_day_span"),
        )
    )
