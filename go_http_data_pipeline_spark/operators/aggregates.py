"""Hash aggregations: GROUP BY, distinct, rollup/cube/grouping sets.

Absent in the reference (SURVEY.md §2.4 — its only aggregate is the
``len(users) == 0`` existence check); full engine surface here.

Scale notes: every groupBy below is a partial (map-side) + final
aggregate — Catalyst does this automatically, so a 100 TB ``lineitem``
shuffles only the per-partition partials, not the raw rows. Float
aggregates use the exact-decimal-sum pattern from ``determinism.py``
so results hash-match the DuckDB oracle bit-for-bit regardless of
partitioning/accumulation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..determinism import davg, davg_sql, dsum, dsum_sql
from ..memo import session_memo
from ..registry import query


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity', 2)} AS sum_qty,
           {dsum_sql('l_extendedprice', 2)} AS sum_base_price,
           {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS sum_disc_price,
           {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
           {davg_sql('l_quantity', 2)} AS avg_qty,
           {davg_sql('l_extendedprice', 2)} AS avg_price,
           {davg_sql('l_discount', 2)} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary over ``lineitem``."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", 2).alias("sum_qty"),
        dsum("l_extendedprice", 2).alias("sum_base_price"),
        dsum(disc_price, 4).alias("sum_disc_price"),
        dsum(charge, 6).alias("sum_charge"),
        davg("l_quantity", 2).alias("avg_qty"),
        davg("l_extendedprice", 2).alias("avg_price"),
        davg("l_discount", 2).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "nation_account_stats",
    oracle=f"""
    SELECT c_nationkey,
           COUNT(*) AS n_customers,
           {davg_sql('c_acctbal', 2)} AS avg_acctbal,
           MIN(c_acctbal) AS min_acctbal,
           MAX(c_acctbal) AS max_acctbal
    FROM customer
    GROUP BY c_nationkey
    """,
)
def nation_account_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count/avg/min/max per group."""
    return (
        table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            davg("c_acctbal", 2).alias("avg_acctbal"),
            F.min("c_acctbal").alias("min_acctbal"),
            F.max("c_acctbal").alias("max_acctbal"),
        )
    )


@query(
    "count_distinct_segments",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           COUNT(DISTINCT c_nationkey) AS n_nations
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def count_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate (expand + two-phase agg under the hood)."""
    return (
        table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.countDistinct("c_nationkey").alias("n_nations"),
        )
    )


@query("approx_distinct_parts")
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approx distinct — the 100 TB-scale alternative to exact
    COUNT(DISTINCT). No oracle (sketch internals are engine-specific;
    driver records the rows-only check); pytest asserts the estimate
    is within rsd of the exact count.
    """
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"))
    )


@query(
    "distinct_values",
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)
def distinct_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (= group-by-all-columns aggregate)."""
    return table(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


@query(
    "scalar_agg_forecast",
    oracle=f"""
    SELECT {dsum_sql('l_extendedprice * l_discount', 4)} AS revenue_delta,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def scalar_agg_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped global (no-group) aggregate."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("revenue_delta"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "rollup_order_totals",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           {dsum_sql('o_totalprice', 2)} AS total_price
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)
def rollup_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy: (status, priority) -> (status) -> ()."""
    return (
        table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", 2).alias("total_price"),
        )
    )


@query(
    "cube_order_totals",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           {dsum_sql('o_totalprice', 2)} AS total_price
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def cube_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 4 grouping-set combinations."""
    return (
        table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", 2).alias("total_price"),
        )
    )


@query(
    "grouping_sets_revenue",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_extendedprice', 2)} AS sum_base_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via SQL on a temp view."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               {dsum_sql('l_extendedprice', 2)} AS sum_base_price
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "having_filter",
    oracle=f"""
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           {dsum_sql('o_totalprice', 2)} AS spend
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 15
    """,
)
def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ... HAVING (post-aggregation filter)."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", 2).alias("spend"),
        )
        .filter(F.col("n_orders") >= 15)
    )


@query(
    "pivot_returnflag_status",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE l_linestatus = 'F') AS F,
           COUNT(*) FILTER (WHERE l_linestatus = 'O') AS O,
           COUNT(*) FILTER (WHERE l_linestatus = 'P') AS P
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def pivot_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: line counts by returnflag x linestatus. Explicit value
    list so the plan is a single conditional aggregation (no extra
    distinct-values job) — the form that scales."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        # absent (flag, status) cells: COUNT semantics say 0, not null
        .na.fill(0, ["F", "O", "P"])
    )


@query(
    "revenue_percentiles",
    oracle="""
    SELECT l_returnflag AS returnflag,
           quantile_cont(l_extendedprice, 0.50) AS median_price,
           quantile_cont(l_extendedprice, 0.95) AS p95_price,
           quantile_cont(l_quantity, 0.50) AS median_qty
    FROM lineitem
    GROUP BY 1
    """,
)
def revenue_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per return flag. Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` share the definition
    and hash-match bitwise (verified empirically at sf0.01).

    Exact percentiles require a per-group sort, so this is the
    expensive-by-design variant; at 100 TB the approximate twin
    (``percentile_approx``, sketch-mergeable, one pass) is the
    default and this exists for small-group exactness."""
    l = table(spark, sf_dir, "lineitem")
    return l.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.percentile("l_extendedprice", 0.50).alias("median_price"),
        F.percentile("l_extendedprice", 0.95).alias("p95_price"),
        F.percentile("l_quantity", 0.50).alias("median_qty"),
    )


@query("approx_revenue_percentiles")  # rows-only: sketch differs per engine
def approx_revenue_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles via Spark's KLL-style sketch
    (percentile_approx) — the one-pass, mergeable companion to the
    exact ``revenue_percentiles``: at 100 TB the sketch aggregates
    map-side and merges in one reduce, no per-group sort. Rows-only
    check: DuckDB's approx_quantile uses a different sketch, so
    values legitimately differ within error bounds."""
    l = table(spark, sf_dir, "lineitem")
    return l.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("approx_p95"),
    )


# ---------------------------------------------------------------------------
# Statistical moments: variance / stddev / covariance / correlation /
# regression slope. The builtins (stddev_samp, corr, ...) accumulate
# doubles in partition order, so their low bits drift between engines
# and partitionings. Instead we aggregate EXACT integer power sums
# (n, Σx, Σx², Σy, Σy², Σxy — quantity is integral, discount becomes
# integer percent) and derive every moment in one deterministic
# projection: decimal(18,0) products (exact in Spark and DuckDB, no
# 38-digit overflow), one double division, IEEE sqrt. Same shape the
# builtins use internally (partial + final merge of moment sums), so
# at 100 TB this shuffles only six numbers per group.
# ---------------------------------------------------------------------------

_STATS_DERIVE = {
    # shared Spark/DuckDB SQL over the power sums (n, sq, sqq, sd, sdd, sqd)
    "nn1": "CAST(CAST(n AS DECIMAL(28,0)) * CAST(n - 1 AS DECIMAL(28,0)) AS DOUBLE)",
    "num_q": (
        "CAST(CAST(n AS DECIMAL(28,0)) * CAST(sqq AS DECIMAL(28,0))"
        " - CAST(sq AS DECIMAL(28,0)) * CAST(sq AS DECIMAL(28,0)) AS DOUBLE)"
    ),
    "num_d": (
        "CAST(CAST(n AS DECIMAL(28,0)) * CAST(sdd AS DECIMAL(28,0))"
        " - CAST(sd AS DECIMAL(28,0)) * CAST(sd AS DECIMAL(28,0)) AS DOUBLE)"
    ),
    "num_qd": (
        "CAST(CAST(n AS DECIMAL(28,0)) * CAST(sqd AS DECIMAL(28,0))"
        " - CAST(sq AS DECIMAL(28,0)) * CAST(sd AS DECIMAL(28,0)) AS DOUBLE)"
    ),
}

# Every division guards its denominator with NULLIF: Spark 4 runs
# ANSI mode by default, where double x/0 THROWS, while DuckDB returns
# NULL — a singleton group (nn1=0) or constant column (num_q=0) would
# crash one engine and NULL the other. NULLIF makes both emit NULL
# for degenerate groups, and the expressions are shared verbatim so
# the two sides cannot diverge. (n itself is never 0: a group exists
# only with >= 1 row.)
_STATS_FINAL = {
    "avg_qty": "CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)",
    "var_qty": f"{_STATS_DERIVE['num_q']} / NULLIF({_STATS_DERIVE['nn1']}, 0.0)",
    "std_qty": (
        f"SQRT({_STATS_DERIVE['num_q']} / NULLIF({_STATS_DERIVE['nn1']}, 0.0))"
    ),
    "var_disc_pct": (
        f"{_STATS_DERIVE['num_d']} / NULLIF({_STATS_DERIVE['nn1']}, 0.0)"
    ),
    "covar_qty_disc": (
        f"{_STATS_DERIVE['num_qd']} / NULLIF({_STATS_DERIVE['nn1']}, 0.0)"
    ),
    "corr_qty_disc": (
        f"{_STATS_DERIVE['num_qd']} / "
        f"NULLIF(SQRT({_STATS_DERIVE['num_q']})"
        f" * SQRT({_STATS_DERIVE['num_d']}), 0.0)"
    ),
    "slope_disc_per_qty": (
        f"{_STATS_DERIVE['num_qd']} / NULLIF({_STATS_DERIVE['num_q']}, 0.0)"
    ),
}


@query(
    "stats_moments_profile",
    oracle=f"""
    SELECT l_returnflag, n AS n_items,
           {', '.join(f"{sql} AS {name}" for name, sql in _STATS_FINAL.items())}
    FROM (
        SELECT l_returnflag,
               COUNT(*) AS n,
               SUM(q) AS sq, SUM(q * q) AS sqq,
               SUM(d) AS sd, SUM(d * d) AS sdd,
               SUM(q * d) AS sqd
        FROM (
            SELECT l_returnflag,
                   CAST(l_quantity AS BIGINT) AS q,
                   CAST(ROUND(l_discount * 100) AS BIGINT) AS d
            FROM lineitem
        )
        GROUP BY l_returnflag
    )
    """,
)
def stats_moments_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance, stddev, covariance, Pearson correlation, and
    least-squares slope of (quantity, discount%) per return flag —
    exact-integer power sums, deterministic derivation (see module
    comment). Engine surface absent in the reference (SURVEY.md §2.4:
    its only aggregate is an existence check, ``Server/main.go:249``).
    """
    base = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("q"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("d"),
    )
    sums = base.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sq"),
        F.sum(F.expr("q * q")).alias("sqq"),
        F.sum("d").alias("sd"),
        F.sum(F.expr("d * d")).alias("sdd"),
        F.sum(F.expr("q * d")).alias("sqd"),
    )
    return sums.select(
        "l_returnflag",
        F.col("n").alias("n_items"),
        *[F.expr(sql).alias(name) for name, sql in _STATS_FINAL.items()],
    )


@query(
    "sketch_accuracy_eval",
    oracle="""
    WITH checks AS (
        SELECT 'orders.o_custkey' AS col_name,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_count,
               CAST(approx_count_distinct(o_custkey) AS BIGINT) AS approx_raw
        FROM orders
        UNION ALL
        SELECT 'lineitem.l_partkey',
               CAST(COUNT(DISTINCT l_partkey) AS BIGINT),
               CAST(approx_count_distinct(l_partkey) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'events.user_id',
               CAST(COUNT(DISTINCT user_id) AS BIGINT),
               CAST(approx_count_distinct(user_id) AS BIGINT)
        FROM events
        UNION ALL
        SELECT 'documents.text',
               CAST(COUNT(DISTINCT md5(text)) AS BIGINT),
               CAST(approx_count_distinct(md5(text)) AS BIGINT)
        FROM documents
    )
    SELECT col_name, exact_count,
           abs(approx_raw - exact_count)
               <= CAST(ceil(0.10 * exact_count) AS BIGINT) AS within_10pct
    FROM checks
    """,
)
def sketch_accuracy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential accuracy gate for the approximate-distinct
    sketches: each engine runs its OWN HLL next to the exact count
    and asserts the sketch lands within 10% — so the hash-checked
    output is (column, exact_count, within_10pct), a cross-engine
    PROPERTY check that doesn't require the sketch values themselves
    to agree (they are engine-specific by design, which is why
    ``approx_distinct_parts`` is rows-only). Four cardinality
    regimes: dense keys (custkey), mid (partkey), tiny (user_id),
    and hashed text.

    Scale: each branch is one partial+final sketch agg — HLL
    registers merge associatively, the same one-pass shape
    ``approx_distinct_parts`` documents; the union is 4 rows."""
    def branch(tbl: str, col, name: str):
        t = table(spark, sf_dir, tbl)
        return t.agg(
            F.lit(name).alias("col_name"),
            F.count_distinct(col).alias("exact_count"),
            F.approx_count_distinct(col).alias("approx_raw"),
        )

    checks = (
        branch("orders", F.col("o_custkey"), "orders.o_custkey")
        .unionAll(branch("lineitem", F.col("l_partkey"), "lineitem.l_partkey"))
        .unionAll(branch("events", F.col("user_id"), "events.user_id"))
        .unionAll(branch("documents", F.md5("text"), "documents.text"))
    )
    return checks.select(
        "col_name",
        "exact_count",
        (
            F.abs(F.col("approx_raw") - F.col("exact_count"))
            <= F.ceil(0.10 * F.col("exact_count")).cast("bigint")
        ).alias("within_10pct"),
    )


@query(
    "heavy_hitters_eval",
    oracle="""
    WITH t AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY event_type
    ),
    tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM t)
    SELECT event_type, n_events, TRUE AS found_by_sketch
    FROM t WHERE n_events * 10 > (SELECT total FROM tot)
    """,
)
def heavy_hitters_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property gate for the approximate frequent-items sketch
    (``df.stat.freqItems``, the streaming-summary cousin of
    Misra-Gries): the sketch's CONTRACT is that every item with
    frequency > support·N appears in its result. The query computes
    the exact heavy hitters (support 10%, integer cross-multiply
    ``n·10 > total``) and reports whether each was found by the
    sketch; the oracle pins TRUE — the guarantee itself — so the
    check is deterministic even though the sketch may also surface
    extra sub-threshold items (allowed by the contract, not
    reported here).

    Scale: freqItems is one single-pass mergeable summary per
    partition plus a driver-side merge of <= 1/support candidate
    items — control-plane sized; the exact side is a partial+final
    count agg. Same differential-verification shape as
    ``sketch_accuracy_eval``."""
    ev = table(spark, sf_dir, "events")
    # The sketch result is memoized per (session, sf): freqItems is an
    # eager full-scan + driver merge, and without the memo it would
    # fire at every query CONSTRUCTION (registry sweeps, plan tests,
    # each bench repeat) even when the returned plan never executes.
    sketch_items = session_memo(
        spark,
        "aggregates.freq_items",
        sf_dir,
        lambda: ev.stat.freqItems(["event_type"], 0.1).collect()[0][0],
    )
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    tot = counts.agg(F.sum("n_events").alias("total"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .filter(F.col("n_events") * 10 > F.col("total"))
        .select(
            "event_type",
            "n_events",
            F.col("event_type").isin(list(sketch_items)).alias("found_by_sketch"),
        )
    )


@query(
    "quantile_sketch_accuracy_eval",
    oracle="""
    SELECT l_returnflag AS returnflag,
           quantile_cont(l_extendedprice, 0.50) AS exact_median,
           abs(approx_quantile(l_extendedprice, 0.50)
               - quantile_cont(l_extendedprice, 0.50))
               <= 0.10 * quantile_cont(l_extendedprice, 0.50)
               AS median_within_10pct,
           abs(approx_quantile(l_extendedprice, 0.95)
               - quantile_cont(l_extendedprice, 0.95))
               <= 0.10 * quantile_cont(l_extendedprice, 0.95)
               AS p95_within_10pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def quantile_sketch_accuracy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the sketch-contract family (HLL →
    ``sketch_accuracy_eval``, freqItems → ``heavy_hitters_eval``):
    each engine runs its own approximate-quantile sketch (Spark
    ``approx_percentile`` / KLL-style; DuckDB ``approx_quantile`` /
    t-digest) next to the exact quantile and asserts a 10% relative
    error bound. The hash-checked output carries the exact values and
    the per-engine accuracy booleans — sketch internals stay
    engine-specific, the CONTRACT is cross-checked.

    Scale: the approximate side is the one that exists at 100 TB —
    mergeable one-pass summaries; the exact side (per-group sort) is
    the small-scale referee."""
    li = table(spark, sf_dir, "lineitem")
    exact_m = F.expr("percentile(l_extendedprice, 0.50)")
    exact_p95 = F.expr("percentile(l_extendedprice, 0.95)")
    apx_m = F.expr("approx_percentile(l_extendedprice, 0.50)")
    apx_p95 = F.expr("approx_percentile(l_extendedprice, 0.95)")
    return (
        li.groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            exact_m.alias("exact_median"),
            (F.abs(apx_m - exact_m) <= 0.10 * exact_m).alias(
                "median_within_10pct"
            ),
            (F.abs(apx_p95 - exact_p95) <= 0.10 * exact_p95).alias(
                "p95_within_10pct"
            ),
        )
    )
