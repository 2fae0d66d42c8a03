"""Fixture catalog: the ten driver-generated parquet tables.

At 100 TB these would be partitioned/bucketed table locations (e.g.
``lineitem`` hash-bucketed by ``l_orderkey``, ``orders`` by
``o_orderkey`` so the l⋈o join is shuffle-free); locally they are
single parquet files. All loading stays declarative (``spark.read``)
so Catalyst gets predicate pushdown + column pruning for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .memo import session_memo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables that are CONSTANT-SIZE at every scale factor
# (TPC-H: 5 regions, 25 nations — forever) and therefore safe to
# broadcast-hint explicitly. SF-scaled tables (supplier grows x10 per
# sf step, ~1e9 rows at the 100 TB north star) must NOT carry a
# forced F.broadcast() hint: AQE auto-broadcasts them while they are
# small, but an explicit hint can never be demoted and forces an OOM
# at scale where the unhinted plan would shuffle-join.
BROADCAST_DIMS = frozenset({"region", "nation"})


def table(
    spark: SparkSession, sf_dir: str, name: str, fresh: bool = False
) -> DataFrame:
    """``fresh=True`` bypasses the memo and returns a scan with its
    own attribute IDs — required for self-cogroups, whose sides must
    NOT alias one subtree (shared IDs let Catalyst's dedup/pruning
    strip a side's data columns under count(); see
    ``embedding_neardup_pairs``)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # The driver runs queries in ITS OWN session (no session.py confs).
    # events.ts is reconstructed as a tz-sensitive TIMESTAMP, and the
    # DuckDB oracle is tz-naive — pin UTC here (runtime conf, cheap)
    # so results never depend on the host JVM timezone. Pinned BEFORE
    # the cache-hit return, not only on miss: expressions built by the
    # CALLER after this point are analyzed under the session zone, so
    # the per-call invariant must hold even when the frame is memoized
    # (anything resetting the zone mid-session would otherwise change
    # later-built expressions while the cached frame stayed UTC).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if fresh:
        return _read(spark, sf_dir, name)
    # The session memo stands in for a metastore catalog, where a
    # table definition is resolved once per session: without it every
    # query call re-read the parquet footer, re-inferred the schema and
    # re-analyzed the read plan of each table it touches (~100-200 ms
    # of py4j + analyzer latency for a four-table query).
    return session_memo(
        spark, f"catalog.{name}", sf_dir, lambda: _read(spark, sf_dir, name)
    )


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return _events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events.ts`` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects. Read nanos as long (legacy conf) and truncate to
    microseconds — the same truncation DuckDB applies, so oracle
    comparisons agree."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":
        # Integer division — ts/1000 in double would lose precision
        # (nanos since epoch exceed 2^53). The final cast to NTZ (with
        # session tz pinned to UTC above) makes collected values pure
        # UTC wall times, like every other fixture timestamp — results
        # can't vary with the host JVM/process timezone.
        df = df.withColumn(
            "ts",
            F.expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)"),
        )
    return df.select("event_id", "ts", "user_id", "event_type", "value", "props")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> None:
    """Register all fixture tables as temp views (for spark.sql use).

    Idempotent per session: re-registering the same ``sf_dir`` under
    the same ``prefix`` is skipped (a session-scoped conf marker — temp
    views and runtime conf share session lifetime, so the marker can
    never outlive the views it describes). The sql_api queries call
    this on every invocation; without the marker each call re-reads
    ten parquet footers and re-analyzes ten view plans just to replace
    views with identical definitions — pure catalog-metadata work,
    measured at ~0.7 s per call at sf0.1 (plan and results untouched;
    a different ``sf_dir`` under the same prefix still re-registers)."""
    marker = f"spark.graft.views.{prefix or 'default'}"
    if spark.conf.get(marker, None) == sf_dir:
        return
    for t in TABLES:
        table(spark, sf_dir, t).createOrReplaceTempView(prefix + t)
    spark.conf.set(marker, sf_dir)
