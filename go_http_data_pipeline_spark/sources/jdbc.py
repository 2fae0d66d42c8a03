"""JDBC connectors (S7): the reference's two pooled MySQL connections
(``connectDBs``, ``Server/main.go:68-89``) and its per-request
``sql.Open`` anti-pattern (``:285-290``) re-expressed as Spark JDBC
source/sink configuration.

Spark-first mapping:
* connection *pooling* is a non-concern — executors open per-task
  connections governed by ``numPartitions``; there is no shared
  mutable pool to manage;
* the parallel-scan options (``partitionColumn/lowerBound/upperBound/
  numPartitions``) are what turn the reference's single-cursor full
  scan (``Server/main.go:230``) into N concurrent range scans;
* predicate/projection pushdown into the remote DB is automatic for
  JDBC relations (Catalyst emits the WHERE/SELECT into the generated
  query), which is exactly the "total pushdown" the reference gets by
  shipping literal SQL (SURVEY.md §4).

The MySQL-shaped helpers are exercised by construction-level tests
(no MySQL in this container); the LIVE JDBC path runs against the
embedded Derby engine Spark already ships for its metastore —
``jdbc_roundtrip_scan`` writes fixture rows through a real JDBC sink
and reads them back through a real JDBC source, oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..memo import session_memo, temp_dir


def jdbc_options(
    host: str,
    database: str,
    table: str,
    user: str,
    password: str,
    port: int = 3306,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> dict[str, str]:
    """Build the option map for a (MySQL-style) JDBC relation; the
    parallel-read knobs are included only when all are provided."""
    opts = {
        "url": f"jdbc:mysql://{host}:{port}/{database}",
        "dbtable": table,
        "user": user,
        "password": password,
        "driver": "com.mysql.cj.jdbc.Driver",
    }
    parallel = (partition_column, lower_bound, upper_bound, num_partitions)
    if all(v is not None for v in parallel):
        opts.update(
            partitionColumn=str(partition_column),
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions),
        )
    elif any(v is not None for v in parallel):
        raise ValueError(
            "parallel JDBC read needs all of partition_column, lower_bound,"
            " upper_bound, num_partitions"
        )
    return opts


def read_table(spark: SparkSession, **kwargs) -> DataFrame:
    """``employee``/``users`` scans (S2/S3) against a live RDBMS."""
    return spark.read.format("jdbc").options(**jdbc_options(**kwargs)).load()


# --- live JDBC demo against embedded Derby ------------------------------

_DERBY_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def _derby_customer_url(spark: SparkSession, sf_dir: str) -> str:
    """Stage a Derby database holding the customer sample once per
    (session, sf_dir); returns its JDBC url. Embedded Derby is the
    in-JVM stand-in for the reference's MySQL — same Spark JDBC
    relation code drives either."""
    def build() -> str:
        import os

        from ..catalog import table

        db = os.path.join(temp_dir("derby_"), "fixturedb")
        url = f"jdbc:derby:{db};create=true"
        sample = table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_nationkey", "c_acctbal"
        )
        sample.write.jdbc(url, "customer", mode="overwrite", properties=_DERBY_PROPS)
        return url

    return session_memo(spark, "jdbc.derby_customer", sf_dir, build)


from pyspark.sql import functions as F  # noqa: E402

from ..registry import query  # noqa: E402


@query(
    "jdbc_roundtrip_scan",
    oracle="""
    SELECT c_nationkey AS nationkey,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_balance
    FROM customer
    WHERE c_acctbal > 0
    GROUP BY c_nationkey
    """,
)
def jdbc_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 live: fixture rows written through a real JDBC sink
    (embedded Derby) and scanned back through a real JDBC source with
    a pushed-down predicate (Catalyst emits the WHERE into the
    generated remote query), then aggregated. Hash-matching the
    parquet-direct oracle proves the JDBC round trip preserves every
    value bit-for-bit — the reference's MySQL path with the engine
    swapped in-process."""
    url = _derby_customer_url(spark, sf_dir)
    back = spark.read.jdbc(url, "customer", properties=_DERBY_PROPS)
    return (
        back.filter(F.col("c_acctbal") > 0)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_balance"),
        )
    )
