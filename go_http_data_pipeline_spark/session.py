"""SparkSession factory tuned for the engine.

Scale design (100 TB / 1000-executor target):

* AQE on — runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast decisions survive a 1000x scale-up
  where any static plan would not.
* ``spark.sql.shuffle.partitions`` is env-tunable; on a real cluster
  this is set to ~2-3x total cores and AQE coalesces down.
* Arrow enabled — every Python-side exchange (pandas UDFs,
  ``applyInPandas``) is columnar-batched, never row-at-a-time.
* Session timezone pinned to UTC so timestamp semantics are identical
  across engines (fixtures are naive/UTC parquet timestamps).

Codegen cache. Queries run again and again inside one session, so each
generated class should be compiled once. Spark's compiled-class cache
holds 100 entries by default, while one pass over the 18 perfbench
``batch_queries`` queries at sf0.01 needs 410-440 (a class compiled
under both the driver's and the tasks' class loader takes two
entries). The default evicted them, and the warm pass recompiled
311-317 classes: ~2.8 s of Janino time by ``CodegenMetrics``, about a
quarter of the pass, on 4 cores. One pass over the whole registry at
sf0.001 needs ~2,140 entries (``tools/codegen_sweep.py`` prints the
figure), so the cache holds 4,096: a replay of every registered query
in one session still hits. ``useIdInClassName=false`` drops the
``…ForCodegenStageN`` suffix from generated class names, so identical
stage code from two plans shares one entry instead of differing only
in its name. With both, the warm benchmark pass compiles 0-6 classes,
once, for queries whose plan changes after their first run has
materialized a memo. The cache is JVM-wide and sized when the first
class compiles, so both are fixed here, not options.

Locally we run ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this
process may run on) — the same declarative plans move to a cluster
unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "go-http-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
