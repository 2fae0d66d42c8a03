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

Worker interpreter. Spark starts a fresh Python process for every
streaming query that reads a Python data source (the source's runner),
besides its worker daemon and the data-source planner runners. It puts
``$SPARK_HOME/python/lib/pyspark.zip`` and the py4j source zip first
on each one's ``PYTHONPATH``, and zipimport never caches bytecode, so
every such process compiles pyspark from source: importing the
streaming-source runner module took 0.81-0.97 s, and a
``foreach_batch_merge`` call with no new data took 1.40-1.66 s on 4
cores. On a local master a new session therefore sets
``sc.pythonExec`` to ``worker_python.sh``, which drops the two zips
from ``PYTHONPATH`` and execs the interpreter pyspark would have
picked (``$PYSPARK_PYTHON``, else ``python3``), so workers import its
installed, compiled pyspark and py4j (the runner module in
0.18-0.26 s). A conf cannot do this:
``spark.executorEnv.PYTHONPATH`` only appends after the zips. The
empty call fell to 0.44-0.65 s, and the median perfbench
``ingest_merge`` live call from 2.63 to 1.28 s. UDFs, pandas
functions and data sources copy ``sc.pythonExec`` when they are
wrapped, so it is set before ``get_spark`` returns. The launcher is
installed only if it runs and imports the driver's pyspark and py4j
versions, matching ``spark.version``; otherwise Spark's default
stands. That check starts before the JVM and is reaped after it, so
session start does not get longer.

Locally we run ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this
process may run on) — the same declarative plans move to a cluster
unchanged.
"""

from __future__ import annotations

import os
import subprocess

from pyspark import SparkContext
from pyspark.sql import SparkSession

CODEGEN_CACHE_ENTRIES = 4096
WORKER_PYTHON = os.path.join(os.path.dirname(os.path.abspath(__file__)), "worker_python.sh")
_WORKER_CHECK = "import pyspark, py4j; print(pyspark.__version__, py4j.__version__)"


def start_worker_check(launcher: str = WORKER_PYTHON) -> subprocess.Popen | None:
    """Start ``launcher`` importing pyspark and py4j; None if it cannot
    be executed at all."""
    try:
        return subprocess.Popen(
            [launcher, "-c", _WORKER_CHECK],
            stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
        )
    except OSError:
        return None


def worker_check_passed(check: subprocess.Popen | None, spark_version: str) -> bool:
    """Reap ``check``: True when it printed the driver's pyspark and
    py4j versions and pyspark's version is ``spark_version``."""
    if check is None:
        return False
    import py4j
    import pyspark

    try:
        out, _ = check.communicate(timeout=60)
    except subprocess.TimeoutExpired:
        check.kill()
        check.communicate()
        return False
    return (
        check.returncode == 0
        and out.split() == [pyspark.__version__, py4j.__version__]
        and pyspark.__version__ == spark_version
    )


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
    new_local = SparkContext._active_spark_context is None and master.startswith("local")
    check = start_worker_check() if new_local else None
    try:
        spark = builder.getOrCreate()
    except BaseException:
        if check is not None:
            check.kill()
            check.wait()
        raise
    if worker_check_passed(check, spark.version):
        spark.sparkContext.pythonExec = WORKER_PYTHON
    return spark
