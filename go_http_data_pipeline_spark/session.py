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
wrapped, so it is set before ``get_spark`` returns.

Fork server. Even compiled, each fresh runner imported pyspark,
pandas and pyarrow before it could build its reader, and a live
call's query start and stop (``core.start_stop_s``) still took
0.43-0.49 s. So the first local session of a driver process starts
``forkserver.py`` through the launcher. It imports what those
processes import, freezes that heap for the garbage collector and
serves on a Unix socket in a private (0700) temporary directory,
whose path reaches the launcher through the environment the JVM
inherits (internal, not an option). The launcher sends each
``-m MODULE`` launch (the source runner, the worker daemon, the
data-source planner daemons) to a small client that passes the
process's stdio, argv, environment and working directory to the
server, which forks a child to run the module; the client relays
signals and the child's exit status. The same query start and stop
fell to 0.14-0.17 s. The server starts with the hash seed and OpenMP
thread count Spark gives its workers (unless the driver's environment
sets them), since a forked child keeps both; a launch whose
environment asks for other interpreter settings is exec'd. So is
every launch while the socket is absent (no server yet, or gone).
The server is also the launcher check: its first line must name the
driver's pyspark and py4j versions, matching ``spark.version``, or
the server is stopped and Spark's default interpreter stands. It
starts before the JVM and imports while the JVM starts; it exits,
removing its directory, when the driver process exits (EOF on its
stdin).

Driver class-data sharing. With the Python-side costs gone, the
driver JVM's start was most of a session's start: it loads, parses
and verifies thousands of classes from Spark's 287 jars. When
``get_spark`` is about to launch a local driver JVM, it starts it with
a dynamic AppCDS archive of those classes (Spark 4 runs on JDK 17+,
which has them): HotSpot maps them
already parsed and verified, and ``get_spark`` fell from 4.3-5.5 s to
2.3-3.3 s on 4 cores. The archive lives in
``$XDG_CACHE_HOME/spark-graft/cds`` (``~/.cache/spark-graft/cds``),
one per key: the resolved ``java`` and its libjvm, the name, size and
mtime of every ``$SPARK_HOME/jars`` file, and pyspark's version.
Installing one removes the archives of other keys. A driver that finds
no archive starts with ``-XX:ArchiveClassesAtExit``; its JVM writes
the classes it loaded to a temporary file when it exits, and the
driver process, at its own exit, waits for that, appends a trailer
holding the file's length and installs it with one ``os.replace``.
This is paid once per key: the build run's JVM takes ~10 s longer to
exit, and its ``get_spark`` is ~1 s slower. Only an exit code of 0
counts. A later driver passes ``-XX:SharedArchiveFile -Xshare:auto``
in ``spark.driver.defaultJavaOptions`` (after any value the caller
gave it; ``extraJavaOptions`` still applies after it), and only for an
archive that still ends with its trailer: HotSpot ignores trailing
bytes, but a truncated archive kills it with SIGBUS, while a wrong
header only turns sharing off. CDS logging is off on both runs (the
build run logged ~700 ``[warning][cds]`` lines to stdout). HotSpot
refuses to archive with a non-empty directory on the classpath, and
Spark puts its conf directory there, so the JVM is launched with
``SPARK_CONF_DIR`` at the empty ``conf`` directory of the cache. Its
path never changes, because HotSpot silently rejects an archive whose
classpath differs. This happens only when the real conf directory
holds nothing but ``*.template`` files; a real ``spark-defaults.conf``
or ``spark-env.sh`` turns CDS off, as does a cache that cannot be
written. The archive holds the classes its build run loaded, so a
class only later drivers load still comes from its jar.

Locally we run ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this
process may run on) — the same declarative plans move to a cluster
unchanged.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import select
import shutil
import subprocess
import tempfile
from typing import NamedTuple

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from .forkserver import SOCKET_DIR_ENV

CODEGEN_CACHE_ENTRIES = 4096
_HERE = os.path.dirname(os.path.abspath(__file__))
WORKER_PYTHON = os.path.join(_HERE, "worker_python.sh")
FORK_SERVER = os.path.join(_HERE, "forkserver.py")
_fork_server: subprocess.Popen | None = None  # this process's, from its first local session


def start_fork_server(socket_dir: str, launcher: str = WORKER_PYTHON) -> subprocess.Popen | None:
    """Start the fork server through ``launcher``, serving in
    ``socket_dir``; None if ``launcher`` cannot be executed at all."""
    # The hash seed and OpenMP thread count Spark starts its workers
    # with, unless the driver's environment sets them.
    env = dict(
        os.environ,
        PYTHONHASHSEED=os.environ.get("PYTHONHASHSEED", "0"),
        OMP_NUM_THREADS=os.environ.get("OMP_NUM_THREADS", "1"),
    )
    try:
        return subprocess.Popen(
            [launcher, "-u", FORK_SERVER, "--serve", socket_dir],
            env=env,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
        )
    except OSError:
        return None


def stop_fork_server(server: subprocess.Popen) -> None:
    """Close the server's stdin, on which it removes its socket
    directory and exits."""
    server.stdin.close()
    try:
        server.wait(timeout=10)
    except subprocess.TimeoutExpired:
        server.kill()
        server.wait()


def fork_server_passed(server: subprocess.Popen | None, spark_version: str) -> bool:
    """True when ``server`` printed the driver's pyspark and py4j
    versions and pyspark's version is ``spark_version``. The version
    line is read once (waiting up to 60 s); a server that fails the
    check is stopped."""
    if server is None:
        return False
    import py4j
    import pyspark

    if not hasattr(server, "versions"):
        ready, _, _ = select.select([server.stdout], [], [], 60)
        server.versions = server.stdout.readline().split() if ready else []
    passed = (
        server.versions == [pyspark.__version__, py4j.__version__]
        and pyspark.__version__ == spark_version
    )
    if not passed:
        stop_fork_server(server)
    return passed


DEFAULT_JAVA_OPTIONS = "spark.driver.defaultJavaOptions"
# A dynamic CDS archive's first four bytes (little-endian).
_DYNAMIC_ARCHIVE_MAGIC = (0xF00BABA8).to_bytes(4, "little")
# Appended to an archive at install, with the archive's length before
# it: HotSpot ignores trailing bytes but maps a truncated archive and
# dies of SIGBUS, so only an archive that still ends with its trailer
# is passed to the JVM.
_TRAILER = b"spark-graft-cds\n"
_TRAILER_LEN = len(_TRAILER) + 8
_ARCHIVE_EXIT_WAIT_S = 120  # a build run's JVM took ~10 s to write its archive on 4 cores
# CDS logging off on both runs: HotSpot logs its CDS warnings to
# stdout, which belongs to the driver's caller, and at exit the build
# run logged one for each of ~700 classes it did not archive.
_CDS_LOG_OFF = "-Xlog:cds*=off"
# What else the launcher puts on the driver's classpath besides Spark's
# conf directory and jars; HotSpot refuses to archive with a non-empty
# directory there.
_CLASSPATH_ENV = (
    "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH", "SPARK_PREPEND_CLASSES"
)


class DriverCds(NamedTuple):
    """How to start a driver JVM with class-data sharing."""

    java_options: str  # for spark.driver.defaultJavaOptions
    conf_dir: str  # the empty SPARK_CONF_DIR the JVM starts with
    archive: str  # the archive for this key
    part: str | None  # the temp file a build run writes at exit; None when the archive exists


def _cds_cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(base):  # unset, empty or relative: the XDG default
        base = os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "spark-graft", "cds")


def _java_binary() -> str | None:
    """The ``java`` that ``spark-class`` runs (``$JAVA_HOME/bin/java``,
    else the first on ``PATH``), links resolved."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def cds_key(java: str, spark_home: str) -> str:
    """What an archive depends on, hashed: ``java`` and its libjvm
    (path, size, mtime), every file in ``$SPARK_HOME/jars`` (name,
    size, mtime, which HotSpot itself checks) and pyspark's version."""
    jars = os.path.join(spark_home, "jars")
    libjvm = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so")
    paths = [java, *([libjvm] if os.path.exists(libjvm) else [])]
    paths += sorted(os.path.join(jars, name) for name in os.listdir(jars))
    h = hashlib.sha256(pyspark.__version__.encode())
    for path in paths:
        st = os.stat(path)
        h.update(f"\0{path}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:20]


def _templates_only(conf_dir: str) -> bool:
    """True when ``conf_dir`` is absent or holds only ``*.template`` files."""
    try:
        return all(name.endswith(".template") for name in os.listdir(conf_dir))
    except FileNotFoundError:
        return True
    except OSError:
        return False


def _spark_classpath_only(conf: dict[str, str]) -> bool:
    """True when neither the environment nor the caller's ``conf`` or
    submit arguments add to the driver's classpath."""
    submit = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    return (
        not any(os.environ.get(name) for name in _CLASSPATH_ENV)
        and "spark.driver.extraClassPath" not in conf
        and "class-path" not in submit
        and "extraClassPath" not in submit
    )


def driver_cds(conf: dict[str, str]) -> DriverCds | None:
    """Class-data sharing for the driver JVM about to start with the
    caller's ``conf``, or None when it cannot apply: no ``java``, a
    classpath beyond Spark's own, a conf directory with a real file,
    or a cache directory that cannot be used."""
    spark_home = _find_spark_home()
    java = _java_binary()
    spark_conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if (
        java is None
        or not _spark_classpath_only(conf)
        or not _templates_only(spark_conf)
    ):
        return None
    cache = _cds_cache_dir()
    # The launcher splits java options on blanks, HotSpot splits
    # SharedArchiveFile on ':' and the classpath is ':'-separated.
    if any(c in cache for c in " \t\n:'\"\\"):
        return None
    conf_dir = os.path.join(cache, "conf")
    try:
        archive = os.path.join(cache, f"spark-{cds_key(java, spark_home)}.jsa")
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir):
            return None
    except OSError:
        return None
    if _installed(archive):
        options = f"-XX:SharedArchiveFile={archive} -Xshare:auto {_CDS_LOG_OFF}"
        return DriverCds(options, conf_dir, archive, None)
    if not os.access(cache, os.W_OK | os.X_OK):
        return None
    part = f"{archive}.{os.getpid()}.{os.urandom(4).hex()}.part"
    return DriverCds(f"-XX:ArchiveClassesAtExit={part} {_CDS_LOG_OFF}", conf_dir, archive, part)


def _installed(path: str) -> bool:
    """True when ``path`` starts as a dynamic archive and still ends
    with the trailer its install appended."""
    try:
        with open(path, "rb") as f:
            head = f.read(4)
            length = f.seek(0, os.SEEK_END) - _TRAILER_LEN
            f.seek(max(length, 0))
            tail = f.read()
    except OSError:
        return False
    trailer = _TRAILER + length.to_bytes(8, "little", signed=True)
    return head == _DYNAMIC_ARCHIVE_MAGIC and length > 0 and tail == trailer


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _remove_stale(cache: str, keep: str) -> None:
    """Remove archives for other keys and the temp files of build runs
    whose process is gone."""
    for entry in os.scandir(cache):
        stale = entry.path != keep and entry.name.endswith(".jsa")
        if entry.name.endswith(".part"):
            pid = entry.name.rsplit(".", 3)[-3]
            stale = pid.isdigit() and not _pid_alive(int(pid))
        if stale:
            with contextlib.suppress(OSError):
                os.unlink(entry.path)


def _install_archive(jvm: subprocess.Popen, part: str, archive: str) -> None:
    """At driver exit: end the build run's JVM (EOF on its stdin), wait
    while it writes ``part``, and install ``part`` as ``archive`` when
    the JVM exited 0 and wrote a dynamic archive. The install is one
    ``os.replace``, so concurrent build runs leave one whole archive."""
    try:
        if jvm.poll() is None:
            jvm.stdin.close()
        try:
            code = jvm.wait(timeout=_ARCHIVE_EXIT_WAIT_S)
        except subprocess.TimeoutExpired:
            jvm.kill()
            code = jvm.wait()
        with open(part, "rb") as f:
            written = code == 0 and f.read(4) == _DYNAMIC_ARCHIVE_MAGIC
        if written:
            os.chmod(part, 0o644)  # HotSpot writes it 0444
            length = os.path.getsize(part)
            with open(part, "ab") as f:
                f.write(_TRAILER + length.to_bytes(8, "little"))
            os.chmod(part, 0o444)
            os.replace(part, archive)
            _remove_stale(os.path.dirname(archive), archive)
    except OSError:
        pass
    finally:
        with contextlib.suppress(OSError):
            os.unlink(part)


def _launch(builder: SparkSession.Builder, cds: DriverCds) -> SparkSession:
    """``builder.getOrCreate()`` with ``SPARK_CONF_DIR`` at the empty
    conf directory for the JVM launch only; a build run's archive is
    installed when this process exits."""
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = cds.conf_dir
    try:
        return builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
        if cds.part is not None:
            jvm = getattr(SparkContext._gateway, "proc", None)
            if jvm is None:
                with contextlib.suppress(OSError):
                    os.unlink(cds.part)
            else:
                atexit.register(_install_archive, jvm, cds.part, cds.archive)


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
    global _fork_server
    new_local = SparkContext._active_spark_context is None and master.startswith("local")
    cds = driver_cds(extra_conf or {}) if new_local and SparkContext._gateway is None else None
    if cds is not None:
        caller = (extra_conf or {}).get(DEFAULT_JAVA_OPTIONS)
        builder = builder.config(
            DEFAULT_JAVA_OPTIONS, f"{caller} {cds.java_options}" if caller else cds.java_options
        )
    if new_local and _fork_server is None:
        socket_dir = tempfile.mkdtemp(prefix="spark-graft-fork-")
        _fork_server = start_fork_server(socket_dir)
        if _fork_server is None:
            os.rmdir(socket_dir)
        else:
            os.environ[SOCKET_DIR_ENV] = socket_dir
    spark = builder.getOrCreate() if cds is None else _launch(builder, cds)
    if new_local and fork_server_passed(_fork_server, spark.version):
        spark.sparkContext.pythonExec = WORKER_PYTHON
    return spark
