"""``session.get_spark``'s worker interpreter: every Python process a
session starts imports the installed, bytecode-compiled pyspark, not
the copy in Spark's ``pyspark.zip``, and per-query processes fork from
the session's fork server; the launcher is installed only when the
server's version check passes, and launches exec the interpreter when
the server's socket is gone."""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import textwrap
import time
from pathlib import Path

import pyspark
import pytest

from go_http_data_pipeline_spark import session
from go_http_data_pipeline_spark.forkserver import SOCKET_DIR_ENV
from go_http_data_pipeline_spark.session import (
    WORKER_PYTHON,
    fork_server_passed,
    start_fork_server,
    stop_fork_server,
)

REPO = Path(__file__).resolve().parents[1]


def _outside_zip(path: str) -> bool:
    return ".zip" not in path and os.path.exists(path)


def _ancestors_fn():
    """A function returning its process's ancestor pids, nearest first.
    Being nested, cloudpickle ships it to Spark's Python processes by
    value; this test module is not importable there."""

    def ancestors():
        pids, pid = [], os.getpid()
        while pid > 1:
            with open(f"/proc/{pid}/stat") as f:
                pid = int(f.read().rsplit(")", 1)[1].split()[1])
            pids.append(pid)
        return pids

    return ancestors


def _gone(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except FileNotFoundError:
        return True


def _run_whereabouts(spark, checkpoint: Path) -> dict:
    """Run a one-trigger streaming query whose source runner reports,
    through the offset its reader returns, where it imported pyspark
    from and its ancestor pids."""
    from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

    ancestors = _ancestors_fn()

    class WhereReader(DataSourceStreamReader):
        def initialOffset(self):
            return {"file": "", "version": "", "ancestors": []}

        def latestOffset(self):
            import pyspark

            return {"file": pyspark.__file__, "version": pyspark.__version__, "ancestors": ancestors()}

        def partitions(self, start, end):
            return [InputPartition(0)]

        def read(self, partition):
            return iter(())

    class WhereSource(DataSource):
        @classmethod
        def name(cls):
            return "pyspark_whereabouts"

        def schema(self):
            return "x int"

        def streamReader(self, schema):
            return WhereReader()

    spark.dataSource.register(WhereSource)
    q = (
        spark.readStream.format("pyspark_whereabouts").load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(checkpoint))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    end = json.loads(q.lastProgress.json)["sources"][0]["endOffset"]
    return json.loads(end) if isinstance(end, str) else end


def _serving(server, socket_dir: str) -> None:
    """Wait until ``server`` has imported and bound its socket."""
    deadline = time.monotonic() + 60
    while not os.path.exists(os.path.join(socket_dir, "sock")):
        assert time.monotonic() < deadline and server.poll() is None
        time.sleep(0.05)


@pytest.fixture
def session_server(spark):
    """The session's fork server, once it serves."""
    _serving(session._fork_server, os.environ[SOCKET_DIR_ENV])
    return session._fork_server


@pytest.fixture
def socket_dir():
    d = tempfile.mkdtemp(prefix="spark-graft-fork-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture
def fork_server(socket_dir):
    """A fork server of its own, serving once its imports are done."""
    server = start_fork_server(socket_dir)
    assert fork_server_passed(server, pyspark.__version__)
    _serving(server, socket_dir)
    yield server
    stop_fork_server(server)
    assert not os.path.exists(socket_dir)


def test_session_uses_the_worker_launcher(spark, session_server):
    assert spark.sparkContext.pythonExec == WORKER_PYTHON
    assert os.access(WORKER_PYTHON, os.X_OK)


def test_pandas_worker_imports_compiled_pyspark(spark, session_server):
    import pandas as pd

    ancestors = _ancestors_fn()

    def where(batches):
        import pyspark

        for _ in batches:
            yield pd.DataFrame(
                {"file": [pyspark.__file__], "version": [pyspark.__version__], "ancestors": [ancestors()]}
            )

    rows = spark.range(1).mapInPandas(where, "file string, version string, ancestors array<int>").collect()
    assert len(rows) == 1
    assert _outside_zip(rows[0].file), rows[0].file
    assert rows[0].version == spark.version
    # Spark starts the daemon with OMP_NUM_THREADS=1; the server took
    # the driver's count, and a daemon asking for another is exec'd.
    forked = os.environ.get("OMP_NUM_THREADS", "1") == "1"
    assert (session_server.pid in rows[0].ancestors) == forked


def test_streaming_source_runner_imports_compiled_pyspark(spark, session_server, tmp_path):
    end = _run_whereabouts(spark, tmp_path / "ckpt")
    assert _outside_zip(end["file"]), end["file"]
    assert end["version"] == spark.version
    assert end["ancestors"][0] == session_server.pid


def test_launcher_execs_the_interpreter_without_the_socket(spark, session_server, tmp_path):
    """With the server's socket gone the runner is the JVM's own child,
    still imports the compiled pyspark, and the query completes."""
    sock = os.path.join(os.environ[SOCKET_DIR_ENV], "sock")
    os.rename(sock, sock + ".away")
    try:
        end = _run_whereabouts(spark, tmp_path / "ckpt")
    finally:
        os.rename(sock + ".away", sock)
    assert _outside_zip(end["file"]), end["file"]
    assert end["version"] == spark.version
    assert session_server.pid not in end["ancestors"]


def _launch(socket_dir, module_dir, *args, **settings):
    """``worker_python.sh -m child ARGS`` with ``child`` found through
    PYTHONPATH (as Spark's pyFiles are), not the working directory, and
    the hash seed Spark gives its workers unless ``settings`` differ."""
    env = dict(os.environ, PYTHONPATH=str(module_dir), PYTHONHASHSEED="0")
    env.update(settings, **{SOCKET_DIR_ENV: socket_dir})
    return subprocess.Popen([WORKER_PYTHON, "-m", "child", *args], env=env, cwd=REPO)


def _child_module(tmp_path: Path) -> Path:
    (tmp_path / "child.py").write_text(textwrap.dedent("""
        import os, signal, sys, time

        signal.signal(signal.SIGTERM, lambda *_: sys.exit(7))
        with open(sys.argv[1] + ".tmp", "w") as f:
            f.write(str(os.getppid()))
        os.rename(sys.argv[1] + ".tmp", sys.argv[1])
        if sys.argv[2:] == ["wait"]:
            time.sleep(60)
        sys.exit(3)
    """))
    return tmp_path


def test_client_passes_on_the_exit_code(fork_server, socket_dir, tmp_path):
    report = tmp_path / "parent"
    child = _launch(socket_dir, _child_module(tmp_path), str(report))
    assert child.wait(timeout=60) == 3
    assert int(report.read_text()) == fork_server.pid


@pytest.mark.parametrize("setting", [{"PYTHONHASHSEED": "1"}, {"OMP_NUM_THREADS": "13"}])
def test_launch_with_other_interpreter_settings_is_execd(fork_server, socket_dir, tmp_path, setting):
    report = tmp_path / "parent"
    child = _launch(socket_dir, _child_module(tmp_path), str(report), **setting)
    assert child.wait(timeout=60) == 3
    assert int(report.read_text()) == os.getpid()  # exec'd by the launcher this test started


def test_client_forwards_sigterm(fork_server, socket_dir, tmp_path):
    report = tmp_path / "parent"
    child = _launch(socket_dir, _child_module(tmp_path), str(report), "wait")
    deadline = time.monotonic() + 60
    while not report.exists():
        assert time.monotonic() < deadline and child.poll() is None
        time.sleep(0.02)
    assert int(report.read_text()) == fork_server.pid
    child.send_signal(signal.SIGTERM)
    assert child.wait(timeout=60) == 7  # the child's own SIGTERM handler ran


def test_driver_exit_leaves_no_server_or_socket_dir():
    script = textwrap.dedent("""
        import os
        from go_http_data_pipeline_spark import session

        spark = session.get_spark("exit-check", master="local[1]", shuffle_partitions=1)
        assert spark.range(3).mapInPandas(lambda b: b, "id long").count() == 3
        print(session._fork_server.pid, os.environ[session.SOCKET_DIR_ENV], flush=True)
    """)
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=REPO, env=env, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-2000:]
    pid, socket_dir = out.stdout.split()
    deadline = time.monotonic() + 2
    while not (_gone(int(pid)) and not os.path.exists(socket_dir)):
        assert time.monotonic() < deadline, (pid, socket_dir)
        time.sleep(0.05)


def test_worker_check_passes_for_the_launcher(socket_dir):
    server = start_fork_server(socket_dir)
    assert fork_server_passed(server, pyspark.__version__)
    stop_fork_server(server)
    assert server.returncode == 0
    assert not os.path.exists(socket_dir)


def test_worker_check_keeps_default_on_version_mismatch(socket_dir):
    server = start_fork_server(socket_dir)
    assert not fork_server_passed(server, "0.0.0")
    assert server.returncode is not None  # stopped
    assert not os.path.exists(socket_dir)


def test_worker_check_keeps_default_for_non_executable_launcher(tmp_path, socket_dir):
    copy = tmp_path / "worker_python.sh"
    shutil.copy(WORKER_PYTHON, copy)
    copy.chmod(0o644)
    assert start_fork_server(socket_dir, str(copy)) is None
    assert not fork_server_passed(start_fork_server(socket_dir, str(copy)), pyspark.__version__)


def test_worker_check_keeps_default_without_pyspark(tmp_path, socket_dir, monkeypatch):
    """``PYSPARK_PYTHON`` names an interpreter that cannot import
    pyspark (no site-packages): the check fails."""
    bare = tmp_path / "bare_python"
    bare.write_text(f'#!/bin/sh\nexec "{sys.executable}" -S "$@"\n')
    bare.chmod(0o755)
    monkeypatch.setenv("PYSPARK_PYTHON", str(bare))
    server = start_fork_server(socket_dir)
    assert not fork_server_passed(server, pyspark.__version__)
    assert server.returncode is not None
