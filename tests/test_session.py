"""``session.get_spark``'s worker interpreter: every Python process a
session starts imports the installed, bytecode-compiled pyspark, not
the copy in Spark's ``pyspark.zip``; the launcher is installed only
when its check passes."""

from __future__ import annotations

import json
import os
import shutil
import sys

import pyspark

from go_http_data_pipeline_spark.session import (
    WORKER_PYTHON,
    start_worker_check,
    worker_check_passed,
)


def _outside_zip(path: str) -> bool:
    return ".zip" not in path and os.path.exists(path)


def test_session_uses_the_worker_launcher(spark):
    assert spark.sparkContext.pythonExec == WORKER_PYTHON
    assert os.access(WORKER_PYTHON, os.X_OK)


def test_pandas_worker_imports_compiled_pyspark(spark):
    import pandas as pd

    def where(batches):
        import pyspark

        for _ in batches:
            yield pd.DataFrame({"file": [pyspark.__file__], "version": [pyspark.__version__]})

    rows = spark.range(1).mapInPandas(where, "file string, version string").collect()
    assert len(rows) == 1
    assert _outside_zip(rows[0].file), rows[0].file
    assert rows[0].version == spark.version


def test_streaming_source_runner_imports_compiled_pyspark(spark, tmp_path):
    """The per-query source runner reports, through the offset its
    reader returns, where it imported pyspark from."""
    from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

    class WhereReader(DataSourceStreamReader):
        def initialOffset(self):
            return {"file": "", "version": ""}

        def latestOffset(self):
            import pyspark

            return {"file": pyspark.__file__, "version": pyspark.__version__}

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
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    end = json.loads(q.lastProgress.json)["sources"][0]["endOffset"]
    if isinstance(end, str):
        end = json.loads(end)
    assert _outside_zip(end["file"]), end["file"]
    assert end["version"] == spark.version


def test_worker_check_passes_for_the_launcher():
    assert worker_check_passed(start_worker_check(), pyspark.__version__)


def test_worker_check_keeps_default_on_version_mismatch():
    assert not worker_check_passed(start_worker_check(), "0.0.0")


def test_worker_check_keeps_default_for_non_executable_launcher(tmp_path):
    copy = tmp_path / "worker_python.sh"
    shutil.copy(WORKER_PYTHON, copy)
    copy.chmod(0o644)
    assert start_worker_check(str(copy)) is None
    assert not worker_check_passed(start_worker_check(str(copy)), pyspark.__version__)


def test_worker_check_keeps_default_without_pyspark(tmp_path, monkeypatch):
    """``PYSPARK_PYTHON`` names an interpreter that cannot import
    pyspark (no site-packages): the check fails."""
    bare = tmp_path / "bare_python"
    bare.write_text(f'#!/bin/sh\nexec "{sys.executable}" -S "$@"\n')
    bare.chmod(0o755)
    monkeypatch.setenv("PYSPARK_PYTHON", str(bare))
    assert not worker_check_passed(start_worker_check(), pyspark.__version__)
