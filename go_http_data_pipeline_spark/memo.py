"""Session memos: the intermediate tables a session builds once and
every later query reuses (shingles, LSH bands, PQ codes, IVF cells,
layouts, catalog scans) — the engine's stand-in for checkpointed
tables, which the reference keeps in MySQL.

An entry is keyed on the context's applicationId, the session object
itself, the fixture directory and the memo's name. A sibling session
(``newSession``) has its own conf and temp views, so it builds its own
entry; a restarted context has a new applicationId, so a stopped
context's entries are never served.

A memo that stages files makes its directory with ``temp_dir``, which
is removed, with everything in it, when the driver process exits.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import time
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

# key -> (value, build seconds, rows)
_ENTRIES: dict = {}
_TEMP_DIRS: list[str] = []


@atexit.register
def _remove_temp_dirs() -> None:
    for d in _TEMP_DIRS:
        shutil.rmtree(d, ignore_errors=True)


def temp_dir(prefix: str) -> str:
    """A new directory under ``$TMPDIR`` for a memo's files, removed
    when the driver process exits."""
    d = tempfile.mkdtemp(prefix=prefix)
    _TEMP_DIRS.append(d)
    return d


def _persisted(value) -> list[DataFrame]:
    """The DataFrames the build persisted: the value itself, or the
    members of a tuple."""
    items = value if isinstance(value, tuple) else (value,)
    return [v for v in items if isinstance(v, DataFrame) and v.is_cached]


def session_memo(
    spark: SparkSession, name: str, sf_dir: str, build: Callable[[], T]
) -> T:
    """``build()``'s value, built once per (session, ``sf_dir``, name).

    A miss is timed. Each DataFrame the build persisted, alone or in
    a tuple, is materialized with one ``count()`` inside that time, so
    the query that touched the memo first is planned against the
    materialized relation, exactly as every later query is (a lazily
    filled cache plans differently once its real size is known, and
    the re-plan recompiles generated code). Nested memo builds count
    inside the outer build's seconds. Any other value (a catalog scan,
    a ``localCheckpoint`` result, a driver-side list) is stored as
    returned."""
    key = (spark.sparkContext.applicationId, spark, sf_dir, name)
    entry = _ENTRIES.get(key)
    if entry is not None:
        return entry[0]
    t0 = time.perf_counter()
    value = build()
    counts = [df.count() for df in _persisted(value)]
    if isinstance(value, tuple):
        rows = counts
    else:
        rows = counts[0] if counts else None
    _ENTRIES[key] = (value, time.perf_counter() - t0, rows)
    return value


def stats(spark: SparkSession) -> list[dict]:
    """Build seconds and rows of every memo this session holds, in the
    order the builds finished (an inner memo before the one that
    nests it). ``rows`` is a count for a persisted frame, a list of
    counts for a tuple, and None for a value stored as returned."""
    app = spark.sparkContext.applicationId
    return [
        {"name": name, "sf_dir": sf_dir, "seconds": seconds, "rows": rows}
        for (a, s, sf_dir, name), (_, seconds, rows) in _ENTRIES.items()
        if a == app and s is spark
    ]


def clear() -> None:
    """Unpersist every persisted memo frame and drop every entry; the
    next caller rebuilds on demand."""
    for value, _, _ in _ENTRIES.values():
        for df in _persisted(value):
            df.unpersist()
    _ENTRIES.clear()
