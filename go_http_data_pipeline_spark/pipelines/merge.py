"""Keyed upsert (MERGE) semantics without a Delta/Iceberg dependency.

The reference's only write-back primitive is the per-row
``UPDATE employee SET salary=? WHERE id=?`` (``Server/main.go:279-282``)
— N point updates. On plain DataFrames/parquet there is no in-place
update, so MERGE is expressed relationally:

    merged = base LEFT-ANTI updates ON key  UNION  updates

which Catalyst executes as one anti-join pass. It is not shuffle-free:
the base parquet table is not bucketed by key, so the anti-join
shuffles it (see :func:`merge_into`). The result is the whole merged
table, and ``streaming.core.foreach_batch_merge`` writes all of it to
a staging directory on every micro-batch before swapping it in: each
call rewrites every row of the base, however few keys the batch
touches (perfbench's traced ``merge.rows_rewritten_per_record`` is
17-20 for ~300-record batches into a 20-35k-row table). Rewriting
only the files that hold matched keys is not built; with a table
format that supports MERGE INTO the same plan maps 1:1 onto it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def merge_into(base: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """Upsert ``updates`` into ``base`` by ``key``.

    Matched keys take the update row (reference semantics: the UPDATE
    wins, ``Server/main.go:280``); unmatched update rows are inserted
    (the login auto-register path, ``Server/main.go:112-120``).
    Schemas must match by name; ``unionByName`` keeps this positional-
    order-proof.

    Plan: under ``foreachBatch`` the micro-batch is a ``LogicalRDD``
    with no size statistics, so the optimizer cannot see that it is
    small and never broadcasts it. The anti-join plans as a
    SortMergeJoin that hash-shuffles the WHOLE base table (and the
    batch) on every micro-batch.
    """
    kept = base.join(updates.select(key), on=key, how="left_anti")
    return kept.unionByName(updates)


def apply_cdc(
    base: DataFrame, cdc: DataFrame, key: str, op_col: str = "op"
) -> DataFrame:
    """Apply one CDC batch to ``base``: rows with ``op_col`` = ``'D'``
    delete their key, every other op upserts the row (MERGE WHEN
    MATCHED THEN UPDATE/DELETE, WHEN NOT MATCHED THEN INSERT), **with
    schema evolution**: columns the CDC feed carries that ``base``
    lacks are added to the target, NULL for rows the batch didn't
    touch — the ``mergeSchema``/auto-evolution behavior of a real
    table format, expressed relationally.

    The relational form is the same single pass as :func:`merge_into`
    (left-anti on touched keys, then union), so it inherits the same
    scale shape: the anti-join shuffles ``base`` unless the feed is
    known to be small enough to broadcast, and the output is the whole
    table, so writing it back rewrites every row. Delete-by-anti-join
    means a delete costs the same as an update — no tombstone scan.

    The CDC feed must hold at most one row per key (standard MERGE
    precondition; a multi-row feed is compacted upstream to its latest
    image per key before the merge).
    """
    kept = base.join(cdc.select(key), on=key, how="left_anti")
    upserts = cdc.filter(cdc[op_col] != "D").drop(op_col)
    return kept.unionByName(upserts, allowMissingColumns=True)
