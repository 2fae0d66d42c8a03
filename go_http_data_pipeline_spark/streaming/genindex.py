"""Generational bucketed index — shared machinery for incrementally
maintained probe indexes (the MinHash-LSH band index in
``streaming/core.py``, the IVF ANN cell index in
``streaming/annindex.py``, the IVFPQ codes index in
``streaming/pqindex.py``, and the SemDeDup cell index in
``streaming/semindex.py``).

The shape all four share: micro-batches append ``b{N}`` parquet dirs; the
read view is the newest COMPLETE compacted generation ``c{HW}`` plus
every ``b{N}`` with ``N > HW``; every K appends the view folds into
one new generation written as an external catalog table BUCKETED by
the probe key, so the probe join consumes the bucketing — the index
side, the one that grows with the corpus, reads as a bucketed scan
with zero exchange. Crash-safety comes from ordering, not locks: a
new generation becomes the view the moment its ``_SUCCESS`` lands,
superseded dirs are garbage GC'd by the NEXT fold, and a replayed
batch's recreated ``b{N}`` dir is superseded by construction (N at or
below the high-water mark is ignored), so replays can never double
rows into the view.

Derived from the round-8/9 LSH index design (VERDICT r8 item 6);
factored out so the ANN index is the same audited machinery rather
than a re-implementation.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

from pyspark.sql import DataFrame, SparkSession

from .indexstore import PosixIndexStore

# Above this many bytes of un-compacted tombstone parquet, drop the
# broadcast hint in apply_tombstones and let AQE pick the join
# strategy (see that docstring). 8 MiB — just under Spark's own
# 10 MB autoBroadcastJoinThreshold convention for file sources —
# because this measures COMPRESSED key-only parquet, which can
# expand 5-20x when materialized on the driver (dictionary/delta
# encoding on long/string keys); a generous cap here would force
# the exact driver OOM the guard exists to prevent. Still orders of
# magnitude past "delete-request-sized" (d-dirs are deduplicated
# keys, folded away at every compaction).
_TOMBSTONE_BROADCAST_MAX_BYTES = 8 * 1024 * 1024

# Sidecar carrying the schema of a generation whose fold was ALL-DEAD
# (every visible row killed by tombstones): Spark's bucketed
# saveAsTable writes no part files for an empty DataFrame — only
# ``_SUCCESS`` — so there is no parquet footer to infer a schema from
# and a raw-path read of the dir would throw UNABLE_TO_INFER_SCHEMA.
# (Plain ``df.write.parquet`` always emits one schema-bearing file,
# even for an empty frame, so b/d/state dirs never need this.) The
# underscore prefix keeps Spark's file listing from reading it as
# data.
_SCHEMA_SIDECAR = "_schema.json"


def _gen_number(path: str) -> int | None:
    """The generation number a physical dir carries, or None for a
    per-batch delta. The Posix store's dirs are named ``c{N}``
    exactly; a manifest store's physical prefixes append a uniquing
    token (``c{N}-{hex}``), so the number is parsed as the leading
    ``c\\d+`` rather than sliced."""
    m = re.match(r"c(\d+)", os.path.basename(path))
    return int(m.group(1)) if m else None


class GenIndex:
    """One generational bucketed index rooted at ``index_dir``.

    ``bucket_cols`` is the probe key (the equi-join columns);
    ``n_buckets`` sizes the bucketed generations — locally fixed, at
    cluster scale sized by index bytes / target file size. ``prefix``
    namespaces the catalog table names so two index *kinds* sharing a
    warehouse can't collide.

    ``store`` is the CONTROL-PLANE seam (``streaming/indexstore.py``):
    what dirs exist, which generation is current, sidecar I/O, commit
    and GC. The default :class:`PosixIndexStore` makes byte-for-byte
    the calls this class made inline before the seam existed — plans
    and values untouched (the r12 discipline); a
    :class:`~.indexstore.ManifestIndexStore` swaps generations by
    manifest-pointer CAS instead of dir numbering, enabling native
    object-store roots and snapshot reads
    (``streaming/manifestindex.py``). The DATA plane is unchanged
    either way — plain ``spark.read.parquet`` / bucketed
    ``saveAsTable`` on the store-placed paths.
    """

    def __init__(
        self,
        index_dir: str,
        bucket_cols: tuple[str, ...],
        n_buckets: int,
        prefix: str,
        tombstone_cols: tuple[str, ...] | None = None,
        store: PosixIndexStore | None = None,
    ) -> None:
        self.index_dir = index_dir
        self.bucket_cols = bucket_cols
        self.n_buckets = n_buckets
        self.prefix = prefix
        self.store = store if store is not None else PosixIndexStore()
        # Retraction support (opt-in): index rows carry a ``src_batch``
        # column, tombstones are (tombstone_cols..., t_batch) rows in
        # ``d{N}`` dirs, and a row is dead iff a tombstone for its key
        # has t_batch > src_batch (last-writer-wins: a re-add in a
        # LATER batch outlives an earlier delete; a delete retracts
        # only what arrived strictly before it).
        self.tombstone_cols = tombstone_cols

    # -- naming ------------------------------------------------------

    def _table_stem(self) -> str:
        h = hashlib.md5(self.index_dir.encode()).hexdigest()[:10]
        return f"{self.prefix}_{h}"

    def gen_table(self, batch_id: int) -> str:
        """Deterministic catalog name for a compacted generation —
        keyed by (index location, high-water batch id) so a replayed
        compaction recreates the SAME table over the SAME path, and
        two concurrent indexes never collide. The replay safety this
        buys is for CRASHED attempts only — one that died before its
        ``_SUCCESS`` landed; re-running a COMPLETED fold would
        overwrite the generation from a read view that the fold
        itself already rewrote, a caller-discipline violation (the
        GenIndex property test documents and deliberately skips that
        interleaving)."""
        return f"{self._table_stem()}_b{batch_id}"

    def drop_generations(self, spark: SparkSession) -> None:
        """Drop every catalog entry this index registered (cleanup
        when the index itself is discarded; data dirs are the
        caller's)."""
        stem = self._table_stem()
        for t in spark.catalog.listTables():
            if t.name.startswith(f"{stem}_"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")

    # -- read view ---------------------------------------------------

    def visible_dirs(self) -> list[str]:
        """The read view: the newest COMPLETE generation ``c{HW}``
        (``_SUCCESS`` present) plus every per-batch dir ``b{N}`` with
        ``N > HW``. Everything at or below the high-water mark is
        superseded — including a ``b{N}`` recreated by a replayed
        batch after its compaction already folded it — so a replay
        can never double rows into the view. Superseded dirs are
        garbage, GC'd by the next compaction; readers never depend on
        the deletes having happened, which is what makes compaction
        crash-safe at every step."""
        if not self.store.root_exists(self.index_dir):
            return []
        return self._view_dirs(self.store.list_entries(self.index_dir))

    def _view_dirs(self, entries: list[tuple[str, str]]) -> list[str]:
        """The newest-complete-c-plus-newer-b selection over an
        explicit (name, path) listing — factored from
        :meth:`visible_dirs` so a SNAPSHOT listing (a retained
        manifest version's entries, ``streaming/manifestindex.py``)
        resolves to a read view through the same audited logic."""
        c_dirs: dict[int, str] = {}
        b_dirs: dict[int, str] = {}
        for name, path in entries:
            m = re.fullmatch(r"([bc])(\d+)", name)
            if not m:
                continue
            if m.group(1) == "c":
                if self.store.is_complete(self.index_dir, name, path):
                    c_dirs[int(m.group(2))] = path
            else:
                b_dirs[int(m.group(2))] = path
        hw = max(c_dirs, default=-1)
        return ([c_dirs[hw]] if hw >= 0 else []) + [
            p for n, p in sorted(b_dirs.items()) if n > hw
        ]

    def probe_sides(self, spark: SparkSession) -> list[DataFrame]:
        """The read view as join-ready sides: the compacted generation
        via its BUCKETED catalog table (probe joins consume its
        bucket-key distribution — zero index-side exchange), the newer
        delta dirs as one plain parquet read. Falls back to a plain
        read of the c-dir when the catalog entry is gone (a fresh
        session inheriting an index directory) — same rows, the join
        just shuffles both sides. A generation whose fold was
        all-dead holds no data files (see ``_SCHEMA_SIDECAR``): its
        side is an empty frame built from the sidecar schema, and if
        even the sidecar is missing (a pre-sidecar index, or a crash
        between ``_SUCCESS`` and the sidecar write) the dir is simply
        skipped — it contributes zero rows either way."""
        return self._sides(spark, self.visible_dirs())

    def _sides(self, spark: SparkSession, vis: list[str]) -> list[DataFrame]:
        """Join-ready sides for an EXPLICIT dir view — factored from
        :meth:`probe_sides` so a snapshot view (time travel,
        ``streaming/manifestindex.py``) reads through the same
        catalog-table / raw-path / sidecar fallback chain."""
        sides: list[DataFrame] = []
        deltas: list[str] = []
        for p in vis:
            gen = _gen_number(p)
            if gen is not None:
                tbl = self.gen_table(gen)
                if spark.catalog.tableExists(tbl):
                    sides.append(spark.table(tbl))
                elif self.store.dir_has_data(p):
                    sides.append(spark.read.parquet(p))
                else:
                    schema = self._sidecar_schema(p)
                    if schema is not None:
                        sides.append(spark.createDataFrame([], schema))
            else:
                deltas.append(p)
        if deltas:
            sides.append(spark.read.parquet(*deltas))
        return sides

    def _sidecar_schema(self, path: str):
        """The schema persisted beside an all-dead generation's (zero)
        data files, or None when no sidecar exists. A sidecar that
        does not parse is treated as absent — the store's write is
        atomic (temp + rename locally; PUT on an object store), so
        this can only be pre-rename debris from a crashed fold, and
        absent degrades row-correctly (the generation holds zero rows
        either way)."""
        text = self.store.read_sidecar(path, _SCHEMA_SIDECAR)
        if text is None:
            return None
        from pyspark.sql.types import StructType

        try:
            return StructType.fromJson(json.loads(text))
        except (ValueError, KeyError):
            return None

    def _gen_schema(self, spark: SparkSession, path: str):
        """Recover the schema of a generation dir that holds no data
        files: the sidecar first, then the catalog table (which stores
        the schema independently of the files, so in-session reads of
        an all-dead generation survive even without the sidecar)."""
        schema = self._sidecar_schema(path)
        if schema is not None:
            return schema
        gen = _gen_number(path)
        if gen is not None:
            tbl = self.gen_table(gen)
            if spark.catalog.tableExists(tbl):
                return spark.table(tbl).schema
        return None

    def live_sides(self, spark: SparkSession) -> list[DataFrame]:
        """``probe_sides`` with live tombstones applied (retractions
        not yet folded by a compaction) — a pure passthrough when none
        exist, so delete-free plans are untouched. The per-family
        ``_lsh_probe_sides`` / ``_ivf_probe_sides`` wrappers predate
        this method and can fold into it when their modules next
        change."""
        sized = self._sized_tombstone_dirs()
        return [
            self.apply_tombstones(spark, s, _sized=sized)
            for s in self.probe_sides(spark)
        ]

    # -- tombstones (retractions) -------------------------------------

    def append_tombstones(self, df: DataFrame, batch_id: int) -> None:
        """Record retractions as ``d{batch_id}``: one row per
        retracted key (``tombstone_cols``), stamped ``t_batch`` =
        this batch id (overwrite: a replayed delete batch is
        idempotent). The GDPR/right-to-be-forgotten path of an
        incrementally maintained index."""
        from pyspark.sql import functions as F

        assert self.tombstone_cols, "index built without tombstone_cols"
        name = f"d{batch_id}"
        path = self.store.child(self.index_dir, name)
        df.select(*self.tombstone_cols).distinct().withColumn(
            "t_batch", F.lit(batch_id).cast("long")
        ).write.mode("overwrite").parquet(path)
        self.store.commit_entry(self.index_dir, name, path)

    def _tombstone_dirs(self) -> list[str]:
        if not self.store.root_exists(self.index_dir):
            return []
        return [
            path
            for name, path in self.store.list_entries(self.index_dir)
            if re.fullmatch(r"d\d+", name)
        ]

    def _sized_tombstone_dirs(self) -> tuple[list[str], int]:
        """The live ``d{N}`` dirs plus their total parquet bytes (the
        broadcast-gate input), measured ONCE so a multi-side caller
        (``live_sides``) doesn't repeat the local scandir walk per
        probe side — the walk is cheap but strictly redundant: the
        dirs cannot change between sides of one read view."""
        dirs = self._tombstone_dirs()
        return dirs, sum(self.store.data_bytes(d) for d in dirs)

    def apply_tombstones(
        self,
        spark: SparkSession,
        df: DataFrame,
        _sized: tuple[list[str], int] | None = None,
    ) -> DataFrame:
        """Filter dead rows out of an index-row DataFrame (must carry
        ``tombstone_cols`` + ``src_batch``). A row is live iff no
        tombstone for its key is NEWER than the row (src_batch >=
        t_batch keeps a same-or-later re-add alive). Applying a
        tombstone twice is a no-op — survivors, by definition, are
        the rows it does not kill — which is what makes the physical
        apply during compaction crash-safe: a crash between the fold
        and the d-dir GC just re-applies at the next fold.

        Size assumption behind the ``F.broadcast`` hint: the
        accumulated tombstone set is delete-request-sized (key columns
        only, deduplicated, and physically folded away at every
        compaction — at most ``compact_every`` batches of deletes are
        ever live), so it fits the driver/executor broadcast budget by
        construction. That assumption is ENFORCED, not just assumed:
        the hint is applied only while the live ``d{N}`` dirs total at
        most ``_TOMBSTONE_BROADCAST_MAX_BYTES`` of parquet (a cheap
        local file-size check, no Spark job); an oversized delete
        volume degrades to a plain join and AQE picks the strategy
        instead of the driver OOMing on the broadcast. ``_sized``
        lets a multi-side caller (``live_sides``) pass the measured
        ``_sized_tombstone_dirs()`` result in once instead of
        re-walking the d-dirs per probe side; the measurement is
        identical either way, so the gate decision — and therefore
        the plan — cannot differ between the two paths."""
        dirs, tomb_bytes = (
            _sized if _sized is not None else self._sized_tombstone_dirs()
        )
        if not dirs:
            return df
        from pyspark.sql import functions as F

        key = list(self.tombstone_cols or ())
        tomb = (
            spark.read.parquet(*dirs)
            .groupBy(*key)
            .agg(F.max("t_batch").alias("_t_batch"))
        )
        if tomb_bytes <= _TOMBSTONE_BROADCAST_MAX_BYTES:
            tomb = F.broadcast(tomb)
        return (
            df.join(tomb, key, "left")
            .filter(
                F.col("_t_batch").isNull()
                | (F.col("src_batch") >= F.col("_t_batch"))
            )
            .drop("_t_batch")
        )

    # -- writes ------------------------------------------------------

    def append(self, df: DataFrame, batch_id: int) -> None:
        """Write a batch's contribution as ``b{batch_id}`` (overwrite:
        a replayed batch is idempotent — on a manifest store the
        replay lands on a fresh prefix and the commit re-points the
        logical name, same net view)."""
        name = f"b{batch_id}"
        path = self.store.child(self.index_dir, name)
        df.write.mode("overwrite").parquet(path)
        self.store.commit_entry(self.index_dir, name, path)

    def pending_appends(self) -> int:
        """How many per-batch dirs the read view currently holds.
        Counting the VIEW's b-dirs (not raw dirs) keeps a replay
        idempotent: a recreated-but-superseded b-dir never re-triggers
        a fold."""
        return sum(
            1
            for p in self.visible_dirs()
            if os.path.basename(p).startswith("b")
        )

    def compact(self, spark: SparkSession, batch_id: int) -> None:
        """Fold the current read view into ONE generation
        ``c{batch_id}`` (keyed by the high-water batch id, so a
        compaction attempt REPLAYED AFTER A CRASH — before its
        ``_SUCCESS`` landed — overwrites the same dir and table; a
        completed fold must not be re-run, see :meth:`gen_table`),
        written as an external table BUCKETED by the probe key.
        Ordering is what makes this crash-safe: the new
        generation becomes the read view the moment its ``_SUCCESS``
        lands (visible_dirs switches to it atomically), and only THEN
        are superseded dirs deleted — a crash anywhere leaves either
        the old view or the new one, never a mix.

        The repartition puts each bucket's rows in one task so each
        bucket is ONE file (sorted-by-key: SMJ can also skip the
        index-side sort).

        An ALL-DEAD fold (every visible row killed by tombstones —
        e.g. a full-source takedown) produces an EMPTY generation,
        which the bucketed write materializes with zero part files;
        the fold then persists the schema as a ``_schema.json``
        sidecar so later compactions and fresh sessions can still
        read the (empty) view instead of failing schema inference.
        Symmetrically, the fold READ here tolerates such a
        generation: dirs without data files contribute no rows (only
        c-dirs can be file-less — plain per-batch writes always emit
        a schema-bearing file), and when the WHOLE view is file-less
        the fold input is rebuilt empty from the recovered schema.
        When even that fails (a pre-sidecar index whose catalog entry
        is gone), the fold is skipped: the view is empty either way,
        and leaving the old generation in place just defers the GC to
        a later fold. The common all-dirs-have-data path reads
        exactly as before — ``spark.read.parquet(*vis)`` — so
        non-empty-fold plans are byte-identical."""
        vis = self.visible_dirs()
        if not vis:
            return
        out = self.store.child(self.index_dir, f"c{batch_id}")
        with_data = [p for p in vis if self.store.dir_has_data(p)]
        if with_data:
            # Order-preserving subset of vis: in the common case every
            # dir has data files and this is exactly the pre-round-12
            # spark.read.parquet(*vis) call (plans byte-identical);
            # a file-less generation contributes zero rows either way.
            rows = spark.read.parquet(*with_data)
        else:
            schema = next(
                (
                    s
                    for s in (self._gen_schema(spark, p) for p in vis)
                    if s is not None
                ),
                None,
            )
            if schema is None:
                return
            rows = spark.createDataFrame([], schema)
        if self.tombstone_cols:
            # Physical apply: dead rows never enter the new
            # generation, and the tombstones that killed them can be
            # GC'd below (a replayed b-dir at or below the high-water
            # mark never re-enters the view, so nothing those
            # tombstones covered can resurface).
            rows = self.apply_tombstones(spark, rows)
        (
            rows.repartition(self.n_buckets, *self.bucket_cols)
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(self.n_buckets, *self.bucket_cols)
            .sortBy(*self.bucket_cols)
            .option("path", out)
            .saveAsTable(self.gen_table(batch_id))
        )
        if not self.store.dir_has_data(out):
            # All-dead fold: persist the schema beside the (zero)
            # data files so raw-path reads of this generation keep
            # working. The store writes it atomically (temp + rename
            # locally, PUT on an object store: a crash mid-write must
            # not leave a half-file that poisons every later read —
            # _sidecar_schema also treats an unparseable file as
            # absent, belt and braces) and it lands just after
            # ``_SUCCESS``; a crash between the two leaves a
            # schema-less empty generation, which readers degrade on
            # gracefully (catalog in-session, skip-as-empty in a
            # fresh one) — row-correct either way.
            self.store.write_sidecar(
                out, _SCHEMA_SIDECAR, rows.schema.json()
            )
        # Commit + GC. Everything at or below the new high-water mark
        # is superseded (applied tombstones are folded in). On the
        # Posix store the commit is a no-op (the ``_SUCCESS`` that
        # already landed made the generation the view) and the
        # superseded entries come straight back for physical removal
        # — best-effort, self-healing, a failed delete is retried by
        # the next fold: the pre-seam tail verbatim. On a manifest
        # store the commit is THE atomic swap (one CAS adds the
        # generation and drops the superseded names) and nothing is
        # removed physically — retained manifests keep superseded
        # prefixes readable for snapshot reads until ``vacuum``.
        name = f"c{batch_id}"
        superseded = [
            (n, p)
            for n, p in self.store.list_entries(self.index_dir)
            if n != name
            and (m := re.fullmatch(r"([bcd])(\d+)", n))
            and int(m.group(2)) <= batch_id
        ]
        removable = self.store.commit_generation(
            self.index_dir, name, out, superseded
        )
        for n, p in removable:
            if n.startswith("c"):
                spark.sql(
                    "DROP TABLE IF EXISTS " + self.gen_table(int(n[1:]))
                )
            self.store.remove_entry(self.index_dir, n, p)
