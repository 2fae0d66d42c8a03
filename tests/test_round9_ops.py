"""Round-9 additions: CDC MERGE with schema evolution
(``pipelines/merge.apply_cdc`` + ``cdc_merge_schema_evolution``), the
streaming decontamination gate (``streaming_contamination_gate``) and
SCD2 temporal-enrich boundaries.
"""

from __future__ import annotations


# ------------------------------------------------------------ apply_cdc


def _base(spark):
    return spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, v string, n long"
    )


def test_apply_cdc_update_delete_insert(spark):
    from go_http_data_pipeline_spark.pipelines.merge import apply_cdc

    cdc = spark.createDataFrame(
        [(2, "B", 99, "U"), (3, None, None, "D"), (4, "d", 40, "I")],
        "id long, v string, n long, op string",
    )
    got = {
        r["id"]: (r["v"], r["n"])
        for r in apply_cdc(_base(spark), cdc, key="id").collect()
    }
    assert got == {1: ("a", 10), 2: ("B", 99), 4: ("d", 40)}  # 3 deleted


def test_apply_cdc_schema_evolution_nulls_untouched_rows(spark):
    from go_http_data_pipeline_spark.pipelines.merge import apply_cdc

    cdc = spark.createDataFrame(
        [(2, "B", 99, "x@y", "U")],
        "id long, v string, n long, email string, op string",
    )
    out = apply_cdc(_base(spark), cdc, key="id")
    assert out.columns == ["id", "v", "n", "email"]  # evolved, op dropped
    got = {r["id"]: r["email"] for r in out.collect()}
    assert got == {1: None, 3: None, 2: "x@y"}


def test_apply_cdc_delete_only_batch_never_evolves_values(spark):
    """A delete row's payload columns must not leak into the target:
    only non-D rows are unioned in."""
    from go_http_data_pipeline_spark.pipelines.merge import apply_cdc

    cdc = spark.createDataFrame(
        [(1, "GHOST", 0, "D")], "id long, v string, n long, op string"
    )
    rows = sorted(
        map(tuple, apply_cdc(_base(spark), cdc, key="id").collect())
    )
    assert rows == [(2, "b", 20), (3, "c", 30)]


def test_cdc_merge_schema_evolution_query(spark, sf_dir):
    from go_http_data_pipeline_spark.pipelines.parity import (
        cdc_merge_schema_evolution,
        employees,
    )

    out = cdc_merge_schema_evolution(spark, sf_dir)
    assert out.columns == ["id", "name", "age", "yearsofexp", "salary", "email"]
    rows = {r["id"]: r for r in out.collect()}
    emp = {r["id"]: r for r in employees(spark, sf_dir).collect()}
    assert emp  # fixture sanity
    for eid, e in emp.items():
        if eid % 13 == 0:
            assert eid not in rows  # deleted
        elif eid % 7 == 0:
            r = rows[eid]
            assert r["salary"] == e["salary"] + 5000
            assert r["email"] == f"emp{eid}@corp.example"
        else:
            r = rows[eid]
            assert r["salary"] == e["salary"] and r["email"] is None
    assert set(rows) == {i for i in emp if i % 13 != 0}  # no inserts here


# ---------------------------------------------- streaming contamination gate


def test_streaming_gate_matches_batch_audit(spark, sf_dir):
    """The ingest-time gate must agree doc-for-doc with the batch
    contamination audit: every (doc, bench) pair benchmark_contamination
    reports maps to keep=False with the matching distinct-bench count,
    and every other corpus doc is keep=True with 0 hits."""
    from go_http_data_pipeline_spark.llm.decontam import (
        BENCH_MOD,
        benchmark_contamination,
        streaming_contamination_gate,
    )

    gate = {
        r["doc_id"]: (r["n_bench_hits"], r["keep"])
        for r in streaming_contamination_gate(spark, sf_dir).collect()
    }
    audit: dict[int, int] = {}
    for r in benchmark_contamination(spark, sf_dir).collect():
        audit[r["doc_id"]] = audit.get(r["doc_id"], 0) + 1
    corpus_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(f"doc_id % {BENCH_MOD} != 0")
        .collect()
    }
    assert set(gate) == corpus_ids  # one verdict per corpus doc
    assert audit  # fixture produces at least one contaminated doc
    for doc_id, (n_hits, keep) in gate.items():
        assert n_hits == audit.get(doc_id, 0)
        assert keep == (doc_id not in audit)


# ------------------------------------- SCD2 temporal enrich boundaries


def test_scd2_boundary_event_resolves_to_newer_version(spark, sf_dir):
    """Interval semantics are half-open ([vf, vt)): an event whose
    timestamp equals a version boundary must resolve to the version
    STARTING there, never the one ending there — and every event must
    resolve to exactly one version (the leakage-free property the
    query exists for)."""
    from pyspark.sql import functions as F

    from go_http_data_pipeline_spark.catalog import table
    from go_http_data_pipeline_spark.streaming.core import (
        _SCD2_VERSIONS,
        streaming_scd2_temporal_enrich,
    )

    out = streaming_scd2_temporal_enrich(spark, str(sf_dir))
    ev = table(spark, str(sf_dir), "events")
    # exactly one version per event
    assert out.count() == ev.count()
    assert out.select("event_id").distinct().count() == ev.count()
    # recompute the boundaries the query derives and check that any
    # event landing exactly ON a boundary got the newer version
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    b = ev.agg(F.min(us).alias("mn"), F.max(us).alias("mx")).collect()[0]
    step = (b.mx - b.mn) // _SCD2_VERSIONS + 1
    joined = out.join(
        ev.select("event_id", us.alias("us")), "event_id"
    ).collect()
    on_boundary = 0
    for r in joined:
        expected = (r.us - b.mn) // step
        assert r.version == expected, (r.event_id, r.version, expected)
        if (r.us - b.mn) % step == 0 and r.version > 0:
            on_boundary += 1
        # tier is pure arithmetic on (user_id, version)
        assert r.tier == (r.user_id * 31 + r.version) % 5
