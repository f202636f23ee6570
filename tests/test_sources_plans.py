"""Input validation (sources) + plan inspection (plans) helpers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphiti_spark.operators.extract import text_spans
from graphiti_spark.operators.temporal import resolve_bitemporal
from graphiti_spark.plans.explain import scan_summary
from graphiti_spark.sources.episodes import (
    InvalidEpisodesInput,
    span_violations,
    validated,
)
from graphiti_spark.synth import synthesize_episodes
from tests.conftest import SF_SMOKE


def test_validated_accepts_synth(spark):
    eps = synthesize_episodes(spark, SF_SMOKE)
    assert validated(eps) is eps


def test_validated_rejects_missing_columns(spark):
    bad = spark.createDataFrame([("d",)], "doc_id string")
    with pytest.raises(InvalidEpisodesInput, match="missing columns"):
        validated(bad)


def test_validated_rejects_wrong_span_struct(spark):
    eps = synthesize_episodes(spark, SF_SMOKE).withColumn(
        "spans", F.expr("transform(spans, s -> struct(s.kind as kind, s.text as text))")
    )
    with pytest.raises(InvalidEpisodesInput, match="span struct fields"):
        validated(eps)


def test_span_violations_empty_on_valid_input(spark):
    eps = synthesize_episodes(spark, SF_SMOKE)
    assert span_violations(eps).count() == 0


def test_span_violations_detects_bad_offsets(spark):
    eps = synthesize_episodes(spark, SF_SMOKE).withColumn(
        "spans",
        F.expr(
            "transform(spans, s -> struct(s.kind, s.text, s.media_ref, "
            "s.offset + 1 as offset))"
        ),
    )
    assert span_violations(eps).count() > 0


def test_scan_summary_of_text_spans(spark):
    eps = synthesize_episodes(spark, SF_SMOKE)
    s = scan_summary(text_spans(eps))
    assert s.n_scans == 1
    assert s.read_schemas == ["struct<doc_id:bigint>"]  # column pruning
    assert s.python_stages == []                        # no python pre-UDF
    assert s.has_whole_stage_codegen


def test_temporal_plan_has_no_python(spark):
    e = spark.createDataFrame(
        [("g0", "a", "b", "LIKES", "2020-01-01")],
        "group_id string, source_node_uuid string, target_node_uuid string, "
        "predicate string, va string",
    ).withColumn("valid_at", F.col("va").cast("timestamp")).drop("va")
    scan_summary(resolve_bitemporal(e)).assert_no_python()


def test_mentions_dedup_hash_aggregates(spark, monkeypatch):
    """The MENTIONS dedup is a 4-column distinct so it compiles to a
    HashAggregate with a map-side partial; dropDuplicates([doc_id,
    entity_uuid]) would carry first(name) string payloads whose agg
    buffer is not hash-aggregable, forcing SortAggregate = two full
    sorts of the pre-dedup mention set (~3 rows per triple). The
    triples cap is set to 0 so that the graph stages run in Spark, as
    they do above it; under it the mentions are a local relation."""
    from graphiti_spark.operators import local_graph
    from graphiti_spark.pipeline import run_on_sf

    monkeypatch.setattr(local_graph, "DRIVER_GRAPH_TRIPLES_CAP", 0)
    out = run_on_sf(spark, SF_SMOKE)
    plan = out.mentions._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan.split("SortMergeJoin")[0], (
        "mentions dedup fell off HashAggregate"
    )
    assert "HashAggregate" in plan


def test_duplicate_spans_plan_shape(spark):
    """duplicate_spans must (a) key its dup-count groupBy on the md5
    hash with a map-side partial (HashAggregate, no SortAggregate),
    (b) reduce grams to hashes INSIDE the scan projection so gram text
    never rides a shuffle, and (c) share one doc_id Exchange between
    the two island windows and the final per-island groupBy."""
    from graphiti_spark.operators.docops import duplicate_spans
    from graphiti_spark.plans.explain import physical_plan, scan_summary

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    df = duplicate_spans(docs)
    s = scan_summary(df)
    s.assert_no_python()
    plan = physical_plan(df)
    assert "SortAggregate" not in plan
    # every scan reads only the two needed columns (pruning holds even
    # though the corpus is deliberately scanned twice: recompute beats
    # materializing the exploded gram set at 100 TB)
    assert all("text" in rs for rs in s.read_schemas)
    assert not any("lang" in rs or "n_chars" in rs for rs in s.read_schemas)
    # the md5 is computed in the explode projection, pre-shuffle: the
    # plan prints root-first, so splitting on Exchange puts each
    # shuffle's INPUT subtree in the segment that also holds its leaf
    # scan — every segment computing the gram hash must be such a
    # scan-side segment (hash computed below the Exchange, gram text
    # never riding a shuffle)
    hash_segs = [
        s for s in plan.split("Exchange") if "md5" in s or "array_join" in s
    ]
    assert hash_segs and all("Scan" in s for s in hash_segs)


def test_source_cap_plan_window_group_limit(spark):
    """source_cap's two-phase rank must compile to WindowGroupLimit
    (map-side partial top-k) around each Exchange — the plan evidence
    that a hot domain's shuffle volume is bounded by cap per task, not
    by the domain's row count."""
    from graphiti_spark.operators.docops import source_cap
    from graphiti_spark.plans.explain import physical_plan, scan_summary

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    df = source_cap(docs)
    scan_summary(df).assert_no_python()
    plan = physical_plan(df)
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_containment_plan_no_arrays_in_gram_join(spark):
    """containment_pairs' gram join must carry only (gram, id) — the
    shingle ARRAYS re-join by id for the verify stage only (array
    payloads in the exploded join would multiply shuffle bytes by the
    doc length and break hash aggregation); no Python anywhere."""
    from graphiti_spark.operators.docops import containment_pairs
    from graphiti_spark.plans.explain import physical_plan, scan_summary

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    df = containment_pairs(docs, threshold=0.8)
    scan_summary(df).assert_no_python()
    plan = physical_plan(df)
    # candidate-side dedup stays hash-aggregable (no array in the key)
    assert "SortAggregate" not in plan.split("SortMergeJoin")[0]


def test_dedup_keep_best_plan_window_group_limit(spark):
    """The per-cluster best pick must compile to WindowGroupLimit
    (map-side top-1 per cluster) so a huge near-dup cluster forwards
    one row per task, not its whole membership."""
    from graphiti_spark.operators.docops import dedup_keep_best
    from graphiti_spark.plans.explain import physical_plan

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = physical_plan(dedup_keep_best(docs, threshold=0.5))
    assert "WindowGroupLimit" in plan
