"""Degenerate inputs: empty batch, batch-of-one (the reference's
add_episode single-row shape), corpus with no duplicates — the pipeline
must degrade gracefully, never crash."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from graphiti_spark.pipeline import run_pipeline
from graphiti_spark.schemas import EPISODES_SCHEMA


def _episodes(spark, rows):
    return spark.createDataFrame(rows, EPISODES_SCHEMA)


def _row(doc_id, text, group="g0"):
    return (
        doc_id, group, f"ep {doc_id}", "message", None,
        [("text", text, "", 0)],
        datetime.datetime(2025, 1, 1),
        datetime.datetime(2024, 1, 1),
    )


def test_empty_batch(spark):
    out = run_pipeline(spark, _episodes(spark, []))
    assert out.triples_raw.count() == 0
    assert out.nodes.count() == 0
    assert out.edges.count() == 0
    assert out.mentions.count() == 0
    assert out.duplicates.count() == 0


def test_batch_of_one(spark):
    # the reference's add_episode: one episode through the full DAG
    out = run_pipeline(
        spark,
        _episodes(spark, [_row("d1", "Alice: Globex acquired Hooli since 2020.")]),
    )
    edges = out.edges.collect()
    assert len(edges) == 1
    e = edges[0]
    assert (e.subj_name, e.predicate, e.obj_name) == ("Globex", "ACQUIRED", "Hooli")
    assert e.episodes == ["d1"]
    assert out.nodes.count() == 3  # Alice (speaker), Globex, Hooli
    assert out.mentions.count() == 3


def test_unparseable_text_yields_nothing(spark):
    out = run_pipeline(
        spark, _episodes(spark, [_row("d1", "completely unstructured text")])
    )
    assert out.triples_raw.count() == 0
    assert out.edges.count() == 0


def test_no_duplicates_corpus(spark):
    out = run_pipeline(
        spark,
        _episodes(
            spark,
            [
                _row("d1", "Alice: Globex acquired Hooli since 2020."),
                _row("d2", "Bob: Umbrella likes Soylent since 2021."),
            ],
        ),
    )
    assert out.duplicates.count() == 0
    m = {r.name: r.canonical_name for r in out.uuid_map.collect()}
    assert all(k == v for k, v in m.items())


def test_curation_ops_degenerate_inputs(spark):
    """``evaluate.triple_prf`` must degrade gracefully on empty
    inputs — no crash, an empty metric frame."""
    from graphiti_spark.operators.evaluate import triple_prf

    # triple_prf: both sides empty → empty metric frame (no groups)
    t = spark.createDataFrame([], "group_id string, doc_id string, subj string")
    assert triple_prf(t, t, keys=["doc_id", "subj"]).count() == 0
