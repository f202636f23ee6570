"""Streaming ingest: two micro-batches through foreachBatch must
converge to the same tables as one batch run (§2.13 semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from graphiti_spark.materialize import materialize_graph
from graphiti_spark.streaming.ingest import stream_episodes
from graphiti_spark.synth import synthesize_episodes
from tests.conftest import SF_SMOKE

TABLES = ["nodes", "uuid_map", "edges", "mentions"]


def _fingerprint(spark, d, name):
    df = spark.read.parquet(f"{d}/{name}")
    cols = sorted(df.columns)
    return sorted(tuple(str(v) for v in r) for r in df.select(*cols).collect())


def test_stream_matches_batch(spark, tmp_path_factory):
    eps = synthesize_episodes(spark, SF_SMOKE).cache()

    batch_dir = str(tmp_path_factory.mktemp("batch_out"))
    materialize_graph(spark, eps, batch_dir)

    # stage the same episodes as two parquet "arrivals"
    in_dir = str(tmp_path_factory.mktemp("stream_in"))
    eps.where(F.col("doc_id") < "doc-000250").coalesce(2).write.mode(
        "append"
    ).parquet(in_dir)
    eps.where(F.col("doc_id") >= "doc-000250").coalesce(2).write.mode(
        "append"
    ).parquet(in_dir)

    out_dir = str(tmp_path_factory.mktemp("stream_out"))
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    q = stream_episodes(
        spark, in_dir, out_dir, ckpt, available_now=True, max_files_per_trigger=2
    )
    q.awaitTermination(300)

    for t in TABLES:
        assert _fingerprint(spark, batch_dir, t) == _fingerprint(spark, out_dir, t), t

