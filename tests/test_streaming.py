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


def test_stateful_context_window_matches_batch(spark, tmp_path_factory):
    """applyInPandasWithState context windows: per-group state carries
    the trailing episode window across micro-batches; with arrival
    order == event order the result equals the batch window op
    (J10, operators/maintenance.with_previous_episode_context)."""
    from graphiti_spark.operators.maintenance import with_previous_episode_context
    from graphiti_spark.streaming.stateful import stream_context_windows
    from graphiti_spark.synth import synthesize_episodes
    from tests.conftest import SF_SMOKE

    eps = synthesize_episodes(spark, SF_SMOKE).select(
        "doc_id", "group_id", "valid_at", "spans"
    )
    # two files in global valid_at order → arrival order == event order
    ordered = eps.orderBy("valid_at", "doc_id").collect()
    half = len(ordered) // 2
    in_dir = str(tmp_path_factory.mktemp("ctx_in"))
    import os

    schema = eps.schema
    for i, chunk in enumerate((ordered[:half], ordered[half:])):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(in_dir, f"batch{i}"))
    # the file source reads a flat dir; move part files up
    flat = str(tmp_path_factory.mktemp("ctx_flat"))
    n = 0
    for i in range(2):
        d = os.path.join(in_dir, f"batch{i}")
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(d, f), os.path.join(flat, f"{i:02d}-{n}.parquet")
                )
                n += 1

    out_dir = str(tmp_path_factory.mktemp("ctx_out"))
    ck = str(tmp_path_factory.mktemp("ctx_ck"))
    q = stream_context_windows(
        spark, flat, out_dir, ck, max_files_per_trigger=1
    )
    q.awaitTermination(120)

    got = {
        r.doc_id: list(r.previous_episode_ids)
        for r in spark.read.parquet(out_dir).collect()
    }
    expect = {
        r.doc_id: list(r.previous_episode_ids)
        for r in with_previous_episode_context(eps).collect()
    }
    assert got == expect
