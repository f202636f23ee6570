"""Structured Streaming ingest — the streaming analogue of the batch
pipeline (SURVEY.md §2.13).

The reference has no streaming engine: ``add_episode`` is an
order-sensitive asyncio queue consumer ("each episode is added
sequentially", graphiti_core/graphiti.py:411-414; the REST server
drains an asyncio.Queue one job at a time,
server/graph_service/routers/ingest.py:13-38). Its episode context
window is session state; edge invalidation is its late-data handling.

Spark mapping: ``readStream`` over the episodes table directory →
``foreachBatch`` running the SAME batch pipeline incrementally
(materialize_graph, which resolves each micro-batch against the stored
graph), with all state in the graph tables (exactly how the reference
uses Neo4j as its only state). No watermark: facts arriving out of
event order UPDATE validity intervals (T1/T2 are monotone merges), they
are never dropped.

Exactly-once story: the stream checkpoint gives at-least-once
foreachBatch delivery; the sink's keyed merges + monotone interval
lattice make replays idempotent — together: effectively-once.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from .. import corpus
from ..materialize import materialize_graph
from ..schemas import EPISODES_SCHEMA


def stream_episodes(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    batch_time: str = corpus.BATCH_TIME,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    search_indexes: bool = False,
) -> StreamingQuery:
    """File-source stream of episode parquet → incremental graph
    materialization per micro-batch.

    ``available_now=True`` drains everything currently in the directory
    and stops (the batch-catchup trigger); otherwise the query keeps
    tailing the directory.
    """
    reader = spark.readStream.schema(EPISODES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)

    def process_batch(batch_df, batch_id: int) -> None:
        materialize_graph(
            spark,
            batch_df,
            out_dir,
            batch_time=batch_time,
            search_indexes=search_indexes,
        )

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
