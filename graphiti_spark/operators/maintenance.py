"""Maintenance / CRUD operators (reference §2.1 S6, S8, §2.6 T6).

- S6 keyset pagination (graphiti_core/nodes.py:232-253, uuid-desc
  cursor).
- S8 delete/cascade: remove_episode deletes edges created by the
  episode and entities mentioned ONLY by it (count==1 orphan check,
  graphiti_core/graphiti.py:851-886).
- T6 point-in-time episode retrieval (graph_data_operations.py:86-153):
  valid_at <= reference_time, newest last_n, chronological order.
- J10 episode context window (bulk_utils.py:77-92): previous
  EPISODE_WINDOW_LEN episodes per episode as ONE window pass (the
  reference runs N queries).

All pure DataFrame algebra; deletes return the filtered frames for the
caller to persist via TableIO.merge/write (Iceberg MERGE-DELETE at
scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

EPISODE_WINDOW_LEN = 3       # graph_data_operations.py:27
RELEVANT_SCHEMA_LIMIT = 10   # search_utils.py:57


def get_by_group_ids(
    df: DataFrame,
    group_ids: list[str],
    limit: int | None = None,
    cursor_uuid: str | None = None,
    uuid_col: str = "uuid",
) -> DataFrame:
    """Keyset pagination: uuid < cursor, ORDER BY uuid DESC LIMIT n
    (nodes.py:232-253)."""
    out = df.where(F.col("group_id").isin(group_ids))
    if cursor_uuid is not None:
        out = out.where(F.col(uuid_col) < cursor_uuid)
    out = out.orderBy(F.desc(uuid_col))
    if limit is not None:
        out = out.limit(limit)
    return out


def retrieve_episodes(
    episodes: DataFrame,
    reference_time,
    last_n: int = EPISODE_WINDOW_LEN,
    group_ids: list[str] | None = None,
) -> DataFrame:
    """T6: newest last_n episodes with valid_at <= reference_time,
    returned in chronological order."""
    out = episodes.where(F.col("valid_at") <= F.lit(reference_time))
    if group_ids:
        out = out.where(F.col("group_id").isin(group_ids))
    newest = out.orderBy(F.desc("valid_at"), F.desc("doc_id")).limit(last_n)
    return newest.orderBy("valid_at", "doc_id")


def with_previous_episode_context(
    episodes: DataFrame, window_len: int = EPISODE_WINDOW_LEN
) -> DataFrame:
    """J10: each episode + its previous ≤window_len episode doc_ids per
    group by valid_at — one window pass instead of N point queries."""
    w = (
        Window.partitionBy("group_id")
        .orderBy("valid_at", "doc_id")
        .rowsBetween(-window_len, -1)
    )
    return episodes.withColumn(
        "previous_episode_ids", F.collect_list("doc_id").over(w)
    )


def remove_episode(
    episode_doc_id: str,
    episodes: DataFrame,
    edges: DataFrame,
    mentions: DataFrame,
    nodes: DataFrame,
) -> dict[str, DataFrame]:
    """S8 cascade (graphiti.py:851-886):
    - drop the episode row;
    - drop edges whose ONLY provenance is this episode; strip it from
      shared edges' provenance;
    - drop entities mentioned by no other episode (count==1 orphan
      check, graphiti.py:869-876) + their mention rows.
    Returns the new table states.
    """
    new_episodes = episodes.where(F.col("doc_id") != episode_doc_id)

    # drop only edges whose provenance BECOMES empty by losing this
    # episode — manual edges (add_triplet) legitimately carry an empty
    # provenance array and must survive
    new_edges = (
        edges.withColumn("_had", F.array_contains("episodes", episode_doc_id))
        .withColumn(
            "episodes", F.array_remove(F.col("episodes"), episode_doc_id)
        )
        .where(~F.col("_had") | (F.size("episodes") > 0))
        .drop("_had")
    )

    mention_counts = mentions.groupBy("entity_uuid").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("doc_id") == episode_doc_id, 1).otherwise(0)
        ).alias("n_here"),
    )
    orphan = mention_counts.where(
        (F.col("n") == F.col("n_here")) & (F.col("n_here") > 0)
    ).select("entity_uuid")
    new_nodes = nodes.join(
        orphan.withColumnRenamed("entity_uuid", "uuid"), "uuid", "left_anti"
    )
    new_mentions = mentions.where(F.col("doc_id") != episode_doc_id)
    return {
        "episodes": new_episodes,
        "edges": new_edges,
        "mentions": new_mentions,
        "nodes": new_nodes,
    }
