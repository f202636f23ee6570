"""Graph-level API operators completing the reference surface.

- ``facts_as_of``: the bi-temporal payoff — the set of facts true at an
  arbitrary time T (valid_at ≤ T < invalid_at). The reference exposes
  this only implicitly through temporal search filters
  (graphiti_core/search/search_filters.py:84-183); here it is a
  first-class partition-prunable predicate.
- ``add_triplet`` (graphiti_core/graphiti.py:811-849): manual triple
  insert running the same resolution + invalidation machinery as
  extraction — expressed as a tiny episodes-free batch through
  dedupe + bitemporal resolve, merged into the edge table.
- ``episode_subgraph`` (graphiti.py:797-809
  get_nodes_and_edges_by_episode): all nodes + edges attached to an
  episode set.
- ``remove_communities`` (C4, community_operations.py:221-228) and
  ``update_community`` (C6, :292-312): community table maintenance.
- ``pairwise_summary_reduce`` (A7, community_operations.py:153-192):
  the reference's pairwise LLM summary tree-reduction shape with a
  pluggable combiner (deterministic default).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import corpus
from ..schemas import edge_uuid, entity_uuid


def as_of_predicate(t: str) -> Column:
    """Facts true at time t (event-time slice of the bi-temporal
    table). Pure column predicate → pushes into the scan."""
    ts = F.lit(t).cast("timestamp")
    return (F.col("valid_at") <= ts) & (
        F.col("invalid_at").isNull() | (F.col("invalid_at") > ts)
    )


def facts_as_of(edges: DataFrame, t: str) -> DataFrame:
    return edges.where(as_of_predicate(t))


def system_time_predicate(t: str) -> Column:
    """System-time slice: rows the system considered current at t
    (created_at ≤ t < expired_at) — the other axis of bi-temporality."""
    ts = F.lit(t).cast("timestamp")
    return (F.col("created_at") <= ts) & (
        F.col("expired_at").isNull() | (F.col("expired_at") > ts)
    )


def add_triplet(
    edges: DataFrame,
    group_id: str,
    subj_name: str,
    predicate: str,
    obj_name: str,
    fact: str,
    valid_at: str,
    batch_time: str = corpus.BATCH_TIME,
) -> DataFrame:
    """Insert one manual triple through the standard machinery:
    deterministic ids, provenance-free edge row, then bi-temporal
    re-resolution of the touched pair group. Returns the whole new edges
    DataFrame for the caller to persist (``GraphitiSpark.add_triplet``
    is the partition-scoped write, via ``materialize.merge_edges``)."""
    from ..operators.temporal import resolve_bitemporal

    spark = edges.sparkSession
    new = spark.createDataFrame(
        [(group_id, subj_name, predicate, obj_name, fact, valid_at)],
        "group_id string, subj_name string, predicate string, obj_name string, "
        "fact string, valid_at string",
    ).select(
        "group_id",
        entity_uuid(F.col("group_id"), F.col("subj_name")).alias("source_node_uuid"),
        "predicate",
        entity_uuid(F.col("group_id"), F.col("obj_name")).alias("target_node_uuid"),
        F.col("valid_at").cast("timestamp").alias("valid_at"),
        "subj_name",
        "obj_name",
        F.array().cast("array<string>").alias("episodes"),
        "fact",
        F.lit(batch_time).cast("timestamp").alias("created_at"),
        F.lit(None).cast("timestamp").alias("invalid_at"),
        F.lit(None).cast("timestamp").alias("expired_at"),
    )
    new = new.withColumn(
        "uuid",
        edge_uuid(
            F.col("group_id"), F.col("source_node_uuid"), F.col("predicate"),
            F.col("target_node_uuid"), F.col("valid_at"),
        ),
    )
    combined = edges.select(*new.columns).unionByName(new).dropDuplicates(["uuid"])
    return resolve_bitemporal(combined, batch_time=batch_time)


def episode_subgraph(
    doc_ids: list[str],
    nodes: DataFrame,
    edges: DataFrame,
    mentions: DataFrame,
    episode_edges: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Nodes mentioned by + edges evidenced by the given episodes.

    Pass the materialized ``episode_edges`` forward-pointer table (the
    reference's ``episode.entity_edges``, graphiti.py:513 — maintained
    by materialize.merge_edges) to resolve edges via an indexed
    semi-join (a two-column scan with the doc filter pushed to
    parquet); without it the lookup falls back to an ``arrays_overlap``
    scan of the whole edge table."""
    m = mentions.where(F.col("doc_id").isin(doc_ids))
    sub_nodes = nodes.join(
        m.select(F.col("entity_uuid").alias("uuid")).dropDuplicates(), "uuid"
    )
    if episode_edges is not None:
        keys = (
            episode_edges.where(F.col("doc_id").isin(doc_ids))
            .select("uuid")
            .dropDuplicates()
        )
        sub_edges = edges.join(F.broadcast(keys), "uuid", "left_semi")
    else:
        sub_edges = edges.where(
            F.arrays_overlap(
                F.col("episodes"), F.array(*[F.lit(d) for d in doc_ids])
            )
        )
    return sub_nodes, sub_edges


def remove_communities(io) -> None:
    """C4: drop all community state."""
    for t in ("communities", "community_members"):
        if io.exists(t):
            io.delete_where(t, F.lit(True))


def update_community(
    communities: DataFrame,
    membership: DataFrame,
    entity_uuid_value: str,
    entity_name: str,
) -> DataFrame:
    """C6 incremental: fold one entity's name into its community's
    summary, regenerate the community NAME under the same rule
    build_communities uses (lexicographically-first member name — the
    new member can win), and re-embed the touched row's name (the
    reference re-summarizes with an LLM, regenerates the name and
    re-embeds, community_operations.py:292-312). Returns updated
    communities DF."""
    from ..functions.similarity import hash_embed_udf

    target = membership.where(F.col("uuid") == entity_uuid_value).select(
        "group_id", "community"
    )
    out = (
        communities.join(
            F.broadcast(target.withColumnRenamed("community", "c")),
            ["group_id"],
            "left",
        )
        .withColumn("_touched", F.col("community") == F.col("c"))
        .withColumn(
            "summary",
            F.when(
                F.col("_touched"),
                F.concat(F.col("summary"), F.lit(" +"), F.lit(entity_name)),
            ).otherwise(F.col("summary")),
        )
        .withColumn(
            "name",
            F.when(
                F.col("_touched"), F.least(F.col("name"), F.lit(entity_name))
            ).otherwise(F.col("name")),
        )
    )
    if "name_embedding" in communities.columns:
        out = out.withColumn(
            "name_embedding",
            F.when(
                F.col("_touched"), hash_embed_udf(F.col("name"))
            ).otherwise(F.col("name_embedding")),
        )
    return out.drop("c", "_touched")


def pairwise_summary_reduce(
    items: list[str],
    combine: Callable[[str, str], str] | None = None,
) -> str:
    """A7: the reference's tree-reduction over community summaries
    (pairs summarized, odd one carried; community_operations.py:156-176)
    with a pluggable combiner. Deterministic default keeps the sorted
    union of sentences. Driver-side by design: one call per community,
    inputs already reduced to ≤ cluster size."""
    combine = combine or (lambda a, b: " ".join(sorted({a, b})))
    layer = sorted(items)
    while len(layer) > 1:
        nxt = [combine(layer[i], layer[i + 1]) for i in range(0, len(layer) - 1, 2)]
        if len(layer) % 2:
            nxt.append(layer[-1])
        layer = nxt
    return layer[0] if layer else ""
