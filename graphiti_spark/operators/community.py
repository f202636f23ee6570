"""Community detection (reference §2.9): label propagation + summaries.

Reference semantics (graphiti_core/utils/maintenance/community_operations.py):
- C2/A5 weighted projection: per (group, node) the neighbor edge
  multiplicity (:49-64), symmetrized.
- C1 synchronous LPA (:79-124): init community=self; each node adopts
  the plurality neighbor community weighted by edge count; iterate to
  fixpoint (reference caps nothing; we cap + early-exit).
- C3 build_communities (:127-218): per cluster a summary reduce + name;
  the reference uses pairwise LLM summarization (A7) — here the
  summarizer is a pluggable pure function, default = deterministic
  concatenation of member names (same tree-reduction shape is possible
  inside a grouped pandas UDF when an LLM client is plugged in).
- C5 determine_entity_community (:231-289): mode over 1-hop neighbor
  communities.

Scale notes: every LPA round is one shuffle keyed by node uuid;
localCheckpoint truncates lineage per round; convergence is detected
with a limit(1) existence probe, not a full count. Hot-entity skew in
the adjacency is bounded because the projection collapses edge
multiplicity into a weight (one row per neighbor pair).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..schemas import entity_uuid

MAX_LPA_ITERS = 20


def weighted_projection(edges: DataFrame) -> DataFrame:
    """A5: (group_id, src, dst, weight) with both directions present;
    weight = RELATES_TO multiplicity between the pair."""
    pairs = edges.select(
        "group_id",
        F.col("source_node_uuid").alias("src"),
        F.col("target_node_uuid").alias("dst"),
    )
    sym = pairs.union(
        pairs.select("group_id", F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return sym.groupBy("group_id", "src", "dst").agg(F.count(F.lit(1)).alias("weight"))


def label_propagation(
    nodes: DataFrame, adjacency: DataFrame, max_iters: int = MAX_LPA_ITERS
) -> DataFrame:
    """C1: returns (group_id, uuid, community) — community is the
    converged label (min label of the plurality choice chain).

    Tie-breaking mirrors the reference (community_operations.py:103-110):
    highest neighbor weight-sum wins; equal weight → larger community
    label wins.
    """
    labels = nodes.select("group_id", "uuid", F.col("uuid").alias("community"))
    labels = labels.localCheckpoint(eager=True)
    for _ in range(max_iters):
        nbr = (
            adjacency.join(
                labels.select(
                    F.col("uuid").alias("dst"), F.col("community").alias("nbr_comm")
                ),
                "dst",
            )
            .groupBy("group_id", "src", "nbr_comm")
            .agg(F.sum("weight").alias("w"))
        )
        best = (
            nbr.groupBy("group_id", "src")
            .agg(
                F.max_by(
                    F.col("nbr_comm"), F.struct(F.col("w"), F.col("nbr_comm"))
                ).alias("new_comm")
            )
            .withColumnRenamed("src", "uuid")
        )
        new_labels = (
            labels.join(best.select("uuid", "new_comm"), "uuid", "left")
            .select(
                "group_id",
                "uuid",
                F.coalesce("new_comm", "community").alias("community"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), ["group_id", "uuid"])
            .where(F.col("n.community") != F.col("o.community"))
            .limit(1)
            .isEmpty()
        )
        labels = new_labels
        if changed:
            break
    # canonical community id: min member label within the community
    # (stabilizes oscillating sync-LPA labels into a deterministic id)
    canon = labels.groupBy("group_id", "community").agg(
        F.min("uuid").alias("community_id")
    )
    return labels.join(canon, ["group_id", "community"]).select(
        "group_id", "uuid", F.col("community_id").alias("community")
    )


def detect_communities(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """C2: projection + LPA over all nodes that have edges; isolated
    nodes form singleton communities."""
    adj = weighted_projection(edges)
    return label_propagation(nodes.select("group_id", "uuid"), adj)


def build_communities(
    membership: DataFrame,
    nodes: DataFrame,
    batch_time: str,
    summarizer=None,
) -> tuple[DataFrame, DataFrame]:
    """C3: (communities, community_members) tables.

    Community name = first member name (sorted); summary = pluggable
    (``summarizer``: a functions.summarize.Summarizer — the default
    keeps the deterministic roster sentence; UdfSummarizer runs any
    LLM client executor-side over the same context); uuid = sha2 of
    group + community id. Communities carry a ``name_embedding`` (the
    reference embeds community names, nodes.py:415-417,
    community_operations.py:188-192) so the V3 community-similarity
    lane (search_utils.py:561-609) runs directly on this output.
    """
    from ..functions.similarity import hash_embed_udf
    from ..functions.summarize import DeterministicSummarizer

    summarizer = summarizer or DeterministicSummarizer()
    members = membership.join(
        nodes.select("uuid", "name"), "uuid"
    )
    agg = members.groupBy("group_id", "community").agg(
        F.sort_array(F.collect_list("name")).alias("names"),
        F.count(F.lit(1)).alias("n_members"),
    )
    communities = agg.select(
        F.sha2(
            F.concat_ws("|", F.lit("community"), F.col("group_id"), F.col("community")),
            256,
        ).alias("uuid"),
        "group_id",
        F.element_at("names", 1).alias("name"),
        summarizer.summarize(
            F.concat(F.lit("Community of: "), F.array_join("names", ", "))
        ).alias("summary"),
        F.lit(batch_time).cast("timestamp").alias("created_at"),
        "community",
        "n_members",
    ).withColumn("name_embedding", hash_embed_udf(F.col("name")))
    community_members = (
        membership.select(
            "group_id",
            F.col("uuid").alias("entity_uuid"),
            F.sha2(
                F.concat_ws(
                    "|", F.lit("community"), F.col("group_id"), F.col("community")
                ),
                256,
            ).alias("community_uuid"),
        )
        .withColumn(
            "uuid",
            F.sha2(
                F.concat_ws(
                    "|", F.lit("member"), F.col("community_uuid"), F.col("entity_uuid")
                ),
                256,
            ),
        )
        .withColumn("created_at", F.lit(batch_time).cast("timestamp"))
    )
    return communities, community_members


def determine_entity_community(
    entity_uuids: DataFrame, membership: DataFrame, edges: DataFrame
) -> DataFrame:
    """C5: for each entity, its community = existing membership, else
    the mode over 1-hop neighbors' communities."""
    existing = entity_uuids.join(
        membership.select("uuid", "community"), "uuid", "left"
    )
    missing = existing.where(F.col("community").isNull()).select("uuid")
    adj = weighted_projection(edges).select("src", "dst")
    nbr_comm = (
        missing.join(adj, missing["uuid"] == adj["src"])
        .join(
            membership.select(F.col("uuid").alias("dst"), F.col("community").alias("c")),
            "dst",
        )
        .groupBy("uuid", "c")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("uuid").orderBy(F.desc("n"), F.desc("c"))
    inferred = (
        nbr_comm.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("uuid", F.col("c").alias("inferred"))
    )
    return (
        existing.join(inferred, "uuid", "left")
        .select("uuid", F.coalesce("community", "inferred").alias("community"))
    )
