"""End-to-end episodes → knowledge-graph pipeline.

The batch DAG mirrors the reference's bulk flow
(``Graphiti.add_episode_bulk``, graphiti_core/graphiti.py:540-665:
extract → dedupe nodes → resolve pointers → dedupe edges → save) PLUS
the bi-temporal invalidation stage that bulk mode omits
(add_episode runs it per-episode, graphiti.py:492-505; bulk explicitly
skips it, graphiti.py:573-575) — bringing batch semantics to parity
with the sequential path, resolved as window-ordered merges.

Stages (all lazy DataFrames until materialized):

  episodes ──X1/X3──► triples_raw ──► mentions ──J6──► entities
      │                                                  │ D4+D5
      │                                                  ▼
      └──────────────► resolve_pointers (J1) ◄──── uuid_map
                             │
                             ▼
                      edge dedup (D8: groupBy canonical triple+valid_at,
                      union episode provenance, edges.py:468-469)
                             │
                             ▼
                      resolve_bitemporal (T1/T2/T3)
                             │
                             ▼
            nodes / edges / mentions tables (deterministic uuids)

Resolution (D4+D5) runs on the distinct-name space, which one probe
of the cached ``entities`` frame sizes. Up to
``incremental_local.DRIVER_RESOLVE_NAMES_CAP`` names it runs on the
driver, in the kernel micro-batches use (LSH banding, Jaro-Winkler +
trigram cosine, union-find, canonical pick), and ``uuid_map``,
``entities``, ``duplicates`` and the embedded canonical nodes come
back as Arrow-backed local relations: no Spark job for the resolution
itself, and with the rule-based extractor no Python worker in the
whole build (tests/test_pipeline_paths.py). Above the cap the
distributed LSH self-join, scoring UDFs and components run, and
``hash_embed_udf`` embeds the nodes. Both give the same rows and
schemas (tests/test_pipeline_paths.py).

Scale notes: the only wide operations are (a) the edge-dedup groupBy on
(group_id, src, predicate, dst, valid_at) — high-cardinality key, hot
entities spread across many pairs; (b) the temporal window on
(group_id, pair, class); (c) the tiny distinct-name resolution which is
broadcast back. Extraction is shuffle-free.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import corpus
from .functions.similarity import hash_embed_udf
from .operators.extract import RuleBasedExtractor, extract_mentions, extract_triples
from .operators.resolve import (
    build_uuid_map,
    connected_components,
    distinct_entities,
    duplicate_pairs,
    resolve_pointers,
)
from .operators.temporal import resolve_bitemporal
from .schemas import edge_uuid, entity_uuid
from .synth import synthesize_episodes


@dataclass
class GraphOutput:
    episodes: DataFrame
    triples_raw: DataFrame
    entities: DataFrame
    uuid_map: DataFrame
    nodes: DataFrame
    edges: DataFrame
    mentions: DataFrame
    duplicates: DataFrame | None = None  # IS_DUPLICATE_OF pairs (D10)


# Predicate → relation-domain attribute (X6: typed edge attributes,
# reference resolve_extracted_edge custom fact types,
# edge_operations.py:476-493 — deterministic classification here).
PREDICATE_DOMAIN = {
    "WORKS_FOR": "employment",
    "LEFT_JOB": "employment",
    "CEO_OF": "employment",
    "LIKES": "sentiment",
    "DISLIKES": "sentiment",
    "ACQUIRED": "corporate",
    "PARTNERED_WITH": "corporate",
    "LOCATED_IN": "location",
}


def edge_attributes_col(pred_col: str) -> Column:
    col = None
    for pred, domain in PREDICATE_DOMAIN.items():
        branch = F.create_map(F.lit("relation_domain"), F.lit(domain))
        col = (
            F.when(F.col(pred_col) == pred, branch)
            if col is None
            else col.when(F.col(pred_col) == pred, branch)
        )
    return col.otherwise(F.create_map().cast("map<string,string>"))


def _phrase_col(pred_col: str):
    """predicate → surface phrase (constant-folded when-chain)."""
    col = None
    for name, phrase in corpus.PREDICATES:
        col = (
            F.when(F.col(pred_col) == name, F.lit(phrase))
            if col is None
            else col.when(F.col(pred_col) == name, F.lit(phrase))
        )
    return col.otherwise(F.lit(""))


def dedupe_edges(resolved_triples: DataFrame) -> DataFrame:
    """D8: one edge per (group, src, predicate, dst, valid_at); episode
    provenance unioned (reference keeps the existing edge uuid and
    appends episodes, edge_operations.py:460-469). The fact text is
    regenerated from canonical names so a merged edge has ONE
    deterministic surface form.

    Provenance collection is SALTED two-phase (functions/skew.py): a
    hot entity's triples concentrate a large share of all docs onto a
    few keys, and a single-phase collect_set would put one such key's
    entire doc set on one reducer at 10^12-doc scale."""
    from .functions.skew import salted_collect_set

    g = salted_collect_set(
        resolved_triples,
        key_cols=[
            "group_id", "source_node_uuid", "predicate", "target_node_uuid", "valid_at",
        ],
        value_col="doc_id",
        agg_aliases={"subj_name": F.col("subj_name"), "obj_name": F.col("obj_name")},
    ).withColumnRenamed("doc_ids", "episodes").drop("n_doc_ids")
    fact = F.concat(
        F.col("subj_name"),
        F.lit(" "),
        _phrase_col("predicate"),
        F.lit(" "),
        F.col("obj_name"),
        F.lit(" since "),
        F.year("valid_at").cast("string"),
        F.lit("."),
    )
    return (
        g.withColumn("fact", fact)
        .withColumn("created_at", F.lit(corpus.BATCH_TIME).cast("timestamp"))
        .withColumn("attributes", edge_attributes_col("predicate"))
    )


def duplicate_of_edges(named_pairs: DataFrame, batch_time: str) -> DataFrame:
    """D10: IS_DUPLICATE_OF rows from accepted pairs (group_id, name_a,
    name_b, id_a, id_b), names and ids ordered least-first (reference
    build_duplicate_of_edges, edge_operations.py:66-85). J5's anti-join
    against already-recorded pairs happens at persist time
    (TableIO.merge_upsert keyed on uuid is exactly that)."""
    return (
        named_pairs.withColumn("name", F.lit("IS_DUPLICATE_OF"))
        .withColumn(
            "uuid",
            F.sha2(F.concat_ws("|", F.lit("dup"), F.col("id_a"), F.col("id_b")), 256),
        )
        .withColumn("created_at", F.lit(batch_time).cast("timestamp"))
    )


def _canonical_nodes(uuid_map: DataFrame) -> DataFrame:
    """(group_id, uuid, name, name_embedding): one row per canonical
    node of ``uuid_map``, embedded by ``hash_embed_udf`` (X7)."""
    return (
        uuid_map.select(
            "group_id",
            F.col("canonical_uuid").alias("uuid"),
            F.col("canonical_name").alias("name"),
        )
        .dropDuplicates(["group_id", "uuid"])
        .withColumn("name_embedding", hash_embed_udf(F.col("name")))
    )


def _resolve_on_driver(
    entities: DataFrame, batch_time: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame] | None:
    """Resolve the distinct-name space ``entities`` (group_id, name,
    uuid) with the driver kernel (operators/incremental_local.py), when
    it holds at most ``DRIVER_RESOLVE_NAMES_CAP`` names and its LSH
    candidates fit ``DRIVER_PAIR_CAP``; else None, and the distributed
    path runs. Returns (entities, uuid_map, duplicates, canonical nodes)
    as Arrow-backed local relations with the distributed path's schemas
    and rows; the nodes are embedded here by ``_embed_batch``, the
    function ``hash_embed_udf`` runs, so no Python worker starts."""
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        StringType,
        StructField,
        StructType,
    )

    from .functions.similarity import EMBED_DIM, _embed_batch
    from .operators import incremental_local as L
    from .session import local_frame

    cap = L.DRIVER_RESOLVE_NAMES_CAP
    rows = entities.limit(cap + 1).collect()
    if len(rows) > cap:
        return None
    vertices = [(r.group_id, r.uuid, r.name) for r in rows]
    try:
        pairs, map_rows = L.resolve_local(vertices)
    except L.FallbackToSpark:
        return None
    name_of = {u: n for _g, u, n in vertices}
    dup_rows = [
        (g, *sorted((name_of[a], name_of[b])), a, b) for g, a, b in pairs
    ]
    canon = sorted({(g, cu, cn) for g, _u, _n, cu, cn in map_rows})
    embeddings = _embed_batch(pd.Series([cn for _g, _cu, cn in canon]), EMBED_DIM)
    node_rows = [(*c, e) for c, e in zip(canon, embeddings)]

    # group_id keeps the input's nullability, as it does through the
    # distributed path's joins; every other resolved column is nullable
    def schema(*cols: str) -> StructType:
        return StructType(
            [entities.schema["group_id"]]
            + [StructField(c, StringType()) for c in cols]
        )

    spark = entities.sparkSession
    return (
        local_frame(spark, rows, entities.schema),
        local_frame(
            spark, map_rows,
            schema("uuid", "name", "canonical_uuid", "canonical_name"),
        ),
        duplicate_of_edges(
            local_frame(spark, dup_rows, schema("name_a", "name_b", "id_a", "id_b")),
            batch_time,
        ),
        local_frame(
            spark, node_rows,
            schema("uuid", "name").add("name_embedding", ArrayType(FloatType())),
        ),
    )


def run_pipeline(
    spark: SparkSession,
    episodes: DataFrame,
    extractor: RuleBasedExtractor | None = None,
    batch_time: str = corpus.BATCH_TIME,
    extra_entity_names: DataFrame | None = None,
    entity_types=None,
    excluded_entity_types: list[str] | None = None,
    near_dup_fact_threshold: float | None = None,
    resolver=None,
) -> GraphOutput:
    """``extra_entity_names`` (group_id, name): the EXISTING graph's
    entity surface forms. Incremental batches resolve new mentions
    against them (the reference's resolve_extracted_nodes searches the
    existing graph, node_operations.py:229-338) so cross-batch
    duplicates land in one component and the uuid_map stays global.

    ``entity_types`` / ``excluded_entity_types``: custom ontology
    (operators/ontology.py) — excluded types are dropped post-
    classification, before resolution (P6).

    ``near_dup_fact_threshold``: enable fact-embedding near-duplicate
    edge merging within endpoint-pair groups (D6/D8 LLM judgment,
    reference search_utils.py:781-848 / edge_operations.py:460-469 —
    see operators/resolve.merge_near_duplicate_facts). Off by default:
    the deterministic extractor regenerates fact text, so exact triple
    dedup already collapses surface variants.

    ``resolver``: optional callable ``mentions_raw -> (uuid_map,
    entities)`` replacing the global resolution front-end (distinct →
    LSH pairs → components → map). Used by the incremental write path
    (operators/incremental.py) to resolve a micro-batch against ONLY
    the LSH-collided neighborhood of the existing graph — the
    reference's resolve_extracted_nodes shape
    (node_operations.py:229-338) — instead of re-clustering the whole
    entity space. With a resolver, ``duplicates`` (D10 pairs) is None:
    the restricted pair set is an implementation detail of the merge,
    not the global IS_DUPLICATE_OF ledger."""
    from .operators.ontology import classify, exclude_entity_types

    # triples_raw feeds four downstream branches (mentions, entities,
    # two pointer-rewrite joins) — persist it so extraction runs once.
    # On a real cluster this is the stage-checkpoint table the north
    # rule's resumability requires (see io.tables.TableIO).
    triples_raw = extract_triples(episodes, extractor).persist()
    mentions_raw = extract_mentions(triples_raw)

    excluded = excluded_entity_types or []
    if excluded:
        mentions_raw = exclude_entity_types(mentions_raw, excluded, entity_types)
        # edges touching an excluded endpoint are dropped with it
        # (the reference's unresolved-pointer guard,
        # edge_operations.py:197-203)
        from .operators.ontology import DEFAULT_ENTITY_TYPES

        types = entity_types if entity_types is not None else DEFAULT_ENTITY_TYPES
        triples_raw = triples_raw.where(
            ~classify(F.col("subj_name"), types).isin(excluded)
            & ~classify(F.col("obj_name"), types).isin(excluded)
        )

    if resolver is not None:
        uuid_map, entities = resolver(mentions_raw)
        uuid_map = uuid_map.cache()
        entities = entities.cache()
        duplicates = None
        nodes_base = _canonical_nodes(uuid_map)
    else:
        mention_names = mentions_raw
        if extra_entity_names is not None:
            mention_names = mentions_raw.select("group_id", "name").unionByName(
                extra_entity_names.select("group_id", "name")
            )
        # Resolution runs on the distinct-name space (orders of magnitude
        # smaller than the corpus); cache it — one probe decides the
        # strategy, and above the cap it feeds LSH, components and the
        # canonical-node projection.
        entities = distinct_entities(mention_names).cache()
        local = _resolve_on_driver(entities, batch_time)
        if local is not None:
            entities.unpersist()
            entities, uuid_map, duplicates, nodes_base = local
        else:
            pairs = duplicate_pairs(entities)
            comps = connected_components(entities, pairs)
            uuid_map = build_uuid_map(entities, comps).cache()
            names = entities.select("uuid", "name")
            duplicates = duplicate_of_edges(
                pairs.join(names.select(F.col("uuid").alias("id_a"), F.col("name").alias("name_a")), "id_a")
                .join(names.select(F.col("uuid").alias("id_b"), F.col("name").alias("name_b")), "id_b")
                .select(
                    "group_id",
                    F.least("name_a", "name_b").alias("name_a"),
                    F.greatest("name_a", "name_b").alias("name_b"),
                    F.least("id_a", "id_b").alias("id_a"),
                    F.greatest("id_a", "id_b").alias("id_b"),
                ),
                batch_time,
            )
            nodes_base = _canonical_nodes(uuid_map)

    resolved = resolve_pointers(
        triples_raw.withColumn("source_node_uuid", F.lit(None).cast("string")),
        uuid_map,
        "source_node_uuid",
        "subj_name",
    )
    resolved = resolve_pointers(
        resolved.withColumn("target_node_uuid", F.lit(None).cast("string")),
        uuid_map,
        "target_node_uuid",
        "obj_name",
    )
    # Self-loop filter P8 (endpoints can collapse after canonicalization;
    # reference drops src==dst pairs, bulk_utils.py:469-471).
    resolved = resolved.where(F.col("source_node_uuid") != F.col("target_node_uuid"))

    deduped = dedupe_edges(resolved)
    if near_dup_fact_threshold is not None:
        from .operators.resolve import merge_near_duplicate_facts

        deduped = deduped.withColumn(
            "uuid",
            edge_uuid(
                F.col("group_id"), F.col("source_node_uuid"), F.col("predicate"),
                F.col("target_node_uuid"), F.col("valid_at"),
            ),
        )
        deduped = merge_near_duplicate_facts(
            deduped, threshold=near_dup_fact_threshold
        ).drop("uuid")
    edges = resolve_bitemporal(deduped, batch_time=batch_time)
    edges = edges.withColumn(
        "uuid",
        edge_uuid(
            F.col("group_id"),
            F.col("source_node_uuid"),
            F.col("predicate"),
            F.col("target_node_uuid"),
            F.col("valid_at"),
        ),
    )

    # MENTIONS episodic edges: episode × canonical entity, distinct
    # (reference build_episodic_edges, edge_operations.py:46-63).
    # Dedup is a 4-column distinct, NOT dropDuplicates([doc_id,
    # entity_uuid]): canonical name is functional per entity_uuid (by
    # build_uuid_map construction), so the result set is identical —
    # but dropDuplicates carries string payload aggregates
    # (first(name)), whose agg buffer is not hash-aggregable, forcing
    # SortAggregate = two full sorts of the pre-dedup mention set.
    # Pure distinct keeps it a HashAggregate with map-side partial
    # dedup, and matches the oracle (q_mentions_table SELECT DISTINCT)
    # deterministically instead of via arbitrary first().
    speaker_m = resolve_pointers(mentions_raw, uuid_map, "entity_uuid", "name")
    mentions = (
        speaker_m.select("doc_id", "group_id", F.col("entity_uuid"), F.col("name"))
        .distinct()
        .withColumn(
            "uuid",
            F.sha2(
                F.concat_ws("|", F.lit("mention"), F.col("doc_id"), F.col("entity_uuid")),
                256,
            ),
        )
        .withColumn("created_at", F.lit(batch_time).cast("timestamp"))
    )

    # Canonical nodes: distinct canonical members of every component +
    # hash name-embedding (X7) + ontology enrichment (X4: type labels,
    # typed attributes, deterministic summary — operators/ontology.py).
    from .operators.ontology import enrich_nodes

    nodes = enrich_nodes(
        nodes_base.withColumn("created_at", F.lit(batch_time).cast("timestamp")),
        mentions,
        entity_types,
    )

    return GraphOutput(
        episodes=episodes,
        triples_raw=triples_raw,
        entities=entities,
        uuid_map=uuid_map,
        nodes=nodes,
        edges=edges,
        mentions=mentions,
        duplicates=duplicates,
    )


def run_on_sf(spark: SparkSession, sf_dir: str, replicas: int = 1) -> GraphOutput:
    eps = synthesize_episodes(spark, sf_dir, replicas=replicas)
    return run_pipeline(spark, eps)
