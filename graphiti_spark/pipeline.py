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

A global build takes the first of three paths that fits, each falling
to the next; all three give the same schemas and rows
(tests/test_pipeline_paths.py, tests/test_local_graph.py):

1. Whole graph on the driver: at most
   ``local_graph.DRIVER_GRAPH_TRIPLES_CAP`` raw triples, at most
   ``incremental_local.DRIVER_RESOLVE_NAMES_CAP`` distinct surface
   forms and LSH candidates within ``DRIVER_PAIR_CAP``. ``triples_raw``
   and ``mentions_raw`` are collected once each through Arrow;
   resolution runs in the kernel micro-batches use (LSH banding,
   Jaro-Winkler + trigram cosine, union-find, canonical pick), and the
   pointer rewrite, edge dedup, bi-temporal invalidation, mentions and
   episode counts run in operators/local_graph.py. Every resolved frame
   is a local relation that the Spark path's own column expressions
   (fact text, uuids, timestamps, ontology typing) finish on the
   driver: after the extraction no shuffle, aggregate, window or join
   runs, and a build drained table by table is 8 Spark jobs.
2. Driver resolution, graph stages in Spark: more raw triples, names
   still under the caps. One distinct (group_id, name) probe feeds the
   same kernel; ``uuid_map``, ``entities``, ``duplicates`` and the
   embedded canonical nodes are local relations, and the DAG above
   runs in Spark from J1 on.
3. Distributed: the LSH self-join, scoring UDFs and components, with
   ``hash_embed_udf`` embedding the nodes.

With the rule-based extractor no Python worker starts on paths 1 and
2. A micro-batch's ``resolver`` always takes the graph stages in Spark.

Scale notes: on paths 2 and 3 the only wide operations are (a) the
edge-dedup groupBy on (group_id, src, predicate, dst, valid_at) —
high-cardinality key, hot entities spread across many pairs; (b) the
temporal window on (group_id, pair, class); (c) the tiny distinct-name
resolution which is broadcast back. Extraction is shuffle-free.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

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
from .schemas import edge_uuid
from .session import local_frame
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
    # every frame run_pipeline persisted for this output
    cached: list[DataFrame] = field(default_factory=list, repr=False)

    def release(self) -> None:
        """Unpersist every frame the build cached: the extraction, even
        where ``triples_raw`` is a filter over it, and the resolution
        frames of the Spark paths."""
        for df in self.cached:
            df.unpersist()


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


def fact_col() -> Column:
    """An edge's fact text, regenerated from its canonical names:
    '<subj> <phrase> <obj> since <year>.' (NULL when valid_at is)."""
    return F.concat(
        F.col("subj_name"),
        F.lit(" "),
        _phrase_col("predicate"),
        F.lit(" "),
        F.col("obj_name"),
        F.lit(" since "),
        F.year("valid_at").cast("string"),
        F.lit("."),
    )


def _batch_ts(batch_time: str) -> Column:
    return F.lit(batch_time).cast("timestamp")


def _edge_uuid() -> Column:
    return edge_uuid(
        F.col("group_id"), F.col("source_node_uuid"), F.col("predicate"),
        F.col("target_node_uuid"), F.col("valid_at"),
    )


def _mention_uuid() -> Column:
    return F.sha2(
        F.concat_ws("|", F.lit("mention"), F.col("doc_id"), F.col("entity_uuid")),
        256,
    )


def dedupe_edges(
    resolved_triples: DataFrame, batch_time: str = corpus.BATCH_TIME
) -> DataFrame:
    """D8: one edge per (group, src, predicate, dst, valid_at); episode
    provenance unioned (reference keeps the existing edge uuid and
    appends episodes, edge_operations.py:460-469). The fact text is
    regenerated from canonical names so a merged edge has ONE
    deterministic surface form; ``created_at`` is ``batch_time``.

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
    return (
        g.withColumn("fact", fact_col())
        .withColumn("created_at", _batch_ts(batch_time))
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
        .withColumn("created_at", _batch_ts(batch_time))
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


def _collect(df: DataFrame, cols: list[str], cap: int) -> list[tuple] | None:
    """``cols`` of ``df`` as row tuples from one Arrow collect of at
    most ``cap`` + 1 rows, timestamps as UTC microseconds; None when
    ``df`` holds more than ``cap`` rows. Each column is dictionary
    encoded first, so a value repeated over many rows (a group, a name,
    a doc's id) becomes one Python object."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    table = df.select(*cols).limit(cap + 1).toArrow()
    if table.num_rows > cap:
        return None

    def values(c: pa.ChunkedArray) -> list:
        if pa.types.is_timestamp(c.type):
            c = c.cast(pa.int64())
        enc = c.combine_chunks().dictionary_encode()
        lookup = np.empty(len(enc.dictionary) + 1, dtype=object)
        lookup[:-1] = enc.dictionary.to_pylist()  # the last slot stays None
        return lookup[pc.fill_null(enc.indices, len(enc.dictionary)).to_numpy()].tolist()

    return list(zip(*(values(c) for c in table.columns)))


def _surface_forms(names: DataFrame) -> list[tuple] | None:
    """The distinct (group_id, name) rows of ``names``, or None past
    ``DRIVER_RESOLVE_NAMES_CAP`` (the probe ``incremental_resolve``
    runs on a micro-batch)."""
    from .operators import incremental_local as L

    cap = L.DRIVER_RESOLVE_NAMES_CAP
    rows = names.select("group_id", "name").dropDuplicates().limit(cap + 1).collect()
    return None if len(rows) > cap else [tuple(r) for r in rows]


def _string(name: str) -> StructField:
    return StructField(name, StringType())


def _resolve_on_driver(
    spark: SparkSession,
    forms: list[tuple] | None,
    group_field: StructField,
    batch_time: str,
) -> tuple | None:
    """Resolve the distinct surface forms ``forms`` [(group_id, name)]
    with the driver kernel micro-batches use
    (``incremental_local.local_distinct_entities`` + ``resolve_local``);
    None when there are more than ``DRIVER_RESOLVE_NAMES_CAP`` of them
    or their LSH candidates pass ``DRIVER_PAIR_CAP``, and the
    distributed path runs. Returns (entities, uuid_map, duplicates) as
    local relations with the distributed path's schemas and rows
    (``group_field`` is its group_id column; the other resolved columns
    are nullable), plus the uuid_map rows and the canonical nodes
    [(group_id, uuid, name, name_embedding)], embedded here by
    ``_embed_batch``, the function ``hash_embed_udf`` runs, so no
    Python worker starts."""
    import pandas as pd

    from .functions.similarity import EMBED_DIM, _embed_batch
    from .operators import incremental_local as L

    if forms is None or len(forms) > L.DRIVER_RESOLVE_NAMES_CAP:
        return None
    vertices = L.local_distinct_entities(forms)
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

    def schema(*cols: str) -> StructType:
        return StructType([group_field] + [_string(c) for c in cols])

    return (
        local_frame(spark, [(g, n, u) for g, u, n in vertices], schema("name", "uuid")),
        local_frame(
            spark, map_rows,
            schema("uuid", "name", "canonical_uuid", "canonical_name"),
        ),
        duplicate_of_edges(
            local_frame(spark, dup_rows, schema("name_a", "name_b", "id_a", "id_b")),
            batch_time,
        ),
        map_rows,
        [(*c, e) for c, e in zip(canon, embeddings)],
    )


def _graph_on_driver(
    spark: SparkSession,
    triples_raw: DataFrame,
    triples: list[tuple],
    mention_rows: list[tuple],
    map_rows: list[tuple],
    node_rows: list[tuple],
    group_field: StructField,
    batch_time: str,
    entity_types,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Path 1's edges, mentions and nodes from the collected
    ``triples`` (doc_id, group_id, subj_name, predicate, obj_name,
    valid_at) and ``mention_rows`` (doc_id, group_id, name): the
    relational stages run in operators/local_graph.py, and the Spark
    path's own column expressions finish each local relation on the
    driver. Same schemas and rows as ``_graph_in_spark``."""
    from .operators import local_graph as G
    from .operators.ontology import type_nodes
    from .operators.temporal import expiry

    canon = G.canonical_index(map_rows)
    edge_rows = G.dedupe_edges(G.resolved_triples(triples, canon))
    invalid = G.resolve_bitemporal(edge_rows)
    t = triples_raw.schema
    edges = local_frame(
        spark,
        [
            (g, va, src, pred, dst, eps, subj, obj, inv)
            for (g, src, pred, dst, va, eps, subj, obj), inv in zip(edge_rows, invalid)
        ],
        StructType([
            t["group_id"], t["valid_at"], _string("source_node_uuid"),
            t["predicate"], _string("target_node_uuid"),
            StructField("episodes", ArrayType(StringType(), False), False),
            _string("subj_name"), _string("obj_name"),
            StructField("invalid_at", TimestampType()),
        ]),
    ).select(
        "group_id", "valid_at", "source_node_uuid", "predicate",
        "target_node_uuid", "episodes", "subj_name", "obj_name",
        fact_col().alias("fact"),
        _batch_ts(batch_time).alias("created_at"),
        edge_attributes_col("predicate").alias("attributes"),
        "invalid_at",
        expiry(batch_time).alias("expired_at"),
        _edge_uuid().alias("uuid"),
    )

    resolved_mentions = G.mentions(mention_rows, canon)
    mentions = local_frame(
        spark, resolved_mentions,
        StructType([
            t["doc_id"], t["group_id"], _string("entity_uuid"), _string("name"),
        ]),
    ).select(
        "*", _mention_uuid().alias("uuid"), _batch_ts(batch_time).alias("created_at")
    )

    counts = G.episode_counts(resolved_mentions)
    nodes = type_nodes(
        local_frame(
            spark,
            [(u, g, n, e, counts.get(u)) for g, u, n, e in node_rows],
            StructType([
                _string("uuid"), group_field, _string("name"),
                StructField("name_embedding", ArrayType(FloatType())),
                StructField("n_episodes", LongType()),
            ]),
        ).select(
            "uuid", "group_id", "name", "name_embedding",
            _batch_ts(batch_time).alias("created_at"), "n_episodes",
        ),
        entity_types,
    )
    return edges, mentions, nodes


def _graph_in_spark(
    triples_raw: DataFrame,
    mentions_raw: DataFrame,
    uuid_map: DataFrame,
    nodes_base: DataFrame,
    batch_time: str,
    entity_types,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Paths 2 and 3's edges, mentions and nodes: pointer rewrite (J1),
    edge dedup (D8), bi-temporal invalidation (T1-T3), mentions and
    node enrichment (X4) as Spark plans over the extraction."""
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

    edges = resolve_bitemporal(
        dedupe_edges(resolved, batch_time), batch_time=batch_time
    ).withColumn("uuid", _edge_uuid())

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
        .withColumn("uuid", _mention_uuid())
        .withColumn("created_at", _batch_ts(batch_time))
    )

    # Canonical nodes: distinct canonical members of every component +
    # hash name-embedding (X7) + ontology enrichment (X4: type labels,
    # typed attributes, deterministic summary — operators/ontology.py).
    from .operators.ontology import enrich_nodes

    nodes = enrich_nodes(
        nodes_base.withColumn("created_at", _batch_ts(batch_time)),
        mentions,
        entity_types,
    )
    return edges, mentions, nodes


def run_pipeline(
    spark: SparkSession,
    episodes: DataFrame,
    extractor: RuleBasedExtractor | None = None,
    batch_time: str = corpus.BATCH_TIME,
    extra_entity_names: DataFrame | None = None,
    entity_types=None,
    excluded_entity_types: list[str] | None = None,
    resolver=None,
) -> GraphOutput:
    """Episodes → graph. A global build (no ``resolver``) takes the
    first of three paths that fits, each falling to the next:

    1. whole graph on the driver: the extraction holds at most
       ``local_graph.DRIVER_GRAPH_TRIPLES_CAP`` raw triples (one Arrow
       collect of ``triples_raw`` and one of ``mentions_raw``), its
       surface forms fit ``DRIVER_RESOLVE_NAMES_CAP`` and their LSH
       candidates ``DRIVER_PAIR_CAP``. Every resolved frame is a local
       relation;
    2. driver resolution, graph stages in Spark: more raw triples, with
       the names under the caps (one distinct (group_id, name) probe);
    3. distributed resolution and graph stages.

    All three give the same schemas and rows
    (tests/test_pipeline_paths.py). ``triples_raw`` is the persisted
    extraction in every path; ``GraphOutput.release`` frees it and
    every other frame the call cached.

    ``extra_entity_names`` (group_id, name): the EXISTING graph's
    entity surface forms. Incremental batches resolve new mentions
    against them (the reference's resolve_extracted_nodes searches the
    existing graph, node_operations.py:229-338) so cross-batch
    duplicates land in one component and the uuid_map stays global.

    ``entity_types`` / ``excluded_entity_types``: custom ontology
    (operators/ontology.py) — excluded types are dropped post-
    classification, before resolution (P6), in Spark, before any
    collect.

    ``resolver``: optional callable ``mentions_raw -> (uuid_map,
    entities)`` replacing the global resolution front-end (distinct →
    LSH pairs → components → map). Used by the incremental write path
    (operators/incremental.py) to resolve a micro-batch against ONLY
    the LSH-collided neighborhood of the existing graph — the
    reference's resolve_extracted_nodes shape
    (node_operations.py:229-338) — instead of re-clustering the whole
    entity space. With a resolver, ``duplicates`` (D10 pairs) is None:
    the restricted pair set is an implementation detail of the merge,
    not the global IS_DUPLICATE_OF ledger; the graph stages run in
    Spark."""
    from .operators import local_graph as G
    from .operators.ontology import classify, exclude_entity_types

    # triples_raw feeds four downstream branches (mentions, entities,
    # two pointer-rewrite joins) — persist it so extraction runs once.
    # On a real cluster this is the stage-checkpoint table the north
    # rule's resumability requires (see io.tables.TableIO).
    triples_raw = extract_triples(episodes, extractor).persist()
    cached = [triples_raw]
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

    duplicates = None
    graph = None
    if resolver is not None:
        uuid_map, entities = resolver(mentions_raw)
        uuid_map = uuid_map.cache()
        entities = entities.cache()
        cached += [uuid_map, entities]
        nodes_base = _canonical_nodes(uuid_map)
    else:
        mention_names = mentions_raw.select("group_id", "name")
        if extra_entity_names is not None:
            mention_names = mention_names.unionByName(
                extra_entity_names.select("group_id", "name")
            )
        cap = G.DRIVER_GRAPH_TRIPLES_CAP
        triples = _collect(
            triples_raw,
            ["doc_id", "group_id", "subj_name", "predicate", "obj_name", "valid_at"],
            cap,
        )
        mention_rows = None
        if triples is not None:
            # three mentions per triple at most, and fewer once the
            # trim (or an exclusion) filter has run
            mention_rows = _collect(
                mentions_raw, ["doc_id", "group_id", "name"], 3 * cap
            )
        if mention_rows is not None and extra_entity_names is None:
            forms = {(g, n) for _d, g, n in mention_rows}
        else:
            forms = _surface_forms(mention_names)
        group_field = mention_names.schema["group_id"]
        local = _resolve_on_driver(spark, forms, group_field, batch_time)
        if local is not None:
            entities, uuid_map, duplicates, map_rows, node_rows = local
            if mention_rows is not None:
                graph = _graph_on_driver(
                    spark, triples_raw, triples, mention_rows, map_rows,
                    node_rows, group_field, batch_time, entity_types,
                )
            else:
                nodes_base = local_frame(
                    spark, node_rows,
                    StructType([
                        group_field, _string("uuid"), _string("name"),
                        StructField("name_embedding", ArrayType(FloatType())),
                    ]),
                )
        else:
            # Resolution runs on the distinct-name space (orders of
            # magnitude smaller than the corpus); cache it — it feeds
            # LSH, components and the canonical-node projection.
            entities = distinct_entities(mention_names).cache()
            pairs = duplicate_pairs(entities)
            comps = connected_components(entities, pairs)
            uuid_map = build_uuid_map(entities, comps).cache()
            cached += [entities, uuid_map]
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

    if graph is None:
        graph = _graph_in_spark(
            triples_raw, mentions_raw, uuid_map, nodes_base, batch_time,
            entity_types,
        )
    edges, mentions, nodes = graph
    return GraphOutput(
        episodes=episodes,
        triples_raw=triples_raw,
        entities=entities,
        uuid_map=uuid_map,
        nodes=nodes,
        edges=edges,
        mentions=mentions,
        duplicates=duplicates,
        cached=cached,
    )


def run_on_sf(spark: SparkSession, sf_dir: str, replicas: int = 1) -> GraphOutput:
    eps = synthesize_episodes(spark, sf_dir, replicas=replicas)
    return run_pipeline(spark, eps)
