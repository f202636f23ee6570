"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline (episodes → canonical
bi-temporal triples) at sf0.001. ``queries()`` exposes each pipeline
stage as a (spark, sf_dir) → DataFrame callable; ``oracle_sql()`` pairs
each with a DuckDB SQL string that re-derives the expected output from
``documents`` independently (graphiti_spark/oracle.py). Column names
and types are aligned on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphiti_spark import oracle
from graphiti_spark.pipeline import run_on_sf
from graphiti_spark.synth import exploded_spans, synthesize_episodes

_CACHE: dict[str, object] = {}


def _graph(spark: SparkSession, sf_dir: str):
    """One pipeline run shared by all per-stage queries (the stages are
    views over the same DAG; recomputing it per query would be pure
    overhead)."""
    key = f"{id(spark)}|{sf_dir}"
    if key not in _CACHE:
        _CACHE[key] = run_on_sf(spark, sf_dir)
    return _CACHE[key]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: canonical bi-temporal (subj, pred, obj) triples."""
    out = _graph(spark, "/root/testdata/sf0.001")
    return out.edges.select(
        "group_id", "subj_name", "predicate", "obj_name", "fact",
        "valid_at", "invalid_at", "expired_at",
        F.size("episodes").cast("long").alias("n_episodes"),
    )


# ---------------------------------------------------------------------------
# per-stage queries
# ---------------------------------------------------------------------------

def _q_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    eps = synthesize_episodes(spark, sf_dir)
    return exploded_spans(eps).select("doc_id", "offset", "kind", "text", "media_ref")


def _q_triples_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _graph(spark, sf_dir)
    return out.triples_raw.select(
        "doc_id", "group_id", "speaker", "subj_name", "predicate", "obj_name",
        "fact", "valid_at",
    )


def _q_mentions_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphiti_spark.operators.extract import extract_mentions

    out = _graph(spark, sf_dir)
    return (
        extract_mentions(out.triples_raw)
        .groupBy("group_id", "name")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_mentions"),
        )
    )


def _q_uuid_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _graph(spark, sf_dir)
    return out.uuid_map.select("group_id", "name", "canonical_name")


def _q_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _graph(spark, sf_dir)
    return out.nodes.select("group_id", "name", "uuid")


def _q_edges_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _graph(spark, sf_dir)
    return out.edges.select(
        "group_id", "subj_name", "predicate", "obj_name", "fact",
        "valid_at", "invalid_at", "expired_at",
        F.size("episodes").cast("long").alias("n_episodes"),
    )


def _q_invalidation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _graph(spark, sf_dir)
    return out.edges.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum(F.when(F.col("invalid_at").isNotNull(), 1).otherwise(0)).alias(
            "n_invalidated"
        ),
    )


def _q_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _graph(spark, sf_dir)
    return out.mentions.select("doc_id", "group_id", "name", "entity_uuid")


def _q_episode_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward pointers (the reference's episode.entity_edges,
    graphiti.py:513): episode → evidenced canonical triple. The
    materialized index (materialize.merge_edges → episode_edges table)
    holds (doc_id, edge_uuid); here projected onto oracle-comparable
    triple columns."""
    out = _graph(spark, sf_dir)
    return out.edges.select(
        F.explode("episodes").alias("doc_id"),
        "group_id", "subj_name", "predicate", "obj_name", "valid_at",
    )


# ---------------------------------------------------------------------------
# search / maintenance queries
# ---------------------------------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _q_bm25_docs(spark, sf_dir):
    from graphiti_spark.operators.search import bm25_score, build_postings
    from graphiti_spark.oracle import BM25_QUERY

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    scored = bm25_score(build_postings(d, "doc_id", "text"), BM25_QUERY)
    return scored.select("id", F.round("score", 6).alias("score"))


def _q_bm25_many(spark, sf_dir):
    """Batched BM25: one postings pass scores all queries
    (operators/search.bm25_score_many) — the multi-query read-path
    shape the reference's per-query loop cannot express."""
    from graphiti_spark.operators.search import bm25_score_many, build_postings
    from graphiti_spark.oracle import BM25_MANY_QUERIES

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    scored = bm25_score_many(build_postings(d, "doc_id", "text"), BM25_MANY_QUERIES)
    return scored.select("query_id", "id", F.round("score", 6).alias("score"))


def _q_relevant_nodes(spark, sf_dir):
    """J2 FULL parity: the reference's hybrid candidate generation
    (get_relevant_nodes, search_utils.py:686-746) — per query node,
    vector-cosine top-k above min_score UNION BM25 fulltext top-k,
    group-scoped (lang as the group), vector lane winning dedup ties.
    Corpus = documents ⋈ embeddings (doc_id = vec_id); queries = the
    first 4 docs with short literal fulltext strings (the reference
    feeds the node NAME as the fulltext query)."""
    from graphiti_spark.operators.resolve import get_relevant_nodes
    from graphiti_spark.oracle import RELEVANT_NODE_QUERIES

    docs = _docs(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = docs.join(emb, docs.doc_id == emb.vec_id).select(
        F.col("doc_id").cast("string").alias("uuid"),
        F.col("lang").alias("group_id"),
        F.col("text").alias("name"),
        F.col("embedding").alias("name_embedding"),
    )
    qtext = spark.createDataFrame(
        RELEVANT_NODE_QUERIES, "query_id string, query_text string"
    )
    queries = (
        corpus.where(F.col("uuid").isin([q for q, _ in RELEVANT_NODE_QUERIES]))
        .select(
            F.col("uuid").alias("query_id"),
            "group_id",
            F.col("name_embedding").alias("query_vec"),
        )
        .join(qtext, "query_id")
    )
    return get_relevant_nodes(corpus, queries, min_score=0.25, limit=10)


def _q_rrf_docs(spark, sf_dir):
    from graphiti_spark.operators.search import rrf

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("id"), "n_chars", "doc_id"
    )
    l1 = (
        d.select("id", F.col("n_chars").cast("double").alias("score"))
        .orderBy(F.desc("score"), "id")
        .limit(20)
    )
    l2 = (
        d.select(
            "id", (101 - (F.col("doc_id") * 37) % 101).cast("double").alias("score")
        )
        .orderBy(F.desc("score"), "id")
        .limit(20)
    )
    return rrf([l1, l2]).select("id", F.round("score", 6).alias("score"))


def _q_bfs_globex(spark, sf_dir):
    import hashlib

    from graphiti_spark.operators.search import bfs_neighborhood

    out = _graph(spark, sf_dir)
    origin = hashlib.sha256(b"entity|g0|globex").hexdigest()
    reach = bfs_neighborhood(
        out.edges.where(F.col("group_id") == "g0"), [origin], max_depth=3
    )
    names = out.nodes.where(F.col("group_id") == "g0").select("uuid", "name")
    return reach.join(names, "uuid").select(
        "name", F.col("depth").cast("int").alias("depth")
    )


def _q_point_in_time(spark, sf_dir):
    from graphiti_spark.operators.maintenance import retrieve_episodes

    eps = synthesize_episodes(spark, sf_dir)
    return retrieve_episodes(eps, "2024-01-01 08:00:00", last_n=10).select(
        "doc_id", "group_id", "valid_at"
    )


def _q_context_window(spark, sf_dir):
    from graphiti_spark.operators.maintenance import with_previous_episode_context

    eps = synthesize_episodes(spark, sf_dir)
    return with_previous_episode_context(eps).select(
        "doc_id",
        "group_id",
        F.coalesce(F.array_join("previous_episode_ids", ","), F.lit("")).alias(
            "prev_ids"
        ),
    )


def _q_pagination(spark, sf_dir):
    from graphiti_spark.operators.maintenance import get_by_group_ids

    out = _graph(spark, sf_dir)
    return get_by_group_ids(
        out.nodes, ["g0", "g1", "g2", "g3"], limit=20, cursor_uuid="8"
    ).select("group_id", "name", "uuid")


def _q_remove_episode_counts(spark, sf_dir):
    from graphiti_spark.operators.maintenance import remove_episode

    out = _graph(spark, sf_dir)
    new = remove_episode(
        "doc-000000", out.episodes, out.edges, out.mentions, out.nodes
    )
    row = (
        int(new["mentions"].count()),
        int(new["nodes"].count()),
        int(new["edges"].count()),
    )
    return spark.createDataFrame(
        [row], "n_mentions long, n_nodes long, n_edges long"
    )


def _q_duplicate_pairs(spark, sf_dir):
    out = _graph(spark, sf_dir)
    return out.duplicates.select("group_id", "name_a", "name_b", "name")


def _q_facts_as_of(spark, sf_dir):
    from graphiti_spark.operators.graph_api import facts_as_of

    out = _graph(spark, sf_dir)
    return facts_as_of(out.edges, "2019-06-01 00:00:00").select(
        "group_id", "subj_name", "predicate", "obj_name", "valid_at", "invalid_at"
    )


def _q_episode_subgraph(spark, sf_dir):
    from graphiti_spark.operators.graph_api import episode_subgraph

    out = _graph(spark, sf_dir)
    _nodes, sub_edges = episode_subgraph(
        ["doc-000010"], out.nodes, out.edges, out.mentions
    )
    return sub_edges.select(
        "group_id", "subj_name", "predicate", "obj_name", "valid_at", "invalid_at"
    )


def _q_near_dup_facts(spark, sf_dir):
    """D8 near-dup lane end-to-end (operators/resolve.
    merge_near_duplicate_facts): per document, a base fact + a same-date
    paraphrase ('... indeed.') on even docs + a differently-dated
    restatement on every third doc. The paraphrase must merge into the
    earliest edge (provenance unioned) via fact-embedding cosine inside
    the pair group; the differently-dated fact must survive."""
    from graphiti_spark.operators.resolve import merge_near_duplicate_facts

    d = F.col("d")
    base = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.col("doc_id").cast("long").alias("d"))
    )
    year = (F.lit(2000) + d % 20).cast("int")
    stem = F.concat(
        F.lit("S"), d.cast("string"), F.lit(" partners with O"),
        d.cast("string"), F.lit(" since "),
    )

    def edge(variant, yr, created, cond):
        fact = F.concat(stem, yr.cast("string"), F.lit("."))
        if variant == "b":
            fact = F.concat(stem, yr.cast("string"), F.lit(" indeed."))
        return base.where(cond).select(
            F.lit("g").alias("group_id"),
            F.sha2(
                F.concat_ws("|", F.lit("ndf"), d.cast("string"), F.lit(variant)),
                256,
            ).alias("uuid"),
            F.sha2(F.concat(F.lit("S"), d.cast("string")), 256).alias(
                "source_node_uuid"
            ),
            F.sha2(F.concat(F.lit("O"), d.cast("string")), 256).alias(
                "target_node_uuid"
            ),
            F.lit("PARTNERED_WITH").alias("name"),
            fact.alias("fact"),
            F.array(
                F.concat(F.lit("ep-"), d.cast("string"), F.lit(f"-{variant}"))
            ).alias("episodes"),
            F.lit(created).cast("timestamp").alias("created_at"),
            F.to_timestamp(F.concat(yr.cast("string"), F.lit("-06-01"))).alias(
                "valid_at"
            ),
        )

    edges = (
        edge("a", year, "2025-01-01 00:00:00", F.lit(True))
        .unionByName(edge("b", year, "2025-01-01 01:00:00", d % 2 == 0))
        .unionByName(edge("c", year + 1, "2025-01-01 02:00:00", d % 3 == 0))
    )
    out = merge_near_duplicate_facts(edges)
    return out.select(
        "fact",
        F.date_format("valid_at", "yyyy-MM-dd").alias("valid_on"),
        F.array_join("episodes", ",").alias("episodes_csv"),
    )


def _q_communities(spark, sf_dir):
    from graphiti_spark.operators.community import detect_communities

    out = _graph(spark, sf_dir)
    return detect_communities(out.edges, out.nodes)


def _q_triple_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north rule's accuracy half as a driver row: per-group
    extraction precision/recall/F1 (micro-units) of the REAL span-text
    extraction path against the arithmetic-derived expected set."""
    from graphiti_spark.operators.evaluate import expected_triples, triple_prf

    out = _graph(spark, sf_dir)
    eps = synthesize_episodes(spark, sf_dir)
    gold = expected_triples(eps)
    ext = out.triples_raw.select(
        "group_id", "doc_id", "offset", "speaker", "subj_name", "predicate",
        "obj_name", F.year("valid_at").cast("int").alias("year"),
    )
    return triple_prf(
        ext,
        gold,
        keys=["doc_id", "offset", "speaker", "subj_name", "predicate",
              "obj_name", "year"],
    )


def _q_graph_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's E2E eval harness
    (tests/evals/eval_e2e_graph_building.py:105-180) as a driver row:
    per-episode candidate-vs-baseline grading through
    evaluate.compare_graphs' deterministic judge. Baseline = this
    run's extracted triples; candidate = the same graph
    deterministically damaged (md5-dropped edges 1-in-5, dropped
    nodes 1-in-11, drifted summaries 1-in-3), so the oracle replays
    the whole harness — damage, token overlap, thresholds — exactly."""
    from graphiti_spark.operators.evaluate import _md5_u32, compare_graphs

    out = _graph(spark, sf_dir)
    be = out.triples_raw.select(
        "group_id", "doc_id", "subj_name", "predicate", "obj_name"
    ).distinct()
    names = (
        be.select("group_id", "doc_id", F.col("subj_name").alias("name"))
        .unionByName(
            be.select("group_id", "doc_id", F.col("obj_name").alias("name"))
        )
        .distinct()
    )
    bn = names.withColumn(
        "summary",
        F.concat(F.col("name"), F.lit(" appears in "), F.col("doc_id")),
    )
    ce = be.where(
        _md5_u32(
            F.concat_ws(
                "|", F.lit("ev"), "group_id", "doc_id", "subj_name",
                "predicate", "obj_name",
            )
        ) % 5 != 0
    )
    cn = bn.where(
        _md5_u32(F.concat_ws("|", F.lit("evn"), "group_id", "doc_id", "name"))
        % 11 != 0
    ).withColumn(
        "summary",
        F.when(
            _md5_u32(
                F.concat_ws("|", F.lit("evs"), "group_id", "doc_id", "name")
            ) % 3 == 0,
            F.concat(
                F.col("name"), F.lit(" drifted entirely "), F.col("doc_id")
            ),
        ).otherwise(F.col("summary")),
    )
    return compare_graphs(cn, ce, bn, be)


def _q_graph_eval_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eval harness's aggregate (eval_e2e_graph_building.py:170-178
    mean-not-worse score) per group over the same deterministic
    candidate damage as graph_eval."""
    from graphiti_spark.operators.evaluate import graph_eval_score

    return graph_eval_score(_q_graph_eval(spark, sf_dir))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # KG pipeline stages
        "spans": _q_spans,
        "triples_raw": _q_triples_raw,
        "triple_prf": _q_triple_prf,
        "graph_eval": _q_graph_eval,
        "graph_eval_score": _q_graph_eval_score,
        "mentions_by_name": _q_mentions_by_name,
        "uuid_map": _q_uuid_map,
        "nodes": _q_nodes,
        "edges_resolved": _q_edges_resolved,
        "invalidation_counts": _q_invalidation_counts,
        "mentions": _q_mentions,
        "episode_edges": _q_episode_edges,
        # search
        "bm25_docs": _q_bm25_docs,
        "bm25_many": _q_bm25_many,
        "relevant_nodes": _q_relevant_nodes,
        "rrf_docs": _q_rrf_docs,
        "bfs_globex": _q_bfs_globex,
        # maintenance
        "point_in_time": _q_point_in_time,
        "context_window": _q_context_window,
        "pagination": _q_pagination,
        "remove_episode_counts": _q_remove_episode_counts,
        "facts_as_of": _q_facts_as_of,
        "episode_subgraph": _q_episode_subgraph,
        "duplicate_pairs": _q_duplicate_pairs,
        "near_dup_facts": _q_near_dup_facts,
        "communities": _q_communities,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "spans": oracle.q_spans(),
        "triples_raw": oracle.q_triples_raw(),
        "triple_prf": oracle.q_triple_prf(),
        "graph_eval": oracle.q_graph_eval(),
        "graph_eval_score": oracle.q_graph_eval_score(),
        "mentions_by_name": oracle.q_mentions_raw(),
        "uuid_map": oracle.q_uuid_map(),
        "nodes": oracle.q_nodes(),
        "edges_resolved": oracle.q_edges_resolved(),
        "invalidation_counts": oracle.q_edge_invalidation_counts(),
        "mentions": oracle.q_mentions_table(),
        "episode_edges": oracle.q_episode_edges(),
        "bm25_docs": oracle.q_bm25_docs(),
        "bm25_many": oracle.q_bm25_many(),
        # J2 hybrid candidate gen: vector + fulltext lanes, full value oracle
        "relevant_nodes": oracle.q_relevant_nodes(min_score=0.25, limit=10),
        "rrf_docs": oracle.q_rrf_docs(),
        "bfs_globex": oracle.q_bfs_globex(),
        "point_in_time": oracle.q_point_in_time("2024-01-01 08:00:00"),
        "context_window": oracle.q_context_window(),
        "pagination": oracle.q_pagination(),
        "remove_episode_counts": oracle.q_remove_episode_counts(),
        "facts_as_of": oracle.q_facts_as_of(),
        "episode_subgraph": oracle.q_episode_subgraph(),
        "duplicate_pairs": oracle.q_duplicate_pairs(),
        "near_dup_facts": oracle.q_near_dup_facts(),
        # iterative LPA, oracle = the loop unrolled to its cap (rounds
        # past convergence are no-ops, so this is exact, not approximate)
        "communities": oracle.q_communities(),
    }
