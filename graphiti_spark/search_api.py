"""The composed read path: 4-lane ``search()`` with config recipes.

Reference surface (graphiti_core/search/):
- ``search()`` runs up to four lanes concurrently — edges, nodes,
  episodes, communities — each lane = (methods × reranker), every
  method overscanning 2×limit, reranker trimming to limit
  (search/search.py:66-158, overscan at 179-193).
- ``SearchConfig`` + the canned recipes (search_config.py:32-126,
  search_config_recipes.py:34-223): every reference recipe name has a
  same-named constructor here (RECIPES), built from the parameterized
  LaneConfig families.
- R3 cross-encoder reranker (cross_encoder/client.py:27-40) is the
  pluggable ``CrossEncoder`` scorer: TokenOverlapCrossEncoder
  (deterministic default), Bm25CrossEncoder (graded deterministic), or
  any impl wrapping a logprob client in a pandas UDF.

Spark shape: each lane is an independent DataFrame DAG over the graph
tables; Spark schedules them concurrently when the caller materializes
the result struct. A batched variant (many queries at once — queries
DF ⋈ posting/vector tables) is the scale path the reference cannot
express; ``search_many`` provides it for the node lane.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.similarity import hash_embed_py
from .operators.search import (
    DEFAULT_SEARCH_LIMIT,
    _rank_order,
    bfs_neighborhood,
    episode_mentions_rerank,
    fulltext_search,
    mmr,
    node_distance_rerank,
    provenance_size_rerank,
    rrf,
    similarity_search,
    tokenize_py,
)


@dataclass
class LaneConfig:
    methods: list[str] = field(default_factory=lambda: ["bm25", "cosine"])
    reranker: str = "rrf"  # rrf|mmr|node_distance|episode_mentions|cross_encoder
    limit: int = DEFAULT_SEARCH_LIMIT
    min_score: float = 0.0


@dataclass
class SearchConfig:
    edges: LaneConfig | None = None
    nodes: LaneConfig | None = None
    episodes: LaneConfig | None = None
    communities: LaneConfig | None = None


# --- the reference's canned recipe set (search_config_recipes.py:34-223),
# one constructor per name so callers can port configs 1:1 ---

def EDGE_HYBRID_SEARCH_RRF() -> SearchConfig:
    return SearchConfig(edges=LaneConfig())


def EDGE_HYBRID_SEARCH_MMR() -> SearchConfig:
    return SearchConfig(edges=LaneConfig(reranker="mmr"))


def EDGE_HYBRID_SEARCH_NODE_DISTANCE() -> SearchConfig:
    return SearchConfig(edges=LaneConfig(reranker="node_distance"))


def EDGE_HYBRID_SEARCH_EPISODE_MENTIONS() -> SearchConfig:
    # edge lane: provenance-size ordering (A3, search.py:255-256)
    return SearchConfig(edges=LaneConfig(reranker="episode_mentions"))


def EDGE_HYBRID_SEARCH_CROSS_ENCODER() -> SearchConfig:
    return SearchConfig(edges=LaneConfig(reranker="cross_encoder"))


def NODE_HYBRID_SEARCH_RRF() -> SearchConfig:
    return SearchConfig(nodes=LaneConfig())


def NODE_HYBRID_SEARCH_MMR() -> SearchConfig:
    return SearchConfig(nodes=LaneConfig(reranker="mmr"))


def NODE_HYBRID_SEARCH_NODE_DISTANCE() -> SearchConfig:
    return SearchConfig(nodes=LaneConfig(reranker="node_distance"))


def NODE_HYBRID_SEARCH_EPISODE_MENTIONS() -> SearchConfig:
    return SearchConfig(nodes=LaneConfig(reranker="episode_mentions"))


def NODE_HYBRID_SEARCH_CROSS_ENCODER() -> SearchConfig:
    return SearchConfig(nodes=LaneConfig(reranker="cross_encoder"))


def EPISODE_HYBRID_SEARCH_RRF() -> SearchConfig:
    """Repo extra, NOT in the reference's 16 canned recipes: the
    reference exposes episode search only through retrieve_episodes /
    the combined config's episode lane (search_config_recipes.py has
    no EPISODE_* entry). Kept as a named recipe because the episode
    lane here is a first-class fulltext corpus; listed in
    EXTRA_RECIPES so parity tests can assert exact 1:1 on the rest."""
    return SearchConfig(episodes=LaneConfig(methods=["bm25"]))


def COMMUNITY_HYBRID_SEARCH_RRF() -> SearchConfig:
    return SearchConfig(communities=LaneConfig())


def COMMUNITY_HYBRID_SEARCH_MMR() -> SearchConfig:
    return SearchConfig(communities=LaneConfig(reranker="mmr"))


def COMMUNITY_HYBRID_SEARCH_CROSS_ENCODER() -> SearchConfig:
    return SearchConfig(communities=LaneConfig(reranker="cross_encoder"))


def COMBINED_HYBRID_SEARCH_RRF() -> SearchConfig:
    return SearchConfig(
        edges=LaneConfig(), nodes=LaneConfig(), episodes=LaneConfig(methods=["bm25"]),
        communities=LaneConfig(),
    )


def COMBINED_HYBRID_SEARCH_MMR() -> SearchConfig:
    return SearchConfig(
        edges=LaneConfig(reranker="mmr"),
        nodes=LaneConfig(reranker="mmr"),
        episodes=LaneConfig(methods=["bm25"]),
        communities=LaneConfig(reranker="mmr"),
    )


def COMBINED_HYBRID_SEARCH_CROSS_ENCODER() -> SearchConfig:
    return SearchConfig(
        edges=LaneConfig(reranker="cross_encoder"),
        nodes=LaneConfig(reranker="cross_encoder"),
        episodes=LaneConfig(methods=["bm25"], reranker="cross_encoder"),
        communities=LaneConfig(reranker="cross_encoder"),
    )


RECIPES = {
    fn.__name__: fn
    for fn in (
        COMBINED_HYBRID_SEARCH_RRF,
        COMBINED_HYBRID_SEARCH_MMR,
        COMBINED_HYBRID_SEARCH_CROSS_ENCODER,
        EDGE_HYBRID_SEARCH_RRF,
        EDGE_HYBRID_SEARCH_MMR,
        EDGE_HYBRID_SEARCH_NODE_DISTANCE,
        EDGE_HYBRID_SEARCH_EPISODE_MENTIONS,
        EDGE_HYBRID_SEARCH_CROSS_ENCODER,
        NODE_HYBRID_SEARCH_RRF,
        NODE_HYBRID_SEARCH_MMR,
        NODE_HYBRID_SEARCH_NODE_DISTANCE,
        NODE_HYBRID_SEARCH_EPISODE_MENTIONS,
        NODE_HYBRID_SEARCH_CROSS_ENCODER,
        EPISODE_HYBRID_SEARCH_RRF,
        COMMUNITY_HYBRID_SEARCH_RRF,
        COMMUNITY_HYBRID_SEARCH_MMR,
        COMMUNITY_HYBRID_SEARCH_CROSS_ENCODER,
    )
}

# Names in RECIPES that have NO counterpart in the reference's
# search_config_recipes.py — everything else is exact 1:1.
EXTRA_RECIPES = {"EPISODE_HYBRID_SEARCH_RRF"}


@dataclass
class SearchResults:
    edges: DataFrame | None = None
    nodes: DataFrame | None = None
    episodes: DataFrame | None = None
    communities: DataFrame | None = None


class CrossEncoder:
    """R3 plug point — the reference's CrossEncoderClient.rank
    (cross_encoder/client.py:27-40; the OpenAI impl scores P(True) from
    logprobs, openai_reranker_client.py:59-121). Implementations score
    (passage, query) relevance as a COLUMN expression or batch UDF over
    the candidate DataFrame — a remote/logprob scorer wraps its client
    in a pandas UDF behind this same interface.

    Contract: ``score(df, text_col, query) -> df + 'score' double``.
    """

    def score(self, df: DataFrame, text_col: str, query: str) -> DataFrame:
        raise NotImplementedError


class TokenOverlapCrossEncoder(CrossEncoder):
    """Deterministic default: |q ∩ passage| / |q| (pure column algebra,
    whole-stage codegen — no Python in the hot path)."""

    def score(self, df: DataFrame, text_col: str, query: str) -> DataFrame:
        q = set(tokenize_py(query))
        toks = F.filter(
            F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"), lambda t: t != ""
        )
        qarr = F.array(*[F.lit(t) for t in sorted(q)]) if q else F.array()
        inter = F.size(F.array_intersect(F.array_distinct(toks), qarr))
        return df.withColumn(
            "score", inter.cast("double") / F.lit(float(max(len(q), 1)))
        )


class Bm25CrossEncoder(CrossEncoder):
    """Graded deterministic scorer: BM25 of the query against the
    candidate passages (richer ordering than binary-ish overlap; still
    fully JVM-side). The candidate set is top-k-bounded, so the
    per-rerank posting build is O(candidates)."""

    def score(self, df: DataFrame, text_col: str, query: str) -> DataFrame:
        from .operators.search import bm25_score, build_postings

        postings = build_postings(df, "id", text_col)
        scored = bm25_score(postings, query)
        return df.join(scored, "id", "left").withColumn(
            "score", F.coalesce(F.col("score"), F.lit(0.0))
        )


class UdfCrossEncoder(CrossEncoder):
    """R3 client-backed reference implementation (the reference's
    OpenAI reranker scores P(True) from logprobs per passage,
    cross_encoder/openai_reranker_client.py:59-121): wraps ANY
    ``client(query, passages: list[str]) -> list[float]`` in an
    Arrow-batched pandas UDF, so scoring runs executor-side over
    column batches — never a per-row Python UDF or a driver loop. A
    remote LLM client plugs in unchanged (batch its HTTP calls inside
    the callable); tests use a deterministic fake. The client must be
    deterministic per (query, passage) or rankings stop being
    plan-independent."""

    def __init__(self, client):
        self.client = client

    def score(self, df: DataFrame, text_col: str, query: str) -> DataFrame:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        client = self.client

        def _score(texts):
            return pd.Series(
                client(query, texts.tolist()), index=texts.index, dtype="float64"
            )

        # explicit annotations (not the module's stringified ones):
        # pandas_udf resolves hints from function globals, where the
        # locally-imported pd would not resolve
        _score.__annotations__ = {"texts": pd.Series, "return": pd.Series}
        udf = pandas_udf(_score, "double")
        return df.withColumn("score", udf(F.col(text_col)))


def _run_lane(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vec_col: str | None,
    cfg: LaneConfig,
    query: str,
    query_vec: list[float],
    group_ids: list[str] | None,
    edges: DataFrame | None,
    mentions: DataFrame | None,
    center_uuid: str | None,
    bfs_origins: list[str] | None,
    lane: str = "nodes",
    cross_encoder: "CrossEncoder | None" = None,
    index=None,
) -> DataFrame:
    lanes = []
    if "bm25" in cfg.methods:
        lanes.append(
            fulltext_search(
                df, id_col, text_col, query, limit=2 * cfg.limit,
                group_ids=group_ids,
                postings=index.postings() if index is not None else None,
                stats=index.stats() if index is not None else None,
            )
        )
    if "cosine" in cfg.methods and vec_col is not None:
        lanes.append(
            similarity_search(
                df, id_col, vec_col, query_vec, limit=2 * cfg.limit,
                group_ids=group_ids,
            )
        )
    if "bfs" in cfg.methods and edges is not None and bfs_origins:
        reach = bfs_neighborhood(edges, bfs_origins)
        lanes.append(
            reach.select(
                F.col("uuid").alias("id"),
                (1.0 / (F.col("depth") + 1)).alias("score"),
            )
        )
    if not lanes:
        raise ValueError("lane has no methods")

    fused = rrf(lanes, min_score=cfg.min_score)

    if cfg.reranker == "rrf":
        out = fused
    elif cfg.reranker == "node_distance" and center_uuid and edges is not None:
        out = node_distance_rerank(fused.select("id"), edges, center_uuid)
    elif cfg.reranker == "episode_mentions" and lane == "edges":
        # A3: the edge lane orders by provenance size — len(episodes)
        # (reference search/search.py:255-256) — not by MENTIONS counts
        out = provenance_size_rerank(fused.select("id"), df)
    elif cfg.reranker == "episode_mentions" and mentions is not None:
        out = episode_mentions_rerank(fused.select("id"), mentions)
    elif cfg.reranker == "mmr":
        cand = (
            fused.limit(2 * cfg.limit)
            .join(df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")), "id")
            .collect()
        )
        picked = mmr([(r.id, r.v) for r in cand], query_vec, limit=cfg.limit)
        spark = df.sparkSession
        out = spark.createDataFrame(picked or [("", 0.0)], "id string, score double")
        if not picked:
            out = out.limit(0)
    elif cfg.reranker == "cross_encoder":
        enc = cross_encoder or TokenOverlapCrossEncoder()
        passages = fused.select("id").join(
            df.select(F.col(id_col).alias("id"), F.col(text_col)), "id"
        )
        # rounded sort key (operators.search._rank_order): cross-encoder
        # scores can tie with last-bit float differences across plan
        # shapes; raw-double ordering would make top-k nondeterministic
        out = enc.score(passages, text_col, query).select("id", "score").orderBy(
            *_rank_order()
        )
    else:
        out = fused
    return out.where(F.col("score") >= cfg.min_score).limit(cfg.limit)


def search(
    query: str,
    config: SearchConfig,
    nodes: DataFrame | None = None,
    edges: DataFrame | None = None,
    episodes_text: DataFrame | None = None,
    communities: DataFrame | None = None,
    mentions: DataFrame | None = None,
    query_vec: list[float] | None = None,
    group_ids: list[str] | None = None,
    center_uuid: str | None = None,
    bfs_origins: list[str] | None = None,
    cross_encoder: CrossEncoder | None = None,
    indexes: dict | None = None,
) -> SearchResults:
    """episodes_text: (doc_id/uuid, group_id, content) — build with
    ``episode_content``. Edge lane needs a fact_embedding column
    (``with_fact_embeddings``). ``cross_encoder``: pluggable R3 scorer
    (default TokenOverlapCrossEncoder; Bm25CrossEncoder for graded
    deterministic scores; wrap a logprob client for the reference's
    LLM scorer). ``indexes``: optional {"edges"|"nodes"|"episodes"|
    "communities": SearchIndex} — BM25 lanes then read the persisted,
    term-bucketed index (the ones materialize_graph(search_indexes=
    True) maintains as ft_edges/ft_nodes/ft_episodes) instead of
    re-tokenizing the table per query."""
    indexes = indexes or {}
    if query_vec is None:
        query_vec = [float(x) for x in hash_embed_py(query)]
    res = SearchResults()
    if config.edges is not None and edges is not None:
        res.edges = _run_lane(
            edges, "uuid", "fact", "fact_embedding", config.edges, query, query_vec,
            group_ids, edges, mentions, center_uuid, bfs_origins, lane="edges",
            cross_encoder=cross_encoder, index=indexes.get("edges"),
        )
    if config.nodes is not None and nodes is not None:
        res.nodes = _run_lane(
            nodes, "uuid", "name", "name_embedding", config.nodes, query, query_vec,
            group_ids, edges, mentions, center_uuid, bfs_origins, lane="nodes",
            cross_encoder=cross_encoder, index=indexes.get("nodes"),
        )
    if config.episodes is not None and episodes_text is not None:
        res.episodes = _run_lane(
            episodes_text, "doc_id", "content", None, config.episodes, query,
            query_vec, group_ids, edges, mentions, center_uuid, bfs_origins,
            lane="episodes", cross_encoder=cross_encoder,
            index=indexes.get("episodes"),
        )
    if config.communities is not None and communities is not None:
        res.communities = _run_lane(
            communities, "uuid", "name", "name_embedding", config.communities,
            query, query_vec, group_ids, edges, mentions, center_uuid, bfs_origins,
            lane="communities", cross_encoder=cross_encoder,
            index=indexes.get("communities"),
        )
    return res


def episode_content(episodes: DataFrame) -> DataFrame:
    """Episode fulltext surface: ordered concatenation of text spans
    (recovers the reference's `content` string per §1.3)."""
    return episodes.select(
        "doc_id",
        "group_id",
        F.array_join(
            F.transform(
                F.filter(F.col("spans"), lambda s: s["kind"] == "text"),
                lambda s: s["text"],
            ),
            " ",
        ).alias("content"),
    )


def with_fact_embeddings(edges: DataFrame) -> DataFrame:
    from .functions.similarity import hash_embed_udf

    return edges.withColumn("fact_embedding", hash_embed_udf(F.col("fact")))


def hybrid_search_many(
    queries: list[tuple[str, str]],
    nodes: DataFrame,
    limit: int = DEFAULT_SEARCH_LIMIT,
    postings: DataFrame | None = None,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Batched H1: the full hybrid (BM25 ∪ cosine → RRF) for MANY
    queries at once — one postings pass scores every query's terms
    (bm25_score_many), one broadcast cross join scores every query
    vector, and rrf_many fuses inside per-query windows. Returns
    (query_id, id, score), top-`limit` per query. The reference can
    only loop one query at a time.

    ``queries``: [(query_id, query_text)]; vectors come from the
    pluggable hash embedder. Pass a persisted index's
    ``postings``/``stats`` to skip corpus re-tokenization."""
    from .operators.search import fulltext_search_many, rrf_many

    spark = nodes.sparkSession
    ft = fulltext_search_many(
        queries, nodes, "uuid", "name", limit=2 * limit,
        postings=postings, stats=stats,
    )
    from .operators.search import DEFAULT_MIN_SCORE

    qrows = [
        (qid, [float(x) for x in hash_embed_py(text)]) for qid, text in queries
    ]
    qdf = spark.createDataFrame(qrows, "query_id string, query_vec array<float>")
    cos = search_many(
        qdf, nodes, limit=2 * limit, min_score=DEFAULT_MIN_SCORE
    ).select("query_id", "id", "score")
    return rrf_many([ft, cos], limit=limit)


def search_many(
    queries: DataFrame,
    nodes: DataFrame,
    limit: int = DEFAULT_SEARCH_LIMIT,
    min_score: float | None = None,
) -> DataFrame:
    """Batched node search: (query_id, query_vec) DF against the node
    embeddings — one shuffle for ALL queries (window top-k per query),
    the shape a 10^12-doc read path needs. The reference can only loop
    one query at a time. ``min_score``: V1's cosine cutoff (pass
    DEFAULT_MIN_SCORE for reference parity)."""
    from pyspark.sql.window import Window

    from .functions.similarity import dot

    q = F.broadcast(queries.select("query_id", F.col("query_vec").alias("qv")))
    scored = nodes.crossJoin(q).select(
        "query_id",
        F.col("uuid").alias("id"),
        dot(F.col("name_embedding"), F.col("qv")).alias("score"),
    )
    if min_score is not None:
        scored = scored.where(F.col("score") > min_score)
    # rounded rank key: deterministic tie-breaks across plan shapes
    # (see operators.search._rank_order)
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("score", 9)), F.col("id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= limit)
    )
