"""PageRank centrality over the canonical entity graph.

The reference ranks nodes only by mention counts / node distance
(search/search_utils.py rerankers); a corpus-scale KG also wants a
global structural importance signal — PageRank over the canonical
directed edge set — usable as a reranker lane or an analytics export.

Determinism across engines (a DuckDB re-implementation must agree
bit for bit): ranks are kept in integer micro-units (``scale`` = 1e9) and
every division is an explicit floor division (Spark ``DIV``, DuckDB
``//``) — no float summation-order ambiguity, so the 10-iteration
unrolled SQL reproduces bit-identical longs.
Per iteration (damping d = 17/20):

    r_0(v)     = scale // n_g
    r_{k+1}(v) = (3 * scale) // (20 * n_g)
               + Σ_{u→v} (17 * r_k(u)) // (20 * outdeg(u))

Dangling mass is deliberately NOT redistributed (ranks are used for
ordering, not as a probability distribution) — documented so the SQL
mirror stays a 6-line CTE per iteration.

Scale shape: each iteration is one hash join (ranks ⋈ out-edges) and
one partial-aggregated groupBy on the destination — the iterative
hash-join propagation pattern of community.py's LPA; lineage is cut
with localCheckpoint every 4 iterations, and the static edge+degree
relation is checkpointed once. Hot destinations (the corpus's hot
entity) are a groupBy skew, not a join skew — partial aggregation
combines map-side, so no salting is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

N_ITER = 10
SCALE = 10**9


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    n_iter: int = N_ITER,
    scale: int = SCALE,
) -> DataFrame:
    """(group_id, name, pr_scaled) — PageRank in integer micro-units
    over the distinct directed canonical edge set, per group.

    ``nodes``: canonical entities (group_id, name, ...);
    ``edges``: canonical triples with subj_name/obj_name columns (the
    pipeline's resolved edges; multi-predicate parallel edges collapse
    to one directed pair).
    """
    e = edges.select(
        "group_id",
        F.col("subj_name").alias("src"),
        F.col("obj_name").alias("dst"),
    ).dropDuplicates()
    outdeg = e.groupBy("group_id", "src").agg(F.count(F.lit(1)).alias("outdeg"))
    e_deg = e.join(outdeg, ["group_id", "src"]).localCheckpoint(eager=True)

    ng = nodes.groupBy("group_id").agg(F.count(F.lit(1)).alias("n"))
    base = (
        nodes.select("group_id", "name")
        .join(ng, "group_id")
        .localCheckpoint(eager=True)
    )
    r = base.select(
        "group_id", "name", F.expr(f"CAST({scale} AS BIGINT) DIV n").alias("r")
    )
    for k in range(n_iter):
        contrib = (
            r.withColumnRenamed("name", "src")
            .join(e_deg, ["group_id", "src"])
            .select(
                "group_id",
                F.col("dst").alias("name"),
                F.expr("(17 * r) DIV (20 * outdeg)").alias("c"),
            )
            .groupBy("group_id", "name")
            .agg(F.sum("c").alias("c"))
        )
        r = (
            base.join(contrib, ["group_id", "name"], "left")
            .select(
                "group_id",
                "name",
                (
                    F.expr(f"(3 * CAST({scale} AS BIGINT)) DIV (20 * n)")
                    + F.coalesce("c", F.lit(0))
                ).alias("r"),
            )
        )
        if (k + 1) % 4 == 0 and k + 1 < n_iter:
            r = r.localCheckpoint(eager=True)
    return r.select("group_id", "name", F.col("r").alias("pr_scaled"))


def _undirected_degrees(edges: DataFrame):
    """Shared edge normalization for the triangle family: distinct
    undirected (a < b) entity pairs plus per-node degree. Factored out
    so clustering_coefficient doesn't recompute the identical und/deg
    subtree (and its shuffles) that triangle_count builds."""
    und = (
        edges.select(
            "group_id",
            F.least("subj_name", "obj_name").alias("a"),
            F.greatest("subj_name", "obj_name").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates()
    )
    deg = (
        und.select("group_id", F.col("a").alias("name"))
        .unionByName(und.select("group_id", F.col("b").alias("name")))
        .groupBy("group_id", "name")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    return und, deg


def triangle_count(
    nodes: DataFrame, edges: DataFrame, _und_deg: tuple | None = None
) -> DataFrame:
    """(group_id, name, n_triangles) — per-node triangle membership over
    the undirected canonical entity graph (predicate-collapsed distinct
    pairs), zero-filled for triangle-free nodes. Σ/3 per group is the
    group's triangle count; the per-node form also yields the local
    clustering coefficient (2T / deg(deg−1)) downstream.

    Scale shape — degree-ordered node-iterator (the standard
    distributed formulation, cf. Suri & Vassilvitskii, WWW'11): every
    undirected edge is directed from its lower-(degree, name) endpoint
    to the higher one, wedges are enumerated by self-joining the
    directed edges on their source, and a wedge is a triangle iff its
    (v, w) closure exists in the same directed set (left-semi hash
    join). Directing by degree rank bounds each vertex's out-degree by
    O(√m), so the wedge join is O(m^{3/2}) worst-case instead of
    Σdeg² — hub entities (the corpus's hot key) produce wedges at
    their LOW-degree neighbors, not at the hub. Three hash joins +
    one groupBy, no iteration, no Python.
    """
    und, deg = _und_deg if _und_deg is not None else _undirected_degrees(edges)
    j = (
        und.join(
            deg.select("group_id", F.col("name").alias("a"), F.col("deg").alias("da")),
            ["group_id", "a"],
        )
        .join(
            deg.select("group_id", F.col("name").alias("b"), F.col("deg").alias("db")),
            ["group_id", "b"],
        )
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    e = j.select(
        "group_id",
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("hi_deg"),
    ).localCheckpoint(eager=True)
    e1 = e.select(
        "group_id", F.col("lo").alias("u"), F.col("hi").alias("v"),
        F.col("hi_deg").alias("dv"),
    )
    e2 = e.select(
        "group_id", F.col("lo").alias("u"), F.col("hi").alias("w"),
        F.col("hi_deg").alias("dw"),
    )
    wedges = e1.join(e2, ["group_id", "u"]).where(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    tri = wedges.join(
        e.select("group_id", F.col("lo").alias("v"), F.col("hi").alias("w")),
        ["group_id", "v", "w"],
        "left_semi",
    )
    per_node = (
        tri.select("group_id", F.explode(F.array("u", "v", "w")).alias("name"))
        .groupBy("group_id", "name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return (
        nodes.select("group_id", "name")
        .dropDuplicates()
        .join(per_node, ["group_id", "name"], "left")
        .select(
            "group_id",
            "name",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
        )
    )


def clustering_coefficient(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(group_id, name, deg, n_triangles, cc_micro) — local clustering
    coefficient 2T / (deg·(deg−1)) in integer micro-units (floor of
    x·1e6, engine-independent like pagerank's arithmetic; 0 for
    deg < 2). One extra degree join over :func:`triangle_count`; the
    und/deg subtree is computed once and shared with it."""
    und, deg = _undirected_degrees(edges)
    tri = triangle_count(nodes, edges, _und_deg=(und, deg))
    return (
        tri.join(deg, ["group_id", "name"], "left")
        .select(
            "group_id",
            "name",
            F.coalesce("deg", F.lit(0)).cast("long").alias("deg"),
            "n_triangles",
            F.when(
                F.coalesce("deg", F.lit(0)) >= 2,
                F.expr("(2 * n_triangles * 1000000) DIV (deg * (deg - 1))"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("cc_micro"),
        )
    )


def kcore(
    nodes: DataFrame,
    edges: DataFrame,
    k: int = 2,
    rounds: int = 6,
) -> DataFrame:
    """(group_id, name, core_deg, in_kcore) — k-core membership over
    the undirected canonical entity graph: iteratively peel nodes of
    degree < ``k`` (with their edges) until fixpoint, the standard
    dense-subgraph / noise-pruning primitive (Matula & Beck 1983; the
    usual "strip leaf entities before community detection" pass for a
    corpus-scale KG). ``core_deg`` is the node's degree inside the
    surviving subgraph, 0 for peeled / isolated nodes.

    Determinism across engines: the first ``rounds`` peels run as a
    FIXED unroll with no per-round convergence jobs (the LPA /
    pagerank pattern, matching the DuckDB oracle's identical unroll),
    then a convergence check fires and peeling CONTINUES to the true
    fixpoint if the cascade is deeper than ``rounds`` — k-core is a
    fixpoint definition, and a silently truncated peel would report
    non-core nodes as in_kcore=True. Peeling is monotone (the active
    edge set only shrinks, so equal edge counts across a round ⇒
    fixpoint, and termination is guaranteed); once converged, extra
    rounds are identity, so the fixed-unroll oracle agrees whenever
    the graph converges within ``rounds`` (pinned for the driver
    fixture; deeper graphs get the CORRECT core from this side).

    Scale shape: each round is one degree groupBy (map-side partial
    agg — hub entities are an agg skew, not a join skew) plus two
    left-semi hash joins filtering the edge list against surviving
    nodes; lineage is cut with localCheckpoint every 2 rounds during
    the unroll and every round in the (rare) post-``rounds`` tail,
    where the checkpoint also makes the convergence count cheap. No
    windows, no Python, no driver-side data beyond the tail's 1-value
    counts.
    """
    und, _ = _undirected_degrees(edges)
    active = und.localCheckpoint(eager=True)

    def _peel(active):
        deg = (
            active.select("group_id", F.col("a").alias("name"))
            .unionByName(active.select("group_id", F.col("b").alias("name")))
            .groupBy("group_id", "name")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.where(F.col("deg") >= k).select("group_id", "name")
        return active.join(
            keep.select("group_id", F.col("name").alias("a")),
            ["group_id", "a"],
            "left_semi",
        ).join(
            keep.select("group_id", F.col("name").alias("b")),
            ["group_id", "b"],
            "left_semi",
        )

    for r in range(rounds):
        active = _peel(active)
        if (r + 1) % 2 == 0 and r + 1 < rounds:
            active = active.localCheckpoint(eager=True)
    # fixpoint tail: keep peeling while a round still removes edges
    active = active.localCheckpoint(eager=True)
    n_active = active.count()
    while True:
        nxt = _peel(active).localCheckpoint(eager=True)
        n_nxt = nxt.count()
        if n_nxt == n_active:
            break
        active, n_active = nxt, n_nxt
    core_deg = (
        active.select("group_id", F.col("a").alias("name"))
        .unionByName(active.select("group_id", F.col("b").alias("name")))
        .groupBy("group_id", "name")
        .agg(F.count(F.lit(1)).cast("long").alias("core_deg"))
    )
    return (
        nodes.select("group_id", "name")
        .dropDuplicates()
        .join(core_deg, ["group_id", "name"], "left")
        .select(
            "group_id",
            "name",
            F.coalesce("core_deg", F.lit(0)).cast("long").alias("core_deg"),
            (F.coalesce("core_deg", F.lit(0)) >= k).alias("in_kcore"),
        )
    )


def personalized_pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: list[tuple[str, str]],
    n_iter: int = N_ITER,
    scale: int = SCALE,
) -> DataFrame:
    """(group_id, name, ppr_scaled) — personalized PageRank: random
    walk with restart where ALL teleport mass returns to the seed
    entities instead of spreading uniformly. This is the principled
    generalization of the reference's node-distance reranker
    (search/search_utils.py node_distance_reranker BFS from a center
    node): instead of raw hop count, entities are scored by stationary
    visit probability of a walk that restarts at the query entity —
    the standard graph-context retrieval primitive for a KG.

    Same integer micro-unit floor-division arithmetic as
    :func:`pagerank` (bit-identical to the unrolled DuckDB oracle):

        r_0(v)     = [v in seeds] * (scale // s_g)
        r_{k+1}(v) = [v in seeds] * ((3*scale) // (20*s_g))
                   + sum_{u->v} (17 * r_k(u)) // (20 * outdeg(u))

    where s_g is the seed count in v's group. Dangling mass is not
    redistributed, matching pagerank's documented convention.

    ``seeds``: explicit (group_id, name) pairs — tiny (a query's
    entities), so the seed flag joins broadcast.

    Scale shape: identical to pagerank — one hash join (ranks ⋈
    out-edges, only nonzero ranks flow) + one partial-aggregated
    groupBy per iteration, lineage cut every 4 iterations. Hot seeds
    are an agg skew absorbed map-side.
    """
    spark = nodes.sparkSession
    seed_df = F.broadcast(
        spark.createDataFrame(
            [(g, n, 1) for g, n in seeds], "group_id string, name string, is_seed int"
        )
    )
    e = edges.select(
        "group_id",
        F.col("subj_name").alias("src"),
        F.col("obj_name").alias("dst"),
    ).dropDuplicates()
    outdeg = e.groupBy("group_id", "src").agg(F.count(F.lit(1)).alias("outdeg"))
    e_deg = e.join(outdeg, ["group_id", "src"]).localCheckpoint(eager=True)

    sg = seed_df.groupBy("group_id").agg(F.count(F.lit(1)).alias("s"))
    base = (
        nodes.select("group_id", "name")
        .join(seed_df, ["group_id", "name"], "left")
        .join(sg, "group_id", "left")
        .select(
            "group_id",
            "name",
            F.coalesce("is_seed", F.lit(0)).alias("is_seed"),
            F.coalesce("s", F.lit(1)).alias("s"),
        )
        .localCheckpoint(eager=True)
    )
    r = base.select(
        "group_id",
        "name",
        F.expr(f"is_seed * (CAST({scale} AS BIGINT) DIV s)").alias("r"),
    )
    for k in range(n_iter):
        contrib = (
            r.where(F.col("r") != 0)
            .withColumnRenamed("name", "src")
            .join(e_deg, ["group_id", "src"])
            .select(
                "group_id",
                F.col("dst").alias("name"),
                F.expr("(17 * r) DIV (20 * outdeg)").alias("c"),
            )
            .groupBy("group_id", "name")
            .agg(F.sum("c").alias("c"))
        )
        r = base.join(contrib, ["group_id", "name"], "left").select(
            "group_id",
            "name",
            (
                F.expr(f"is_seed * ((3 * CAST({scale} AS BIGINT)) DIV (20 * s))")
                + F.coalesce("c", F.lit(0))
            ).alias("r"),
        )
        if (k + 1) % 4 == 0 and k + 1 < n_iter:
            r = r.localCheckpoint(eager=True)
    return r.select("group_id", "name", F.col("r").cast("long").alias("ppr_scaled"))


def link_prediction_ra(
    nodes: DataFrame,
    edges: DataFrame,
    k: int = 20,
    max_deg: int | None = None,
    scale: int = 10**6,
) -> DataFrame:
    """(group_id, a, b, n_common, ra_micro, rank) — top-k missing-edge
    candidates per group by the resource-allocation index
    RA(a,b) = Σ_{z ∈ N(a)∩N(b)} 1/deg(z) (Zhou/Lü/Zhang 2009), the
    link-prediction primitive a KG uses to propose facts the extractor
    missed. Kept in integer micro-units via floor division
    (``scale // deg(z)``) so the DuckDB oracle reproduces bit-identical
    longs — same determinism convention as pagerank/cc_micro.

    Only UNCONNECTED pairs (a < b, no existing undirected edge) are
    scored; ties break (ra_micro DESC, n_common DESC, a, b).

    Scale shape: wedges are enumerated by self-joining the adjacency
    list on the common neighbor z — Σ deg(z)² pairs, the classic hub
    blowup. ``max_deg`` is the standard mitigation: drop wedges
    through z with deg(z) > max_deg before the join (a hub's RA
    contribution is ≤ scale/deg — vanishing exactly when the wedge
    count explodes, so the cap trades negligible score mass for a
    bounded join). With a cap the join is O(m · max_deg); the top-k is
    a TakeOrdered per group, no global sort.
    """
    und, deg = _undirected_degrees(edges)
    adj = (
        und.select("group_id", F.col("a").alias("z"), F.col("b").alias("n"))
        .unionByName(
            und.select("group_id", F.col("b").alias("z"), F.col("a").alias("n"))
        )
        .join(
            deg.select("group_id", F.col("name").alias("z"), "deg"),
            ["group_id", "z"],
        )
    )
    if max_deg is not None:
        adj = adj.where(F.col("deg") <= max_deg)
    l = adj.select("group_id", "z", "deg", F.col("n").alias("a"))
    r = adj.select("group_id", "z", F.col("n").alias("b"))
    pairs = (
        l.join(r, ["group_id", "z"])
        .where(F.col("a") < F.col("b"))
        .groupBy("group_id", "a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum(F.expr(f"CAST({scale} AS BIGINT) DIV deg")).alias("ra_micro"),
        )
        .join(und, ["group_id", "a", "b"], "left_anti")
    )
    w = Window.partitionBy("group_id").orderBy(
        F.desc("ra_micro"), F.desc("n_common"), "a", "b"
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("group_id", "a", "b", "n_common", "ra_micro", "rank")
    )


def graph_stats(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(group_id, n_nodes, n_edges, n_und_pairs, n_reciprocal,
    max_out_deg, max_deg, avg_deg_micro) — per-group structural
    summary of the canonical entity graph: the one-row-per-tenant
    health sheet (size, density, reciprocity, hub weight) a KG
    operator dashboards. avg_deg_micro is floor(1e6 · Σdeg / n_nodes)
    — integer micro-units like cc_micro, engine-exact.

    Scale shape: three partial-aggregated groupBys over the distinct
    edge set joined on group_id (each group's row is one key — a
    broadcastable per-tenant relation); no windows, no Python.
    """
    e = edges.select(
        "group_id",
        F.col("subj_name").alias("src"),
        F.col("obj_name").alias("dst"),
    ).dropDuplicates()
    und, deg = _undirected_degrees(edges)
    n_nodes = (
        nodes.select("group_id", "name")
        .dropDuplicates()
        .groupBy("group_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    )
    e_stats = e.groupBy("group_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_edges")
    )
    # reciprocal pairs: both directions present <=> a directed edge
    # joins its reverse; count distinct unordered pairs
    rec = (
        e.alias("x")
        .join(
            e.select(
                "group_id",
                F.col("dst").alias("src"),
                F.col("src").alias("dst"),
            ).alias("y"),
            ["group_id", "src", "dst"],
            "left_semi",
        )
        .where(F.col("src") < F.col("dst"))
        .groupBy("group_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_reciprocal"))
    )
    outdeg = e.groupBy("group_id", "src").agg(F.count(F.lit(1)).alias("od"))
    out_stats = outdeg.groupBy("group_id").agg(
        F.max("od").cast("long").alias("max_out_deg")
    )
    und_stats = und.groupBy("group_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_und_pairs")
    )
    deg_stats = deg.groupBy("group_id").agg(
        F.max("deg").cast("long").alias("max_deg"),
        F.sum("deg").cast("long").alias("sum_deg"),
    )
    return (
        n_nodes.join(e_stats, "group_id", "left")
        .join(und_stats, "group_id", "left")
        .join(rec, "group_id", "left")
        .join(out_stats, "group_id", "left")
        .join(deg_stats, "group_id", "left")
        .select(
            "group_id",
            "n_nodes",
            F.coalesce("n_edges", F.lit(0)).alias("n_edges"),
            F.coalesce("n_und_pairs", F.lit(0)).alias("n_und_pairs"),
            F.coalesce("n_reciprocal", F.lit(0)).alias("n_reciprocal"),
            F.coalesce("max_out_deg", F.lit(0)).alias("max_out_deg"),
            F.coalesce("max_deg", F.lit(0)).alias("max_deg"),
            F.expr(
                "CAST(coalesce(sum_deg, 0) * 1000000 DIV n_nodes AS BIGINT)"
            ).alias("avg_deg_micro"),
        )
    )


def degree_histogram(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(group_id, degree, n_nodes) — the undirected-degree distribution
    per tenant, including the zero-degree isolated entities (speakers
    that never joined an edge): the power-law / hub-structure sheet
    read next to graph_stats before choosing skew strategies.

    Scale shape: degrees collapse through a partial-aggregated
    groupBy(group, node) over the distinct undirected pair set, then
    the histogram groupBy runs on (group, degree) — a tiny key space.
    Isolated nodes enter via one left join against the node set.
    """
    _und, deg = _undirected_degrees(edges)
    all_deg = (
        nodes.select("group_id", "name")
        .distinct()
        .join(
            deg.select("group_id", "name", F.col("deg").alias("degree")),
            ["group_id", "name"],
            "left",
        )
        .select(
            "group_id", "name",
            F.coalesce("degree", F.lit(0)).cast("long").alias("degree"),
        )
    )
    return all_deg.groupBy("group_id", "degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
