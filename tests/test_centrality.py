"""Graph-centrality operators (operators/centrality.py), checked for
semantics on crafted graphs."""

from __future__ import annotations

from graphiti_spark.operators.centrality import triangle_count


def _graph(spark, pairs, names=None):
    edges = spark.createDataFrame(
        [("g", a, b) for a, b in pairs],
        "group_id string, subj_name string, obj_name string",
    )
    if names is None:
        names = sorted({n for p in pairs for n in p})
    nodes = spark.createDataFrame(
        [("g", n) for n in names], "group_id string, name string"
    )
    return nodes, edges


def test_triangle_square_pendant(spark):
    # triangle a-b-c, square d-e-f-g (chordless), pendant h off a
    nodes, edges = _graph(
        spark,
        [("a", "b"), ("b", "c"), ("c", "a"),
         ("d", "e"), ("e", "f"), ("f", "g"), ("g", "d"),
         ("a", "h")],
    )
    out = {r.name: r.n_triangles for r in triangle_count(nodes, edges).collect()}
    assert out == {"a": 1, "b": 1, "c": 1, "d": 0, "e": 0, "f": 0, "g": 0, "h": 0}


def test_triangle_k4_and_direction_collapse(spark):
    # K4: every node sits in C(3,2) = 3 triangles; parallel/reverse
    # directed edges and self-loops must collapse before counting
    pairs = [("a", "b"), ("b", "a"), ("a", "c"), ("a", "d"),
             ("b", "c"), ("b", "d"), ("c", "d"), ("c", "c")]
    nodes, edges = _graph(spark, pairs, names=["a", "b", "c", "d"])
    out = {r.name: r.n_triangles for r in triangle_count(nodes, edges).collect()}
    assert out == {"a": 3, "b": 3, "c": 3, "d": 3}
    # global count = sum / 3
    assert sum(out.values()) // 3 == 4


def test_kcore_peeling_cascade(spark):
    # triangle a-b-c (the 2-core) + chain c-d-e: d has degree 2 before
    # peeling but falls out once e (degree 1) is removed — the cascade
    # a single-pass degree filter would miss
    from graphiti_spark.operators.centrality import kcore

    nodes, edges = _graph(
        spark,
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")],
    )
    out = {r.name: (r.core_deg, r.in_kcore) for r in kcore(nodes, edges, k=2).collect()}
    assert out == {
        "a": (2, True), "b": (2, True), "c": (2, True),
        "d": (0, False), "e": (0, False),
    }


def test_kcore_fixpoint_extra_rounds_identity(spark):
    # peeling is monotone: once converged, extra unrolled rounds are
    # identity — the property the fixed-round oracle unroll relies on
    from graphiti_spark.operators.centrality import kcore

    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
             ("e", "f"), ("f", "d"), ("a", "x"), ("x", "y")]
    nodes, edges = _graph(spark, pairs)
    r4 = sorted(map(tuple, kcore(nodes, edges, k=2, rounds=4).collect()))
    r7 = sorted(map(tuple, kcore(nodes, edges, k=2, rounds=7).collect()))
    assert r4 == r7
    kept = {t[1] for t in r4 if t[3]}
    assert kept == {"a", "b", "c", "d", "e", "f"}


def test_kcore_deep_cascade_beyond_fixed_rounds(spark):
    # a 16-node path with k=2 has an empty 2-core but peels only from
    # the two endpoints — ~8 rounds to converge, past the default
    # rounds=6 unroll. The fixpoint tail must keep peeling: reporting
    # the surviving middle segment as in_kcore=True would be a silent
    # wrong answer (the round-4 review finding).
    from graphiti_spark.operators.centrality import kcore

    names = [f"n{i:02d}" for i in range(16)]
    pairs = list(zip(names, names[1:]))
    nodes, edges = _graph(spark, pairs)
    out = kcore(nodes, edges, k=2).collect()
    assert all(not r.in_kcore and r.core_deg == 0 for r in out)


def test_kcore_k3_dissolves_sparse_graph(spark):
    # k=3 on a graph whose densest block is a triangle: everything peels
    from graphiti_spark.operators.centrality import kcore

    nodes, edges = _graph(
        spark, [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")]
    )
    out = kcore(nodes, edges, k=3).collect()
    assert all(not r.in_kcore and r.core_deg == 0 for r in out)


def test_ppr_locality_and_unreachable_zero(spark):
    # two components in one group: triangle a-b-c (seeded at a) and
    # pair x-y. Restart mass stays in the seed's component — x, y
    # must score exactly 0, the seed must dominate its neighbors.
    from graphiti_spark.operators.centrality import personalized_pagerank

    nodes, edges = _graph(
        spark,
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
         ("c", "a"), ("a", "c"), ("x", "y"), ("y", "x")],
    )
    out = {
        r.name: r.ppr_scaled
        for r in personalized_pagerank(nodes, edges, [("g", "a")]).collect()
    }
    assert out["x"] == 0 and out["y"] == 0
    assert out["a"] > out["b"] > 0
    assert out["c"] > 0


def test_ppr_group_isolation(spark):
    # seeds in g0 only: every g1 rank is exactly 0 even though g1 has
    # the same edge structure
    from graphiti_spark.operators.centrality import personalized_pagerank

    edges = spark.createDataFrame(
        [(g, "a", "b") for g in ("g0", "g1")] + [(g, "b", "a") for g in ("g0", "g1")],
        "group_id string, subj_name string, obj_name string",
    )
    nodes = spark.createDataFrame(
        [(g, n) for g in ("g0", "g1") for n in ("a", "b")],
        "group_id string, name string",
    )
    out = {
        (r.group_id, r.name): r.ppr_scaled
        for r in personalized_pagerank(nodes, edges, [("g0", "a")]).collect()
    }
    assert out[("g1", "a")] == 0 and out[("g1", "b")] == 0
    assert out[("g0", "a")] > 0 and out[("g0", "b")] > 0


def test_ppr_all_seeds_equals_pagerank(spark):
    # seeding EVERY node makes the teleport term uniform — the
    # arithmetic degenerates bit-for-bit to global pagerank (both use
    # the same micro-unit floor divisions), pinning the two
    # implementations against each other.
    from graphiti_spark.operators.centrality import pagerank, personalized_pagerank

    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "a"), ("b", "d")]
    nodes, edges = _graph(spark, pairs)
    names = sorted({n for p in pairs for n in p})
    pr = {r.name: r.pr_scaled for r in pagerank(nodes, edges).collect()}
    ppr = {
        r.name: r.ppr_scaled
        for r in personalized_pagerank(
            nodes, edges, [("g", n) for n in names]
        ).collect()
    }
    assert pr == ppr


def test_link_prediction_ra_crafted(spark):
    # path a-z-b plus z's third neighbor c, and connected pair a-c:
    #   candidates through z: (a,b), (a,c), (b,c) — but (a,c) is an
    #   existing edge, so only (a,b) and (b,c) survive; deg(z) = 3
    #   gives RA = 10^6 // 3 = 333333. c-z-b wedge also yields (b,c).
    from graphiti_spark.operators.centrality import link_prediction_ra

    nodes, edges = _graph(
        spark,
        [("a", "z"), ("z", "b"), ("z", "c"), ("a", "c")],
    )
    rows = {
        (r.a, r.b): (r.n_common, r.ra_micro)
        for r in link_prediction_ra(nodes, edges, k=10).collect()
    }
    assert ("a", "c") not in rows          # existing edge excluded
    assert rows[("a", "b")] == (1, 333333)
    assert rows[("b", "c")] == (1, 333333)
    # a-z-b via two common neighbors scores additively: add hub h
    edges2 = spark.createDataFrame(
        [("g", x, y) for x, y in
         [("a", "z"), ("z", "b"), ("z", "c"), ("a", "c"),
          ("a", "h"), ("h", "b")]],
        "group_id string, subj_name string, obj_name string",
    )
    rows2 = {
        (r.a, r.b): (r.n_common, r.ra_micro)
        for r in link_prediction_ra(nodes, edges2, k=10).collect()
    }
    # common neighbors of (a,b): z (deg 3) and h (deg 2)
    assert rows2[("a", "b")] == (2, 333333 + 500000)


def test_link_prediction_max_deg_cap(spark):
    # star hub s with leaves l0..l5 plus a quiet wedge a-q-b: capping
    # max_deg below the hub's degree removes all hub-mediated pairs
    # but keeps the quiet wedge
    from graphiti_spark.operators.centrality import link_prediction_ra

    pairs = [("s", f"l{i}") for i in range(6)] + [("a", "q"), ("q", "b")]
    nodes, edges = _graph(spark, pairs)
    capped = {
        (r.a, r.b): r.ra_micro
        for r in link_prediction_ra(nodes, edges, k=100, max_deg=3).collect()
    }
    assert capped == {("a", "b"): 500000}
    uncapped = {
        (r.a, r.b)
        for r in link_prediction_ra(nodes, edges, k=100).collect()
    }
    assert (("l0", "l1") in uncapped) and (("a", "b") in uncapped)


def test_graph_stats_crafted(spark):
    # a->b and b->a (reciprocal), a->c one-way, isolated node d
    from graphiti_spark.operators.centrality import graph_stats

    nodes, edges = _graph(
        spark, [("a", "b"), ("b", "a"), ("a", "c")], names=["a", "b", "c", "d"]
    )
    r = graph_stats(nodes, edges).collect()[0]
    assert r.n_nodes == 4
    assert r.n_edges == 3            # distinct directed
    assert r.n_und_pairs == 2        # {a,b}, {a,c}
    assert r.n_reciprocal == 1       # a<->b
    assert r.max_out_deg == 2        # a
    assert r.max_deg == 2            # a (undirected)
    # sum_deg = 2+1+1 = 4 over 4 nodes -> exactly 1.0 in micro-units
    assert r.avg_deg_micro == 1000000


def test_degree_histogram_counts_isolated_nodes(spark):
    from graphiti_spark.operators.centrality import degree_histogram

    # triangle a-b-c (+ reverse dup b->a collapsing), isolated z
    nodes, edges = _graph(
        spark, [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a")],
        names=["a", "b", "c", "z"],
    )
    out = {
        (r.degree): r.n_nodes
        for r in degree_histogram(nodes, edges).collect()
    }
    assert out == {2: 3, 0: 1}
