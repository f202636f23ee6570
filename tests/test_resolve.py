"""Dedup / resolve suite (FIXTURES.md §4) — mirrors the reference's
resolve_extracted_nodes / compress_uuid_map decisions
(/root/reference/graphiti_core/utils/maintenance/node_operations.py:229-338,
bulk_utils.py:291-301,400-409) with the deterministic scorer."""

from __future__ import annotations

from pyspark.sql import functions as F

from graphiti_spark.functions.minhash import lsh_candidate_pairs
from graphiti_spark.functions.similarity import jaro_winkler
from graphiti_spark.operators.resolve import (
    build_uuid_map,
    connected_components,
    distinct_entities,
    duplicate_pairs,
)


def _entities(spark, names, group="g0"):
    df = spark.createDataFrame(
        [(group, n) for n in names], "group_id string, name string"
    )
    return distinct_entities(df)


def test_exact_name_dedup_is_identity(spark):
    # two identical mentions → ONE entity row (J6): deterministic ids
    # make exact dedup a dropDuplicates.
    df = spark.createDataFrame(
        [("g0", "Alice"), ("g0", "Alice"), ("g1", "Alice")],
        "group_id string, name string",
    )
    ents = distinct_entities(df)
    assert ents.count() == 2  # one per group
    assert ents.select("uuid").distinct().count() == 2


def test_near_duplicates_merge_and_distinct_stay(spark):
    ents = _entities(
        spark, ["Acme Corp", "Acme Corporation", "Apex Corp", "Globex"]
    )
    pairs = duplicate_pairs(ents).collect()
    names = {
        tuple(
            sorted(
                [
                    r.id_a,
                    r.id_b,
                ]
            )
        )
        for r in pairs
    }
    assert len(pairs) == 1  # only the Acme pair; Apex Corp stays distinct
    comps = connected_components(ents, duplicate_pairs(ents))
    um = build_uuid_map(ents, comps)
    got = {r.name: r.canonical_name for r in um.collect()}
    assert got["Acme Corporation"] == "Acme Corp"
    assert got["Acme Corp"] == "Acme Corp"
    assert got["Apex Corp"] == "Apex Corp"
    assert got["Globex"] == "Globex"


def test_transitive_chain_closure(spark):
    # a→b and b→c pairs must close to one component (D5,
    # compress_uuid_map bulk_utils.py:400-409). 'Initech' ~ 'Initech Inc'
    # ~ 'Initech Incorp' chain: ends may not pair directly but must land
    # in one component.
    ents = _entities(spark, ["Initech", "Initech Inc", "Initech Incorp"])
    pairs = duplicate_pairs(ents)
    comps = connected_components(ents, pairs)
    assert comps.select("component").distinct().count() == 1
    um = build_uuid_map(ents, comps)
    got = {r.name: r.canonical_name for r in um.collect()}
    assert set(got.values()) == {"Initech"}  # min (len, name)


def test_distributed_cc_matches_driver_cc(spark):
    # force the iterative hash-join path (driver_threshold=0) and check
    # it produces the same components as the driver union-find.
    ents = _entities(spark, ["Initech", "Initech Inc", "Initech Incorp", "Globex"])
    pairs = duplicate_pairs(ents)
    dist = {
        r.uuid: r.component
        for r in connected_components(ents, pairs, driver_threshold=0).collect()
    }
    drv = {
        r.uuid: r.component for r in connected_components(ents, pairs).collect()
    }
    assert dist == drv
    assert len(set(dist.values())) == 2  # {Initech*}, {Globex}


def test_no_cross_group_merge(spark):
    df = spark.createDataFrame(
        [("g0", "Acme Corp"), ("g1", "Acme Corporation")],
        "group_id string, name string",
    )
    ents = distinct_entities(df)
    assert duplicate_pairs(ents).count() == 0


def test_lsh_recalls_all_wanted_pairs(spark):
    # blocking must not drop the corpus' designed near-dup pairs.
    from graphiti_spark import corpus

    ents = _entities(spark, corpus.ENTITIES)
    cand = lsh_candidate_pairs(
        ents, id_col="uuid", text_col="name", partition_cols=["group_id"]
    )
    texts = {tuple(sorted([r.text_a, r.text_b])) for r in cand.collect()}
    for a, b in [
        ("Acme Corp", "Acme Corporation"),
        ("John Smith", "J. Smith"),
        ("Initech", "Initech Inc"),
    ]:
        assert tuple(sorted([a, b])) in texts, f"LSH missed {(a, b)}"


def test_jaro_winkler_reference_values():
    assert jaro_winkler("abc", "abc") == 1.0
    assert jaro_winkler("abc", "xyz") == 0.0
    # classic published example
    assert abs(jaro_winkler("martha", "marhta") - 0.9611) < 1e-3
    assert abs(jaro_winkler("dwayne", "duane") - 0.84) < 1e-2


def test_case_variant_names_share_one_vertex(spark):
    """The dedup key matches the uuid key (lower(name)): case variants
    emit ONE vertex row, and pointers for every variant resolve to it."""
    from graphiti_spark.operators.resolve import distinct_entities, resolve_pointers
    from graphiti_spark.schemas import entity_uuid as entity_uuid_col

    mentions = spark.createDataFrame(
        [("g0", "Acme Corp"), ("g0", "ACME Corp"), ("g0", "acme corp"),
         ("g0", "Initech")],
        "group_id string, name string",
    )
    ents = distinct_entities(mentions)
    rows = ents.collect()
    assert len(rows) == 2  # one per lowercase name
    by_name = {r.name for r in rows}
    assert "Initech" in by_name
    # uuid column equals the schema uuid of the representative name
    chk = ents.withColumn(
        "u2", entity_uuid_col(F.col("group_id"), F.col("name"))
    ).where(F.col("uuid") != F.col("u2"))
    assert chk.count() == 0
    # no duplicate uuids in the vertex set
    assert ents.select("uuid").distinct().count() == 2

    # a triple carrying a non-representative variant still resolves
    uuid_map = ents.select(
        "group_id", "uuid", "name",
        F.col("uuid").alias("canonical_uuid"), F.col("name").alias("canonical_name"),
    )
    triples = spark.createDataFrame(
        [("g0", "acme CORP")], "group_id string, subj_name string"
    ).withColumn("source_node_uuid", F.lit(None).cast("string"))
    out = resolve_pointers(triples, uuid_map, "source_node_uuid", "subj_name").collect()
    acme = [r for r in rows if r.name != "Initech"][0]
    assert out[0].source_node_uuid == acme.uuid
    assert out[0].subj_name == acme.name


def test_distinct_entities_first_agg_is_hash_not_sort(spark):
    """The wide mention stream must collapse through a HashAggregate
    (map-side partial dedup): a single-phase min_by(name, ...) carries
    a string-payload aggregate, which forces SortAggregate = two full
    sorts of the ENTIRE exploded mention stream. The min_by may only
    run on the post-distinct (tiny) set."""
    from graphiti_spark.operators.resolve import distinct_entities

    mentions = spark.createDataFrame(
        [("g0", "Acme Corp"), ("g0", "ACME Corp"), ("g1", "Initech")],
        "group_id string, name string",
    )
    plan = (
        distinct_entities(mentions)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the distinct phase (below the min_by) must be a HashAggregate;
    # the only SortAggregate allowed is the final min_by over the
    # already-distinct rows — i.e. the plan's DEEPEST aggregate node
    # must be hash-based.
    last_hash = plan.rfind("HashAggregate")
    last_sort = plan.rfind("SortAggregate")
    assert last_hash != -1, plan[:1500]
    assert last_sort == -1 or last_sort < last_hash, plan[:1500]


def test_distinct_entities_min_by_semantics_preserved(spark):
    """Two-phase distinct+min_by must equal the single-phase min_by:
    representative = shortest, then lexicographically-first, surface
    form per (group_id, lower(name)) — duplicates must not skew it."""
    from graphiti_spark.operators.resolve import distinct_entities

    mentions = spark.createDataFrame(
        # 'aB' repeated many times must not beat the shorter-equal 'Ab'
        [("g0", "aB")] * 5 + [("g0", "Ab")] + [("g0", "ab")] * 3,
        "group_id string, name string",
    )
    rows = distinct_entities(mentions).collect()
    assert len(rows) == 1
    assert rows[0].name == "Ab"  # min by (length, name): 'Ab' < 'aB' < 'ab'


def test_resolve_pointers_identical_across_join_strategies(spark):
    """VERDICT r2 #2 (broadcast safety): the pointer rewrite returns
    identical rows whether the uuid_map side is broadcast (small-graph
    fast path), shuffle-hash joined (the 100×-entities fallback), or
    left to AQE ('auto', the default). The broadcast hint must never be
    a correctness assumption."""
    from graphiti_spark.operators.resolve import distinct_entities, resolve_pointers
    from graphiti_spark.plans.explain import physical_plan

    mentions = spark.createDataFrame(
        [("g0", f"Entity {i}") for i in range(50)] + [("g0", "Acme Corp")],
        "group_id string, name string",
    )
    ents = distinct_entities(mentions)
    uuid_map = ents.select(
        "group_id", "uuid", "name",
        F.col("uuid").alias("canonical_uuid"), F.col("name").alias("canonical_name"),
    )
    triples = spark.createDataFrame(
        [("g0", f"entity {i}") for i in range(50)] + [("g0", "ACME CORP"), ("g0", "Unseen Co")],
        "group_id string, subj_name string",
    ).withColumn("source_node_uuid", F.lit(None).cast("string"))

    results = {}
    for strategy in ("broadcast", "shuffle", "auto"):
        out = resolve_pointers(
            triples, uuid_map, "source_node_uuid", "subj_name",
            join_strategy=strategy,
        )
        results[strategy] = sorted(
            (r.subj_name, r.source_node_uuid) for r in out.collect()
        )
        plan = physical_plan(out)
        if strategy == "broadcast":
            assert "BroadcastHashJoin" in plan
        elif strategy == "shuffle":
            assert "BroadcastHashJoin" not in plan  # hint honored
    assert results["broadcast"] == results["shuffle"] == results["auto"]
    # unmapped names fall back to their deterministic identity uuid
    unseen = [u for n, u in results["auto"] if n == "Unseen Co"]
    assert unseen and unseen[0] is not None


def test_resolution_partitions_data_sized(spark):
    from graphiti_spark.operators.resolve import resolution_partitions

    small = spark.range(10).select(F.col("id").cast("string").alias("uuid"))
    assert resolution_partitions(small) == 1
    assert resolution_partitions(small, rows_per_partition=3) == 4
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert resolution_partitions(small, rows_per_partition=1) == min(cap, 10)


def test_merge_near_duplicate_facts(spark):
    """Two surface-variant facts for one (pair, date) merge into the
    earliest edge with unioned provenance; differently-dated and
    dissimilar facts stay separate."""
    import datetime as dt

    from graphiti_spark.operators.resolve import merge_near_duplicate_facts

    t0 = dt.datetime(2019, 1, 1)
    t1 = dt.datetime(2020, 1, 1)
    c0 = dt.datetime(2024, 1, 1)
    c1 = dt.datetime(2024, 1, 2)
    rows = [
        # same pair, same valid_at, near-identical embeddings → merge
        ("e1", "g0", "A", "B", "WORKS_AT", "A works at B", [1.0, 0.0, 0.1],
         t0, ["d1", "d2"], c0),
        ("e2", "g0", "A", "B", "EMPLOYED_BY", "A is employed by B",
         [0.98, 0.05, 0.12], t0, ["d3"], c1),
        # same pair, different valid_at → kept (bi-temporal chain)
        ("e3", "g0", "A", "B", "WORKS_AT", "A works at B since 2020",
         [1.0, 0.0, 0.1], t1, ["d4"], c1),
        # same pair+date but dissimilar fact → kept
        ("e4", "g0", "A", "B", "DISLIKES", "A dislikes B", [0.0, 1.0, 0.0],
         t0, ["d5"], c1),
        # different pair → untouched
        ("e5", "g0", "A", "C", "WORKS_AT", "A works at C", [1.0, 0.0, 0.1],
         t0, ["d6"], c0),
    ]
    edges = spark.createDataFrame(
        rows,
        "uuid string, group_id string, source_node_uuid string, "
        "target_node_uuid string, predicate string, fact string, "
        "fact_embedding array<double>, valid_at timestamp, "
        "episodes array<string>, created_at timestamp",
    )
    out = {r.uuid: r for r in merge_near_duplicate_facts(edges).collect()}
    assert set(out) == {"e1", "e3", "e4", "e5"}  # e2 merged into e1
    assert out["e1"].episodes == ["d1", "d2", "d3"]  # provenance unioned
    assert out["e1"].predicate == "WORKS_AT"  # canonical survivor wins
    assert out["e3"].episodes == ["d4"]


def test_get_relevant_nodes_hybrid_semantics(spark):
    """J2 full parity (search_utils.py:686-746): vector lane = cosine
    > min_score top-limit; fulltext lane = BM25 matches; group-scoped;
    a candidate in both lanes surfaces once as lane='vector'."""
    from graphiti_spark.operators.resolve import get_relevant_nodes

    # 4-dim embeddings: c1 aligned with the query, c2 orthogonal,
    # c3 mid-similarity, c4 aligned but in another group.
    corpus = spark.createDataFrame(
        [
            ("c1", "g0", "acme corp offices", [1.0, 0.0, 0.0, 0.0]),
            ("c2", "g0", "acme corp", [0.0, 1.0, 0.0, 0.0]),
            ("c3", "g0", "globex", [0.7, 0.7, 0.0, 0.0]),
            ("c4", "g1", "acme corp", [1.0, 0.0, 0.0, 0.0]),
        ],
        "uuid string, group_id string, name string, "
        "name_embedding array<double>",
    )
    queries = spark.createDataFrame(
        [("q0", "g0", "acme corp", [1.0, 0.0, 0.0, 0.0])],
        "query_id string, group_id string, query_text string, "
        "query_vec array<double>",
    )
    out = get_relevant_nodes(corpus, queries, min_score=0.6, limit=10)
    rows = {(r.id, r.lane) for r in out.collect()}
    # c1: cosine 1.0 > 0.6 AND shares the term 'acme'/'corp' → in both
    # lanes, must surface exactly once, as vector (reference dedup order)
    assert ("c1", "vector") in rows and ("c1", "fulltext") not in rows
    # c2: cosine 0 (below min_score) but BM25 match on 'acme corp'
    assert ("c2", "fulltext") in rows
    # c3: cosine ~0.707 > 0.6, no shared term → vector only
    assert ("c3", "vector") in rows
    # c4: perfect on both lanes but WRONG group → excluded entirely
    assert not any(i == "c4" for i, _ in rows)
    # one row per (query, candidate)
    assert out.count() == out.select("query_id", "id").distinct().count()
