"""GraphitiSpark facade: the reference's Graphiti entry points driven
end-to-end over one graph root (add_episodes → search → add_triplet →
communities → remove_episode)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphiti_spark.graphiti import GraphitiSpark
from graphiti_spark.synth import synthesize_episodes
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def graph(spark, tmp_path_factory):
    g = GraphitiSpark(
        spark, str(tmp_path_factory.mktemp("facade")), search_indexes=True
    )
    eps = synthesize_episodes(spark, SF_SMOKE)
    # two incremental batches, like the reference's sequential queue
    eps_b = eps.withColumn("b", F.pmod(F.xxhash64("doc_id"), F.lit(2)).cast("int"))
    g.add_episodes(eps_b.where(F.col("b") == 0).drop("b"))
    g.add_episodes(eps_b.where(F.col("b") == 1).drop("b"))
    return g


def test_add_episodes_builds_graph(spark, graph):
    assert graph.nodes.count() > 0
    assert graph.edges.count() > 0
    assert graph.mentions.count() > 0
    assert graph.io.exists("ft_edges_postings")  # indexes maintained


def test_default_search_uses_persisted_index(spark, graph):
    res = graph.search("works for acme corp")
    rows = res.edges.collect()
    assert rows and len(rows) <= 10
    live = {r.uuid for r in graph.edges.select("uuid").collect()}
    assert all(r.id in live for r in rows)


def test_add_triplet_merges_and_rectifies(spark, graph):
    before = graph.edges.count()
    graph.add_triplet("g0", "Zeta Corp", "ACQUIRED", "Yotta Inc", "2021-01-01")
    after = graph.edges
    assert after.count() == before + 1
    row = after.where(
        (F.col("subj_name") == "Zeta Corp") & (F.col("obj_name") == "Yotta Inc")
    ).collect()[0]
    assert row.predicate == "ACQUIRED" and row.invalid_at is None
    # endpoint nodes are upserted (the reference saves both nodes) and
    # recorded in the uuid_map; the persisted fulltext indexes learn
    # the new fact and names
    node_names = {
        r.name for r in graph.nodes.where(
            F.col("name").isin("Zeta Corp", "Yotta Inc")
        ).collect()
    }
    assert node_names == {"Zeta Corp", "Yotta Inc"}
    assert graph.table("uuid_map").where(F.col("name") == "Zeta Corp").count() == 1
    from graphiti_spark.operators.search import SearchIndex

    eidx = SearchIndex(graph.io, "ft_edges")
    assert row.uuid in {r.id for r in eidx.search("zeta acquired yotta").collect()}
    # a later contradicting assertion invalidates the first (T1/T2)
    graph.add_triplet("g0", "Zeta Corp", "ACQUIRED", "Yotta Inc", "2023-01-01")
    rows = {
        r.valid_at.year: r
        for r in graph.edges.where(F.col("subj_name") == "Zeta Corp").collect()
    }
    assert rows[2021].invalid_at is not None and rows[2021].expired_at is not None
    assert rows[2023].invalid_at is None


def test_add_triplet_resolves_existing_surface_forms(spark, graph):
    """A triplet naming an existing entity (any case) resolves to its
    canonical node instead of minting a duplicate."""
    target = graph.nodes.limit(1).collect()[0]
    n_before = graph.nodes.count()
    graph.add_triplet(
        target.group_id, target.name.upper(), "LIKES", "Brand-New Thing",
        "2022-06-01",
    )
    assert graph.nodes.count() == n_before + 1  # only the new object node
    row = graph.edges.where(F.col("obj_name") == "Brand-New Thing").collect()[0]
    assert row.source_node_uuid == target.uuid
    assert row.subj_name == target.name  # canonical surface form kept


def test_retrieve_episodes_and_subgraph(spark, graph):
    eps = graph.retrieve_episodes("2024-01-01 00:00:00", last_n=5)
    got = eps.collect()
    assert 0 < len(got) <= 5
    doc = got[0].doc_id
    nodes, edges = graph.episode_subgraph([doc])
    assert nodes.count() > 0
    for r in edges.collect():
        assert doc in r.episodes


def test_communities_lifecycle(spark, graph):
    graph.build_communities()
    comms = graph.table("communities")
    assert comms.count() > 0 and "name_embedding" in comms.columns
    res = graph.search(
        "acme", config=__import__(
            "graphiti_spark.search_api", fromlist=["COMMUNITY_HYBRID_SEARCH_RRF"]
        ).COMMUNITY_HYBRID_SEARCH_RRF(),
    )
    assert res.communities is not None
    graph.remove_communities()
    assert graph.table("communities").count() == 0


def test_build_communities_group_scoped(spark, graph):
    """Scoped rebuild (reference graphiti.py:667 →
    community_operations.py:33-43): after ``build_communities(
    group_ids=[g])``, every untouched group's community rows survive
    byte-identical, and the scoped group's rows equal what the full
    rebuild produced (LPA is group-local)."""

    def rows(table, cond):
        return {
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in graph.table(table).where(cond).collect()
        }

    graph.build_communities()
    groups = sorted(
        r.group_id
        for r in graph.table("communities").select("group_id").distinct().collect()
    )
    assert len(groups) >= 2, "fixture must span multiple groups"
    target = groups[0]
    scoped, other = F.col("group_id") == target, F.col("group_id") != target
    before = {
        (t, which): rows(t, cond)
        for t in ("communities", "community_members")
        for which, cond in (("scoped", scoped), ("other", other))
    }
    graph.build_communities(group_ids=[target])
    for t in ("communities", "community_members"):
        assert rows(t, other) == before[(t, "other")], f"{t}: other groups changed"
        assert rows(t, scoped) == before[(t, "scoped")], f"{t}: scoped != full rebuild"
        assert before[(t, "scoped")], f"{t}: scoped group produced no rows"


def _part_file_stats(io, table, prefix):
    import os

    root = io.path(table)
    out = {}
    for d in os.listdir(root):
        if d.startswith(prefix) and os.path.isdir(os.path.join(root, d)):
            p = os.path.join(root, d)
            out[d] = sorted(
                (f, os.stat(os.path.join(p, f)).st_mtime_ns)
                for f in os.listdir(p)
                if f.endswith(".parquet")
            )
    return out


def test_remove_episode_cascade(spark, graph):
    doc = graph.episodes.select("doc_id").limit(1).collect()[0].doc_id
    n_eps = graph.episodes.count()
    eps_before = _part_file_stats(graph.io, "episodes", "part=")
    graph.remove_episode(doc)
    # point delete: exactly one episode bucket was rewritten on disk
    eps_after = _part_file_stats(graph.io, "episodes", "part=")
    changed = [d for d in eps_before if eps_before[d] != eps_after.get(d)]
    assert len(changed) == 1
    assert graph.episodes.count() == n_eps - 1
    assert graph.episodes.where(F.col("doc_id") == doc).count() == 0
    # no edge cites the removed episode; forward index agrees
    assert graph.edges.where(
        F.array_contains("episodes", doc)
    ).count() == 0
    assert graph.table("episode_edges").where(F.col("doc_id") == doc).count() == 0
    # fulltext indexes tombstoned: no dead ids remain visible
    from graphiti_spark.operators.search import SearchIndex

    live = {r.uuid for r in graph.edges.select("uuid").collect()}
    eidx_ids = {
        r.id for r in SearchIndex(graph.io, "ft_edges").postings()
        .select("id").distinct().collect()
    }
    assert eidx_ids <= live | set()  # nothing dead is searchable
    ep_ids = {
        r.id for r in SearchIndex(graph.io, "ft_episodes").postings()
        .select("id").distinct().collect()
    }
    assert doc not in ep_ids


def test_compact_preserves_content_and_coalesces_files(spark, graph):
    """Maintenance compaction: visible content of the band index and
    the fulltext indexes is byte-identical afterwards, the band index
    is down to ONE file per kpart bucket, tombstone tables are gone,
    and the next incremental batch still resolves against the
    compacted index."""
    import os

    from graphiti_spark.operators.search import SearchIndex

    def band_rows():
        return {
            tuple(r)
            for r in graph.table("entity_bands")
            .select("group_id", "uuid", "band", "key", "kpart")
            .collect()
        }

    def live_postings(prefix):
        return {
            tuple(r)
            for r in SearchIndex(graph.io, prefix).postings()
            .select("id", "term", "tf", "dl")
            .collect()
        }

    # ensure a tombstone exists so compaction has hidden rows to drop
    # (remove_episode leaves one behind when the full module ran first;
    # create one explicitly so the test is order-independent)
    if not graph.io.exists("ft_episodes_tombstones"):
        doc = graph.episodes.select("doc_id").limit(1)
        SearchIndex(graph.io, "ft_episodes").delete(doc)
    bands_before = band_rows()
    posts_before = {p: live_postings(p) for p in ("ft_episodes", "ft_edges")}
    assert bands_before and posts_before["ft_edges"]
    assert graph.io.exists("ft_episodes_tombstones")

    graph.compact()

    assert band_rows() == bands_before
    for p, before in posts_before.items():
        assert live_postings(p) == before, f"{p} postings changed"
    assert not graph.io.exists("ft_episodes_tombstones")
    # one file per band bucket
    root = graph.io.path("entity_bands")
    for d in os.listdir(root):
        if d.startswith("kpart="):
            files = [
                f for f in os.listdir(os.path.join(root, d))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, f"{d}: {len(files)} files after compact"
    # the compacted index still serves incremental resolution: re-ingest
    # docs STILL PRESENT in the graph (remove_episode dropped one doc
    # earlier, whose entities may have been orphan-purged) — every name
    # must band-collide with its stored twin, so no new entities appear
    # collect the doc ids FIRST: a lazy plan over graph.episodes would
    # reference table files that add_episodes itself rewrites mid-run
    live_docs = [
        r.doc_id for r in graph.episodes.select("doc_id").limit(3).collect()
    ]
    eps = synthesize_episodes(spark, SF_SMOKE).where(
        F.col("doc_id").isin(live_docs)
    )
    n_map = graph.table("uuid_map").count()
    graph.add_episodes(eps)
    assert graph.table("uuid_map").count() == n_map  # re-ingest: no new entities


def test_saved_node_on_empty_root_survives_add_episodes(spark, tmp_path_factory):
    """save_entity_node on a root with no tables writes the partitioned
    layout and registers the node in uuid_map and the band index, so
    the next add_episodes resolves against it instead of overwriting
    the entity tables with the batch's entities only."""
    g = GraphitiSpark(spark, str(tmp_path_factory.mktemp("empty_root")))
    uuid = g.save_entity_node("g0", "Zorblax Quantum Ltd", summary="saved by hand")
    eps = synthesize_episodes(spark, SF_SMOKE).where(F.col("doc_id") < "doc-000050")
    g.add_episodes(eps)

    saved = g.nodes.where(F.col("uuid") == uuid).collect()
    assert len(saved) == 1 and saved[0].summary == "saved by hand"
    assert g.table("uuid_map").where(F.col("uuid") == uuid).count() == 1
    assert g.mentions.count() > 0  # the batch itself landed too
