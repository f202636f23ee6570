"""North-rule resumability: materialized runs are idempotent; a
partial run + resume converges to the same tables as one full run."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphiti_spark.io.tables import TableIO
from graphiti_spark.materialize import materialize_graph, with_part
from graphiti_spark.synth import synthesize_episodes
from tests.conftest import SF_SMOKE, n_cached_plans


def _table_fingerprint(io: TableIO, name: str):
    df = io.read(name)
    cols = sorted(df.columns)
    rows = df.select(*cols).collect()
    return sorted(tuple(str(v) for v in r) for r in rows)


TABLES = [
    "episodes", "triples_raw", "nodes", "uuid_map", "edges", "mentions",
    "episode_edges", "node_stats",
]


@pytest.fixture(scope="module")
def episodes(spark):
    return synthesize_episodes(spark, SF_SMOKE).cache()


@pytest.fixture(scope="module")
def full_build(spark, episodes, tmp_path_factory):
    """One global build of ``episodes``, shared by the tests that only
    read it (none of them writes to this root)."""
    return materialize_graph(spark, episodes, str(tmp_path_factory.mktemp("full")))


def test_full_vs_partial_resume(spark, episodes, full_build, tmp_path_factory):
    part_dir = str(tmp_path_factory.mktemp("partial"))

    io_full = full_build

    # simulate a crash: first run saw only half the partitions
    eps_p = with_part(episodes)
    first_half = eps_p.where(F.col("part") < 16).drop("part")
    materialize_graph(spark, first_half, part_dir)
    # resume with the complete input
    io_resumed = materialize_graph(spark, episodes, part_dir, resume=True)

    for t in TABLES:
        assert _table_fingerprint(io_full, t) == _table_fingerprint(io_resumed, t), t


def test_rerun_is_noop(spark, episodes, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("noop"))
    io1 = materialize_graph(spark, episodes, d)
    before = {t: _table_fingerprint(io1, t) for t in TABLES}
    io2 = materialize_graph(spark, episodes, d, resume=True)
    after = {t: _table_fingerprint(io2, t) for t in TABLES}
    assert before == after


def test_lineage_and_metrics_written(full_build):
    io = full_build
    lineage = io.read("lineage")
    assert lineage.where(F.col("stage") == "extract").count() > 0
    assert set(lineage.columns) >= {"stage", "part", "row_count", "content_hash"}
    metrics = {
        (r.stage, r.metric): r.value for r in io.read("metrics").collect()
    }
    assert metrics[("extract", "n_triples")] == 999.0
    assert metrics[("edges", "n_invalidated")] == 390.0


def test_tableio_merge_semantics(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("io"))
    io = TableIO(spark, d)
    a = spark.createDataFrame([("k1", 1), ("k2", 2)], "k string, v int")
    io.merge_upsert("t", a, ["k"])
    b = spark.createDataFrame([("k2", 20), ("k3", 30)], "k string, v int")
    io.merge_upsert("t", b, ["k"])
    got = {r.k: r.v for r in io.read("t").collect()}
    assert got == {"k1": 1, "k2": 20, "k3": 30}  # update wins, rest survive
    io.delete_where("t", F.col("k") == "k1")
    assert {r.k for r in io.read("t").collect()} == {"k2", "k3"}


def _part_files(io: TableIO, table: str, prefix: str):
    """{partition dir: sorted (file, size, mtime_ns)} snapshot of a
    hash-partitioned table — untouched buckets keep identical entries."""
    import os

    root = io.path(table)
    out = {}
    for d in os.listdir(root):
        if not d.startswith(prefix + "="):
            continue
        p = os.path.join(root, d)
        out[d] = sorted(
            (f, os.stat(os.path.join(p, f)).st_size, os.stat(os.path.join(p, f)).st_mtime_ns)
            for f in os.listdir(p)
            if f.endswith(".parquet")
        )
    return out


def _edge_part_files(io: TableIO):
    return _part_files(io, "edges", "epart")


def test_incremental_merge_o_batch_and_equivalent(
    spark, episodes, full_build, tmp_path_factory
):
    """Scale contract of the incremental write path: batch N+1 rewrites
    only the pair-hash buckets it touches (O(batch), not O(table)), and
    the result is byte-identical to one global build of the union of
    the batches."""
    inc_dir = str(tmp_path_factory.mktemp("inc"))

    eps_b = episodes.withColumn(
        "b", F.pmod(F.xxhash64("doc_id"), F.lit(10)).cast("int")
    )
    batches = [
        eps_b.where(F.col("b") < 8).drop("b"),      # big initial load
        eps_b.where(F.col("b") == 8).drop("b"),     # small increment
        eps_b.where(F.col("b") == 9).drop("b"),     # small increment
    ]
    for df in batches:
        io_inc = materialize_graph(spark, df, inc_dir)
    before = _edge_part_files(io_inc)

    # one more tiny batch: a handful of docs
    tiny_ids = [r.doc_id for r in episodes.select("doc_id").limit(4).collect()]
    tiny = episodes.where(F.col("doc_id").isin(tiny_ids))
    io_inc = materialize_graph(spark, tiny, inc_dir)
    after = _edge_part_files(io_inc)

    metrics = [
        (r.stage, r.metric, r.value)
        for r in io_inc.read("metrics").orderBy("seq").collect()
    ]
    parts_rewritten = [
        v for s, m, v in metrics if (s, m) == ("edges_merge", "n_parts_rewritten")
    ]
    # the last batch's merge touched a strict minority of the buckets
    assert 0 < parts_rewritten[-1] < 0.5 * len(after)
    untouched = [d for d in before if before[d] == after.get(d)]
    changed = [d for d in before if d in after and before[d] != after[d]]
    assert len(untouched) > len(changed)  # most buckets untouched on disk
    assert len(changed) <= parts_rewritten[-1]

    # equivalence: one global build of the union of the batches
    for t in TABLES:
        assert _table_fingerprint(io_inc, t) == _table_fingerprint(full_build, t), t


def test_incremental_resolve_o_batch(spark, episodes, tmp_path_factory):
    """Scale contract of incremental ENTITY RESOLUTION (VERDICT r2 #1):
    after the first load bootstraps the LSH band index, each micro-batch
    resolves only the batch ∪ its LSH-collided neighborhood — never the
    whole entity space — and the uuid_map/nodes merges rewrite only the
    affected hash buckets (byte-identical elsewhere). Equivalence to the
    full path is pinned by test_incremental_merge_o_batch_and_equivalent;
    this test pins the WORK metrics."""
    d = str(tmp_path_factory.mktemp("ires"))
    eps_b = episodes.withColumn(
        "b", F.pmod(F.xxhash64("doc_id"), F.lit(10)).cast("int")
    )
    big = eps_b.where(F.col("b") < 9).drop("b")
    io = materialize_graph(spark, big, d)
    total_entities = io.read("uuid_map").count()
    nodes_before = _part_files(io, "nodes", "npart")
    map_before = _part_files(io, "uuid_map", "upart")

    tiny_ids = [r.doc_id for r in episodes.select("doc_id").limit(3).collect()]
    tiny = episodes.where(F.col("doc_id").isin(tiny_ids))
    io = materialize_graph(spark, tiny, d)

    metrics = [
        (r.stage, r.metric, r.value)
        for r in io.read("metrics").orderBy("seq").collect()
    ]
    last = {(s, m): v for s, m, v in metrics}
    # the tiny batch resolved a restricted vertex set, not the graph
    n_resolved = last[("resolve_incremental", "n_vertices_resolved")]
    assert 0 < n_resolved < 0.5 * total_entities
    # uuid_map/nodes merges were partition-scoped (not the -1 sentinel
    # of a global overwrite), touching a strict minority of buckets
    from graphiti_spark.operators.incremental import UUID_PARTS

    assert 0 < last[("resolve_merge", "n_parts_rewritten")] < 0.5 * UUID_PARTS
    assert 0 < last[("nodes_merge", "n_parts_rewritten")] < 0.5 * UUID_PARTS
    assert last[("resolve_merge", "n_rows_rewritten")] <= n_resolved

    # most nodes/uuid_map buckets untouched on DISK (inode-level)
    for table, before in (("nodes", nodes_before), ("uuid_map", map_before)):
        after = _part_files(io, table, "npart" if table == "nodes" else "upart")
        untouched = [k for k in before if before[k] == after.get(k)]
        assert len(untouched) > 0.5 * len(before), table


def _crafted_episodes(spark, rows):
    """One-span episodes of group "g" from (doc_id, text) pairs."""
    import datetime as dt

    from graphiti_spark.schemas import EPISODES_SCHEMA

    t0 = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (doc, "g", doc, "message", "test", [("text", text, "", 0)], t0, t0)
            for doc, text in rows
        ],
        EPISODES_SCHEMA,
    )


def test_incremental_resolve_cross_batch_merge(spark, tmp_path_factory):
    """A later batch can merge an entity cluster the earlier batches
    kept separate: the restricted resolver must pull the stored
    component, re-pick the canonical, delete the swallowed canonical's
    nodes row, and re-canonicalize stored edges — matching a
    from-scratch run over the union of batches."""
    b1 = [
        ("d1", "Narrator: Alice Johnson works for Acme Corporation since 2020."),
        ("d2", "Narrator: Bob Stone works for Initech since 2021."),
    ]
    # 'Acme Corp' is a near-dup of the stored 'Acme Corporation' and
    # shorter → becomes the new canonical for the merged cluster
    b2 = [("d3", "Narrator: Carol Price works for Acme Corp since 2022.")]

    inc = str(tmp_path_factory.mktemp("xinc"))
    io_inc = materialize_graph(spark, _crafted_episodes(spark, b1), inc)
    assert io_inc.exists("entity_bands")
    io_inc = materialize_graph(spark, _crafted_episodes(spark, b2), inc)

    full = str(tmp_path_factory.mktemp("xfull"))
    io_full = materialize_graph(spark, _crafted_episodes(spark, b1 + b2), full)

    for t in ("nodes", "uuid_map", "edges", "mentions"):
        assert _table_fingerprint(io_inc, t) == _table_fingerprint(io_full, t), t
    # the merge actually happened: one canonical for both Acme forms
    m = {
        r.name: r.canonical_name
        for r in io_inc.read("uuid_map").collect()
        if "Acme" in r.name
    }
    assert len(m) == 2 and set(m.values()) == {"Acme Corp"}


def test_two_default_calls_equal_one_global_build(spark, tmp_path_factory):
    """Two default calls on one root with disjoint batches equal one
    global build of their union: the second call finds the committed
    entity space (entity_bands) and resolves against it instead of
    overwriting uuid_map/nodes with its own entities. Every call leaves
    exactly one metrics file, whose rows share one seq."""
    import os

    import pyarrow.parquet as pq

    b1 = [
        ("d1", "Narrator: Alice Johnson works for Acme Corporation since 2020."),
        ("d2", "Narrator: Bob Stone works for Initech since 2021."),
    ]
    b2 = [
        ("d3", "Narrator: Alice Johnson works for Initech since 2023."),
        ("d4", "Narrator: Dana White works for Globex since 2022."),
    ]
    two = str(tmp_path_factory.mktemp("two_calls"))
    materialize_graph(spark, _crafted_episodes(spark, b1), two)
    io_two = materialize_graph(spark, _crafted_episodes(spark, b2), two)
    one = str(tmp_path_factory.mktemp("one_call"))
    io_one = materialize_graph(spark, _crafted_episodes(spark, b1 + b2), one)

    for t in ("nodes", "uuid_map", "edges", "mentions"):
        assert _table_fingerprint(io_two, t) == _table_fingerprint(io_one, t), t

    for io, n_calls in ((io_two, 2), (io_one, 1)):
        p = io.path("metrics")
        files = sorted(f for f in os.listdir(p) if f.endswith(".parquet"))
        assert len(files) == n_calls
        seqs = [
            set(pq.read_table(os.path.join(p, f)).column("seq").to_pylist())
            for f in files
        ]
        assert sorted(s for ss in seqs for s in ss) == list(range(n_calls))


def test_materialize_releases_cached_frames(spark, episodes, tmp_path_factory):
    """A bootstrap materialize_graph plus a restricted add_episodes
    leave the session's cache as they found it: the frames
    run_pipeline caches are released before the calls return."""
    from graphiti_spark.graphiti import GraphitiSpark

    d = str(tmp_path_factory.mktemp("uncache"))
    eps_p = with_part(episodes)
    before = n_cached_plans(spark)
    materialize_graph(spark, eps_p.where(F.col("part") < 16).drop("part"), d)
    assert n_cached_plans(spark) == before
    g = GraphitiSpark(spark, d)
    assert g.io.exists("entity_bands")  # the next call takes the restricted path
    g.add_episodes(eps_p.where(F.col("part") >= 16).drop("part"))
    assert n_cached_plans(spark) == before


def test_partition_scoped_merge_upsert(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pio"))
    io = TableIO(spark, d)
    a = spark.createDataFrame(
        [("k1", 1, 0), ("k2", 2, 1), ("k3", 3, 2)], "k string, v int, p int"
    )
    io.merge_upsert("t", a, ["k"], partition_col="p")
    import os

    p0 = os.path.join(io.path("t"), "p=0")
    stat_before = sorted(os.listdir(p0))
    mtimes_before = [os.stat(os.path.join(p0, f)).st_mtime_ns for f in stat_before]
    b = spark.createDataFrame([("k2", 20, 1), ("k4", 40, 2)], "k string, v int, p int")
    io.merge_upsert("t", b, ["k"], partition_col="p")
    got = {r.k: r.v for r in io.read("t").collect()}
    assert got == {"k1": 1, "k2": 20, "k3": 3, "k4": 40}
    # p=0 untouched on disk
    assert sorted(os.listdir(p0)) == stat_before
    assert [
        os.stat(os.path.join(p0, f)).st_mtime_ns for f in stat_before
    ] == mtimes_before


def test_overwrite_partitions_empties_listed_part(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("oio"))
    io = TableIO(spark, d)
    a = spark.createDataFrame([("x", 0), ("y", 1)], "k string, p int")
    io.write("t", a, partition_by=["p"])
    # new content has nothing for p=0: listing it must empty it
    nw = spark.createDataFrame([("z", 1)], "k string, p int")
    io.overwrite_partitions("t", nw, "p", parts=[0, 1])
    assert {r.k for r in io.read("t").collect()} == {"z"}


def test_episode_edges_forward_pointers(episodes, full_build):
    """episode_edges (the reference's episode.entity_edges forward
    pointers) inverts edge provenance exactly, and episode_subgraph
    resolves identically through the index and the arrays_overlap scan."""
    from graphiti_spark.operators.graph_api import episode_subgraph

    io = full_build
    edges = io.read("edges")
    ee = io.read("episode_edges")
    expect = {
        (r.doc_id, r.uuid)
        for r in edges.select(F.explode("episodes").alias("doc_id"), "uuid").collect()
    }
    got = {(r.doc_id, r.uuid) for r in ee.collect()}
    assert got == expect

    doc_ids = [r.doc_id for r in episodes.select("doc_id").limit(3).collect()]
    _n1, e_scan = episode_subgraph(
        doc_ids, io.read("nodes"), edges, io.read("mentions")
    )
    _n2, e_idx = episode_subgraph(
        doc_ids, io.read("nodes"), edges, io.read("mentions"), episode_edges=ee
    )
    assert {r.uuid for r in e_scan.collect()} == {r.uuid for r in e_idx.collect()}


def test_search_indexes_maintained_incrementally(spark, episodes, tmp_path_factory):
    """Opt-in fulltext indexes follow the graph across incremental
    batches: episode index covers every doc, edge index's live id set
    (postings minus tombstones) equals the edge table exactly."""
    from graphiti_spark.operators.search import SearchIndex

    d = str(tmp_path_factory.mktemp("ftmat"))
    eps_b = episodes.withColumn(
        "b", F.pmod(F.xxhash64("doc_id"), F.lit(2)).cast("int")
    )
    for b in (0, 1):
        io = materialize_graph(
            spark, eps_b.where(F.col("b") == b).drop("b"), d,
            search_indexes=True,
        )
    live = {r.uuid for r in io.read("edges").select("uuid").collect()}
    eidx = SearchIndex(io, "ft_edges")
    idx_ids = {r.id for r in eidx.postings().select("id").distinct().collect()}
    assert idx_ids == live
    hits = eidx.search("works for acme corp", limit=5).collect()
    assert hits and all(r.id in live for r in hits)

    epidx = SearchIndex(io, "ft_episodes")
    n_docs = episodes.count()
    assert io.read("ft_episodes_docs").count() == n_docs
    nidx = SearchIndex(io, "ft_nodes")
    live_nodes = {r.uuid for r in io.read("nodes").select("uuid").collect()}
    nidx_ids = {r.id for r in nidx.postings().select("id").distinct().collect()}
    assert nidx_ids == live_nodes


def test_search_uses_materialized_indexes(spark, episodes, tmp_path_factory):
    """search(indexes=...) over the materialize-maintained indexes
    returns exactly what the inline (re-tokenizing) path returns."""
    from graphiti_spark.operators.search import SearchIndex
    from graphiti_spark.search_api import (
        EDGE_HYBRID_SEARCH_RRF,
        episode_content,
        search,
        with_fact_embeddings,
    )

    d = str(tmp_path_factory.mktemp("ftuse"))
    io = materialize_graph(spark, episodes, d, search_indexes=True)
    edges = with_fact_embeddings(io.read("edges"))
    q = "works for acme corp"
    inline = search(q, EDGE_HYBRID_SEARCH_RRF(), edges=edges)
    indexed = search(
        q, EDGE_HYBRID_SEARCH_RRF(), edges=edges,
        indexes={"edges": SearchIndex(io, "ft_edges")},
    )
    a = {(r.id, round(r.score, 9)) for r in inline.edges.collect()}
    b = {(r.id, round(r.score, 9)) for r in indexed.edges.collect()}
    assert a == b and a


def test_band_lookup_pushes_key_predicate(spark, full_build):
    """The incremental band-index lookup must reach the parquet scan
    with the batch's band keys as a pushed In predicate (row-group
    skipping over the key-sorted, bloom-filtered index) — not scan the
    whole entity_bands table per micro-batch."""
    from graphiti_spark.operators.incremental import entity_band_rows
    from graphiti_spark.operators.resolve import distinct_entities

    io = full_build

    batch = distinct_entities(
        spark.createDataFrame(
            [("g0", "Acme Corp"), ("g0", "Brand New Co")],
            "group_id string, name string",
        )
    )
    bands = entity_band_rows(batch)
    keys = [r.key for r in bands.select("key").dropDuplicates().collect()]
    scan = io.read("entity_bands").where(F.col("key").isin(keys))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(key" in plan, plan[:1200]


def test_fast_count_matches_spark_counts(full_build):
    """Footer-stats counts (the Iceberg snapshot-stats stand-in the
    per-batch metrics use) must equal real Spark counts — total,
    non-null-column, and partition-scoped."""
    io = full_build
    edges = io.read("edges")
    assert io.fast_count("edges") == edges.count()
    assert io.fast_count("edges", non_null="invalid_at") == edges.where(
        F.col("invalid_at").isNotNull()
    ).count()
    some_parts = [r.epart for r in edges.select("epart").distinct().limit(3).collect()]
    assert io.fast_count("edges", parts=("epart", some_parts)) == edges.where(
        F.col("epart").isin(some_parts)
    ).count()
    assert io.fast_count("edges", parts=("epart", [10**6])) == 0
