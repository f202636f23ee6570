"""A global bulk build takes one of three paths, each falling to the
next: the whole graph on the driver (at most
``local_graph.DRIVER_GRAPH_TRIPLES_CAP`` raw triples, names under
``incremental_local.DRIVER_RESOLVE_NAMES_CAP``, LSH candidates under
``DRIVER_PAIR_CAP``), driver resolution with the graph stages in Spark,
and the distributed path. All three must give byte-identical output:
the same schema and the same rows in every GraphOutput frame. The
driver path must also keep a build's Spark job count small and plan no
shuffle."""

from __future__ import annotations

import datetime as dt
import uuid

from graphiti_spark import pipeline
from graphiti_spark.operators import incremental_local as L
from graphiti_spark.operators import local_graph as G
from graphiti_spark.pipeline import run_pipeline
from tests.conftest import n_cached_plans

JOB_BUDGET = 8
FRAMES = ("uuid_map", "entities", "duplicates", "nodes", "edges", "mentions")

NEAR_DUPS = [
    ("d1", "g0", "Narrator: Alice Johnson works for Acme Corporation since 2020."),
    ("d2", "g0", "Narrator: Bob Stone works for Acme Corp since 2021."),
    ("d3", "g0", "Narrator: Carol Price works for ACME CorP since 2022."),
    ("d4", "g0", "Narrator: Dana White works for Initech since 2020."),
    ("d5", "g0", "Narrator: Dana White works for Initech Inc since 2023."),
    ("d6", "g0", "Narrator: Erin Moss likes Apex Corp since 2021."),
    ("d7", "g1", "Narrator: Alice Johnson works for Acme Corp since 2019."),
    ("d8", "g1", "Narrator: Frank Hale partnered with Acme Corporation since 2024."),
]
NO_PAIRS = [
    ("d1", "g0", "Narrator: Alice Johnson works for Globex since 2020."),
    ("d2", "g0", "Narrator: Bob Stone dislikes Umbrella since 2021."),
]
STORED_NAMES = [("g0", "Acme Corp"), ("g0", "Initech Incorporated"), ("g0", "Wonka")]
# contradicting facts: LIKES -> DISLIKES -> LIKES, with 2020 asserted
# by two docs (one LIKES, one DISLIKES); WORKS_FOR -> LEFT_JOB ->
# WORKS_FOR over several years, once in the reverse direction; one fact
# told by two docs
CONTRADICTIONS = [
    ("d1", "g0", "Alice: Bob Stone likes Umbrella since 2020."),
    ("d2", "g0", "Bob Stone: Bob Stone dislikes Umbrella since 2020."),
    ("d3", "g0", "Alice: Bob Stone likes Umbrella since 2022."),
    ("d4", "g0", "Alice: Dana White works for Initech since 2015."),
    ("d5", "g0", "Alice: Dana White left Initech since 2018."),
    ("d6", "g0", "Alice: Dana White works for Initech since 2021."),
    ("d7", "g0", "Alice: Initech works for Dana White since 2019."),
    ("d8", "g0", "Carol: Erin Moss partnered with Globex since 2017."),
    ("d9", "g0", "Frank: Erin Moss partnered with Globex since 2017."),
    ("d10", "g1", "Alice: Bob Stone dislikes Umbrella since 2021."),
]
# years outside 1678-2261 parse to a NULL valid_at; two endpoints that
# resolve to one canonical node make a self-loop; a blank subject is
# dropped from the mentions (trim) but kept on its triple, unresolved
ODD_ROWS = [
    ("d1", "g0", "Narrator: Alice Johnson works for Globex since 1500."),
    ("d2", "g0", "Narrator: Alice Johnson works for Globex since 3000."),
    ("d3", "g0", "Narrator: Alice Johnson dislikes Globex since 2020."),
    ("d4", "g0", "Narrator: Acme Corp acquired Acme Corporation since 2020."),
    ("d5", "g0", "Narrator: Acme Corp likes Umbrella since 2021."),
    ("d6", "g0", "Narrator:   works for Globex since 2019."),
]


def _episodes(spark, rows):
    """One-span episodes from (doc_id, group_id, text[, valid_at])."""
    from graphiti_spark.schemas import EPISODES_SCHEMA

    t0 = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (doc, g, doc, "message", "test", [("text", text, "", 0)], t0,
             rest[0] if rest else t0)
            for doc, g, text, *rest in rows
        ],
        EPISODES_SCHEMA,
    )


def _canon(v):
    """Hashable, order-free form of a row value (maps → sorted items)."""
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _frame(df) -> tuple:
    return df.schema, sorted((_canon(tuple(r)) for r in df.collect()), key=repr)


PATHS = ("driver graph", "driver resolution", "distributed")


def _all_paths(
    spark, monkeypatch, episodes, force="DRIVER_RESOLVE_NAMES_CAP", **kw
) -> dict:
    """{frame: [path 1 result, path 2 result, path 3 result]}. Path 2
    runs with ``DRIVER_GRAPH_TRIPLES_CAP`` at 0; path 3 with the cap
    named ``force`` at 0 as well: the names cap skips the driver
    kernel, the pair cap makes ``resolve_local`` raise
    ``FallbackToSpark`` on its first candidate pair. Spies on
    ``resolve_local``, on the driver graph stages and on the
    distributed ``connected_components`` check that each run took the
    path it was meant to, and each run's ``release`` must leave the
    session's cache as it found it."""
    calls = []
    resolve_local = L.resolve_local
    graph_on_driver = pipeline._graph_on_driver
    components = pipeline.connected_components

    def spy_local(*a, **k):
        try:
            out = resolve_local(*a, **k)
        except L.FallbackToSpark:
            calls.append("fallback")
            raise
        calls.append("local")
        return out

    monkeypatch.setattr(L, "resolve_local", spy_local)
    monkeypatch.setattr(
        pipeline,
        "_graph_on_driver",
        lambda *a, **k: calls.append("graph") or graph_on_driver(*a, **k),
    )
    monkeypatch.setattr(
        pipeline,
        "connected_components",
        lambda *a, **k: calls.append("distributed") or components(*a, **k),
    )
    fallback = [] if force == "DRIVER_RESOLVE_NAMES_CAP" else ["fallback"]
    expected = (["local", "graph"], ["local"], fallback + ["distributed"])
    got = {name: [] for name in FRAMES}
    before = n_cached_plans(spark)
    for path, want in zip(PATHS, expected):
        if path == "driver resolution":
            monkeypatch.setattr(G, "DRIVER_GRAPH_TRIPLES_CAP", 0)
        elif path == "distributed":
            monkeypatch.setattr(L, force, 0)
        calls.clear()
        out = run_pipeline(spark, episodes, **kw)
        assert calls == want, f"{path} run took {calls}"
        for name in FRAMES:
            got[name].append(_frame(getattr(out, name)))
        out.release()
        assert n_cached_plans(spark) == before, f"{path} run left a cache"
    return got


def _assert_identical(got: dict) -> None:
    for name, results in got.items():
        (schema, rows), *others = results
        for path, (other_schema, other_rows) in zip(PATHS[1:], others):
            assert other_schema == schema, (
                f"{name} schema, {path}: {other_schema} vs {schema}"
            )
            assert other_rows == rows, f"{name} rows differ, {path}"


def test_paths_identical_with_near_dups_case_variants_and_two_groups(
    spark, monkeypatch
):
    got = _all_paths(spark, monkeypatch, _episodes(spark, NEAR_DUPS))
    _assert_identical(got)
    # the case variants share one vertex, represented by the smaller form
    acme = {(g, n) for g, n, _u in got["entities"][0][1] if n.lower() == "acme corp"}
    assert acme == {("g0", "ACME CorP"), ("g1", "Acme Corp")}
    # Acme merges in both groups, Initech in g0; Apex Corp stays apart
    assert {(g, a, b) for g, a, b, *_ in got["duplicates"][0][1]} == {
        ("g0", "ACME CorP", "Acme Corporation"),
        ("g0", "Initech", "Initech Inc"),
        ("g1", "Acme Corp", "Acme Corporation"),
    }


def test_pair_cap_fallback_identical_with_near_dups(spark, monkeypatch):
    """A batch under the names cap whose LSH candidates pass
    ``DRIVER_PAIR_CAP`` falls back to the distributed path, read at
    call time, with the same output."""
    got = _all_paths(
        spark, monkeypatch, _episodes(spark, NEAR_DUPS), force="DRIVER_PAIR_CAP"
    )
    _assert_identical(got)
    assert len(got["duplicates"][0][1]) == 3


def test_paths_identical_without_accepted_pairs(spark, monkeypatch):
    got = _all_paths(spark, monkeypatch, _episodes(spark, NO_PAIRS))
    _assert_identical(got)
    schema, rows = got["duplicates"][0]
    assert rows == [] and "created_at" in schema.fieldNames()


def test_paths_identical_with_extra_entity_names(spark, monkeypatch):
    """materialize_graph's crash-recovery branch: the batch resolves
    together with the names of an earlier, uncommitted build."""
    extra = spark.createDataFrame(STORED_NAMES, "group_id string, name string")
    got = _all_paths(
        spark, monkeypatch, _episodes(spark, NEAR_DUPS), extra_entity_names=extra
    )
    _assert_identical(got)
    # the stored names arrive nullable, so group_id is nullable here
    assert got["uuid_map"][0][0]["group_id"].nullable
    names = {(g, n) for g, _u, n, _cu, _cn in got["uuid_map"][0][1]}
    assert set(STORED_NAMES) - {("g0", "Acme Corp")} <= names


def _edges_by_fact(got) -> dict:
    schema, rows = got["edges"][0]
    i = {f: schema.fieldNames().index(f) for f in ("fact", "invalid_at", "episodes")}
    return {r[i["fact"]]: (r[i["invalid_at"]], r[i["episodes"]]) for r in rows}


def test_paths_identical_with_contradicting_facts(spark, monkeypatch):
    got = _all_paths(spark, monkeypatch, _episodes(spark, CONTRADICTIONS))
    _assert_identical(got)
    edges = _edges_by_fact(got)
    y = lambda year: dt.datetime(year, 1, 1)  # noqa: E731
    # the shared 2020 closes at the next distinct valid_at, 2022
    assert edges["Bob Stone likes Umbrella since 2020."][0] == y(2022)
    assert edges["Bob Stone dislikes Umbrella since 2020."][0] == y(2022)
    assert edges["Bob Stone likes Umbrella since 2022."][0] is None
    # the reversed WORKS_FOR shares the unordered pair and the class
    assert edges["Dana White works for Initech since 2015."][0] == y(2018)
    assert edges["Dana White left Initech since 2018."][0] == y(2019)
    assert edges["Initech works for Dana White since 2019."][0] == y(2021)
    assert edges["Erin Moss partnered with Globex since 2017."] == (None, ("d8", "d9"))


def test_paths_identical_with_null_valid_at_self_loop_and_blank_name(
    spark, monkeypatch
):
    got = _all_paths(spark, monkeypatch, _episodes(spark, ODD_ROWS))
    _assert_identical(got)
    schema, rows = got["edges"][0]
    va, fact, subj = (schema.fieldNames().index(f) for f in ("valid_at", "fact", "subj_name"))
    # 1500 and 3000 both parse to NULL: one open edge, no fact text,
    # and the 2020 DISLIKES does not close it
    nulls = [r for r in rows if r[va] is None]
    assert len(nulls) == 1 and nulls[0][fact] is None
    # Acme Corp acquired Acme Corporation collapses to a self-loop
    assert not any(r[fact] and "acquired" in r[fact] for r in rows)
    assert sum(r[subj] == " " for r in rows) == 1


def test_paths_identical_with_reflexion_extractor(spark, monkeypatch):
    """The reflexion pass dates a sentence without a year at its
    episode's valid_at, here not at midnight and not on a second."""
    from graphiti_spark.operators.extract import RuleBasedExtractor

    rows = [
        ("d1", "g0", "Alice: Hooli acquired Pied Piper.",
         dt.datetime(2024, 5, 5, 13, 45, 30, 250000)),
        ("d2", "g0", "Alice: Hooli acquired Pied Piper.",
         dt.datetime(2024, 5, 5, 13, 45, 30, 750000)),
        ("d3", "g0", "Bob: Hooli partnered with Pied Piper since 2023.",
         dt.datetime(2024, 5, 6)),
    ]
    got = _all_paths(
        spark, monkeypatch, _episodes(spark, rows),
        extractor=RuleBasedExtractor(reflexion=True),
    )
    _assert_identical(got)
    assert len(got["edges"][0][1]) == 3


def test_paths_identical_with_excluded_entity_types(spark, monkeypatch):
    """Exclusion runs in Spark before any collect; its filtered
    ``triples_raw`` is uncached, and the release still frees the
    extraction behind it."""
    got = _all_paths(
        spark, monkeypatch, _episodes(spark, NEAR_DUPS + CONTRADICTIONS[:3]),
        excluded_entity_types=["Person"],
    )
    _assert_identical(got)
    names = {n for _u, _g, n, *_ in got["nodes"][0][1]}
    assert "Alice" not in names and "Acme Corp" in names


def test_paths_stamp_the_build_batch_time(spark, monkeypatch):
    """Every frame a build stamps carries the build's ``batch_time``:
    edges, nodes, mentions and duplicates are created at it, and an
    invalidated edge expires at it, on all three paths."""
    batch_time = "2026-03-04 05:06:07"
    stamp = dt.datetime(2026, 3, 4, 5, 6, 7)
    got = _all_paths(
        spark, monkeypatch, _episodes(spark, NEAR_DUPS + CONTRADICTIONS),
        batch_time=batch_time,
    )
    _assert_identical(got)
    for name in ("edges", "nodes", "mentions", "duplicates"):
        for path, (schema, rows) in zip(PATHS, got[name]):
            i = schema.fieldNames().index("created_at")
            assert rows and {r[i] for r in rows} == {stamp}, f"{name}, {path}"
    schema, rows = got["edges"][0]
    inv, exp = (schema.fieldNames().index(f) for f in ("invalid_at", "expired_at"))
    assert {r[exp] for r in rows if r[inv] is not None} == {stamp}


def test_local_frame_keeps_schema_when_empty(spark):
    from graphiti_spark.session import local_frame

    ddl = "group_id string, band int, key bigint"
    full = local_frame(spark, [("g", 1, -(2**62))], ddl)
    empty = local_frame(spark, [], ddl)
    assert empty.schema == full.schema
    assert [f.dataType.simpleString() for f in empty.schema] == [
        "string", "int", "bigint"
    ]
    assert empty.collect() == [] and full.collect()[0].key == -(2**62)


def test_bulk_build_job_budget(spark):
    """A bulk build under the caps, drained the way the benchmark
    drains it, runs at most JOB_BUDGET Spark jobs: one Arrow collect
    each of the raw triples and the mentions, then one job per drained
    table (25 with the graph stages in Spark, 61 with distributed
    resolution)."""
    from graphiti_spark.synth import synthesize_episodes
    from tests.conftest import SF_SMOKE

    eps = synthesize_episodes(spark, SF_SMOKE)
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "bulk build job budget")
    try:
        out = run_pipeline(spark, eps)
        for name in ("triples_raw", "uuid_map", "nodes", "edges", "mentions",
                     "duplicates"):
            getattr(out, name).write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    out.release()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= JOB_BUDGET, f"{len(jobs)} jobs"


PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas",
)


def test_under_cap_build_runs_no_python_worker(spark):
    """A bulk build at or under the names cap plans no Python-evaluation
    node in any GraphOutput frame: extraction is Catalyst and the
    canonical nodes are embedded on the driver."""
    out = run_pipeline(spark, _episodes(spark, NEAR_DUPS))
    try:
        for name in FRAMES:
            df = getattr(out, name)
            df.write.format("noop").mode("overwrite").save()
            plan = df._jdf.queryExecution().executedPlan().toString()
            found = [n for n in PYTHON_NODES if n in plan]
            assert not found, f"{name} plans {found}:\n{plan}"
    finally:
        out.release()


def test_under_cap_build_plans_no_shuffle(spark):
    """A bulk build under the caps plans no shuffle ``Exchange`` in any
    resolved frame: each is a local relation (the per-row expressions
    and the typing projection fold into it), so no shuffle, aggregate,
    window or join runs after the extraction's collects."""
    out = run_pipeline(spark, _episodes(spark, NEAR_DUPS + CONTRADICTIONS))
    try:
        for name in FRAMES:
            df = getattr(out, name)
            df.write.format("noop").mode("overwrite").save()
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, f"{name} plans a shuffle:\n{plan}"
    finally:
        out.release()
