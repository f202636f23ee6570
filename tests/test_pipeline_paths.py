"""The bulk build resolves its distinct names on the driver when they
fit ``incremental_local.DRIVER_RESOLVE_NAMES_CAP`` and their LSH
candidates fit ``DRIVER_PAIR_CAP``, and with the distributed
LSH/scoring/components path otherwise. Both paths must give
byte-identical output: the same schema and the same rows in every
GraphOutput frame. The driver path must also keep a build's Spark job
count small."""

from __future__ import annotations

import datetime as dt
import uuid

from graphiti_spark import pipeline
from graphiti_spark.operators import incremental_local as L
from graphiti_spark.pipeline import run_pipeline

JOB_BUDGET = 30
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


def _episodes(spark, rows):
    """One-span episodes from (doc_id, group_id, text)."""
    from graphiti_spark.schemas import EPISODES_SCHEMA

    t0 = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (doc, g, doc, "message", "test", [("text", text, "", 0)], t0, t0)
            for doc, g, text in rows
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


def _release(out) -> None:
    for df in (out.triples_raw, out.entities, out.uuid_map):
        df.unpersist()


def _both_paths(
    spark, monkeypatch, episodes, force="DRIVER_RESOLVE_NAMES_CAP", **kw
) -> dict:
    """{frame: (driver-path result, distributed-path result)}. The
    distributed run sets the cap named ``force`` to 0: the names cap
    skips the driver kernel, the pair cap makes ``resolve_local`` raise
    ``FallbackToSpark`` on its first candidate pair. Spies on
    ``resolve_local`` and on the distributed ``connected_components``
    check that each run took the path it was meant to."""
    calls = []
    resolve_local = L.resolve_local
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
        "connected_components",
        lambda *a, **k: calls.append("distributed") or components(*a, **k),
    )
    local = run_pipeline(spark, episodes, **kw)
    assert calls == ["local"], f"default build took {calls}"
    got = {name: [_frame(getattr(local, name))] for name in FRAMES}
    _release(local)

    calls.clear()
    monkeypatch.setattr(L, force, 0)
    dist = run_pipeline(spark, episodes, **kw)
    fallback = [] if force == "DRIVER_RESOLVE_NAMES_CAP" else ["fallback"]
    assert calls == fallback + ["distributed"], f"{force} = 0 took {calls}"
    for name in FRAMES:
        got[name].append(_frame(getattr(dist, name)))
    _release(dist)
    return got


def _assert_identical(got: dict) -> None:
    for name, (local, dist) in got.items():
        assert local[0] == dist[0], f"{name} schema: {local[0]} vs {dist[0]}"
        assert local[1] == dist[1], f"{name} rows differ"


def test_paths_identical_with_near_dups_case_variants_and_two_groups(
    spark, monkeypatch
):
    got = _both_paths(spark, monkeypatch, _episodes(spark, NEAR_DUPS))
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
    got = _both_paths(
        spark, monkeypatch, _episodes(spark, NEAR_DUPS), force="DRIVER_PAIR_CAP"
    )
    _assert_identical(got)
    assert len(got["duplicates"][0][1]) == 3


def test_paths_identical_without_accepted_pairs(spark, monkeypatch):
    got = _both_paths(spark, monkeypatch, _episodes(spark, NO_PAIRS))
    _assert_identical(got)
    schema, rows = got["duplicates"][0]
    assert rows == [] and "created_at" in schema.fieldNames()


def test_paths_identical_with_extra_entity_names(spark, monkeypatch):
    """materialize_graph's crash-recovery branch: the batch resolves
    together with the names of an earlier, uncommitted build."""
    extra = spark.createDataFrame(STORED_NAMES, "group_id string, name string")
    got = _both_paths(
        spark, monkeypatch, _episodes(spark, NEAR_DUPS), extra_entity_names=extra
    )
    _assert_identical(got)
    # the stored names arrive nullable, so group_id is nullable here
    assert got["uuid_map"][0][0]["group_id"].nullable
    names = {(g, n) for g, _u, n, _cu, _cn in got["uuid_map"][0][1]}
    assert set(STORED_NAMES) - {("g0", "Acme Corp")} <= names


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
    """A cold bulk build, drained the way the benchmark drains it, runs
    at most JOB_BUDGET Spark jobs (61 with distributed resolution)."""
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
    _release(out)
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
        _release(out)
