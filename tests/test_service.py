"""HTTP service surface (graphiti_spark/service.py): the reference's
graph_service endpoints driven in-process through Flask's test client —
episodes POSTed through the queued ingest path and search queried over
HTTP must match direct facade calls exactly."""

from __future__ import annotations

import threading
import time

import pyspark.sql.functions as F

import pytest

from graphiti_spark.service import (
    IngestJob,
    IngestWorker,
    create_app,
    episodes_frame_from_messages,
)


def _messages(n0=0, n=4, group="g0"):
    # bodies compose to "<role>(<role_type>): <content>" which the
    # rule-based extractor parses speaker-first
    people = ["Alice Pine", "Bob Reyes", "Cara Wu", "Dan Ode"]
    orgs = ["Acme Corp", "Initech", "Globex", "Umbrella Inc"]
    return [
        {
            "uuid": f"svc-doc-{group}-{i}",
            "name": f"msg {i}",
            "role": f"N{i}",
            "role_type": "user",
            "content": f"{people[i % 4]} works for {orgs[i % 4]} since 201{i % 10}.",
            "timestamp": f"2023-0{(i % 8) + 1}-01T00:00:00Z",
            "source_description": "chat",
        }
        for i in range(n0, n0 + n)
    ]


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    from graphiti_spark.graphiti import GraphitiSpark

    root = str(tmp_path_factory.mktemp("svc") / "graph")
    graph = GraphitiSpark(spark, root)
    app = create_app(graph)
    app.config.update(TESTING=True)
    client = app.test_client()
    yield graph, app, client
    app.extensions["ingest_worker"].stop()


def test_worker_is_fifo_and_keeps_draining_past_errors():
    w = IngestWorker()
    w.start()
    ran: list[str] = []
    lock = threading.Lock()

    def job(tag):
        def run():
            time.sleep(0.002)
            with lock:
                ran.append(tag)
            if tag == "g1-1":
                raise RuntimeError("boom")

        return run

    tags = [f"g{i % 3}-{i // 3}" for i in range(12)]
    for t in tags:
        w.submit(IngestJob(group_id=t.split("-")[0], run=job(t), label=t))
    assert w.flush(timeout=30)
    # strict global FIFO -> per-group submission order preserved
    assert ran == tags
    assert w.processed == 12
    # the g1-1 failure was recorded, not raised, and didn't stall the queue
    assert len(w.errors) == 1 and w.errors[0]["label"] == "g1-1"
    w.stop()


def test_healthcheck_and_ingest_returns_202_then_drains(served):
    graph, app, client = served
    assert client.get("/healthcheck").get_json() == {"status": "healthy"}
    r = client.post(
        "/messages", json={"group_id": "g0", "messages": _messages(0, 4)}
    )
    assert r.status_code == 202
    assert r.get_json()["success"] is True
    # second batch, same group — must apply after the first (FIFO)
    r = client.post(
        "/messages", json={"group_id": "g0", "messages": _messages(4, 2)}
    )
    assert r.status_code == 202
    f = client.post("/flush", json={"timeout": 600})
    assert f.status_code == 200 and f.get_json()["drained"] is True
    st = client.get("/queue-status").get_json()
    assert st["errors"] == [] and st["pending"] == 0 and st["processed"] >= 2
    # all six episodes landed
    eps = {r.doc_id for r in graph.episodes.collect()}
    assert {f"svc-doc-g0-{i}" for i in range(6)} <= eps


def test_search_over_http_equals_direct_facade_call(served):
    graph, app, client = served
    body = {"query": "Alice Pine works for Acme Corp", "max_facts": 10,
            "group_ids": ["g0"]}
    got = client.post("/search", json=body).get_json()["facts"]
    assert len(got) > 0
    # direct facade call, hydrated identically (ranked ids -> edge rows)
    import pyspark.sql.functions as F

    from graphiti_spark.service import _fact_result

    hits = (
        graph.search(body["query"], group_ids=["g0"])
        .edges.select(F.col("id").alias("uuid"), "score")
        .limit(10)
    )
    direct = (
        graph.edges.join(hits, "uuid")
        .orderBy(F.col("score").desc(), "uuid")
        .collect()
    )
    assert got == [_fact_result(r.asDict()) for r in direct]
    # FactResult dto shape (dto/retrieve.py:16-27)
    assert set(got[0]) == {
        "uuid", "name", "fact", "valid_at", "invalid_at", "created_at",
        "expired_at",
    }


def test_get_memory_composes_messages_into_the_query(served):
    graph, app, client = served
    r = client.post(
        "/get-memory",
        json={
            "group_id": "g0",
            "max_facts": 5,
            "center_node_uuid": None,
            "messages": [
                {"role": "u1", "role_type": "user",
                 "content": "who does Bob Reyes work for?"},
            ],
        },
    )
    facts = r.get_json()["facts"]
    assert len(facts) > 0
    assert any("Bob Reyes" in f["fact"] for f in facts)


def test_episodes_endpoint_last_n(served):
    graph, app, client = served
    rows = client.get(
        "/episodes/g0?last_n=3&reference_time=2024-01-01 00:00:00"
    ).get_json()
    assert len(rows) == 3
    assert all(r["group_id"] == "g0" for r in rows)
    # last_n = most recent by valid_at before the reference time
    times = [r["valid_at"] for r in rows]
    all_times = sorted(
        _iso for _iso in (
            r["valid_at"]
            for r in client.get(
                "/episodes/g0?last_n=99&reference_time=2024-01-01 00:00:00"
            ).get_json()
        )
    )
    assert sorted(times) == all_times[-3:]


def test_entity_edge_roundtrip_and_404(served):
    graph, app, client = served
    some = graph.edges.limit(1).collect()[0]
    got = client.get(f"/entity-edge/{some.uuid}").get_json()
    assert got["uuid"] == some.uuid and got["fact"] == some.fact
    assert client.get("/entity-edge/nope").status_code == 404


def test_entity_node_upsert(served):
    graph, app, client = served
    r = client.post(
        "/entity-node",
        json={"group_id": "g0", "name": "Zed Quark", "summary": "a tester"},
    )
    assert r.status_code == 201
    uuid = r.get_json()["uuid"]
    row = graph.nodes.where(F.col("uuid") == uuid).collect()
    assert len(row) == 1
    assert row[0].name == "Zed Quark" and row[0].summary == "a tester"


def test_delete_episode_cascades(served):
    graph, app, client = served
    doc = "svc-doc-g0-5"
    assert graph.episodes.where(F.col("doc_id") == doc).count() == 1
    r = client.delete(f"/episode/{doc}")
    assert r.get_json()["success"] is True
    assert graph.episodes.where(F.col("doc_id") == doc).count() == 0


def test_ingest_job_error_is_recorded_not_raised(served):
    graph, app, client = served
    # message missing 'content' -> the queued job raises; the HTTP
    # call already returned 202 and the queue keeps serving
    r = client.post(
        "/messages", json={"group_id": "gbad", "messages": [{"role": "x"}]}
    )
    assert r.status_code == 202
    client.post("/flush", json={"timeout": 600})
    st = client.get("/queue-status").get_json()
    assert len(st["errors"]) == 1
    assert st["errors"][0]["group_id"] == "gbad"
    assert "trace" not in st["errors"][0]  # tracebacks stay server-side
    # and the service still works
    assert client.get("/healthcheck").status_code == 200


def test_malformed_bodies_are_400_and_queue_nothing():
    # the rejected bodies never reach the graph, so none is needed
    app = create_app(graph=None)
    app.config.update(TESTING=True)
    client = app.test_client()
    worker = app.extensions["ingest_worker"]
    for path, body in (
        ("/messages", {"messages": _messages(0, 1)}),         # no group_id
        ("/messages", {"group_id": 7, "messages": []}),       # group_id not a string
        ("/messages", {"group_id": "g0"}),                    # no messages
        ("/messages", {"group_id": "g0", "messages": "hi"}),  # messages not a list
        ("/messages", ["g0"]),                                # not an object
        ("/search", {}),                                      # no query
        ("/search", {"query": "x", "max_facts": "ten"}),      # max_facts not an int
        ("/search", {"query": "x", "max_facts": True}),       # a bool is no count
        ("/search", {"query": "x", "group_ids": "g0"}),       # group_ids not a list
        ("/search", {"query": "x", "group_ids": [7]}),        # group id not a string
        ("/search", ["q"]),                                   # not an object
        ("/get-memory", {"group_id": "g0"}),                  # no messages
        ("/get-memory", {"group_id": "g0", "messages": [{"role": "u"}]}),  # no content
        ("/get-memory", {"messages": []}),                    # no group_id
        ("/get-memory", {"group_id": "g0", "messages": [], "max_facts": "5"}),
        ("/get-memory", {"group_id": "g0", "messages": [], "center_node_uuid": 5}),
        ("/entity-node", {"name": "A"}),                      # no group_id
        ("/entity-node", {"group_id": "g0", "name": 7}),      # name not a string
        ("/entity-node", {"group_id": "g0", "name": "A", "summary": 3}),
    ):
        r = client.post(path, json=body)
        assert r.status_code == 400, (path, body)
        assert r.get_json()["success"] is False
    assert worker.queue.unfinished_tasks == 0 and worker.processed == 0
    worker.stop()


def test_episodes_frame_idempotent_doc_ids(spark):
    msgs = [{"role": "a", "role_type": "user", "content": "hello world",
             "timestamp": "2024-01-01T00:00:00Z"}]
    a = episodes_frame_from_messages(spark, "g", msgs).collect()[0]
    b = episodes_frame_from_messages(spark, "g", msgs).collect()[0]
    assert a.doc_id == b.doc_id  # content-derived when no uuid given
    assert a.spans[0].text == "a(user): hello world"


def test_search_max_facts_threads_through_to_the_lane_limit(served):
    graph, app, client = served
    q = {"query": "works for", "group_ids": ["g0"]}
    two = client.post("/search", json={**q, "max_facts": 2}).get_json()["facts"]
    many = client.post("/search", json={**q, "max_facts": 50}).get_json()["facts"]
    assert len(two) == 2
    # more than the old silent DEFAULT_SEARCH_LIMIT=10 cap would allow,
    # when the corpus has them
    assert len(many) > len(two)


def test_sync_write_endpoints_serialize_with_the_queue(served):
    graph, app, client = served
    order = []
    worker = app.extensions["ingest_worker"]

    def slow_job():
        order.append("job-start")
        time.sleep(0.5)
        order.append("job-end")

    worker.submit(IngestJob(group_id="g0", run=slow_job, label="slow"))
    time.sleep(0.1)  # let the worker take the write lock
    r = client.post(
        "/entity-node", json={"group_id": "g0", "name": "Race Test"}
    )
    order.append("entity-done")
    assert r.status_code == 201
    client.post("/flush", json={"timeout": 60})
    # the synchronous write waited for the queued job's lock
    assert order == ["job-start", "job-end", "entity-done"]
