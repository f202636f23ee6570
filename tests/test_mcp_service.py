"""MCP server surface (graphiti_spark/mcp_service.py): raw JSON-RPC
dicts through McpServer.handle() — the reference mcp_server's nine
tools over the Spark facade, results pinned against direct facade
calls."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pytest

from graphiti_spark.mcp_service import McpServer


def _rpc(server, method, params=None, mid=1):
    return server.handle(
        {"jsonrpc": "2.0", "id": mid, "method": method,
         "params": params or {}}
    )


def _tool(server, name, args=None):
    resp = _rpc(server, "tools/call", {"name": name, "arguments": args or {}})
    result = resp["result"]
    if result.get("isError"):
        return result, None
    return result, json.loads(result["content"][0]["text"])


@pytest.fixture(scope="module")
def mcp(spark, tmp_path_factory):
    from graphiti_spark.graphiti import GraphitiSpark

    root = str(tmp_path_factory.mktemp("mcp") / "graph")
    graph = GraphitiSpark(spark, root)
    server = McpServer(graph, default_group_id="g0")
    yield graph, server
    server.worker.stop()


def test_initialize_and_tools_list(mcp):
    graph, server = mcp
    init = _rpc(server, "initialize")["result"]
    assert init["protocolVersion"] and "tools" in init["capabilities"]
    assert init["serverInfo"]["name"] == "graphiti-spark"
    # notifications get no response; unknown methods get -32601
    assert server.handle(
        {"jsonrpc": "2.0", "method": "notifications/initialized"}
    ) is None
    assert _rpc(server, "nope")["error"]["code"] == -32601
    tools = {t["name"] for t in _rpc(server, "tools/list")["result"]["tools"]}
    assert tools == {
        "add_memory", "search_memory_nodes", "search_memory_facts",
        "delete_entity_edge", "delete_episode", "get_entity_edge",
        "get_episodes", "clear_graph", "get_status",
    }  # the reference's nine @mcp.tool sites


def test_add_memory_queues_then_search_tools_read_the_graph(mcp):
    graph, server = mcp
    people = ["Alice Pine", "Bob Reyes", "Cara Wu", "Dan Ode"]
    orgs = ["Acme Corp", "Initech", "Globex", "Umbrella Inc"]
    for i in range(4):
        _, ack = _tool(server, "add_memory", {
            "name": f"ep {i}",
            "episode_body": f"{people[i]} works for {orgs[i]} since 201{i}.",
            "group_id": "g0",
            "uuid": f"mcp-doc-{i}",
        })
        assert "queued for processing" in ack["message"]
    assert server.worker.flush(timeout=600)
    _, status = _tool(server, "get_status")
    assert status["errors"] == 0 and status["queue_pending"] == 0
    # facts search
    _, facts = _tool(server, "search_memory_facts", {
        "query": "Alice Pine works for Acme Corp",
        "group_ids": ["g0"], "max_facts": 5,
    })
    assert len(facts["facts"]) > 0
    assert {"uuid", "name", "fact", "valid_at", "invalid_at",
            "created_at", "expired_at"} == set(facts["facts"][0])
    # node search
    _, nodes = _tool(server, "search_memory_nodes", {
        "query": "Alice Pine", "group_ids": ["g0"], "max_nodes": 5,
    })
    names = {n["name"] for n in nodes["nodes"]}
    assert "Alice Pine" in names
    # entity-label filter narrows, never widens
    _, orgs_only = _tool(server, "search_memory_nodes", {
        "query": "Alice Pine", "group_ids": ["g0"], "max_nodes": 5,
        "entity": "Organization",
    })
    assert {n["name"] for n in orgs_only["nodes"]} <= names
    assert all("Organization" in n["labels"] for n in orgs_only["nodes"])


def test_get_episodes_and_entity_edge_roundtrip(mcp):
    graph, server = mcp
    _, eps = _tool(server, "get_episodes", {"group_id": "g0", "last_n": 2})
    assert len(eps) == 2
    assert all(e["group_id"] == "g0" for e in eps)
    some = graph.edges.limit(1).collect()[0]
    _, edge = _tool(server, "get_entity_edge", {"uuid": some.uuid})
    assert edge["uuid"] == some.uuid and edge["fact"] == some.fact
    # missing edge -> MCP tool error (isError), not a protocol crash
    err, _ = _tool(server, "get_entity_edge", {"uuid": "nope"})
    assert err["isError"] is True


def test_delete_tools_and_clear_graph(mcp):
    graph, server = mcp
    victim = graph.edges.limit(1).collect()[0].uuid
    _tool(server, "delete_entity_edge", {"uuid": victim})
    assert graph.edges.where(F.col("uuid") == victim).count() == 0
    assert graph.episodes.where(F.col("doc_id") == "mcp-doc-3").count() == 1
    _tool(server, "delete_episode", {"uuid": "mcp-doc-3"})
    assert graph.episodes.where(F.col("doc_id") == "mcp-doc-3").count() == 0
    _, cleared = _tool(server, "clear_graph")
    assert "cleared" in cleared["message"]
    assert not graph.io.exists("edges") and not graph.io.exists("episodes")


def test_stdio_framing_roundtrip(mcp):
    import io

    graph, server = mcp
    lines = "\n".join([
        json.dumps({"jsonrpc": "2.0", "id": 1, "method": "initialize"}),
        json.dumps({"jsonrpc": "2.0", "method": "notifications/initialized"}),
        "",
        json.dumps({"jsonrpc": "2.0", "id": 2, "method": "ping"}),
    ]) + "\n"
    out = io.StringIO()
    server.serve_stdio(stdin=io.StringIO(lines), stdout=out)
    resps = [json.loads(x) for x in out.getvalue().strip().split("\n")]
    assert [r["id"] for r in resps] == [1, 2]  # notification skipped
    assert resps[0]["result"]["serverInfo"]["name"] == "graphiti-spark"


def test_post_clear_reingest_entity_filter_and_centered_facts(mcp):
    """Covers the review fixes: the graph works again after
    clear_graph; the entity filter constrains the candidate pool
    PRE-ranking (an Organization comes back even at max_nodes=1 when
    a Person outranks it); centered facts search swaps in the
    node-distance reranker instead of silently ignoring the center."""
    graph, server = mcp
    _, ack = _tool(server, "add_memory", {
        "name": "ep9", "episode_body":
        "Alice Pine works for Acme Corp since 2019.",
        "group_id": "g9", "uuid": "mcp-doc-9",
    })
    assert server.worker.flush(timeout=600)
    _, st = _tool(server, "get_status")
    assert st["errors"] == 0
    # "Alice Pine Acme" matches the Person on two tokens and the
    # Organization on one, so at max_nodes=1 the person wins
    # unfiltered...
    _, top1 = _tool(server, "search_memory_nodes", {
        "query": "Alice Pine Acme", "group_ids": ["g9"], "max_nodes": 1,
    })
    assert [n["name"] for n in top1["nodes"]] == ["Alice Pine"]
    # ...but with the Organization filter the org must come back —
    # the filter constrains the candidate pool PRE-ranking; a
    # post-top-k filter would return [] here
    _, only_org = _tool(server, "search_memory_nodes", {
        "query": "Alice Pine Acme", "group_ids": ["g9"], "max_nodes": 1,
        "entity": "Organization",
    })
    assert len(only_org["nodes"]) == 1
    assert "Organization" in only_org["nodes"][0]["labels"]
    assert only_org["nodes"][0]["name"] == "Acme Corp"
    # centered facts search runs the node-distance lane and returns
    # hydrated FactResults
    center = only_org["nodes"][0]["uuid"]
    _, facts = _tool(server, "search_memory_facts", {
        "query": "works for", "group_ids": ["g9"], "max_facts": 5,
        "center_node_uuid": center,
    })
    assert len(facts["facts"]) > 0


def test_stdio_parse_error_and_idless_notifications(mcp):
    import io

    graph, server = mcp
    lines = "\n".join([
        "{this is not json",
        json.dumps({"jsonrpc": "2.0", "method": "ping"}),  # id-less
        json.dumps({"jsonrpc": "2.0", "id": 7, "method": "ping"}),
    ]) + "\n"
    out = io.StringIO()
    server.serve_stdio(stdin=io.StringIO(lines), stdout=out)
    resps = [json.loads(x) for x in out.getvalue().strip().split("\n")]
    # bad line -> -32700 response, server keeps serving; the id-less
    # ping is a notification (executed, no response); id=7 answered
    assert resps[0]["error"]["code"] == -32700
    assert [r.get("id") for r in resps] == [None, 7]
    assert resps[1]["result"] == {}


def test_clear_graph_drops_every_table_dir(mcp, spark):
    graph, server = mcp
    # a table the old hand-maintained list never knew about
    graph.io.write("ft_probe_postings",
                   spark.createDataFrame([(1,)], "x long"))
    assert graph.io.exists("ft_probe_postings")
    _tool(server, "clear_graph")
    assert not graph.io.exists("ft_probe_postings")
    assert not graph.io.exists("episodes")


def test_serve_stdio_final_drain_is_bounded(monkeypatch, capsys):
    """A wedged ingest job must not hang serve_stdio's exit: the final
    drain waits FLUSH_TIMEOUT_S, then reports the undrained queue on
    stderr and returns."""
    import io
    import threading

    from graphiti_spark import mcp_service
    from graphiti_spark.service import IngestJob, IngestWorker

    monkeypatch.setattr(mcp_service, "FLUSH_TIMEOUT_S", 0.2)
    release = threading.Event()
    worker = IngestWorker()
    server = McpServer(graph=None, worker=worker)
    worker.submit(IngestJob(group_id="g0", run=release.wait, label="wedged"))
    done = threading.Thread(
        target=server.serve_stdio,
        kwargs={"stdin": io.StringIO(""), "stdout": io.StringIO()},
    )
    done.start()
    done.join(timeout=30)
    try:
        assert not done.is_alive()
        assert "not drained" in capsys.readouterr().err
    finally:
        release.set()
        worker.stop()
