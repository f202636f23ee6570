"""MCP (Model Context Protocol) server surface — the reference's
``mcp_server/graphiti_mcp_server.py`` re-expressed over the Spark
facade, with NO SDK dependency: the protocol core is plain JSON-RPC
2.0 dicts, so it is testable in-process and servable over the MCP
stdio transport (newline-delimited JSON-RPC messages).

Tool surface, 1:1 with the reference (``@mcp.tool()`` sites,
graphiti_mcp_server.py:691-1126):

| reference tool        | here | notes |
|-----------------------|------|-------|
| ``add_memory`` (:692) | same | queued per group, processed sequentially — the reference's per-group episode queue (:657-688); returns the "queued for processing" ack immediately |
| ``search_memory_nodes`` (:830) | same | NODE_HYBRID_SEARCH_RRF, or NODE_DISTANCE when centered (:861-866); entity-label filter |
| ``search_memory_facts`` (:911) | same | edge lane, max_facts as the lane limit |
| ``delete_entity_edge`` (:961) | same | |
| ``delete_episode`` (:991) | same | |
| ``get_entity_edge`` (:1021) | same | FactResult shape (format_fact_result, :629) |
| ``get_episodes`` (:1052) | same | last_n most recent for a group |
| ``clear_graph`` (:1102) | same | drops the graph tables |
| ``get_status`` (:1127) | same | worker queue depth + error count |

Ingest shares :class:`graphiti_spark.service.IngestWorker` — the same
FIFO drain + write lock the HTTP surface uses, so REST and MCP can
front one graph without racing each other (hand both the SAME worker).

Usage (stdio deployment)::

    from graphiti_spark.mcp_service import McpServer
    McpServer(GraphitiSpark(spark, root)).serve_stdio()

Tests (tests/test_mcp_service.py) drive ``handle()`` with raw JSON-RPC
dicts: initialize → tools/list → tools/call, results pinned equal to
direct facade calls.
"""

from __future__ import annotations

import json
import sys
from datetime import datetime, timezone

PROTOCOL_VERSION = "2024-11-05"
# bound on serve_stdio's final ingest-queue drain; matches the default
# timeout of the HTTP surface's POST /flush
FLUSH_TIMEOUT_S = 300




def _text_result(obj) -> dict:
    """MCP tool results carry content blocks; structured payloads ride
    as JSON text (what FastMCP emits for dict returns)."""
    return {"content": [{"type": "text", "text": json.dumps(obj, default=str)}]}


class McpServer:
    """Transport-agnostic MCP core: ``handle(message)`` maps one
    JSON-RPC request dict to one response dict (None for
    notifications). ``serve_stdio`` wraps it in the MCP stdio framing
    (one JSON-RPC message per line)."""

    def __init__(self, graph, worker=None, default_group_id: str = "default"):
        from graphiti_spark.service import IngestWorker

        self.graph = graph
        self.worker = worker or IngestWorker()
        self.worker.start()
        self.default_group_id = default_group_id

    # ------------------------------------------------------------------
    # JSON-RPC dispatch
    # ------------------------------------------------------------------

    def handle(self, msg: dict) -> dict | None:
        mid = msg.get("id")
        method = msg.get("method", "")
        # JSON-RPC 2.0: ANY id-less message is a notification — it is
        # executed but gets NO response (an orphan {"id": null, ...}
        # desynchronizes strict request/response clients)
        is_notification = "id" not in msg or method.startswith("notifications/")
        if method.startswith("notifications/"):
            return None
        try:
            if method == "initialize":
                result = {
                    "protocolVersion": PROTOCOL_VERSION,
                    "capabilities": {"tools": {}},
                    "serverInfo": {
                        "name": "graphiti-spark",
                        "version": "1.0",
                    },
                }
            elif method == "ping":
                result = {}
            elif method == "tools/list":
                result = {"tools": self._tool_schemas()}
            elif method == "tools/call":
                params = msg.get("params", {})
                result = self._call_tool(
                    params.get("name", ""), params.get("arguments", {}) or {}
                )
            else:
                if is_notification:
                    return None
                return {
                    "jsonrpc": "2.0", "id": mid,
                    "error": {"code": -32601,
                              "message": f"Method not found: {method}"},
                }
            if is_notification:
                return None
            return {"jsonrpc": "2.0", "id": mid, "result": result}
        except Exception as e:
            # tool-level failures are MCP tool errors, not protocol
            # errors (the reference returns ErrorResponse objects)
            if is_notification:
                return None
            return {
                "jsonrpc": "2.0", "id": mid,
                "result": {
                    "isError": True,
                    "content": [{"type": "text", "text": repr(e)}],
                },
            }

    def serve_stdio(self, stdin=None, stdout=None) -> None:
        """MCP stdio transport: newline-delimited JSON-RPC. Blocks
        until stdin closes; drains the ingest queue, for at most
        ``FLUSH_TIMEOUT_S``, before returning (episodes acked as queued
        must not vanish with the daemon thread at process exit; a
        wedged job must not hang the exit either — an undrained queue
        is reported on stderr). A malformed line yields a JSON-RPC
        -32700 parse-error response and the loop keeps serving — one
        bad client write must not take the server (and its queue)
        down."""
        stdin = stdin or sys.stdin
        stdout = stdout or sys.stdout
        try:
            for line in stdin:
                line = line.strip()
                if not line:
                    continue
                try:
                    msg = json.loads(line)
                except json.JSONDecodeError as e:
                    resp = {
                        "jsonrpc": "2.0", "id": None,
                        "error": {"code": -32700,
                                  "message": f"Parse error: {e}"},
                    }
                else:
                    resp = self.handle(msg)
                if resp is not None:
                    stdout.write(json.dumps(resp) + "\n")
                    stdout.flush()
        finally:
            if not self.worker.flush(timeout=FLUSH_TIMEOUT_S):
                print(
                    f"graphiti-spark: ingest queue not drained after "
                    f"{FLUSH_TIMEOUT_S}s; {self.worker.queue.unfinished_tasks} "
                    f"job(s) pending",
                    file=sys.stderr,
                )

    # ------------------------------------------------------------------
    # tools
    # ------------------------------------------------------------------

    def _tool_schemas(self) -> list[dict]:
        def tool(name, desc, props, required):
            return {
                "name": name,
                "description": desc,
                "inputSchema": {
                    "type": "object",
                    "properties": props,
                    "required": required,
                },
            }

        s = {"type": "string"}
        i = {"type": "integer"}
        arr = {"type": "array", "items": {"type": "string"}}
        return [
            tool("add_memory",
                 "Add an episode to memory (queued, processed "
                 "sequentially per group).",
                 {"name": s, "episode_body": s, "group_id": s, "source": s,
                  "source_description": s, "uuid": s},
                 ["name", "episode_body"]),
            tool("search_memory_nodes",
                 "Search the graph for relevant node summaries.",
                 {"query": s, "group_ids": arr, "max_nodes": i,
                  "center_node_uuid": s, "entity": s},
                 ["query"]),
            tool("search_memory_facts",
                 "Search the graph for relevant facts (entity edges).",
                 {"query": s, "group_ids": arr, "max_facts": i,
                  "center_node_uuid": s},
                 ["query"]),
            tool("delete_entity_edge", "Delete an entity edge.",
                 {"uuid": s}, ["uuid"]),
            tool("delete_episode", "Delete an episode (cascading).",
                 {"uuid": s}, ["uuid"]),
            tool("get_entity_edge", "Get an entity edge by UUID.",
                 {"uuid": s}, ["uuid"]),
            tool("get_episodes", "Get the most recent episodes for a group.",
                 {"group_id": s, "last_n": i}, []),
            tool("clear_graph", "Clear all graph data.", {}, []),
            tool("get_status", "Server + ingest queue status.", {}, []),
        ]

    def _call_tool(self, name: str, a: dict) -> dict:
        fn = getattr(self, f"_tool_{name}", None)
        if fn is None:
            raise ValueError(f"Unknown tool: {name}")
        return _text_result(fn(a))

    # -- ingest --------------------------------------------------------

    def _tool_add_memory(self, a: dict) -> dict:
        from graphiti_spark.service import IngestJob, episodes_frame_from_messages

        group_id = a.get("group_id") or self.default_group_id
        msg = {
            "uuid": a.get("uuid"),
            "name": a["name"],
            "role": "",
            "role_type": a.get("source", "text"),
            "content": a["episode_body"],
            "source_description": a.get("source_description"),
            "timestamp": datetime.now(timezone.utc).isoformat(),
        }
        graph = self.graph

        def job(m=msg):
            eps = episodes_frame_from_messages(graph.spark, group_id, [m])
            graph.add_episodes(eps)

        self.worker.submit(
            IngestJob(group_id=group_id, run=job, label=f"add_memory:{a['name']}")
        )
        # the reference's ack (graphiti_mcp_server.py:820-824)
        return {
            "message": f"Episode '{a['name']}' queued for processing "
                       f"(group: {group_id})"
        }

    # -- search --------------------------------------------------------

    def _fact(self, row) -> dict:
        from graphiti_spark.service import _fact_result

        return _fact_result(row.asDict())

    def _tool_search_memory_facts(self, a: dict) -> dict:
        from graphiti_spark.service import run_fact_search

        # shared with the HTTP surface: max_facts as the lane limit,
        # node-distance reranker when centered (the reference swaps to
        # EDGE_HYBRID_SEARCH_NODE_DISTANCE, graphiti_mcp_server.py:
        # 937-941), ranked ids hydrated off the edges ledger
        facts = run_fact_search(
            self.graph, a["query"], a.get("group_ids"),
            int(a.get("max_facts", 10)),
            center_uuid=a.get("center_node_uuid"),
        )
        return {"message": "Facts retrieved successfully", "facts": facts}

    def _tool_search_memory_nodes(self, a: dict) -> dict:
        import pyspark.sql.functions as F

        from graphiti_spark.search_api import (
            NODE_HYBRID_SEARCH_NODE_DISTANCE,
            NODE_HYBRID_SEARCH_RRF,
        )

        from graphiti_spark.operators.filters import SearchFilters

        limit = int(a.get("max_nodes", 10))
        center = a.get("center_node_uuid")
        # recipe choice mirrors graphiti_mcp_server.py:861-866
        config = (
            NODE_HYBRID_SEARCH_NODE_DISTANCE() if center
            else NODE_HYBRID_SEARCH_RRF()
        )
        config.nodes.limit = limit
        entity = a.get("entity") or ""
        # the label filter constrains the CANDIDATE POOL pre-ranking
        # (the reference passes SearchFilters(node_labels=[entity])
        # into the search, :867-869) — filtering after top-k would
        # return [] whenever other-typed nodes outrank every match
        filters = SearchFilters(node_labels=[entity]) if entity else None
        res = self.graph.search(
            a["query"], config=config, group_ids=a.get("group_ids"),
            center_uuid=center, filters=filters,
        )
        if res.nodes is None:
            return {"message": "Nodes retrieved successfully", "nodes": []}
        hits = res.nodes.select(F.col("id").alias("uuid"), "score").limit(limit)
        nodes = self.graph.nodes.join(hits, "uuid")
        rows = nodes.orderBy(F.col("score").desc(), "uuid").collect()
        return {
            "message": "Nodes retrieved successfully",
            "nodes": [
                {
                    "uuid": r.uuid,
                    "name": r.name,
                    "group_id": r.group_id,
                    "labels": list(r.labels or []),
                    "summary": r.summary,
                }
                for r in rows
            ],
        }

    # -- point reads / deletes -----------------------------------------

    def _tool_get_entity_edge(self, a: dict) -> dict:
        import pyspark.sql.functions as F

        rows = (
            self.graph.edges.where(F.col("uuid") == a["uuid"]).limit(1).collect()
        )
        if not rows:
            raise ValueError(f"Edge not found: {a['uuid']}")
        return self._fact(rows[0])

    def _tool_get_episodes(self, a: dict) -> list[dict]:
        group_id = a.get("group_id") or self.default_group_id
        now = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
        rows = (
            self.graph.retrieve_episodes(
                a.get("reference_time", now),
                last_n=int(a.get("last_n", 10)),
                group_ids=[group_id],
            )
            .select("doc_id", "group_id", "name", "source", "valid_at")
            .collect()
        )
        from graphiti_spark.service import _iso

        return [
            {"uuid": r.doc_id, "group_id": r.group_id, "name": r.name,
             "source": r.source, "valid_at": _iso(r.valid_at)}
            for r in rows
        ]

    def _tool_delete_entity_edge(self, a: dict) -> dict:
        import pyspark.sql.functions as F

        with self.worker.write_lock:
            self.graph.io.delete_where(
                "edges", F.col("uuid") == a["uuid"]
            )
        return {"message": f"Entity edge with UUID {a['uuid']} deleted"}

    def _tool_delete_episode(self, a: dict) -> dict:
        with self.worker.write_lock:
            self.graph.remove_episode(a["uuid"])
        return {"message": f"Episode with UUID {a['uuid']} deleted"}

    def _tool_clear_graph(self, a: dict) -> dict:
        import os

        # enumerate the root instead of a hand-maintained table list:
        # a fixed list silently strands whatever it forgot (the
        # fulltext ft_* postings/stats/ledger tables, episode_edges) —
        # stale index state a post-clear search would still rank
        # against
        with self.worker.write_lock:
            root = self.graph.io.root
            if os.path.isdir(root):
                for t in sorted(os.listdir(root)):
                    if os.path.isdir(os.path.join(root, t)):
                        self.graph.io.drop(t)
        return {"message": "Graph cleared successfully"}

    def _tool_get_status(self, a: dict) -> dict:
        return {
            "status": "ok",
            "queue_pending": self.worker.queue.unfinished_tasks,
            "processed": self.worker.processed,
            "errors": len(self.worker.errors),
        }
