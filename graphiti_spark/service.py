"""Thin HTTP service surface over :class:`GraphitiSpark` — the
reference's ``server/graph_service`` re-expressed for the Spark
engine.

Mirrors the reference endpoint for endpoint:

| reference (graph_service)                  | here                    |
|--------------------------------------------|-------------------------|
| ``POST /messages`` (routers/ingest.py:51)  | ``POST /messages``      |
| ``POST /entity-node`` (ingest.py:72)       | ``POST /entity-node``   |
| ``DELETE /episode/{uuid}`` (ingest.py:99)  | ``DELETE /episode/<id>``|
| ``POST /search`` (routers/retrieve.py:17)  | ``POST /search``        |
| ``POST /get-memory`` (retrieve.py:44)      | ``POST /get-memory``    |
| ``GET /episodes/{group_id}`` (retrieve.py:36) | ``GET /episodes/<g>``|
| ``GET /entity-edge/{uuid}`` (retrieve.py:30) | ``GET /entity-edge/<u>``|
| ``GET /healthcheck`` (main.py)             | ``GET /healthcheck``    |

Ingest semantics follow ``ingest.py:13-48``'s ``AsyncWorker``: POST
/messages returns **202 Accepted immediately** and the episodes are
drained by ONE background worker, strictly FIFO — so jobs for the same
group_id run sequentially in submission order (the property the
reference's single asyncio queue provides). One worker is also the
right concurrency for this engine: each job is a Spark driver-side
``add_episodes`` merge into shared tables, and the table merge path
assumes one writer at a time. ``GET /queue-status`` + ``POST /flush``
expose drain state so tests (and deployments' readiness probes) can
wait for quiescence instead of sleeping.

The facts returned by the search endpoints are the reference's
``FactResult`` dto shape (dto/retrieve.py:16-27): uuid, name, fact,
valid_at, invalid_at, created_at, expired_at — ISO-8601 timestamps.

This module needs Flask (present in this environment); everything
else is the engine. Run standalone::

    from graphiti_spark.service import create_app, IngestWorker
    app = create_app(GraphitiSpark(spark, root))
    app.run(port=8000)          # or any WSGI server

Tests drive it in-process through ``app.test_client()`` —
tests/test_service.py posts episodes and queries search through the
HTTP layer and pins the results equal to direct facade calls.
"""

from __future__ import annotations

import hashlib
import queue
import threading
import time
import traceback
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Callable


@dataclass
class IngestJob:
    group_id: str
    run: Callable[[], None]
    label: str = ""


class IngestWorker:
    """The reference ``AsyncWorker`` (routers/ingest.py:13-48) as one
    daemon thread over a FIFO queue: submitted jobs run strictly in
    order (per-group sequential by construction), failures are
    recorded — never raised into the HTTP handler that queued them —
    and ``flush()`` blocks until everything submitted so far has
    drained."""

    def __init__(self):
        self.queue: queue.Queue[IngestJob | None] = queue.Queue()
        self.errors: list[dict] = []
        self.processed = 0
        # serializes ALL graph writes: the queue drain holds it per
        # job, and the synchronous write endpoints (/entity-node,
        # DELETE /episode) take it too — the table merge path assumes
        # one writer at a time, and a handler thread racing the worker
        # would commit from a stale parent snapshot (lost update)
        self.write_lock = threading.RLock()
        self._thread: threading.Thread | None = None

    def start(self) -> None:
        if self._thread is not None:
            return
        self._thread = threading.Thread(target=self._drain, daemon=True)
        self._thread.start()

    def _drain(self) -> None:
        while True:
            job = self.queue.get()
            if job is None:
                self.queue.task_done()
                break
            try:
                with self.write_lock:
                    job.run()
            except Exception as e:  # recorded, queue keeps draining
                self.errors.append(
                    {
                        "label": job.label,
                        "group_id": job.group_id,
                        "error": repr(e),
                        "trace": traceback.format_exc(),
                    }
                )
            finally:
                self.processed += 1
                self.queue.task_done()

    def submit(self, job: IngestJob) -> None:
        if self._thread is None:
            self.start()
        self.queue.put(job)

    def flush(self, timeout: float | None = None) -> bool:
        """Block until every job submitted so far has finished; True if
        drained within ``timeout``. Drain state is read under the
        queue's own ``all_tasks_done`` condition — a separate idle
        Event would race submit() (set-after-clear) and report drained
        with a job still pending."""
        if timeout is None:
            self.queue.join()
            return True
        deadline = time.monotonic() + timeout
        with self.queue.all_tasks_done:
            while self.queue.unfinished_tasks:
                remaining = deadline - time.monotonic()
                if remaining <= 0:
                    return False
                self.queue.all_tasks_done.wait(remaining)
            return True

    def stop(self) -> None:
        if self._thread is None:
            return
        self.queue.put(None)
        self._thread.join(timeout=30)
        self._thread = None


def _iso(v) -> str | None:
    if v is None:
        return None
    if isinstance(v, datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=timezone.utc)
        return v.astimezone(timezone.utc).isoformat()
    return str(v)


# (check, wording) per request field. The endpoints check field types
# only, before the graph is touched, so a malformed body is a 400.
_STRING = (lambda v: isinstance(v, str), "a string")
_STRING_OR_NULL = (lambda v: v is None or isinstance(v, str), "a string or null")
_INT = (lambda v: isinstance(v, int) and not isinstance(v, bool), "an integer")
_LIST = (lambda v: isinstance(v, list), "a list")
_STRINGS_OR_NULL = (
    lambda v: v is None or (isinstance(v, list) and all(isinstance(x, str) for x in v)),
    "a list of strings or null",
)
_MESSAGES = (
    lambda v: isinstance(v, list)
    and all(isinstance(m, dict) and isinstance(m.get("content"), str) for m in v),
    "a list of objects with a string content",
)


def _body_error(body, required: dict, optional: dict | None = None) -> str | None:
    """Why ``body`` is not a JSON object whose ``required`` fields, and
    whichever ``optional`` fields it has, pass their (check, wording)
    pairs; None when it is."""
    if not isinstance(body, dict):
        return "the body must be a JSON object"
    for name, (ok, what) in {**required, **(optional or {})}.items():
        if (name in required or name in body) and not ok(body.get(name)):
            return f"{name} must be {what}"
    return None


def _fact_result(row) -> dict:
    """dto/retrieve.py:16-27 FactResult from an edges-table row."""
    return {
        "uuid": row["uuid"],
        # the materialized ledger names the relation column
        # ``predicate``; the reference dto calls it ``name``
        "name": row.get("name") or row.get("predicate"),
        "fact": row["fact"],
        "valid_at": _iso(row["valid_at"]),
        "invalid_at": _iso(row["invalid_at"]),
        "created_at": _iso(row["created_at"]),
        "expired_at": _iso(row["expired_at"]),
    }


def run_fact_search(graph, query: str, group_ids, max_facts: int,
                    center_uuid: str | None = None) -> list[dict]:
    """Shared edge-lane search + hydration for the HTTP and MCP
    surfaces: max_facts threads through as the lane limit (the
    reference passes it as num_results, retrieve.py:19-22 — the
    default config would silently cap at DEFAULT_SEARCH_LIMIT), a
    center node swaps in the node-distance reranker exactly as the
    reference swaps recipes when centered, and the ranked (id, score)
    lane output is hydrated to FactResult rows off the edges ledger
    (get_fact_result_from_edge works from loaded EntityEdges)."""
    from pyspark.sql import functions as F

    from graphiti_spark.search_api import LaneConfig, SearchConfig

    lane = (
        LaneConfig(limit=max_facts, reranker="node_distance")
        if center_uuid
        else LaneConfig(limit=max_facts)
    )
    res = graph.search(query, config=SearchConfig(edges=lane),
                       group_ids=group_ids, center_uuid=center_uuid)
    if res.edges is None:
        return []
    hits = res.edges.select(F.col("id").alias("uuid"), "score").limit(max_facts)
    rows = (
        graph.edges.join(hits, "uuid")
        .orderBy(F.col("score").desc(), "uuid")
        .collect()
    )
    return [_fact_result(r.asDict()) for r in rows]


def episodes_frame_from_messages(spark, group_id: str, messages: list[dict]):
    """Build the 1-row-per-message episodes DataFrame the engine
    ingests. Episode body is the reference's composition
    ``f"{role}({role_type}): {content}"`` (ingest.py:57-58); doc_id is
    the client uuid when given, else content-derived (idempotent
    re-posts collapse)."""
    from graphiti_spark.schemas import EPISODES_SCHEMA

    now = datetime.now(timezone.utc)
    rows = []
    for m in messages:
        body = f"{m.get('role') or ''}({m.get('role_type', '')}): {m['content']}"
        doc_id = m.get("uuid") or hashlib.sha256(
            f"{group_id}|{m.get('timestamp', '')}|{body}".encode()
        ).hexdigest()[:32]
        ts = m.get("timestamp")
        ts = (
            datetime.fromisoformat(ts.replace("Z", "+00:00"))
            if isinstance(ts, str)
            else (ts or now)
        )
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=timezone.utc)
        rows.append(
            (
                doc_id,
                group_id,
                m.get("name") or doc_id,
                "message",
                m.get("source_description"),
                [{"kind": "text", "text": body, "media_ref": "", "offset": 0}],
                now,
                ts,
            )
        )
    return spark.createDataFrame(rows, EPISODES_SCHEMA)


def create_app(graph, worker: IngestWorker | None = None):
    """Build the Flask app around one ``GraphitiSpark`` facade. The
    returned app exposes ``app.extensions["ingest_worker"]`` for
    lifecycle control (tests call ``worker.flush()``; a deployment
    calls ``worker.stop()`` on shutdown, the reference's lifespan
    hook, ingest.py:40-45)."""
    from flask import Flask, jsonify, request

    from pyspark.sql import functions as F

    app = Flask("graphiti_spark_service")
    worker = worker or IngestWorker()
    worker.start()
    app.extensions["ingest_worker"] = worker

    def bad_request(message: str):
        return jsonify({"message": message, "success": False}), 400

    @app.get("/healthcheck")
    def healthcheck():
        return jsonify({"status": "healthy"})

    # -- ingest (202 + queue, ingest.py:51-68) --------------------------

    @app.post("/messages")
    def add_messages():
        body = request.get_json(force=True)
        error = _body_error(body, {"group_id": _STRING, "messages": _LIST})
        if error:
            return bad_request(error)
        group_id, messages = body["group_id"], body["messages"]

        def job(msgs=messages):
            eps = episodes_frame_from_messages(graph.spark, group_id, msgs)
            graph.add_episodes(eps)

        worker.submit(
            IngestJob(group_id=group_id, run=job,
                      label=f"messages[{len(messages)}]")
        )
        return (
            jsonify({"message": "Messages added to processing queue",
                     "success": True}),
            202,
        )

    @app.post("/entity-node")
    def add_entity_node():
        body = request.get_json(force=True)
        error = _body_error(
            body, {"group_id": _STRING, "name": _STRING},
            {"summary": _STRING_OR_NULL},
        )
        if error:
            return bad_request(error)
        # synchronous write endpoints take the same lock the queue
        # drain holds per job — one graph writer at a time
        with worker.write_lock:
            uuid = graph.save_entity_node(
                body["group_id"], body["name"], summary=body.get("summary")
            )
        return jsonify({"uuid": uuid, "group_id": body["group_id"],
                        "name": body["name"]}), 201

    @app.delete("/episode/<doc_id>")
    def delete_episode(doc_id):
        with worker.write_lock:
            graph.remove_episode(doc_id)
        return jsonify({"message": "Episode deleted", "success": True})

    @app.get("/queue-status")
    def queue_status():
        return jsonify(
            {
                "pending": worker.queue.unfinished_tasks,
                "processed": worker.processed,
                "errors": [
                    {k: v for k, v in e.items() if k != "trace"}
                    for e in worker.errors
                ],
            }
        )

    @app.post("/flush")
    def flush():
        timeout = (request.get_json(silent=True) or {}).get("timeout", 300)
        drained = worker.flush(timeout=timeout)
        return jsonify({"drained": drained,
                        "errors": len(worker.errors)}), (200 if drained else 504)

    # -- retrieve (retrieve.py) -----------------------------------------

    def _run_search(query: str, group_ids, max_facts: int,
                    center_uuid: str | None = None):
        return run_fact_search(graph, query, group_ids, max_facts,
                               center_uuid=center_uuid)

    @app.post("/search")
    def search():
        body = request.get_json(force=True)
        error = _body_error(
            body, {"query": _STRING},
            {"group_ids": _STRINGS_OR_NULL, "max_facts": _INT},
        )
        if error:
            return bad_request(error)
        facts = _run_search(
            body["query"], body.get("group_ids"), body.get("max_facts", 10)
        )
        return jsonify({"facts": facts})

    @app.post("/get-memory")
    def get_memory():
        body = request.get_json(force=True)
        error = _body_error(
            body, {"group_id": _STRING, "messages": _MESSAGES},
            {"max_facts": _INT, "center_node_uuid": _STRING_OR_NULL},
        )
        if error:
            return bad_request(error)
        combined = "".join(
            f"{m.get('role_type') or ''}({m.get('role') or ''}): {m['content']}\n"
            for m in body["messages"]
        )  # retrieve.py:59-63
        facts = _run_search(
            combined,
            [body["group_id"]],
            body.get("max_facts", 10),
            center_uuid=body.get("center_node_uuid"),
        )
        return jsonify({"facts": facts})

    @app.get("/episodes/<group_id>")
    def get_episodes(group_id):
        last_n = int(request.args.get("last_n", 10))
        ref = request.args.get(
            "reference_time",
            datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S"),
        )
        rows = (
            graph.retrieve_episodes(ref, last_n=last_n, group_ids=[group_id])
            .select("doc_id", "group_id", "name", "source", "valid_at")
            .collect()
        )
        return jsonify(
            [
                {
                    "uuid": r.doc_id,
                    "group_id": r.group_id,
                    "name": r.name,
                    "source": r.source,
                    "valid_at": _iso(r.valid_at),
                }
                for r in rows
            ]
        )

    @app.get("/entity-edge/<uuid>")
    def get_entity_edge(uuid):
        rows = graph.edges.where(F.col("uuid") == uuid).limit(1).collect()
        if not rows:
            return jsonify({"message": "Edge not found", "success": False}), 404
        return jsonify(_fact_result(rows[0].asDict()))

    return app
