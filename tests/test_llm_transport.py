"""Live-transport adapter (graphiti_spark/llm_transport.py): the
reference LLMClient's retry / md5-cache / model-routing semantics
(graphiti_core/llm_client/client.py:90-169) verified against
deterministic fault-injecting fake transports — drops (5xx), 429 rate
limits, malformed JSON — with the full pipeline driven through the
adapter and pinned equal to the rule-based run, plus the
cache-hit-on-task-retry guarantee."""

from __future__ import annotations

import hashlib
import json
import re

import pytest

from graphiti_spark.llm_transport import (
    HttpLLMClient,
    RateLimitError,
    RefusalError,
    ServerError,
    TransportConfig,
    TransportCrossEncoderClient,
    TransportEmbedderClient,
    TransportExtractorClient,
    TransportSummarizerClient,
    clean_input,
    embed_udf_from_client,
)

NO_SLEEP = lambda s: None  # noqa: E731 — tests never really wait 5-120 s


# ---------------------------------------------------------------------------
# Fake transports. All deterministic; all picklable (module-level
# classes) so they survive the trip to Spark executors.
# ---------------------------------------------------------------------------


class EchoServer:
    """Happy-path provider: answers every prompt shape the four
    adapters emit, deterministically from the payload alone."""

    def __call__(self, payload: dict) -> str:
        sys_c = payload["messages"][0]["content"]
        user = payload["messages"][-1]["content"]
        if payload["messages"][0].get("role") == "embed":
            req = json.loads(sys_c)
            return json.dumps(
                {
                    "embeddings": [
                        [float(len(t)), 1.0, 2.0, 3.0, 4.0] for t in req["input"]
                    ]
                }
            )
        if "triples" in sys_c:
            return json.dumps({"triples": []})
        if "Summarize" in sys_c:
            return json.dumps({"summary": f"SUM[{user}]"})
        if "Score" in sys_c:
            req = json.loads(user)
            q = set(req["query"].lower().split())
            p = set(req["passage"].lower().split())
            return json.dumps(
                {"score": len(q & p) / max(len(q), 1)}
            )
        raise AssertionError(f"unexpected prompt: {sys_c[:60]}")


class ExtractorServer:
    """The rule-based extraction grammar served over the wire: parses
    the fixture's templated sentences exactly like
    tests/test_client_extractor.make_fake_client, so a pipeline run
    through HTTP-shaped plumbing must reproduce the rule-based kernel's
    triples byte for byte."""

    def __init__(self):
        from graphiti_spark import corpus

        phrases = sorted((p for _, p in corpus.PREDICATES), key=len, reverse=True)
        alt = "|".join(re.escape(p) for p in phrases)
        self.pat = re.compile(
            rf"^(?P<speaker>[^:]+): (?P<subj>.+?) (?P<phrase>{alt}) "
            rf"(?P<obj>.+?) since (?P<year>\d{{4}})\.$"
        )
        self.to_pred = {p: name for name, p in corpus.PREDICATES}

    def __call__(self, payload: dict) -> str:
        req = json.loads(payload["messages"][-1]["content"])
        m = self.pat.match(req["text"])
        if not m:
            return json.dumps({"triples": []})
        return json.dumps(
            {
                "triples": [
                    {
                        "speaker": m["speaker"],
                        "subj_name": m["subj"],
                        "predicate": self.to_pred[m["phrase"]],
                        "obj_name": m["obj"],
                        "fact": req["text"].split(": ", 1)[1],
                        "valid_at": f"{m['year']}-01-01T00:00:00+00:00",
                    }
                ]
            }
        )


class FlakyTransport:
    """Deterministic fault injection: the FIRST attempt for every
    distinct payload fails — the fault rotates through a 429 rate
    limit, a 5xx drop, and a malformed-JSON body by payload md5 — and
    subsequent attempts succeed via the inner transport. A correct
    retry loop therefore recovers every request; a broken one loses
    deterministic victims."""

    def __init__(self, inner):
        self.inner = inner
        self.seen: dict[str, int] = {}
        self.faults = 0

    def __call__(self, payload: dict) -> str:
        key = hashlib.md5(
            json.dumps(payload, sort_keys=True).encode()
        ).hexdigest()
        n = self.seen.get(key, 0)
        self.seen[key] = n + 1
        if n == 0:
            self.faults += 1
            kind = int(key, 16) % 3
            if kind == 0:
                raise RateLimitError()
            if kind == 1:
                raise ServerError(503, "injected drop")
            return "{not json"  # malformed body -> JSONDecodeError
        return self.inner(payload)


class CountingTransport:
    def __init__(self, inner):
        self.inner = inner
        self.calls = 0

    def __call__(self, payload: dict) -> str:
        self.calls += 1
        return self.inner(payload)


class AlwaysFails:
    def __init__(self, exc_factory):
        self.exc_factory = exc_factory
        self.calls = 0

    def __call__(self, payload: dict) -> str:
        self.calls += 1
        raise self.exc_factory()


MSGS = [{"role": "system", "content": "Summarize."}, {"role": "user", "content": "hi"}]


# ---------------------------------------------------------------------------
# Retry loop — reference client.py:90-100 semantics
# ---------------------------------------------------------------------------


def test_retry_recovers_each_fault_kind_once():
    for exc in (RateLimitError, lambda: ServerError(500, "boom")):
        t = FlakyTransport(lambda p: json.dumps({"summary": "ok"}))
        # force the chosen fault regardless of md5 rotation
        t_inner, t = t, None

        class Forced(FlakyTransport):
            def __call__(self, payload):
                n = self.seen.get("k", 0)
                self.seen["k"] = n + 1
                if n == 0:
                    self.faults += 1
                    raise exc()
                return self.inner(payload)

        f = Forced(lambda p: json.dumps({"summary": "ok"}))
        c = HttpLLMClient(f, TransportConfig(), sleep=NO_SLEEP)
        assert c.generate(MSGS) == {"summary": "ok"}
        assert f.faults == 1
        assert c.stats.retries == 1


def test_retry_recovers_malformed_json():
    calls = {"n": 0}

    def t(payload):
        calls["n"] += 1
        return "{broken" if calls["n"] == 1 else json.dumps({"a": 1})

    c = HttpLLMClient(t, TransportConfig(), sleep=NO_SLEEP)
    assert c.generate(MSGS) == {"a": 1}
    assert calls["n"] == 2


def test_retry_gives_up_after_four_attempts_with_bounded_backoff():
    t = AlwaysFails(RateLimitError)
    c = HttpLLMClient(t, TransportConfig(), sleep=NO_SLEEP)
    with pytest.raises(RateLimitError):
        c.generate(MSGS)
    # stop_after_attempt(4): 4 transport calls, 3 waits, each inside
    # the reference's wait_random_exponential(multiplier=10, min=5,
    # max=120) envelope — deterministic doubling 10, 20, 40
    assert t.calls == 4
    assert c.stats.sleeps == [10.0, 20.0, 40.0]
    assert all(5.0 <= s <= 120.0 for s in c.stats.sleeps)


def test_backoff_clamps_to_min_and_max():
    cfg = TransportConfig(backoff_multiplier=1.0, max_attempts=9)
    c = HttpLLMClient(AlwaysFails(RateLimitError), cfg, sleep=NO_SLEEP)
    with pytest.raises(RateLimitError):
        c.generate(MSGS)
    assert c.stats.sleeps[0] == 5.0  # 1*2^0=1 clamped up to min
    assert c.stats.sleeps[-1] == 120.0  # 1*2^7=128 clamped down to max


def test_non_retryable_errors_fail_fast():
    for exc in (lambda: ServerError(400, "bad request"),
                lambda: RefusalError("no"),
                lambda: ValueError("contract")):
        t = AlwaysFails(exc)
        c = HttpLLMClient(t, TransportConfig(), sleep=NO_SLEEP)
        with pytest.raises((ServerError, RefusalError, ValueError)):
            c.generate(MSGS)
        assert t.calls == 1  # exactly one bill, no blind retries
        assert c.stats.sleeps == []


# ---------------------------------------------------------------------------
# Cache — reference client.py:123-127,152-169; persisted so a Spark
# task retry never re-bills
# ---------------------------------------------------------------------------


def test_cache_hit_on_repeat_and_on_simulated_task_retry(tmp_path):
    cfg = TransportConfig(cache_dir=str(tmp_path / "llm_cache"))
    t = CountingTransport(EchoServer())
    c = HttpLLMClient(t, cfg, sleep=NO_SLEEP)
    out1 = c.generate(MSGS, "small")
    assert t.calls == 1
    out2 = c.generate(MSGS, "small")
    assert out2 == out1
    assert t.calls == 1  # served from cache
    assert c.stats.cache_hits == 1
    # a Spark task retry is a FRESH python worker: new client, same
    # cache_dir — the committed entry must satisfy it with zero calls
    t2 = CountingTransport(EchoServer())
    c2 = HttpLLMClient(t2, cfg, sleep=NO_SLEEP)
    assert c2.generate(MSGS, "small") == out1
    assert t2.calls == 0
    assert c2.stats.cache_hits == 1


def test_cache_keyed_by_model_and_messages(tmp_path):
    cfg = TransportConfig(cache_dir=str(tmp_path))
    t = CountingTransport(EchoServer())
    c = HttpLLMClient(t, cfg, sleep=NO_SLEEP)
    c.generate(MSGS, "small")
    c.generate(MSGS, "medium")  # different routed model -> new key
    assert t.calls == 2
    other = [dict(MSGS[0]), {"role": "user", "content": "bye"}]
    c.generate(other, "small")
    assert t.calls == 3
    # reference key format: md5(f"{model}:{json(messages, sort_keys)}")
    key = hashlib.md5(
        (
            "small-model:"
            + json.dumps(MSGS, sort_keys=True)
        ).encode()
    ).hexdigest()
    assert (tmp_path / f"{key}.json").exists()


def test_cache_not_written_on_failure_and_off_by_default(tmp_path):
    cfg = TransportConfig(cache_dir=str(tmp_path))
    c = HttpLLMClient(AlwaysFails(RateLimitError), cfg, sleep=NO_SLEEP)
    with pytest.raises(RateLimitError):
        c.generate(MSGS)
    assert list(tmp_path.glob("*.json")) == []
    # cache_dir=None (the reference's cache=False default) never touches disk
    t = CountingTransport(EchoServer())
    c2 = HttpLLMClient(t, TransportConfig(), sleep=NO_SLEEP)
    c2.generate(MSGS, "small")
    c2.generate(MSGS, "small")
    assert t.calls == 2


# ---------------------------------------------------------------------------
# Routing + cleaning + bounded fan-out
# ---------------------------------------------------------------------------


def test_model_routing_small_vs_medium():
    seen = []

    def t(payload):
        seen.append(payload["model"])
        return json.dumps({})

    cfg = TransportConfig(model="big-m", small_model="tiny-m")
    c = HttpLLMClient(t, cfg, sleep=NO_SLEEP)
    c.generate(MSGS, "medium")
    c.generate(MSGS, "small")
    assert seen == ["big-m", "tiny-m"]
    with pytest.raises(ValueError):
        c.generate(MSGS, "huge")


def test_input_cleaning_reaches_the_wire():
    seen = []

    def t(payload):
        seen.append(payload["messages"][-1]["content"])
        return json.dumps({})

    c = HttpLLMClient(t, TransportConfig(), sleep=NO_SLEEP)
    dirty = "a​b\x00c\td"
    c.generate([{"role": "user", "content": dirty}])
    assert seen == ["abc\td"]
    assert clean_input(dirty) == "abc\td"


def test_generate_many_bounded_concurrency_and_order():
    import threading

    lock = threading.Lock()
    state = {"now": 0, "peak": 0}

    def t(payload):
        with lock:
            state["now"] += 1
            state["peak"] = max(state["peak"], state["now"])
        try:
            return json.dumps({"echo": payload["messages"][-1]["content"]})
        finally:
            with lock:
                state["now"] -= 1

    cfg = TransportConfig(max_in_flight=3)
    c = HttpLLMClient(t, cfg, sleep=NO_SLEEP)
    msgs = [[{"role": "user", "content": f"m{i}"}] for i in range(20)]
    out = c.generate_many(msgs)
    assert [r["echo"] for r in out] == [f"m{i}" for i in range(20)]
    assert state["peak"] <= 3


def test_generate_many_single_flight_keeps_input_order():
    """Repeated prompts in one batch (equal after input cleaning) make
    one transport call per unique prompt, and every copy gets its
    response in input order."""
    import threading

    lock = threading.Lock()
    seen = []

    def t(payload):
        content = payload["messages"][-1]["content"]
        with lock:
            seen.append(content)
        return json.dumps({"echo": content})

    c = HttpLLMClient(t, TransportConfig(max_in_flight=4), sleep=NO_SLEEP)
    prompts = ["a", "b", "a", "c", "b\u200b", "a", "d", "c"]
    out = c.generate_many([[{"role": "user", "content": p}] for p in prompts])
    assert [r["echo"] for r in out] == ["a", "b", "a", "c", "b", "a", "d", "c"]
    assert sorted(seen) == ["a", "b", "c", "d"]
    assert (c.stats.calls, c.stats.cache_misses) == (4, 4)


def test_generate_many_stats_count_every_update_exactly(tmp_path):
    """generate_many's pool threads all update one client's stats; no
    increment may be lost. A tiny GIL switch interval makes threads
    interleave inside the counters' read-modify-write."""
    import sys

    def echo(payload):
        return json.dumps({"echo": payload["messages"][-1]["content"]})

    n = 20_000
    msgs = [[{"role": "user", "content": f"m{i}"}] for i in range(n)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        c = HttpLLMClient(echo, TransportConfig(max_in_flight=8), sleep=NO_SLEEP)
        c.generate_many(msgs)
        assert (c.stats.calls, c.stats.cache_misses, c.stats.cache_hits) == (n, n, 0)

        k = 300
        cached = HttpLLMClient(
            echo,
            TransportConfig(max_in_flight=8, cache_dir=str(tmp_path / "c")),
            sleep=NO_SLEEP,
        )
        cached.generate_many(msgs[:k])
        cached.generate_many(msgs[:k])
        assert (
            cached.stats.calls, cached.stats.cache_misses, cached.stats.cache_hits
        ) == (k, k, k)
    finally:
        sys.setswitchinterval(old)


# ---------------------------------------------------------------------------
# Adapter units
# ---------------------------------------------------------------------------


def test_summarizer_and_cross_encoder_adapters():
    c = HttpLLMClient(EchoServer(), TransportConfig(), sleep=NO_SLEEP)
    summ = TransportSummarizerClient(c)
    assert summ(["alpha", "beta"]) == ["SUM[alpha]", "SUM[beta]"]
    ce = TransportCrossEncoderClient(c)
    scores = ce("red fox", ["the red fox", "blue whale"])
    assert scores[0] > scores[1]
    assert scores[1] == 0.0


def test_embedder_adapter_truncates_to_dim_and_validates():
    cfg = TransportConfig(embedding_dim=3)
    c = HttpLLMClient(EchoServer(), cfg, sleep=NO_SLEEP)
    emb = TransportEmbedderClient(c)
    vecs = emb.create_batch(["ab", "abcd"])
    # EchoServer returns 5 dims; reference truncation keeps config dim
    assert vecs == [[2.0, 1.0, 2.0], [4.0, 1.0, 2.0]]
    assert emb.create_batch([]) == []

    def bad(payload):
        return json.dumps({"embeddings": [[1.0]]})  # wrong count

    with pytest.raises(ValueError):
        TransportEmbedderClient(
            HttpLLMClient(bad, cfg, sleep=NO_SLEEP)
        ).create_batch(["a", "b"])


def test_extractor_adapter_contract_violation_raises():
    def bad(payload):
        return json.dumps({"edges": []})  # wrong key — not retryable

    c = HttpLLMClient(bad, TransportConfig(), sleep=NO_SLEEP)
    with pytest.raises(ValueError, match="triples"):
        TransportExtractorClient(c)(
            [{"text": "x", "episode_valid_at": "2025-01-01"}]
        )


# ---------------------------------------------------------------------------
# Spark integration: the full pipeline through the HTTP-shaped adapter
# under injected faults == the rule-based run; embeddings via UDF
# ---------------------------------------------------------------------------


def _faulty_extractor_client(cache_dir=None):
    cfg = TransportConfig(cache_dir=cache_dir)
    return TransportExtractorClient(
        HttpLLMClient(FlakyTransport(ExtractorServer()), cfg, sleep=NO_SLEEP)
    )


def test_pipeline_through_faulty_transport_equals_rule_based(spark):
    from graphiti_spark.operators.extract import (
        ClientBackedExtractor,
        extract_triples,
    )
    from graphiti_spark.synth import synthesize_episodes
    from tests.conftest import SF_SMOKE

    eps = synthesize_episodes(spark, SF_SMOKE)
    rule = {tuple(r) for r in extract_triples(eps).collect()}
    via_http = {
        tuple(r)
        for r in extract_triples(
            eps, extractor=ClientBackedExtractor(_faulty_extractor_client())
        ).collect()
    }
    # every episode's FIRST request failed (429/5xx/garbage rotating by
    # payload md5) and the retry loop recovered each one — output is
    # byte-identical to the rule-based kernel
    assert via_http == rule
    assert len(rule) > 0


def test_extractor_cache_hit_on_executor_retry(tmp_path):
    """The billable-retry guarantee end to end: a re-run of the same
    batch (a Spark task retry re-executes the whole partition) is
    served entirely from the persisted cache — zero new transport
    calls even though the first run saw injected faults."""
    episodes = [
        {"doc_id": "d", "group_id": "g", "offset": i,
         "text": f"N{i}: A works for B since 2020.",
         "episode_valid_at": "2025-01-01 00:00:00"}
        for i in range(5)
    ]
    cache = str(tmp_path / "c")
    cfg = TransportConfig(cache_dir=cache)
    flaky = FlakyTransport(ExtractorServer())
    counted = CountingTransport(flaky)
    first = TransportExtractorClient(
        HttpLLMClient(counted, cfg, sleep=NO_SLEEP)
    )(episodes)
    calls_run1 = counted.calls
    assert flaky.faults == 5  # every distinct prompt faulted once
    assert calls_run1 == 10  # 5 faults + 5 successes
    # simulated task retry: fresh worker, fresh client, same cache dir
    counted2 = CountingTransport(FlakyTransport(ExtractorServer()))
    retry_client = HttpLLMClient(counted2, cfg, sleep=NO_SLEEP)
    second = TransportExtractorClient(retry_client)(episodes)
    assert second == first
    assert counted2.calls == 0  # nothing re-billed
    assert retry_client.stats.cache_hits == 5


def test_embed_udf_from_client_sparkside(spark):
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [("a", "xy"), ("b", "pqrs")], "id string, text string"
    )
    udf = embed_udf_from_client(
        lambda: TransportEmbedderClient(
            HttpLLMClient(
                EchoServer(), TransportConfig(embedding_dim=3), sleep=NO_SLEEP
            )
        )
    )
    rows = {r.id: r.v for r in df.select("id", udf("text").alias("v")).collect()}
    assert rows["a"] == [2.0, 1.0, 2.0]
    assert rows["b"] == [4.0, 1.0, 2.0]


def test_udf_summarizer_and_cross_encoder_through_spark(spark):
    import pyspark.sql.functions as F

    from graphiti_spark.functions.summarize import UdfSummarizer
    from graphiti_spark.search_api import UdfCrossEncoder

    c = HttpLLMClient(EchoServer(), TransportConfig(), sleep=NO_SLEEP)
    df = spark.createDataFrame(
        [(1, "red fox runs"), (2, "blue whale swims")], "id int, text string"
    )
    summ = UdfSummarizer(TransportSummarizerClient(c))
    got = {
        r.id: r.s
        for r in df.select("id", summ.summarize(F.col("text")).alias("s")).collect()
    }
    assert got == {1: "SUM[red fox runs]", 2: "SUM[blue whale swims]"}
    ce = UdfCrossEncoder(TransportCrossEncoderClient(c))
    scored = {r.id: r.score for r in ce.score(df, "text", "red fox").collect()}
    assert scored[1] == 1.0
    assert scored[2] == 0.0


def test_non_object_json_fails_fast_and_is_never_cached(tmp_path):
    cfg = TransportConfig(cache_dir=str(tmp_path))
    for body in ("null", "[]", '"ok"'):
        calls = {"n": 0}

        def t(payload, body=body):
            calls["n"] += 1
            return body

        c = HttpLLMClient(t, cfg, sleep=NO_SLEEP)
        with pytest.raises(ValueError, match="non-object JSON"):
            c.generate(MSGS)
        assert calls["n"] == 1  # contract violation: no retry-billing
    # nothing cached: a cached null would read back as a miss forever
    assert list(tmp_path.glob("*.json")) == []


def test_cache_write_failure_does_not_discard_paid_response(tmp_path):
    # cache_dir is a FILE -> every cache write raises OSError; the
    # paid response must still come back (task retry would re-bill)
    blocker = tmp_path / "blocked"
    blocker.write_text("x")
    cfg = TransportConfig(cache_dir=str(blocker))
    t = CountingTransport(EchoServer())
    c = HttpLLMClient(t, cfg, sleep=NO_SLEEP)
    out = c.generate(MSGS, "small")
    assert out == {"summary": "SUM[hi]"}
    assert t.calls == 1
