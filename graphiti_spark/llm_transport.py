"""X9/R3 live-transport client adapter — the reference's LLM client
semantics (retry, cache, routing, bounded concurrency) behind the
repo's four plug points, with the actual wire call injected.

The reference drives every LLM interaction through one shape
(``graphiti_core/llm_client/client.py``):

* retry with exponential backoff — 4 attempts, waits bounded to
  5–120 s, retrying only rate limits, 5xx server errors, and
  malformed-JSON responses (``client.py:90-100``,
  ``is_server_or_retry_error`` 42-48);
* an md5-keyed response cache keyed on ``f"{model}:{messages-json}"``
  so repeated prompts are never re-billed (``client.py:123-127,
  152-169``);
* small/medium model routing — cheap prompts go to ``small_model``
  (``llm_client/config.py:23-25`` ``ModelSize``);
* input cleaning — invalid unicode / zero-width / control chars
  stripped before the wire (``client.py:71-88``);
* the embedder truncates returned vectors to the configured dim
  (``embedder/openai.py:54-66``).

:class:`HttpLLMClient` reproduces exactly that contract, but takes the
wire call itself as an injected ``transport(payload: dict) -> str``
callable: in production that is one HTTP POST to a provider endpoint;
in this sandbox (no network) tests inject deterministic and
fault-injecting fakes (``tests/test_llm_transport.py``). Two
deliberate deltas from the reference, both disclosed:

* the backoff wait is the deterministic envelope
  ``clamp(multiplier * 2**(attempt-1), min, max)`` of the reference's
  ``wait_random_exponential(multiplier=10, min=5, max=120)`` — no
  jitter, so tests can pin the schedule; production callers who want
  jitter pass ``sleep=`` that adds it;
* the cache is a directory of ``<md5>.json`` files written via
  temp-file + ``os.replace`` (atomic on POSIX) instead of a
  ``diskcache`` dependency — safe under concurrent executor threads,
  and a Spark **task retry re-reads the committed entry instead of
  re-billing the provider**. On a multi-executor cluster, point
  ``cache_dir`` at storage all executors share (NFS/FUSE mount); each
  key is one small immutable file, so there is no cross-writer
  contention beyond last-write-wins on identical content.

Spark execution shape: these adapters run INSIDE Arrow batches (via
``ClientBackedExtractor``'s ``mapInPandas``, ``UdfSummarizer`` /
``UdfCrossEncoder`` pandas UDFs), so each executor slot drives at most
``max_in_flight`` concurrent requests (``ThreadPoolExecutor`` bounded
fan-out per batch, order-preserving) — the cluster-wide request rate
is ``slots x max_in_flight``, tune it against the provider rate limit
the same way the reference's SEMAPHORE_LIMIT bounds its 20 coroutines
(``graphiti_core/helpers.py``).
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable

DEFAULT_MAX_TOKENS = 8192  # llm_client/config.py:19
DEFAULT_TEMPERATURE = 0.0


class RateLimitError(Exception):
    """Provider rate limit (HTTP 429) — retryable
    (llm_client/errors.py:18-23)."""


class ServerError(Exception):
    """Provider 5xx — retryable iff 500 <= status < 600
    (client.py:46-48)."""

    def __init__(self, status: int, message: str = ""):
        self.status = status
        super().__init__(f"HTTP {status}: {message}")


class RefusalError(Exception):
    """Model refused — NOT retryable (errors.py:26-31): retrying a
    refusal re-bills for the same answer."""


def is_retryable(exc: BaseException) -> bool:
    """Reference ``is_server_or_retry_error`` (client.py:42-48): rate
    limits, malformed JSON, and 5xx are transient; everything else
    (4xx, refusals, parse-contract violations) fails fast."""
    if isinstance(exc, (RateLimitError, json.JSONDecodeError)):
        return True
    return isinstance(exc, ServerError) and 500 <= exc.status < 600


def clean_input(text: str) -> str:
    """client.py:71-88 — strip invalid unicode, zero-width chars, and
    control chars (keeping \\n \\r \\t) before the wire."""
    cleaned = text.encode("utf-8", errors="ignore").decode("utf-8")
    for ch in "\u200b\u200c\u200d\ufeff\u2060":
        cleaned = cleaned.replace(ch, "")
    return "".join(c for c in cleaned if ord(c) >= 32 or c in "\n\r\t")


@dataclass
class TransportConfig:
    """llm_client/config.py:28-69 + the retry envelope of
    client.py:90-100 as explicit knobs."""

    model: str = "medium-model"
    small_model: str = "small-model"
    embedding_model: str = "embed-model"
    embedding_dim: int = 64
    temperature: float = DEFAULT_TEMPERATURE
    max_tokens: int = DEFAULT_MAX_TOKENS
    cache_dir: str | None = None  # None = caching off (client.py:65-67)
    max_attempts: int = 4  # stop_after_attempt(4), client.py:91
    backoff_multiplier: float = 10.0  # wait_random_exponential args,
    backoff_min: float = 5.0  #         client.py:92
    backoff_max: float = 120.0
    max_in_flight: int = 8  # bounded per-batch fan-out


@dataclass
class TransportStats:
    """Observability for tests and ops: every counter is per-client.
    ``generate_many``'s pool threads update them, so every update goes
    through ``add`` under one lock (``+=`` is a read-modify-write that
    loses increments between threads)."""

    calls: int = 0  # transport invocations (billable)
    retries: int = 0
    cache_hits: int = 0
    cache_misses: int = 0
    sleeps: list = field(default_factory=list)
    _lock: threading.Lock = field(
        default_factory=threading.Lock, repr=False, compare=False
    )

    def add(self, counter: str, n: int = 1) -> None:
        with self._lock:
            setattr(self, counter, getattr(self, counter) + n)

    def add_sleep(self, wait: float) -> None:
        with self._lock:
            self.sleeps.append(wait)

    # a client ships to executors inside UDF closures; a lock does not
    # pickle, so each copy gets its own
    def __getstate__(self) -> dict:
        return {k: v for k, v in self.__dict__.items() if k != "_lock"}

    def __setstate__(self, state: dict) -> None:
        self.__dict__.update(state)
        self._lock = threading.Lock()


class HttpLLMClient:
    """The reference ``LLMClient`` loop (client.py:129-169) with the
    wire injected. ``transport(payload) -> str`` receives
    ``{"model", "messages", "max_tokens", "temperature"}`` and returns
    the raw response body, which must parse as a JSON object; a
    production adapter is ~5 lines of ``urllib``/``requests`` POST.

    ``generate`` = clean -> cache-check -> retry loop -> cache-write.
    ``generate_many`` = order-preserving, single-flight, bounded
    concurrent fan-out for use inside one Arrow batch.
    """

    def __init__(
        self,
        transport: Callable[[dict], str],
        config: TransportConfig | None = None,
        sleep: Callable[[float], None] = time.sleep,
    ):
        self.transport = transport
        self.config = config or TransportConfig()
        self.sleep = sleep
        self.stats = TransportStats()

    # -- routing (config.py:23-25) ------------------------------------
    def _route(self, model_size: str) -> str:
        if model_size == "small":
            return self.config.small_model
        if model_size == "medium":
            return self.config.model
        raise ValueError(f"model_size must be small|medium, got {model_size!r}")

    # -- cache (client.py:123-127) ------------------------------------
    def _cache_key(self, model: str, messages: list[dict]) -> str:
        message_str = json.dumps(messages, sort_keys=True)
        return hashlib.md5(f"{model}:{message_str}".encode()).hexdigest()

    def _cache_path(self, key: str) -> str:
        assert self.config.cache_dir is not None
        return os.path.join(self.config.cache_dir, f"{key}.json")

    def _cache_get(self, key: str):
        if self.config.cache_dir is None:
            return None
        try:
            with open(self._cache_path(key)) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            # a torn concurrent write is impossible (os.replace), but a
            # missing/damaged/unreadable entry degrades to a MISS,
            # never a crash — the cache is an optimization, and a
            # broken cache mount must not take the request path down
            return None

    def _cache_set(self, key: str, value: dict) -> None:
        if self.config.cache_dir is None:
            return
        os.makedirs(self.config.cache_dir, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self.config.cache_dir, suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(value, f, sort_keys=True)
            os.replace(tmp, self._cache_path(key))  # atomic commit
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise

    # -- backoff envelope of client.py:92 ------------------------------
    def _wait(self, attempt: int) -> float:
        c = self.config
        return min(max(c.backoff_multiplier * (2.0 ** (attempt - 1)), c.backoff_min), c.backoff_max)

    def _prepare(
        self, messages: list[dict], model_size: str
    ) -> tuple[str, list[dict], str]:
        """(model, cleaned messages, cache key) of one request."""
        model = self._route(model_size)
        messages = [
            {**m, "content": clean_input(m.get("content", ""))} for m in messages
        ]
        return model, messages, self._cache_key(model, messages)

    def generate(self, messages: list[dict], model_size: str = "medium") -> dict:
        """One chat completion: list of ``{"role", "content"}`` in,
        parsed JSON response object out. Raises the last error after
        ``max_attempts`` (reraise=True, client.py:99)."""
        return self._generate(*self._prepare(messages, model_size))

    def _generate(self, model: str, messages: list[dict], key: str) -> dict:
        cached = self._cache_get(key)
        if cached is not None:
            self.stats.add("cache_hits")
            return cached
        self.stats.add("cache_misses")
        payload = {
            "model": model,
            "messages": messages,
            "max_tokens": self.config.max_tokens,
            "temperature": self.config.temperature,
        }
        last: BaseException | None = None
        for attempt in range(1, self.config.max_attempts + 1):
            if attempt > 1:
                wait = self._wait(attempt - 1)
                self.stats.add_sleep(wait)
                self.sleep(wait)
                self.stats.add("retries")
            try:
                self.stats.add("calls")
                body = self.transport(payload)
                response = json.loads(body)  # JSONDecodeError -> retry
                if not isinstance(response, dict):
                    # valid JSON but not an object ('null', '[]', a
                    # bare string) is a CONTRACT violation, not a
                    # transient wire fault: fail fast rather than
                    # retry-billing — and never cache it (a cached
                    # null would read back as a miss forever)
                    raise ValueError(
                        f"transport returned non-object JSON: {body[:80]!r}"
                    )
                try:
                    self._cache_set(key, response)
                except OSError:
                    # cache write is best-effort: a full/read-only
                    # cache mount must not discard a PAID response —
                    # failing here would make the task retry re-bill,
                    # the exact thing the cache exists to prevent
                    pass
                return response
            except BaseException as e:
                last = e
                if not is_retryable(e):
                    raise
        assert last is not None
        raise last

    def generate_many(
        self, messages_list: list[list[dict]], model_size: str = "medium"
    ) -> list[dict]:
        """Bounded concurrent fan-out over one Arrow batch's prompts:
        at most ``max_in_flight`` requests outstanding per executor
        slot, results in input order. Single-flight: prompts that share
        a cache key (after cleaning) make one request, and every copy
        gets that one response object. Serial when one prompt is left."""
        prepared = [self._prepare(m, model_size) for m in messages_list]
        unique = {p[2]: p for p in prepared}
        if len(unique) <= 1:
            responses = [self._generate(*p) for p in unique.values()]
        else:
            workers = max(1, min(self.config.max_in_flight, len(unique)))
            with ThreadPoolExecutor(max_workers=workers) as pool:
                responses = list(
                    pool.map(lambda p: self._generate(*p), unique.values())
                )
        by_key = dict(zip(unique, responses))
        return [by_key[p[2]] for p in prepared]


# ---------------------------------------------------------------------------
# Plug-point adapters: one per UDF slot the engine exposes. Each builds
# provider-neutral prompts, fans out through HttpLLMClient, and parses
# the structured response — so retry/cache/routing semantics are
# identical at every slot (the reference funnels all four through the
# same LLMClient.generate_response for the same reason).
# ---------------------------------------------------------------------------


class TransportExtractorClient:
    """X9: adapts :class:`HttpLLMClient` to ``ClientBackedExtractor``'s
    ``client(episodes) -> list[list[dict]]`` contract
    (operators/extract.py). Mirrors the reference's extract_edges call
    shape (edge_operations.py:106-240): one structured-output chat per
    episode, medium model, response ``{"triples": [{speaker,
    subj_name, predicate, obj_name, fact, valid_at}]}``. A missing or
    non-list ``triples`` key is a contract violation and raises (the
    malformed-JSON *body* case is retried upstream); per-triple key
    fallbacks are ``None`` and flow into the extractor's documented
    null paths."""

    SYSTEM = (
        "You extract (subject, predicate, object) triples from an "
        "episode. Respond with a JSON object: "
        '{"triples": [{"speaker", "subj_name", "predicate", '
        '"obj_name", "fact", "valid_at"}]}'
    )

    def __init__(self, client: HttpLLMClient, model_size: str = "medium"):
        self.client = client
        self.model_size = model_size

    def messages_for(self, ep: dict) -> list[dict]:
        return [
            {"role": "system", "content": self.SYSTEM},
            {
                "role": "user",
                "content": json.dumps(
                    {
                        "text": ep["text"],
                        "reference_time": str(ep["episode_valid_at"]),
                    },
                    sort_keys=True,
                ),
            },
        ]

    def __call__(self, episodes: list[dict]) -> list[list[dict]]:
        resps = self.client.generate_many(
            [self.messages_for(ep) for ep in episodes], self.model_size
        )
        out = []
        for r in resps:
            triples = r.get("triples")
            if not isinstance(triples, list):
                raise ValueError(
                    f"extractor response missing 'triples' list: {r!r}"
                )
            out.append(triples)
        return out


class TransportSummarizerClient:
    """A7: ``client(texts) -> list[str]`` for ``UdfSummarizer``
    (functions/summarize.py:50). Small-model routed — summarization is
    the reference's cheap-prompt path (config.py:23-25)."""

    SYSTEM = (
        "Summarize the context into one short paragraph. Respond with "
        'a JSON object: {"summary": "..."}'
    )

    def __init__(self, client: HttpLLMClient, model_size: str = "small"):
        self.client = client
        self.model_size = model_size

    def __call__(self, texts: list[str]) -> list[str]:
        resps = self.client.generate_many(
            [
                [
                    {"role": "system", "content": self.SYSTEM},
                    {"role": "user", "content": t or ""},
                ]
                for t in texts
            ],
            self.model_size,
        )
        return [str(r.get("summary", "")) for r in resps]


class TransportCrossEncoderClient:
    """R3: ``client(query, passages) -> list[float]`` for
    ``UdfCrossEncoder`` (search_api.py). The reference's OpenAI
    reranker scores each passage independently as P(True) from
    logprobs on the small model
    (cross_encoder/openai_reranker_client.py:59-121) — here each
    passage is one small-model call returning ``{"score": float}``,
    fanned out concurrently; non-numeric scores are a contract
    violation and raise."""

    SYSTEM = (
        "Score how relevant the passage is to the query, 0 to 1. "
        'Respond with a JSON object: {"score": 0.0}'
    )

    def __init__(self, client: HttpLLMClient, model_size: str = "small"):
        self.client = client
        self.model_size = model_size

    def __call__(self, query: str, passages: list[str]) -> list[float]:
        resps = self.client.generate_many(
            [
                [
                    {"role": "system", "content": self.SYSTEM},
                    {
                        "role": "user",
                        "content": json.dumps(
                            {"query": query, "passage": p or ""}, sort_keys=True
                        ),
                    },
                ]
                for p in passages
            ],
            self.model_size,
        )
        return [float(r["score"]) for r in resps]


class TransportEmbedderClient:
    """X7: batch embedder with the reference's truncate-to-dim
    semantics (embedder/openai.py:54-66). ``create_batch(texts)``
    sends ONE request per batch (the provider batch-embedding shape),
    payload ``{"model", "input"}``, response ``{"embeddings":
    [[...]]}``; every vector is truncated to ``embedding_dim``. The
    md5 cache and retry loop apply unchanged — the batch is the cached
    unit, exactly like a chat completion."""

    def __init__(self, client: HttpLLMClient):
        self.client = client

    def create_batch(self, texts: list[str]) -> list[list[float]]:
        if not texts:
            return []
        resp = self.client.generate(
            [
                {
                    "role": "embed",
                    "content": json.dumps(
                        {
                            "model": self.client.config.embedding_model,
                            "input": [clean_input(t or "") for t in texts],
                        },
                        sort_keys=True,
                    ),
                }
            ],
            "medium",
        )
        vecs = resp.get("embeddings")
        if not isinstance(vecs, list) or len(vecs) != len(texts):
            raise ValueError(
                f"embedder returned {0 if not isinstance(vecs, list) else len(vecs)}"
                f" vectors for {len(texts)} inputs"
            )
        dim = self.client.config.embedding_dim
        return [[float(x) for x in v[:dim]] for v in vecs]


def embed_udf_from_client(make_client: Callable[[], TransportEmbedderClient]):
    """Wrap a transport embedder in an Arrow-batched pandas UDF
    (array<float>), so a remote embedding provider slots in wherever
    ``hash_embed_udf`` is used today. ``make_client`` is a zero-arg
    factory invoked lazily EXECUTOR-side (clients hold thread pools
    and open files — never pickle a live one from the driver)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    state: dict = {}

    def _embed(texts: pd.Series) -> pd.Series:
        if "c" not in state:
            state["c"] = make_client()
        return pd.Series(state["c"].create_batch(texts.tolist()), index=texts.index)

    _embed.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(_embed, "array<float>")


class TransportGraphJudgeClient:
    """E2E-eval judge slot (tests/evals/eval_e2e_graph_building.py:
    160-169): ``client(contexts) -> list[bool]`` for
    ``operators.evaluate.UdfGraphJudge``. One small-model call per
    episode context, response ``{"candidate_is_worse": bool}`` — the
    reference's EvalAddEpisodeResults response model."""

    SYSTEM = (
        "Given per-episode metrics comparing a candidate knowledge "
        "graph against a baseline, decide if the candidate is worse. "
        'Respond with a JSON object: {"candidate_is_worse": false}'
    )

    def __init__(self, client: HttpLLMClient, model_size: str = "small"):
        self.client = client
        self.model_size = model_size

    def __call__(self, contexts: list[dict]) -> list[bool]:
        resps = self.client.generate_many(
            [
                [
                    {"role": "system", "content": self.SYSTEM},
                    {"role": "user", "content": json.dumps(c, sort_keys=True)},
                ]
                for c in contexts
            ],
            self.model_size,
        )
        return [bool(r["candidate_is_worse"]) for r in resps]
