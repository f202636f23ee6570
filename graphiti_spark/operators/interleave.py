"""Interleaved-span structure operators — profile and packing over the
episode table's ``spans`` column (the BASELINE input shape: doc_id +
array<struct<kind, text, media_ref, offset>> of interleaved text +
media spans).

Both operators are PURE ARRAY ALGEBRA on the spans column: per-row
higher-order functions (transform / filter / aggregate / zip_with)
that Catalyst compiles into whole-stage codegen — no explode, no
Python, and for the profile no shuffle at all. At 100 TB that means
the modality profile is a map-only scan, and packing's only Exchange
is the one stream repartition its cumulative-sum window needs
(identical shape to docops.pack_documents).

Reference parity: the reference ingests the same interleaved episode
content per-episode in Python (graphiti_core/graphiti.py add_episode;
span handling in the episode content it passes to the LLM extractor) —
these operators are the corpus-scale structural analytics a Spark
deployment runs on that table before/alongside extraction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .evaluate import _md5_u32
from .search import tokenize


def _long(x: int) -> Column:
    return F.lit(x).cast("long")


def _norm_spans(episodes: DataFrame) -> DataFrame:
    """NULL spans ⇒ empty list (the degenerate-input convention the
    rest of the package pins): a doc with no span list profiles/packs
    as zero-cost instead of emitting a NULL-riddled row."""
    dt = episodes.schema["spans"].dataType.simpleString()
    return episodes.withColumn(
        "spans", F.coalesce(F.col("spans"), F.array().cast(dt))
    )


def _text_tokens(s) -> Column:
    """Token count of a span's text, NULL-text ⇒ 0 (a NULL would
    poison the whole aggregate and silently zero the doc out of its
    packing stream)."""
    return F.size(tokenize(F.coalesce(s["text"], F.lit("")))).cast("long")


def _span_cost(media_tokens: int) -> Column:
    """Per-episode training-token cost of the interleaved span list:
    text spans cost their whitespace/punct token count, media spans a
    FIXED ``media_tokens`` budget (the patch/frame token count a
    multimodal encoder emits per media item — fixed per model, which
    is why packing can treat it as a constant)."""
    return F.aggregate(
        F.col("spans"),
        _long(0),
        lambda acc, s: acc
        + F.when(s["kind"] == "text", _text_tokens(s)).otherwise(_long(media_tokens)),
    )


def interleave_profile(episodes: DataFrame) -> DataFrame:
    """(doc_id, group_id, n_spans, n_text, n_media, n_runs,
    max_text_run, text_tokens, media_fraction_micro, first_kind,
    last_kind, offsets_ok, refs_ok, kinds_ok) — per-episode modality
    structure of the interleaved span sequence.

    ``n_runs`` counts maximal same-kind runs; ``max_text_run`` is the
    longest uninterrupted text run (the "how much contiguous text
    between media items" statistic an interleaved-training curriculum
    samples on). ``offsets_ok`` pins the input contract that offsets
    are dense 0..n-1 in array order; ``refs_ok`` pins that exactly the
    media spans carry a (non-NULL) media_ref; ``kinds_ok`` pins that
    every kind is 'text' or 'media' — together the queryable form of
    the BASELINE span-sequence invariant (kind, text, media_ref,
    order). All three coalesce NULL field values to False (a NULL is a
    violation, never an unknown).

    Scale shape: one pass of per-row array algebra over the episode
    scan — no explode, no shuffle, no Python; the run-length scan is a
    single F.aggregate carrying a (current_run, best_run) struct
    accumulator. The DuckDB oracle derives the same numbers through an
    INDEPENDENT formulation (explode + lag/partition windows), so
    parity checks the semantics, not the code path.
    """
    episodes = _norm_spans(episodes)
    spans = F.col("spans")
    kinds = F.transform(spans, lambda s: s["kind"])
    n_spans = F.size(spans).cast("long")
    n_media = F.size(F.filter(spans, lambda s: s["kind"] == "media")).cast("long")
    # explicit kind filter (NOT n_spans - n_media): an out-of-contract
    # kind (NULL, 'audio', ...) must not be silently counted as text
    n_text = (
        F.size(F.filter(spans, lambda s: s["kind"] == "text"))
        .cast("long")
        .alias("n_text")
    )

    # maximal same-kind runs: 1 + (# neighbor pairs with different kind)
    tail_len = F.greatest(F.lit(0), F.size(spans) - 1)
    changes = F.aggregate(
        F.zip_with(
            F.slice(kinds, F.lit(1), tail_len),
            F.slice(kinds, F.lit(2), tail_len),
            lambda a, b: F.when(a != b, _long(1)).otherwise(_long(0)),
        ),
        _long(0),
        lambda acc, x: acc + x,
    )
    n_runs = F.when(n_spans > 0, changes + 1).otherwise(_long(0))

    # longest text run via a (cur, best) struct accumulator
    run_acc = F.aggregate(
        spans,
        F.struct(_long(0).alias("cur"), _long(0).alias("best")),
        lambda acc, s: F.struct(
            F.when(s["kind"] == "text", acc["cur"] + 1).otherwise(_long(0)).alias("cur"),
            F.greatest(
                acc["best"],
                F.when(s["kind"] == "text", acc["cur"] + 1).otherwise(_long(0)),
            ).alias("best"),
        ),
    )

    text_tokens = F.aggregate(
        spans,
        _long(0),
        lambda acc, s: acc
        + F.when(s["kind"] == "text", _text_tokens(s)).otherwise(_long(0)),
    )

    # index-aware transform (no sequence(): sequence(0, n-1) on an
    # empty array would generate a DESCENDING [0, -1])
    # every per-element predicate coalesces NULL -> False: a NULL
    # offset/ref/kind is a VIOLATION, and without the coalesce forall
    # would return NULL — the row then vanishes from BOTH where(ok)
    # and where(~ok), hiding exactly the most broken episodes
    offsets_ok = F.forall(
        F.transform(
            spans,
            lambda s, i: F.coalesce(
                s["offset"].cast("long") == i.cast("long"), F.lit(False)
            ),
        ),
        lambda x: x,
    )
    refs_ok = F.forall(
        spans,
        lambda s: F.coalesce(
            (F.coalesce(s["kind"] == "media", F.lit(False)))
            == (F.coalesce(s["media_ref"], F.lit("")) != F.lit("")),
            F.lit(False),
        ),
    )
    kinds_ok = F.forall(
        spans,
        lambda s: F.coalesce(s["kind"].isin("text", "media"), F.lit(False)),
    )

    # floor(a/b) == a DIV b for non-negative values; both sides stay
    # well under 2^53 so the double round-trip is exact
    media_fraction_micro = (
        F.when(n_spans > 0, F.floor((n_media * _long(1_000_000)) / n_spans))
        .otherwise(_long(0))
        .cast("long")
    )
    return episodes.select(
        "doc_id",
        "group_id",
        n_spans.alias("n_spans"),
        n_text,
        n_media.alias("n_media"),
        n_runs.cast("long").alias("n_runs"),
        run_acc["best"].alias("max_text_run"),
        text_tokens.alias("text_tokens"),
        media_fraction_micro.alias("media_fraction_micro"),
        # try_element_at: NULL (not an ANSI error) on empty span lists
        F.try_element_at(kinds, F.lit(1)).alias("first_kind"),
        F.try_element_at(kinds, F.lit(-1)).alias("last_kind"),
        offsets_ok.alias("offsets_ok"),
        refs_ok.alias("refs_ok"),
        kinds_ok.alias("kinds_ok"),
    )


def pack_interleaved(
    episodes: DataFrame,
    budget: int = 512,
    n_streams: int = 8,
    media_tokens: int = 64,
) -> DataFrame:
    """Interleaved-aware sequence packing: episodes are dealt into
    ``n_streams`` independent token streams by doc-id hash, ordered by
    a second hash (a deterministic shuffle), and the concatenated
    stream is cut into ``budget``-token training chunks — docops.
    pack_documents generalized to the interleaved table, where an
    episode's token cost is its TEXT token count plus a fixed
    ``media_tokens`` charge per media span (the encoder's per-item
    patch budget). Episodes stay ATOMIC (a doc's spans never split
    across streams), preserving the in-doc span order the BASELINE
    invariant requires of any training-example assembly.

    Emits (doc_id, stream, n_tokens, n_media, start_off, first_chunk,
    last_chunk).

    Scale shape: the cost is per-row array algebra on the scan (no
    explode); then exactly ONE Exchange on ``stream`` for the
    cumulative-sum window — each stream packs independently, so
    n_streams scales with the cluster and no stream needs another's
    state (same plan as pack_documents, plan-pinned in tests).
    """
    episodes = _norm_spans(episodes)
    n_media = F.size(F.filter(F.col("spans"), lambda s: s["kind"] == "media")).cast(
        "long"
    )
    base = episodes.select(
        "doc_id",
        (_md5_u32(F.concat_ws("|", F.lit("ipack"), F.col("doc_id"))) % n_streams)
        .cast("int")
        .alias("stream"),
        _md5_u32(F.concat_ws("|", F.lit("iord"), F.col("doc_id"))).alias("ord"),
        _span_cost(media_tokens).alias("n_tokens"),
        n_media.alias("n_media"),
    )
    w = (
        Window.partitionBy("stream")
        .orderBy("ord", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = base.withColumn("cum_end", F.sum("n_tokens").over(w))
    start = F.col("cum_end") - F.col("n_tokens")
    first = F.floor(start / budget).cast("long")
    last = F.greatest(first, F.floor((F.col("cum_end") - 1) / budget)).cast("long")
    return out.select(
        "doc_id",
        "stream",
        "n_tokens",
        "n_media",
        start.alias("start_off"),
        first.alias("first_chunk"),
        last.alias("last_chunk"),
    )


def interleave_summary(episodes: DataFrame) -> DataFrame:
    """(group_id, n_episodes, n_spans, n_media, text_tokens,
    media_fraction_micro, max_text_run, n_contract_violations) — the
    per-tenant rollup of :func:`interleave_profile`: corpus-structure
    sheet a multimodal-training pipeline reads before sampling
    (how media-heavy is each tenant's data, how long do text runs get,
    how many episodes break the span contract).

    Scale shape: the profile is map-only, so this is scan → partial
    agg → one group_id Exchange; all ratios are BIGINT micro-units
    (floor), same determinism discipline as everything else.
    """
    prof = interleave_profile(episodes)
    ok = F.col("offsets_ok") & F.col("refs_ok") & F.col("kinds_ok")
    agg = prof.groupBy("group_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_episodes"),
        F.sum("n_spans").cast("long").alias("n_spans"),
        F.sum("n_media").cast("long").alias("n_media"),
        F.sum("text_tokens").cast("long").alias("text_tokens"),
        F.max("max_text_run").cast("long").alias("max_text_run"),
        F.sum(F.when(~ok, 1).otherwise(0)).cast("long").alias("n_contract_violations"),
    )
    return agg.select(
        "group_id",
        "n_episodes",
        "n_spans",
        "n_media",
        "text_tokens",
        F.when(
            F.col("n_spans") > 0,
            F.floor((F.col("n_media") * F.lit(1_000_000)) / F.col("n_spans")),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("media_fraction_micro"),
        "max_text_run",
        "n_contract_violations",
    )
