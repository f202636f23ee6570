"""Extraction-quality evaluation — the north rule's accuracy half as a
first-class, oracle-checkable operator.

The reference pins extraction quality with fixture tests
(graphiti_core's tests/test_edge_int.py and the dedup/resolve suites:
extracted EntityNode/EntityEdge sets compared against expected sets).
This module is the engine-side generalization of that gate: exact
set-precision/recall/F1 between any keyed "extracted" and "expected"
triple sets, reported in integer micro-units so the metric itself is
cross-engine hash-checkable (no float division anywhere — Spark ``DIV``
and DuckDB ``//`` floor identically).

Scale shape (100 TB): both inputs collapse through a DISTINCT
(map-side partial aggregation) before the single hash join on the key
columns; the output is |by| rows. No cross joins, no windows, no
driver-side iteration — the metric costs two shuffles regardless of
corpus size, and the join key includes ``doc_id`` so skew follows the
document distribution, not any hot entity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphiti_spark import corpus as C

__all__ = ["expected_triples", "triple_prf"]


def expected_triples(eps: DataFrame) -> DataFrame:
    """Ground-truth (group_id, doc_id, offset, speaker, subj_name,
    predicate, obj_name, year) rows re-derived from the synthesis
    arithmetic (corpus.fact_params / FIXTURES.md §1) as pure column
    expressions over the episodes table's ``doc_id`` alone — never
    reading span text, so it is an independent check of the extraction
    path end to end (including the bench's replica-amplification
    arithmetic: ``doc-<d>-r<rep>`` maps to d + rep*500009, rep absent
    → 0).

    This is the engine twin of the reference's extraction fixtures:
    the expected set the extractor's output is graded against.
    """
    d0 = F.regexp_extract("doc_id", r"^doc-(\d+)", 1).cast("long")
    rep_s = F.regexp_extract("doc_id", r"-r(\d+)$", 1)
    rep = F.when(rep_s == "", F.lit(0)).otherwise(rep_s.cast("long"))
    d = (d0 + rep * F.lit(500009)).alias("d")

    ents = F.array(*[F.lit(e) for e in C.ENTITIES])
    preds = F.array(*[F.lit(p[0]) for p in C.PREDICATES])
    speakers = F.array(*[F.lit(s) for s in C.SPEAKERS])

    rows = eps.select("doc_id", d).select(
        "doc_id",
        "d",
        F.explode(F.sequence(F.lit(0), (F.col("d") % 3).cast("int"))).alias("j"),
        F.element_at(
            F.array(*[F.lit(k) for k in C.MEDIA_K]),
            ((F.col("d") / 3).cast("long") % len(C.MEDIA_K)).cast("int") + 1,
        ).alias("k"),
    )
    dd, j = F.col("d"), F.col("j")
    subj = F.when((dd + j) % C.HOT_EVERY == 0, F.lit(0)).otherwise(
        (dd * 7 + j * 13) % C.N_ENTITIES
    )
    obj0 = (dd * 11 + j * 17 + 1) % C.N_ENTITIES
    obj = F.when(obj0 == subj, (obj0 + 1) % C.N_ENTITIES).otherwise(obj0)
    return rows.select(
        F.concat(F.lit("g"), (dd % C.N_GROUPS).cast("string")).alias("group_id"),
        "doc_id",
        # text span j (0-based) sits after floor(j/k) interleaved media
        (j + F.floor(j / F.col("k"))).cast("int").alias("offset"),
        F.element_at(speakers, ((dd + j) % len(C.SPEAKERS)).cast("int") + 1).alias(
            "speaker"
        ),
        F.element_at(ents, subj.cast("int") + 1).alias("subj_name"),
        F.element_at(preds, ((dd * 3 + j * 5) % len(C.PREDICATES)).cast("int") + 1).alias(
            "predicate"
        ),
        F.element_at(ents, obj.cast("int") + 1).alias("obj_name"),
        (F.lit(C.BASE_YEAR) + (F.floor(dd / 16) + 3 * j) % 10).cast("int").alias(
            "year"
        ),
    )


def triple_prf(
    extracted: DataFrame,
    expected: DataFrame,
    keys: list[str],
    by: list[str] | tuple[str, ...] = ("group_id",),
) -> DataFrame:
    """Set precision/recall/F1 between two keyed triple frames, per
    ``by`` group, in exact integer micro-units.

    Both sides are reduced to DISTINCT (by + keys) rows (set
    semantics — the reference's fixture comparisons are set-based
    too), then:

    - ``n_extracted`` / ``n_expected``: per-group distinct counts,
    - ``n_tp``: distinct rows present in BOTH (inner join),
    - ``precision_micro`` = 1e6·tp DIV n_extracted (0 when empty),
    - ``recall_micro``    = 1e6·tp DIV n_expected  (0 when empty),
    - ``f1_micro``        = 2e6·tp DIV (n_extracted + n_expected)
      (the harmonic mean 2PR/(P+R) simplified to counts — one floor
      division total, so no compounding of rounding).

    A group present on only one side still yields a row (full outer
    join of the per-group counts) with zeros on the missing side —
    a disappearing group must move the metric, not vanish from it.
    """
    by = list(by)
    keys = list(keys)
    cols = by + keys
    e = extracted.select(*cols).distinct()
    g = expected.select(*cols).distinct()
    ne = e.groupBy(*by).agg(F.count(F.lit(1)).cast("long").alias("n_extracted"))
    ng = g.groupBy(*by).agg(F.count(F.lit(1)).cast("long").alias("n_expected"))
    tp = (
        e.join(g, cols, "inner")
        .groupBy(*by)
        .agg(F.count(F.lit(1)).cast("long").alias("n_tp"))
    )
    counts = (
        ne.join(ng, by, "full")
        .join(tp, by, "left")
        .select(
            *by,
            F.coalesce("n_extracted", F.lit(0)).cast("long").alias("n_extracted"),
            F.coalesce("n_expected", F.lit(0)).cast("long").alias("n_expected"),
            F.coalesce("n_tp", F.lit(0)).cast("long").alias("n_tp"),
        )
    )
    return counts.select(
        *by,
        "n_extracted",
        "n_expected",
        "n_tp",
        F.when(F.col("n_extracted") > 0, F.expr("1000000 * n_tp DIV n_extracted"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("precision_micro"),
        F.when(F.col("n_expected") > 0, F.expr("1000000 * n_tp DIV n_expected"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("recall_micro"),
        F.when(
            (F.col("n_extracted") + F.col("n_expected")) > 0,
            F.expr("2000000 * n_tp DIV (n_extracted + n_expected)"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("f1_micro"),
    )


# ---------------------------------------------------------------------------
# E2E graph-vs-baseline comparison — the reference's LLM-judged eval
# harness (tests/evals/eval_e2e_graph_building.py:105-180) as an
# engine operator: per-episode candidate-vs-baseline grading with a
# pluggable judge, deterministic by default, LLM-backed via the
# llm_transport adapter.
# ---------------------------------------------------------------------------


def _md5_u32(s: Column) -> Column:
    """Little-endian uint32 of md5 digest bytes 8..12 — chosen because
    DuckDB's md5_number_lower(x) % 2^32 computes the identical value
    (oracle parity). Drives the graph_eval fixture's deterministic
    candidate damage."""
    v = F.lit(0).cast("long")
    for k in range(4):
        byte = F.conv(F.substring(F.md5(s), 17 + 2 * k, 2), 16, 10).cast("long")
        v = v + byte * (256 ** k)
    return v


def compare_graphs(
    cand_nodes: DataFrame,
    cand_edges: DataFrame,
    base_nodes: DataFrame,
    base_edges: DataFrame,
    judge=None,
    f1_threshold_micro: int = 800_000,
    overlap_threshold_micro: int = 800_000,
) -> DataFrame:
    """(group_id, doc_id, edge_f1_micro, node_recall_micro,
    summary_overlap_micro, candidate_is_worse) — per-episode grading of
    a candidate graph against a baseline, mirroring the reference's
    eval loop (eval_e2e_graph_building.py:151-178: per episode, a
    judge decides ``candidate_is_worse``; aggregate with
    :func:`graph_eval_score`).

    Input contract (AddEpisodeResults flattened to frames): nodes
    frames carry (group_id, doc_id, name, summary); edges frames carry
    (group_id, doc_id, subj_name, predicate, obj_name). A doc present
    in only one input still yields a row (full outer spine) — a
    vanished episode must move the score, not escape it.

    Deterministic default judge (the engine twin of the reference's
    LLM prompt, prompts/eval.py eval_add_episode_results):

    - ``edge_f1_micro``: set-F1 of candidate vs baseline triples per
      episode (exact triple_prf arithmetic, integer micro-units);
    - ``node_recall_micro``: fraction of the baseline's node names the
      candidate kept;
    - ``summary_overlap_micro``: mean, over name-matched nodes, of
      |token(cand_summary) ∩ token(base_summary)| / |token(base)|
      (1e6 when the baseline summary is empty);
    - ``candidate_is_worse`` = edge F1 below ``f1_threshold_micro`` OR
      either node metric below ``overlap_threshold_micro``.

    ``judge``: pluggable override with the UdfCrossEncoder contract
    shape — ``judge(per_episode_df) -> DataFrame`` replacing
    ``candidate_is_worse`` (see :class:`UdfGraphJudge` for the
    client/LLM-backed form riding llm_transport.HttpLLMClient).

    Scale shape: distinct + three keyed joins + one per-episode agg —
    everything keyed by (group_id, doc_id), so skew follows the
    document distribution; no windows, no collects, no cross joins.
    """
    by = ["group_id", "doc_id"]
    prf = triple_prf(
        cand_edges, base_edges,
        keys=["subj_name", "predicate", "obj_name"], by=by,
    ).select(*by, F.col("f1_micro").alias("edge_f1_micro"))

    bn = base_nodes.select(*by, "name", F.col("summary").alias("_bs")).distinct()
    cn = cand_nodes.select(*by, "name", F.col("summary").alias("_cs")).distinct()
    toks = lambda c: F.array_distinct(  # noqa: E731
        F.filter(F.split(F.lower(F.coalesce(c, F.lit(""))), r"[^a-z0-9]+"),
                 lambda t: t != "")
    )
    matched = bn.join(cn, by + ["name"], "left").select(
        *by,
        F.lit(1).alias("_n_base"),
        F.when(F.col("_cs").isNotNull(), 1).otherwise(0).alias("_n_hit"),
        F.when(
            F.col("_cs").isNull(), F.lit(None).cast("long")
        ).when(
            F.size(toks(F.col("_bs"))) == 0, F.lit(1_000_000)
        ).otherwise(
            # explicit FLOOR, not a double->long cast: Spark truncates
            # that cast where DuckDB rounds — floor agrees everywhere
            F.floor(
                (F.lit(1_000_000) * F.size(F.array_intersect(
                    toks(F.col("_cs")), toks(F.col("_bs"))
                ))).cast("double") / F.size(toks(F.col("_bs")))
            )
        ).cast("long").alias("_ov"),
    )
    nodes_score = matched.groupBy(*by).agg(
        F.expr("1000000 * sum(_n_hit) DIV sum(_n_base)")
        .cast("long").alias("node_recall_micro"),
        F.coalesce(F.floor(F.avg("_ov")).cast("long"), F.lit(0))
        .alias("summary_overlap_micro"),
    )
    # full spine: every episode either side mentions
    per_ep = prf.join(nodes_score, by, "full").select(
        *by,
        F.coalesce("edge_f1_micro", F.lit(0)).alias("edge_f1_micro"),
        # no baseline nodes for the doc -> node metrics are vacuously
        # perfect (nothing to preserve)
        F.coalesce("node_recall_micro", F.lit(1_000_000))
        .alias("node_recall_micro"),
        F.coalesce("summary_overlap_micro", F.lit(1_000_000))
        .alias("summary_overlap_micro"),
    )
    if judge is not None:
        return judge(per_ep)
    return per_ep.withColumn(
        "candidate_is_worse",
        (F.col("edge_f1_micro") < f1_threshold_micro)
        | (F.col("node_recall_micro") < overlap_threshold_micro)
        | (F.col("summary_overlap_micro") < overlap_threshold_micro),
    )


def graph_eval_score(per_episode: DataFrame, by=("group_id",)) -> DataFrame:
    """(by..., n_episodes, n_not_worse, score_micro) — the reference's
    aggregate: mean over episodes of NOT candidate_is_worse
    (eval_e2e_graph_building.py:170-178 scores 1 per episode unless
    the judge flags it), per group in integer micro-units."""
    by = list(by)
    return per_episode.groupBy(*by).agg(
        F.count(F.lit(1)).cast("long").alias("n_episodes"),
        F.sum(F.when(~F.col("candidate_is_worse"), 1).otherwise(0))
        .cast("long").alias("n_not_worse"),
    ).select(
        *by, "n_episodes", "n_not_worse",
        F.expr("1000000 * n_not_worse DIV n_episodes").cast("long")
        .alias("score_micro"),
    )


class UdfGraphJudge:
    """Client-backed judge for :func:`compare_graphs` — the slot the
    reference fills with an LLM comparing candidate vs baseline per
    episode (eval_e2e_graph_building.py:160-169 +
    EvalAddEpisodeResults' ``candidate_is_worse`` response model).

    ``client(contexts: list[dict]) -> list[bool]`` receives one dict
    per episode — the per-episode metric row as plain values — and
    returns ``candidate_is_worse`` per input, Arrow-batched
    executor-side (never a driver loop). Wire a live LLM through
    llm_transport.HttpLLMClient exactly like
    TransportCrossEncoderClient: one small-model call per episode
    returning ``{"candidate_is_worse": bool}``. The client must be
    deterministic per context for resumed runs to agree."""

    def __init__(self, client):
        self.client = client

    def __call__(self, per_episode: DataFrame) -> DataFrame:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        client = self.client
        cols = [c for c in per_episode.columns]

        def _judge(ctx: pd.Series) -> pd.Series:
            import json as _json

            return pd.Series(
                client([_json.loads(x) for x in ctx]),
                index=ctx.index, dtype="bool",
            )

        _judge.__annotations__ = {"ctx": pd.Series, "return": pd.Series}
        udf = pandas_udf(_judge, "boolean")
        ctx = F.to_json(F.struct(*[F.col(c) for c in cols]))
        return per_episode.withColumn("candidate_is_worse", udf(ctx))
