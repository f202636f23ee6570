"""Bi-temporal edge resolution (T1/T2/T3) as window-ordered merges.

Reference semantics being replicated exactly (pure logic — no LLM):
- T1 ``resolve_edge_contradictions``
  (graphiti_core/utils/maintenance/edge_operations.py:379-409): for a
  resolved edge R and contradiction candidates C: skip c when intervals
  are disjoint (c.invalid_at <= R.valid_at or R.invalid_at <=
  c.valid_at); otherwise an older candidate (c.valid_at < R.valid_at)
  gets c.invalid_at = R.valid_at and c.expired_at = now.
- T2 new-edge self-expiry (edge_operations.py:505-519): the first
  candidate with valid_at > R.valid_at (candidates sorted by valid_at,
  line 507) sets R.invalid_at = c.valid_at.
- T3 invalid_at ⇒ expired_at (edge_operations.py:502-503;
  bulk_utils.py:459-460).
- T4 contradiction detection is an LLM call in the reference
  (temporal_operations.py:72-99); here it is the deterministic relation
  "same unordered endpoint pair AND same predicate-class", where a
  class groups mutually-contradicting predicates (corpus.CONTRADICTS —
  the LIKES/DISLIKES, WORKS_FOR/LEFT_JOB matrix of
  tests/utils/maintenance/test_temporal_operations_int.py:94-264) and
  every predicate contradicts its own older assertions.

Batch formulation: both T1 (seen from the older edge) and T2 (seen from
the newer edge) collapse to ONE rule over the set of mutually
contradicting facts: each fact's invalid_at is the smallest strictly
greater valid_at within its (pair, class) partition — a window-ordered
merge. Pre-existing closed intervals are respected: a candidate starting
at/after an existing invalid_at is disjoint and cannot shrink it
further, so the final invalid_at is least(existing, next-distinct
valid_at).

Scale notes: the shuffle key is (group_id, pair_key, pred_class) —
high cardinality even with a hot entity, because the hot entity pairs
with many distinct others. Purely columnar (whole-stage codegen), no
UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import corpus

# predicate → class id (canonical sorted join of the mutual-contradiction
# group; singleton predicates class with themselves).
def predicate_class_map() -> dict[str, str]:
    groups: dict[str, set[str]] = {}
    for a, b in corpus.CONTRADICTS:
        s = groups.setdefault(a, {a})
        s.add(b)
        groups[b] = groups.setdefault(b, {b}) | {a}
    # transitive closure within the tiny predicate set
    changed = True
    while changed:
        changed = False
        for p, s in list(groups.items()):
            ns = set(s)
            for q in s:
                ns |= groups.get(q, {q})
            if ns != s:
                groups[p] = ns
                changed = True
    out = {}
    for pred, _ in corpus.PREDICATES:
        cls = sorted(groups.get(pred, {pred}))
        out[pred] = "|".join(cls)
    return out


def with_pred_class(edges: DataFrame, pred_col: str = "predicate") -> DataFrame:
    mapping = predicate_class_map()
    expr = F.col(pred_col)
    col = None
    # build a chained when() — tiny map, constant-folded by Catalyst
    for pred, cls in mapping.items():
        cond = F.when(expr == pred, F.lit(cls))
        col = cond if col is None else col.when(expr == pred, F.lit(cls))
    col = col.otherwise(expr)
    return edges.withColumn("pred_class", col)


def pair_key(src: Column, dst: Column) -> Column:
    """Unordered endpoint pair (direction-agnostic, like the reference's
    `-[:RELATES_TO]-` match in get_relevant_edges,
    search_utils.py:781-848)."""
    return F.concat_ws("~", F.least(src, dst), F.greatest(src, dst))


def expiry(batch_time: str) -> Column:
    """T3: an edge with an ``invalid_at`` expires at the batch time."""
    return F.when(
        F.col("invalid_at").isNotNull(), F.lit(batch_time).cast("timestamp")
    )


def resolve_bitemporal(edges: DataFrame, batch_time: str = corpus.BATCH_TIME) -> DataFrame:
    """Apply T1/T2/T3 to a deduplicated edges DataFrame.

    Input columns required: group_id, source_node_uuid, target_node_uuid,
    predicate, valid_at; optional pre-existing invalid_at / expired_at.
    Returns the same frame with invalid_at/expired_at resolved.
    """
    if "invalid_at" not in edges.columns:
        edges = edges.withColumn("invalid_at", F.lit(None).cast("timestamp"))
    if "expired_at" not in edges.columns:
        edges = edges.withColumn("expired_at", F.lit(None).cast("timestamp"))

    e = with_pred_class(edges).withColumn(
        "pair", pair_key(F.col("source_node_uuid"), F.col("target_node_uuid"))
    )

    # Next strictly-greater valid_at within (group, pair, class):
    # computed over the DISTINCT valid_at set so equal timestamps never
    # shadow a later contradiction (lead() over raw rows would).
    distinct_va = e.select("group_id", "pair", "pred_class", "valid_at").dropDuplicates()
    w = Window.partitionBy("group_id", "pair", "pred_class").orderBy("valid_at")
    nxt = distinct_va.withColumn("next_valid_at", F.lead("valid_at").over(w))

    out = e.join(nxt, ["group_id", "pair", "pred_class", "valid_at"], "left")
    # T1 disjointness + least-non-null merge with pre-existing interval;
    # T3 expired_at stamp. F.least skips nulls (as does DuckDB/Postgres).
    out = (
        out.withColumn("invalid_at", F.least(F.col("invalid_at"), F.col("next_valid_at")))
        .withColumn(
            "expired_at", F.coalesce(F.col("expired_at"), expiry(batch_time))
        )
        .drop("pair", "pred_class", "next_valid_at")
    )
    return out
