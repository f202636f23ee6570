"""Custom ontology: entity typing, typed attributes, exclusion.

Reference semantics (graphiti_core):
- callers pass ``entity_types: dict[str, BaseModel]`` and excluded
  types (graphiti.py:361-365); classification happens inside
  extract_nodes via LLM (node_operations.py:69-176), excluded entities
  are dropped post-classification (:158-161 — P6);
- every node keeps the 'Entity' label plus its type label
  (tests/test_entity_exclusion_int.py:67-117);
- X4 regenerates a per-node summary + typed attribute values
  (node_operations.py:341-425, dynamic pydantic model at 384-401).

Deterministic re-expression: an ``EntityType`` carries a name-pattern
predicate (regex / name list) and attribute derivation rules as column
functions. Classification = first matching type (declaration order),
else the base 'Entity'. All pure column expressions.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import corpus


@dataclass
class EntityType:
    name: str
    matches: Callable[[Column], Column]           # name column → boolean
    attributes: dict[str, Callable[[Column], Column]] = field(default_factory=dict)


# Given-name lexicon: a person is someone whose FIRST token is a known
# given name or an initial. A two-capitalized-words regex alone cannot
# split "John Smith" from "Pied Piper" — the reference solves this with
# an LLM; a deterministic ontology needs a lexicon (caller-extensible,
# like the reference's caller-supplied entity_types).
GIVEN_NAMES = list(corpus.SPEAKERS) + ["John", "Jane", "James", "Mary"]


def _person_matches(name: Column) -> Column:
    given = F.array(*[F.lit(s) for s in GIVEN_NAMES])
    first_token = F.split(name, " ").getItem(0)
    return F.array_contains(given, first_token) | name.rlike(r"^[A-Z]\. [A-Z][a-z]+$")


_ORG_SUFFIX = r"(Corp|Corporation|Inc|Industries|Enterprises|Labs|Works|Dynamic|Mesa)$"


def _org_matches(name: Column) -> Column:
    return name.rlike(_ORG_SUFFIX) | name.rlike(r"^[A-Z][a-z]+( [A-Z][a-z]+)?$")


DEFAULT_ENTITY_TYPES: list[EntityType] = [
    EntityType(
        "Person",
        _person_matches,
        {
            "first_name": lambda n: F.split(n, " ").getItem(0),
            "last_name": lambda n: F.element_at(F.split(n, " "), -1),
        },
    ),
    EntityType(
        "Organization",
        _org_matches,
        {
            "organization_type": lambda n: F.when(
                n.rlike(r"(Corp|Corporation|Inc)$"), F.lit("corporation")
            ).otherwise(F.lit("company")),
        },
    ),
]


def classify(name: Column, entity_types: list[EntityType]) -> Column:
    """First matching type wins; default 'Entity'."""
    out = None
    for t in entity_types:
        cond = t.matches(name)
        out = F.when(cond, F.lit(t.name)) if out is None else out.when(cond, F.lit(t.name))
    return out.otherwise(F.lit("Entity")) if out is not None else F.lit("Entity")


def attributes_map(name: Column, entity_type: Column, entity_types: list[EntityType]) -> Column:
    """Typed attribute bag as map<string,string> (the reference's
    dynamic attribute dict, flattened; §1.2)."""
    result = F.create_map().cast("map<string,string>")
    for t in entity_types:
        if not t.attributes:
            continue
        kvs = []
        for k, fn in t.attributes.items():
            kvs.extend([F.lit(k), fn(name).cast("string")])
        result = F.when(entity_type == t.name, F.create_map(*kvs)).otherwise(result)
    return result


def enrich_nodes(
    nodes: DataFrame,
    mentions: DataFrame,
    entity_types: list[EntityType] | None = None,
) -> DataFrame:
    """X4 stand-in: type labels, typed attributes, deterministic
    summary from mention statistics (the reference's ≤250-word LLM
    summary, node_operations.py:341-425, replaced by a pure reduce)."""
    stats = mentions.groupBy("entity_uuid").agg(
        F.countDistinct("doc_id").alias("n_episodes")
    )
    return enrich_nodes_with_stats(nodes, stats, entity_types)


def enrich_nodes_with_stats(
    nodes: DataFrame,
    stats: DataFrame,
    entity_types: list[EntityType] | None = None,
    summarizer=None,
) -> DataFrame:
    """Same enrichment from a pre-aggregated (entity_uuid, n_episodes)
    stats table — the incremental write path maintains that table with
    O(batch) work instead of re-aggregating all mentions per batch.

    ``summarizer`` (functions.summarize.Summarizer) replaces the
    reference's LLM entity summary (node_operations.py:341-425): the
    deterministic stat sentence is the context; UdfSummarizer rewrites
    it executor-side through any client callable."""
    counted = nodes.join(
        stats.withColumnRenamed("entity_uuid", "uuid"), "uuid", "left"
    )
    return type_nodes(counted, entity_types, summarizer)


def type_nodes(
    nodes: DataFrame,
    entity_types: list[EntityType] | None = None,
    summarizer=None,
) -> DataFrame:
    """The typing projection of ``enrich_nodes_with_stats`` over nodes
    that already carry their ``n_episodes`` (NULL for none): entity
    type, labels, typed attributes and summary; ``n_episodes`` is
    dropped. The bulk build's driver path attaches the counts itself
    and runs only this, over a local relation."""
    from ..functions.summarize import DeterministicSummarizer

    summarizer = summarizer or DeterministicSummarizer()
    types = DEFAULT_ENTITY_TYPES if entity_types is None else entity_types
    typed = nodes.withColumn("entity_type", classify(F.col("name"), types))
    return (
        typed.withColumn(
            "labels",
            F.when(
                F.col("entity_type") != "Entity",
                F.array(F.lit("Entity"), F.col("entity_type")),
            ).otherwise(F.array(F.lit("Entity"))),
        )
        .withColumn(
            "attributes", attributes_map(F.col("name"), F.col("entity_type"), types)
        )
        .withColumn(
            "summary",
            summarizer.summarize(
                F.concat(
                    F.col("name"),
                    F.lit(" ("),
                    F.col("entity_type"),
                    F.lit(") is mentioned in "),
                    F.coalesce(F.col("n_episodes"), F.lit(0)).cast("string"),
                    F.lit(" episodes."),
                )
            ),
        )
        .drop("n_episodes")
    )


def exclude_entity_types(
    mentions: DataFrame,
    excluded: list[str],
    entity_types: list[EntityType] | None = None,
) -> DataFrame:
    """P6: drop mentions whose classified type is excluded BEFORE
    resolution (reference drops extracted entities,
    node_operations.py:158-161)."""
    if not excluded:
        return mentions
    types = DEFAULT_ENTITY_TYPES if entity_types is None else entity_types
    return mentions.where(~classify(F.col("name"), types).isin(excluded))
