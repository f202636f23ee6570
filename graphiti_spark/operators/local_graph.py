"""Driver-side mirrors of the graph stages that follow entity
resolution: pointer rewrite, the self-loop filter, edge dedup,
bi-temporal invalidation, mention rows and per-entity episode counts.

``pipeline.run_pipeline`` builds a whole bulk graph with them (its
path 1) when the build holds at most ``DRIVER_GRAPH_TRIPLES_CAP`` raw
triples and its names fit the resolution caps of
:mod:`.incremental_local`. The extraction is then collected once
through Arrow, and these functions replace the joins, group-bys and the
window of the Spark path with dict and sort passes over the collected
rows. Each function names its Spark twin.

Only the relational work lives here. The per-row expressions (fact
text, edge attributes, edge and mention uuids, batch timestamps, the
ontology typing) stay the Spark path's own Column expressions:
``run_pipeline`` applies them to the local relations these rows
become, and Spark's optimizer evaluates a projection over a local
relation on the driver (``ConvertToLocalRelation``), so the calendar
fields, NULL handling and time zone are Spark's by construction.

Rows are plain tuples; timestamps are UTC microseconds (``int``) or
None, as the Arrow collect gives them after a cast to int64.
"""

from __future__ import annotations

from ..functions.skew import PROVENANCE_CAP
from .incremental_local import entity_uuid_py
from .temporal import predicate_class_map

# Raw triples above which run_pipeline leaves the graph stages to Spark
# (path 2). Swept on template-shaped inputs (4-vCPU host, local[4], 2g
# driver heap, C1 JIT, warm JVM; run_pipeline plus six drains, two
# builds each): at 10k / 25k / 50k / 100k / 200k / 500k raw triples,
# path 1 costs 3.6 / 6.6 / 11.5 / 19.6 / 26.1 / 77.8 s of process CPU
# against path 2's 6.8 / 8.9 / 13.8 / 24.3 / 36.7 / 92.0 s, in
# 0.56 / 0.86 / 1.16 / 1.23 / 0.84 / 1.13x its wall time. Path 1 is
# the cheaper one at every size, so the cap bounds the driver's Python
# peak instead, which grows with the input (8.5 / 22 / 45 / 88 / 177 /
# 442 MB traced): it stays under ~100 MB.
DRIVER_GRAPH_TRIPLES_CAP = 100_000

Canon = dict[tuple[str, str], tuple[str, str]]


def canonical_index(map_rows) -> Canon:
    """(group_id, lower(name)) -> (canonical_uuid, canonical_name) over
    uuid_map rows (group_id, uuid, name, canonical_uuid,
    canonical_name): the join key and payload of
    ``resolve.resolve_pointers``."""
    return {(g, n.lower()): (cu, cn) for g, _u, n, cu, cn in map_rows}


def resolve_pointer(canon: Canon, group_id: str, name: str | None) -> tuple:
    """Mirror of ``resolve.resolve_pointers`` for one endpoint: the
    canonical (uuid, name) of the name's (group_id, lower(name))
    vertex. An unmapped name keeps its surface form and its own
    ``entity_uuid``."""
    hit = canon.get((group_id, name.lower())) if name is not None else None
    return hit or (entity_uuid_py(group_id, name), name)


def resolved_triples(triples, canon: Canon) -> list[tuple]:
    """Mirror of run_pipeline's two ``resolve_pointers`` joins and the
    self-loop filter (P8). triples: (doc_id, group_id, subj_name,
    predicate, obj_name, valid_at); returns (doc_id, group_id, src,
    predicate, dst, valid_at, subj_name, obj_name) with canonical
    endpoints, src != dst."""
    out = []
    for doc, g, subj, pred, obj, va in triples:
        src, subj = resolve_pointer(canon, g, subj)
        dst, obj = resolve_pointer(canon, g, obj)
        if src != dst:
            out.append((doc, g, src, pred, dst, va, subj, obj))
    return out


def dedupe_edges(resolved) -> list[tuple]:
    """Mirror of ``pipeline.dedupe_edges``' grouping: one edge per
    (group_id, src, predicate, dst, valid_at), NULLs grouping together
    as in a Spark group-by, with its sorted distinct episodes capped at
    ``PROVENANCE_CAP``. The names are functions of the key (a canonical
    name per canonical uuid), as the Spark twin's ``first`` assumes.
    Returns (group_id, src, predicate, dst, valid_at, episodes,
    subj_name, obj_name)."""
    groups: dict[tuple, tuple[set, str, str]] = {}
    for doc, g, src, pred, dst, va, subj, obj in resolved:
        key = (g, src, pred, dst, va)
        if key not in groups:
            groups[key] = (set(), subj, obj)
        groups[key][0].add(doc)
    return [
        (*key, sorted(docs)[:PROVENANCE_CAP], subj, obj)
        for key, (docs, subj, obj) in groups.items()
    ]


def pair_key(src: str, dst: str) -> str:
    """Mirror of ``temporal.pair_key``: concat_ws('~', least, greatest)
    (Python's code-point order is Spark's UTF-8 binary order)."""
    return f"{min(src, dst)}~{max(src, dst)}"


def resolve_bitemporal(edges) -> list[int | None]:
    """Mirror of ``temporal.resolve_bitemporal`` on edges without prior
    intervals: each edge's ``invalid_at`` (the T3 ``expired_at`` stamp
    follows from it) is the next strictly greater distinct ``valid_at``
    within (group_id, pair_key, pred_class). An edge whose valid_at or
    class is NULL joins no partition, so it stays open. edges: the
    rows of :func:`dedupe_edges`; returns invalid_at per edge."""
    classes = predicate_class_map()

    def partition(g, src, pred, dst):
        return g, pair_key(src, dst), classes.get(pred, pred)

    times: dict[tuple, set[int]] = {}
    for g, src, pred, dst, va, *_ in edges:
        if va is not None and pred is not None:
            times.setdefault(partition(g, src, pred, dst), set()).add(va)
    following: dict[tuple, int] = {}
    for part, vals in times.items():
        ordered = sorted(vals)
        for va, nxt in zip(ordered, ordered[1:]):
            following[(part, va)] = nxt
    return [
        following.get((partition(g, src, pred, dst), va))
        for g, src, pred, dst, va, *_ in edges
    ]


def mentions(mentions_raw, canon: Canon) -> list[tuple]:
    """Mirror of run_pipeline's mention stage: ``resolve_pointers`` on
    each (doc_id, group_id, name), then a distinct of (doc_id,
    group_id, entity_uuid, name)."""
    return list({
        (doc, g, *resolve_pointer(canon, g, name))
        for doc, g, name in mentions_raw
    })


def episode_counts(mention_rows) -> dict[str, int]:
    """Mirror of ``ontology.enrich_nodes``' stats: the distinct doc_ids
    per entity_uuid over :func:`mentions` rows."""
    docs: dict[str, set] = {}
    for doc, _g, entity, _name in mention_rows:
        docs.setdefault(entity, set()).add(doc)
    return {entity: len(d) for entity, d in docs.items()}
