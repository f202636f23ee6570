"""Driver-side entity-resolution kernels — byte-identical to the
distributed path, zero Spark jobs for the compute.

Both resolution entry points use them when the distinct-name space
fits ``DRIVER_RESOLVE_NAMES_CAP``:

- the bulk build (``pipeline.run_pipeline``'s global branch) resolves
  its whole distinct-name space here, leaving only the extraction that
  feeds it as Spark work;
- a micro-batch (``incremental.incremental_resolve``) resolves its
  batch plus the collided stored neighborhood here, leaving only the
  bounded index/neighborhood lookups as Spark jobs.

On the distributed path the same small resolution costs tens of Spark
jobs of scheduling latency plus Python-worker round trips for the
scoring UDFs; here ``resolve_local`` runs over the collected rows. The
hashing is an array kernel: ``band_rows`` hashes every unique shingle
once per MinHash seed in one numpy XXH64 pass, takes the signatures
with ``np.minimum.reduceat`` and chains the band keys and kparts as
array ops, and the LSH buckets come from one sort of the band keys.
Only the per-candidate Jaro-Winkler + trigram-cosine scoring,
union-find components and the canonical pick remain Python loops, and
they run over candidate pairs and vertices, not over hashes.

Byte-identical by construction, pinned by tests:
- hashes: :mod:`..functions.xxh64` is bit-exact with ``F.xxhash64``
  (tests/test_incremental_local.py::test_xxh64_matches_spark_on_random_inputs)
  — minhash band keys, kpart and upart buckets reproduce the stored
  index's values exactly
  (tests/test_incremental_local.py::test_band_rows_match_entity_band_rows);
- shingles / representative pick: Python string ops mirror the
  Catalyst expressions (UTF-8 byte order == code-point order, so
  Python ``<`` on str equals Spark's binary string comparison;
  ``len`` == ``F.length`` in code points);
- scoring: the pandas kernels (``jaro_winkler``, ``_embed_batch``)
  ARE the Python functions the Spark UDFs call, and the cosine is the
  same left-fold over float32→float64 casts as the ``F.aggregate``
  column expression (same order, same IEEE ops);
- components: ``local_components`` is the one union-find; the
  distributed ``connected_components`` calls it on its driver fast path.

tests/test_incremental_local.py pins the micro-batch path and
tests/test_pipeline_paths.py the bulk build against the forced
distributed path.

Reference semantics being preserved: bulk node dedup
(graphiti_core/utils/bulk_utils.py:291-375) and uuid-map compression
(bulk_utils.py:400-409).
"""

from __future__ import annotations

import hashlib
from itertools import combinations

import numpy as np

from ..functions.minhash import BAND_SIZE, NUM_HASHES, SHINGLE_K
from ..functions.xxh64 import (
    SPARK_SEED,
    byte_groups,
    xxh64_ints,
    xxh64_longs,
    xxh64_rows,
    xxh64_strings,
)

# Distinct names above which both resolution entry points take the
# distributed path. Measured on a 4-vCPU host (local[4]) over random
# two-word names with 10% planted variants, at 1k / 3.1k / 6k / 12k /
# 24k names: ``resolve_local`` costs 0.08 / 0.26 / 0.57 / 1.9 / 5.9 s of
# driver CPU; at 24k names most of it is the per-pair Jaro-Winkler
# over 177k LSH candidates (past ``DRIVER_PAIR_CAP``). The
# distributed pairs + components + uuid_map, with the pairs computed
# again as the duplicates drain does, cost 14.6 / 15.8 / 16.6 / 19.8 /
# 36.3 s of process CPU, so the kernel is the cheaper path at every
# measured size; the cap stays until the distributed path is retired.
DRIVER_RESOLVE_NAMES_CAP = 10_000    # distinct names
DRIVER_NEIGHBORHOOD_CAP = 5_000      # stored neighborhood rows
DRIVER_PAIR_CAP = 100_000            # LSH candidate pairs


class FallbackToSpark(Exception):
    """Raised when a cap is exceeded mid-path; the caller runs the
    distributed implementation instead."""


def entity_uuid_py(group_id: str, name: str | None) -> str:
    """Python mirror of ``schemas.entity_uuid``:
    sha2('entity|' group '|' lower(name)); a NULL name is skipped, as
    ``concat_ws`` skips it."""
    key = f"entity|{group_id}" if name is None else f"entity|{group_id}|{name.lower()}"
    return hashlib.sha256(key.encode("utf-8")).hexdigest()


def upart_py(uuids: list[str], n_parts: int = 64) -> np.ndarray:
    """Python mirror of ``incremental.upart_col`` (pmod(xxhash64, n))
    over a batch of uuids."""
    return xxh64_strings(uuids) % n_parts


def shingles_py(name: str, k: int = SHINGLE_K) -> frozenset[str]:
    """Python mirror of ``minhash.shingles``: distinct lowercase
    character k-grams of ' '||name||' ' (substr is code-point based and
    tolerates short tails, exactly like Catalyst substr)."""
    padded = f" {name.lower()} "
    upper = max(len(padded) - (k - 1), 1)
    return frozenset(padded[i : i + k] for i in range(upper))


def band_rows(
    names: list[str],
    num_hashes: int = NUM_HASHES,
    band_size: int = BAND_SIZE,
) -> tuple[np.ndarray, np.ndarray]:
    """Python mirror of ``incremental.entity_band_rows`` for a batch of
    names: (keys int64[V, bands], kpart int64[V, bands]), row i for
    ``names[i]``, column b for band b. Each unique shingle is hashed
    once per seed, all of them in one array pass per seed
    (``xxh64("{seed}|{shingle}")``); the signature is the SIGNED int64
    min per name, like Spark's LongType ``array_min``; a band key
    chains the band's minhashes through ``xxhash64`` as the generated
    SQL does; kpart = pmod(xxhash64(band:int, key:long), 64)."""
    n_bands = num_hashes // band_size
    if not names:
        empty = np.empty((0, n_bands), dtype=np.int64)
        return empty, empty
    index: dict[str, int] = {}
    flat: list[int] = []
    starts: list[int] = []
    for name in names:
        starts.append(len(flat))
        flat.extend(index.setdefault(g, len(index)) for g in shingles_py(name))
    groups = byte_groups([g.encode("utf-8") for g in index])
    flat_idx = np.asarray(flat, dtype=np.int64)
    sig = np.empty((num_hashes, len(names)), dtype=np.int64)
    hashes = np.empty(len(index), dtype=np.int64)
    for seed in range(num_hashes):
        prefix = np.frombuffer(f"{seed}|".encode(), dtype=np.uint8)
        for rows, mat in groups:
            pre = np.broadcast_to(prefix, (len(rows), len(prefix)))
            hashes[rows] = xxh64_rows(np.hstack([pre, mat]))
        sig[seed] = np.minimum.reduceat(hashes[flat_idx], starts)

    # [band, member, name] -> one chained key per (band, name)
    by_band = sig.reshape(n_bands, band_size, len(names))
    key = np.full(n_bands * len(names), SPARK_SEED, dtype=np.int64)
    for j in range(band_size):
        key = xxh64_longs(by_band[:, j, :].ravel(), key)
    bands = np.repeat(np.arange(n_bands, dtype=np.int32), len(names))
    kpart = xxh64_longs(key, xxh64_ints(bands)) % 64
    return (
        np.ascontiguousarray(key.reshape(n_bands, -1).T),
        np.ascontiguousarray(kpart.reshape(n_bands, -1).T),
    )


def local_distinct_entities(
    rows: list[tuple[str, str]],
) -> list[tuple[str, str, str]]:
    """Python mirror of ``resolve.distinct_entities``: one vertex per
    (group_id, lower(name)); representative = min by (length, name)
    (Python tuple order == Spark struct order: code-point string
    comparison equals UTF-8 binary comparison). Returns
    [(group_id, uuid, name)]."""
    best: dict[tuple[str, str], tuple[int, str]] = {}
    for g, name in rows:
        k = (g, name.lower())
        cand = (len(name), name)
        if k not in best or cand < best[k]:
            best[k] = cand
    return [
        (g, entity_uuid_py(g, name), name)
        for (g, _k), (_l, name) in sorted(best.items())
    ]


def _dot_fold(va, vb) -> float:
    """Same left-fold the ``similarity.dot`` column expression runs:
    per-element float32→float64 cast, multiply, sequential add."""
    acc = 0.0
    for x, y in zip(va, vb):
        acc += float(x) * float(y)
    return acc


def local_duplicate_pairs(
    vertices: list[tuple[str, str, str]],
    jw_threshold: float,
    cos_threshold: float,
) -> list[tuple[str, str, str]]:
    """Python mirror of ``resolve.duplicate_pairs``: LSH bucket
    blocking → distinct unordered candidate pairs → Jaro-Winkler +
    trigram-cosine thresholds. vertices: [(group_id, uuid, name)];
    returns [(group_id, id_a, id_b)] with id_a < id_b."""
    from ..functions.similarity import EMBED_DIM, _embed_batch, jaro_winkler

    keys, _kpart = band_rows([name for _g, _u, name in vertices])
    # bucket = (group, band, key): sort the (vertex, band) cells by it
    # and keep the runs holding two or more vertices
    n_vertices, n_bands = keys.shape
    group_of = {g: i for i, g in enumerate(dict.fromkeys(v[0] for v in vertices))}
    groups = np.array([group_of[v[0]] for v in vertices], dtype=np.int64)
    cells = np.stack([
        np.repeat(groups, n_bands),
        np.tile(np.arange(n_bands, dtype=np.int64), n_vertices),
        keys.ravel(),
    ])
    vid = np.repeat(np.arange(n_vertices), n_bands)
    order = np.lexsort(cells[::-1])
    cells, vid = cells[:, order], vid[order]
    starts = np.flatnonzero(
        np.r_[True, (cells[:, 1:] != cells[:, :-1]).any(axis=0)]
    )
    sizes = np.diff(np.r_[starts, len(vid)])

    cand: set[tuple[int, int]] = set()
    for lo, size in zip(starts[sizes > 1].tolist(), sizes[sizes > 1].tolist()):
        for i, j in combinations(vid[lo : lo + size].tolist(), 2):
            a, b = (
                (i, j) if vertices[i][1] < vertices[j][1] else (j, i)
            )
            cand.add((a, b))
            if len(cand) > DRIVER_PAIR_CAP:
                raise FallbackToSpark("candidate pairs over cap")

    if not cand:
        return []
    import pandas as pd

    names = [v[2] for v in vertices]
    # cheap JW gate first; embed ONLY the pair members that survive it
    # (the same don't-carry-vectors-you-don't-need rule as the
    # distributed hyperplane paths)
    jw_pass = [
        (a, b)
        for a, b in cand
        if jaro_winkler(names[a].lower(), names[b].lower()) >= jw_threshold
    ]
    if not jw_pass:
        return []
    need = sorted({i for ab in jw_pass for i in ab})
    embs = dict(
        zip(need, _embed_batch(pd.Series([names[i] for i in need]), EMBED_DIM))
    )
    return [
        (vertices[a][0], vertices[a][1], vertices[b][1])
        for a, b in jw_pass
        if _dot_fold(embs[a], embs[b]) >= cos_threshold
    ]


def local_components(
    vertex_uuids: list[str], pairs: list[tuple[str, str]]
) -> dict[str, str]:
    """The union-find behind every driver-side component labelling
    (``resolve_local`` and ``resolve.connected_components``' fast path):
    maps each of ``vertex_uuids`` to the min uuid of its connected
    component over ``pairs`` (min-root unions keep the tree root at the
    component minimum; a vertex in no pair maps to itself)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {u: find(u) for u in vertex_uuids}


def local_build_uuid_map(
    vertices: list[tuple[str, str, str]], comp: dict[str, str]
) -> list[tuple[str, str, str, str, str]]:
    """Python mirror of ``resolve.build_uuid_map``: canonical = min by
    (length, name) member of each component. Returns
    [(group_id, uuid, name, canonical_uuid, canonical_name)]."""
    canon: dict[str, tuple[tuple[int, str], str, str]] = {}
    for g, uuid, name in vertices:
        c = comp[uuid]
        cand = ((len(name), name), uuid, name)
        if c not in canon or cand[0] < canon[c][0]:
            canon[c] = cand
    return [
        (g, uuid, name, canon[comp[uuid]][1], canon[comp[uuid]][2])
        for g, uuid, name in vertices
    ]


def resolve_local(
    vertices: list[tuple[str, str, str]],
    seed_pairs: set[tuple[str, str]] = frozenset(),
) -> tuple[list[tuple[str, str, str]], list[tuple[str, str, str, str, str]]]:
    """The driver entry point of both resolution paths: accepted
    duplicate pairs, components and canonical pick over ``vertices``
    [(group_id, uuid, name)], one per (group_id, lower(name)).
    ``seed_pairs`` (id_a, id_b) join components as accepted pairs do
    (a micro-batch's stored intra-component edges). Returns (pairs
    [(group_id, id_a, id_b)], uuid_map rows [(group_id, uuid, name,
    canonical_uuid, canonical_name)]). Raises ``FallbackToSpark`` past
    ``DRIVER_PAIR_CAP`` candidate pairs."""
    from .resolve import COS_THRESHOLD, JW_THRESHOLD

    pairs = local_duplicate_pairs(vertices, JW_THRESHOLD, COS_THRESHOLD)
    all_pairs = sorted({(a, b) for _g, a, b in pairs} | seed_pairs)
    comp = local_components([u for _g, u, _n in vertices], all_pairs)
    return pairs, local_build_uuid_map(vertices, comp)
