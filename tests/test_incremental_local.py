"""Driver-side micro-batch resolution must be BYTE-IDENTICAL to the
distributed path: same hashes, same band keys, same pairs, same
components, same canonical picks, same deltas. These tests force both
strategies on the same inputs and compare exact row sets."""

from __future__ import annotations

import random
import string

import pytest
from pyspark.sql import functions as F

NAMES = [
    "Acme Corp", "Acme Corporation", "ACME CorP", "Initech", "Initech Inc",
    "John Smith", "J. Smith", "Globex", "Wonka Works", "héllo wörld ✓",
    "Ümlaut Heavy Industries", "  padded  ", "a", "", "東京商事",
]


def test_xxh64_matches_spark_on_random_inputs(spark):
    """Pure-Python XXH64 must be bit-exact with F.xxhash64 for every
    type the band-key expressions hash: strings (UTF-8), longs, ints,
    and multi-argument chains."""
    from graphiti_spark.functions.xxh64 import (
        xxh64_chain,
        xxh64_int,
        xxh64_long,
        xxh64_string,
    )

    rng = random.Random(11)
    strs = NAMES + [
        "".join(rng.choices(string.printable + "✓é東", k=rng.randint(0, 90)))
        for _ in range(120)
    ]
    got = spark.createDataFrame([(s,) for s in strs], "s string").select(
        "s", F.xxhash64("s").alias("h")
    )
    assert all(xxh64_string(r.s) == r.h for r in got.collect())

    longs = [0, 1, -1, 2**62, -(2**62), 42] + [
        rng.randint(-(2**63), 2**63 - 1) for _ in range(100)
    ]
    got = spark.createDataFrame([(v,) for v in longs], "v long").select(
        "v", F.xxhash64("v").alias("h")
    )
    assert all(xxh64_long(r.v, 42) == r.h for r in got.collect())

    ints = [0, 1, -1, 2**31 - 1, -(2**31)] + [
        rng.randint(-(2**31), 2**31 - 1) for _ in range(60)
    ]
    got = spark.createDataFrame([(v,) for v in ints], "v int").select(
        "v", F.xxhash64("v").alias("h")
    )
    assert all(xxh64_int(r.v, 42) == r.h for r in got.collect())

    chains = [
        (rng.randint(-(2**31), 2**31 - 1), rng.randint(-(2**63), 2**63 - 1))
        for _ in range(60)
    ]
    got = spark.createDataFrame(chains, "a int, b long").select(
        "a", "b", F.xxhash64("a", "b").alias("h")
    )
    assert all(
        xxh64_chain([("int", r.a), ("long", r.b)]) == r.h for r in got.collect()
    )


def test_band_rows_match_entity_band_rows(spark):
    """Driver banding (shingles → minhash → band key → kpart) must
    reproduce entity_band_rows' stored values exactly, including on
    unicode names — these keys probe the persisted index, so one bit of
    drift silently breaks incremental dedup."""
    from graphiti_spark.operators.incremental import entity_band_rows
    from graphiti_spark.operators.incremental_local import (
        _MinhashMemo,
        band_rows_py,
        entity_uuid_py,
        local_distinct_entities,
        upart_py,
    )

    ents = local_distinct_entities([("g0", n) for n in NAMES if n.strip()])
    spark_rows = entity_band_rows(
        spark.createDataFrame(ents, "group_id string, uuid string, name string")
    ).collect()
    want = {(r.group_id, r.uuid, r.band, r.key, r.kpart) for r in spark_rows}

    memo = _MinhashMemo()
    got = {
        (g, uuid, band, key, kp)
        for g, uuid, name in ents
        for band, key, kp in band_rows_py(name, memo)
    }
    assert got == want

    # uuid + upart mirrors
    for g, uuid, name in ents:
        assert uuid == entity_uuid_py(g, name)
    uparts = spark.createDataFrame(
        [(u,) for _g, u, _n in ents], "uuid string"
    ).select("uuid", F.pmod(F.xxhash64("uuid"), F.lit(64)).cast("int").alias("p"))
    assert all(upart_py(r.uuid) == r.p for r in uparts.collect())


def _mk_root(spark, tmp_path, episodes):
    from graphiti_spark.materialize import materialize_graph

    root = str(tmp_path / "graph")
    materialize_graph(spark, episodes, root)
    return root


def test_driver_and_spark_paths_resolve_identically(spark, tmp_path, monkeypatch):
    """incremental_resolve(driver path) ≡ incremental_resolve(forced
    distributed path) on the same root + micro-batch: every returned
    relation equal as a sorted row set, every metric equal."""
    from graphiti_spark.io.tables import TableIO
    from graphiti_spark.operators import incremental_local as L
    from graphiti_spark.operators.extract import extract_mentions, extract_triples
    from graphiti_spark.operators.incremental import incremental_resolve
    from graphiti_spark.synth import synthesize_episodes
    from tests.conftest import SF_SMOKE

    eps = synthesize_episodes(spark, SF_SMOKE)
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(10)).cast("int")
    root = _mk_root(spark, tmp_path, eps.where(bucket != 0))
    io = TableIO(spark, root)
    micro = eps.where(bucket == 0)
    # a never-seen name makes new_entities non-empty, exercising the
    # first-seen anti-join on both paths
    novel = spark.createDataFrame(
        [("doc-novel", "g0", "Zyzzyva Novel Entity Ltd", "subject")],
        "doc_id string, group_id string, name string, role string",
    )
    mentions_raw = extract_mentions(extract_triples(micro)).unionByName(novel)

    local = incremental_resolve(io, mentions_raw)  # driver path
    monkeypatch.setattr(L, "DRIVER_RESOLVE_NAMES_CAP", 0)
    dist = incremental_resolve(io, mentions_raw)  # forced spark

    assert local["metrics"] == dist["metrics"]
    for key in ("uuid_map", "entities", "changed", "dead_canonicals", "new_entities"):
        a = sorted(tuple(r) for r in local[key].collect())
        b = sorted(tuple(r) for r in dist[key].collect())
        assert a == b, f"{key} diverged: {a[:3]} vs {b[:3]}"
        assert local[key].columns == dist[key].columns, key


def test_materialize_incremental_uses_driver_path_and_stays_equivalent(
    spark, tmp_path
):
    """End-to-end: a micro-batch through materialize_graph (which now
    takes the driver path by default for small batches) must produce a
    uuid_map identical to a from-scratch global materialization of the
    full corpus."""
    from graphiti_spark.io.tables import TableIO
    from graphiti_spark.materialize import materialize_graph
    from graphiti_spark.synth import synthesize_episodes
    from tests.conftest import SF_SMOKE

    eps = synthesize_episodes(spark, SF_SMOKE)
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(10)).cast("int")

    root_inc = str(tmp_path / "inc")
    materialize_graph(spark, eps.where(bucket != 0), root_inc)
    materialize_graph(spark, eps.where(bucket == 0), root_inc)

    root_full = str(tmp_path / "full")
    materialize_graph(spark, eps, root_full)

    cols = ["group_id", "uuid", "name", "canonical_uuid", "canonical_name"]
    a = sorted(
        tuple(r) for r in TableIO(spark, root_inc).read("uuid_map").select(cols).collect()
    )
    b = sorted(
        tuple(r) for r in TableIO(spark, root_full).read("uuid_map").select(cols).collect()
    )
    assert a == b


def test_pair_cap_falls_back(spark, tmp_path, monkeypatch):
    """Exceeding a driver cap mid-path must fall back to the
    distributed strategy, not fail."""
    from graphiti_spark.operators import incremental_local as L
    from graphiti_spark.io.tables import TableIO
    from graphiti_spark.operators.extract import extract_mentions, extract_triples
    from graphiti_spark.operators.incremental import incremental_resolve
    from graphiti_spark.synth import synthesize_episodes
    from tests.conftest import SF_SMOKE

    eps = synthesize_episodes(spark, SF_SMOKE)
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(10)).cast("int")
    root = _mk_root(spark, tmp_path, eps.where(bucket != 0))
    io = TableIO(spark, root)
    mentions_raw = extract_mentions(extract_triples(eps.where(bucket == 0)))

    orig = L.DRIVER_NEIGHBORHOOD_CAP
    L.DRIVER_NEIGHBORHOOD_CAP = 1  # force mid-path fallback
    try:
        out = incremental_resolve(io, mentions_raw)
    finally:
        L.DRIVER_NEIGHBORHOOD_CAP = orig
    monkeypatch.setattr(L, "DRIVER_RESOLVE_NAMES_CAP", 0)
    ref = incremental_resolve(io, mentions_raw)
    assert out["metrics"] == ref["metrics"]
    assert sorted(tuple(r) for r in out["uuid_map"].collect()) == sorted(
        tuple(r) for r in ref["uuid_map"].collect()
    )
