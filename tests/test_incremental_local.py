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


def _utf8_of_length(rng: random.Random, n: int) -> str:
    """A random string whose UTF-8 encoding is exactly ``n`` bytes,
    mixing 1-, 2-, 3- and 4-byte characters."""
    by_width = {1: string.ascii_letters + " |", 2: "éüßñ", 3: "東京✓€", 4: "𝄞😀"}
    out, left = [], n
    while left:
        w = rng.choice([w for w in by_width if w <= left])
        out.append(rng.choice(by_width[w]))
        left -= w
    return "".join(out)


def test_xxh64_matches_spark_on_random_inputs(spark):
    """The array XXH64 must be bit-exact with F.xxhash64 for every type
    the band-key and partition expressions hash: strings (UTF-8) of
    every byte length from 0 to 40 (each tail-round group and the
    >= 32-byte stripe loop) and longer, longs, ints, and multi-argument
    chains, where each row's seed is the previous argument's hash."""
    from graphiti_spark.functions.xxh64 import (
        xxh64_ints,
        xxh64_longs,
        xxh64_strings,
    )

    rng = random.Random(11)
    strs = (
        NAMES
        + [_utf8_of_length(rng, n) for n in range(41) for _ in range(3)]
        + [
            "".join(rng.choices(string.printable + "✓é東", k=rng.randint(0, 90)))
            for _ in range(120)
        ]
    )
    assert {len(s.encode()) for s in strs} >= set(range(41))
    ints = [0, 1, -1, 2**31 - 1, -(2**31)] + [
        rng.randint(-(2**31), 2**31 - 1) for _ in range(len(strs) - 5)
    ]
    longs = [0, 1, -1, 2**62, -(2**62), 42] + [
        rng.randint(-(2**63), 2**63 - 1) for _ in range(len(strs) - 6)
    ]
    rows = (
        spark.createDataFrame(
            list(zip(strs, ints, longs)), "s string, a int, b long"
        )
        .select(
            "s", "a", "b",
            F.xxhash64("s").alias("hs"),
            F.xxhash64("a").alias("ha"),
            F.xxhash64("b").alias("hb"),
            F.xxhash64("a", "b").alias("hab"),
            F.xxhash64("b", "b").alias("hbb"),
            F.xxhash64("a", "s").alias("has"),
        )
        .collect()
    )
    s = [r.s for r in rows]
    a = [r.a for r in rows]
    b = [r.b for r in rows]
    assert xxh64_strings(s).tolist() == [r.hs for r in rows]
    assert xxh64_ints(a).tolist() == [r.ha for r in rows]
    assert xxh64_longs(b).tolist() == [r.hb for r in rows]
    assert xxh64_longs(b, xxh64_ints(a)).tolist() == [r.hab for r in rows]
    assert xxh64_longs(b, xxh64_longs(b)).tolist() == [r.hbb for r in rows]
    assert xxh64_strings(s, xxh64_ints(a)).tolist() == [r.has for r in rows]


def test_band_rows_match_entity_band_rows(spark):
    """Driver banding (shingles → minhash → band key → kpart) must
    reproduce entity_band_rows' stored values exactly, including on
    unicode names — these keys probe the persisted index, so one bit of
    drift silently breaks incremental dedup. The names make the hashed
    ``"seed|shingle"`` inputs reach every byte length they can have:
    4 (the empty name's two-space shingle) to 15 (three 4-byte
    characters behind a two-digit seed)."""
    from graphiti_spark.functions.minhash import NUM_HASHES
    from graphiti_spark.operators.incremental import entity_band_rows
    from graphiti_spark.operators.incremental_local import (
        band_rows,
        entity_uuid_py,
        local_distinct_entities,
        shingles_py,
        upart_py,
    )

    names = NAMES + ["𝄞", "𝄞𝄞𝄞", "𝄞𝄞é𝄞𝄞東", "é東𝄞a", "ßé€ü"]
    lengths = {
        len(f"{seed}|{g}".encode())
        for n in names
        for g in shingles_py(n)
        for seed in range(NUM_HASHES)
    }
    assert lengths == set(range(4, 16))

    ents = local_distinct_entities([("g0", n) for n in names])
    spark_rows = entity_band_rows(
        spark.createDataFrame(ents, "group_id string, uuid string, name string")
    ).collect()
    want = {(r.group_id, r.uuid, r.band, r.key, r.kpart) for r in spark_rows}

    keys, kpart = band_rows([name for _g, _u, name in ents])
    got = {
        (g, uuid, band, key, kp)
        for (g, uuid, _name), krow, prow in zip(ents, keys.tolist(), kpart.tolist())
        for band, (key, kp) in enumerate(zip(krow, prow))
    }
    assert got == want

    # uuid + upart mirrors
    for g, uuid, name in ents:
        assert uuid == entity_uuid_py(g, name)
    uparts = spark.createDataFrame(
        [(u,) for _g, u, _n in ents], "uuid string"
    ).select("uuid", F.pmod(F.xxhash64("uuid"), F.lit(64)).cast("int").alias("p"))
    rows = uparts.collect()
    assert upart_py([r.uuid for r in rows]).tolist() == [r.p for r in rows]


@pytest.fixture(scope="module")
def prior_root(spark, tmp_path_factory):
    """A graph root built from the 90% of sf0.001 whose doc_id bucket
    is not 0; the micro-batch is bucket 0. incremental_resolve only
    reads the root, so the tests below share it."""
    from graphiti_spark.materialize import materialize_graph
    from graphiti_spark.synth import synthesize_episodes
    from tests.conftest import SF_SMOKE

    eps = synthesize_episodes(spark, SF_SMOKE)
    root = str(tmp_path_factory.mktemp("prior") / "graph")
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(10)).cast("int")
    materialize_graph(spark, eps.where(bucket != 0), root)
    return root


def test_driver_and_spark_paths_resolve_identically(spark, prior_root, monkeypatch):
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
    io = TableIO(spark, prior_root)
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


def test_pair_cap_falls_back(spark, prior_root, monkeypatch):
    """Exceeding a driver cap mid-path must fall back to the
    distributed strategy, not fail: the neighborhood cap (hit before
    ``resolve_local``) and the pair cap (hit inside it). Spies prove
    the fallback ran, since both paths give equal rows."""
    from graphiti_spark.operators import incremental as I
    from graphiti_spark.operators import incremental_local as L
    from graphiti_spark.io.tables import TableIO
    from graphiti_spark.operators.extract import extract_mentions, extract_triples
    from graphiti_spark.operators.incremental import incremental_resolve
    from graphiti_spark.synth import synthesize_episodes
    from tests.conftest import SF_SMOKE

    spark_runs = []
    real_spark_path = I._incremental_resolve_spark

    def spark_path(*args):
        spark_runs.append(1)
        return real_spark_path(*args)

    raised = []
    real_resolve_local = L.resolve_local

    def resolve_local(*args):
        try:
            return real_resolve_local(*args)
        except L.FallbackToSpark:
            raised.append(1)
            raise

    monkeypatch.setattr(I, "_incremental_resolve_spark", spark_path)
    monkeypatch.setattr(L, "resolve_local", resolve_local)

    eps = synthesize_episodes(spark, SF_SMOKE)
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(10)).cast("int")
    io = TableIO(spark, prior_root)
    mentions_raw = extract_mentions(extract_triples(eps.where(bucket == 0)))

    orig = L.DRIVER_NEIGHBORHOOD_CAP
    L.DRIVER_NEIGHBORHOOD_CAP = 1  # force mid-path fallback
    try:
        out = incremental_resolve(io, mentions_raw)
    finally:
        L.DRIVER_NEIGHBORHOOD_CAP = orig
    assert len(spark_runs) == 1, "neighborhood cap did not fall back"

    with monkeypatch.context() as m:
        m.setattr(L, "DRIVER_PAIR_CAP", 0)  # any candidate pair is over
        out_pairs = incremental_resolve(io, mentions_raw)
    assert len(raised) == 1, "resolve_local did not hit the pair cap"
    assert len(spark_runs) == 2, "pair cap did not fall back"

    monkeypatch.setattr(L, "DRIVER_RESOLVE_NAMES_CAP", 0)
    ref = incremental_resolve(io, mentions_raw)
    assert out["metrics"] == ref["metrics"]
    assert sorted(tuple(r) for r in out["uuid_map"].collect()) == sorted(
        tuple(r) for r in ref["uuid_map"].collect()
    )
    assert out_pairs["metrics"] == ref["metrics"]
    assert sorted(tuple(r) for r in out_pairs["uuid_map"].collect()) == sorted(
        tuple(r) for r in ref["uuid_map"].collect()
    )
