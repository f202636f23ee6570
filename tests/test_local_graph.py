"""The driver graph stages (operators/local_graph.py) against their
Spark twins on fuzzed rows: NULL, pre-1970, year < 1000 and sub-second
``valid_at`` values, ones shared within a pair, both directions of a
pair, unknown and NULL predicates, case variants, blank and non-ASCII
names. The per-row expressions (fact text, edge and mention uuids,
timestamps) are Spark's own in both paths; the tests pin the Python
parts: pointer rewrite, dedup, invalidation, mentions, episode counts,
``pair_key`` and the unmapped-name ``entity_uuid``."""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from graphiti_spark import corpus
from graphiti_spark.operators.extract import TRIPLES_RAW_SCHEMA
from graphiti_spark.operators.incremental_local import entity_uuid_py
from graphiti_spark.operators.local_graph import pair_key
from graphiti_spark.schemas import entity_uuid
from graphiti_spark.session import local_frame
from tests.test_pipeline_paths import _all_paths, _assert_identical, _episodes

NAMES = [
    "Acme Corp", "ACME CorP", "Acme Corporation", "Initech", "Initech Inc",
    "Bob Stone", "東京商事", "é", "x", " ", "  ", "Ümlaut Heavy Industries",
]
PREDICATES = [p for p, _phrase in corpus.PREDICATES] + ["FOO", None]


def _valid_at(rng: random.Random) -> dt.datetime | None:
    shared = [dt.datetime(2020, 1, 1), dt.datetime(2021, 6, 1, 12, 30)]
    kind = rng.randrange(6)
    if kind == 0:
        return None
    if kind == 1:
        return rng.choice(shared)
    year = rng.choice([1, 50, 999, 1969, 2024])
    return dt.datetime(
        year, rng.randint(1, 12), rng.randint(1, 28), rng.randint(0, 23),
        rng.randint(0, 59), rng.randint(0, 59),
        rng.choice([0, 1, 500_000, rng.randint(0, 999_999)]),
    )


def _fuzzed_triples(rng: random.Random, n: int) -> list[tuple]:
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(n):
        subj, obj = rng.sample(NAMES, 2)
        pred = rng.choice(PREDICATES)
        doc = f"d{rng.randrange(n // 2)}"
        rows.append((
            doc, rng.choice(["g0", "g1"]), 0, rng.choice(["Alice", "Bob Stone"]),
            subj, pred, obj, f"fact {i}", _valid_at(rng), t0,
        ))
    return rows


class _FixedTriples:
    """An extractor that ignores its spans and returns fixed rows."""

    def __init__(self, triples):
        self.triples = triples

    def extract_native(self, spans):
        return self.triples


@pytest.mark.parametrize("tz", ["UTC", "America/Los_Angeles"])
def test_graph_paths_match_on_fuzzed_triples(spark, monkeypatch, tz):
    """The three paths give the same six frames on random raw triples,
    in a UTC and a non-UTC session time zone."""
    rows = _fuzzed_triples(random.Random(7), 300)
    assert any(r[8] is None for r in rows)
    assert any(r[8] and r[8].year < 1000 and r[8].microsecond for r in rows)
    schema = StructType([
        StructField(f.name, f.dataType) for f in TRIPLES_RAW_SCHEMA
    ])
    extractor = _FixedTriples(local_frame(spark, rows, schema))
    episodes = _episodes(spark, [("d0", "g0", "unused")])
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        got = _all_paths(spark, monkeypatch, episodes, extractor=extractor)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    _assert_identical(got)
    schema, edges = got["edges"][0]
    invalid = schema.fieldNames().index("invalid_at")
    assert sum(r[invalid] is not None for r in edges) > 10


def test_pair_key_and_entity_uuid_match_spark(spark):
    """``pair_key`` and ``entity_uuid_py`` (a NULL name included) equal
    their Spark expressions on random strings."""
    from graphiti_spark.operators.temporal import pair_key as spark_pair_key

    rng = random.Random(3)
    alphabet = "abcXYZ09 ~|é東𝄞"
    rand = lambda: "".join(rng.choices(alphabet, k=rng.randint(0, 12)))  # noqa: E731
    rows = [(rand(), rand(), rng.choice([rand(), None])) for _ in range(400)]
    got = (
        local_frame(spark, rows, "a string, b string, name string")
        .select(
            spark_pair_key(F.col("a"), F.col("b")).alias("pair"),
            entity_uuid(F.col("a"), F.col("name")).alias("uuid"),
        )
        .collect()
    )
    assert [r.pair for r in got] == [pair_key(a, b) for a, b, _n in rows]
    assert [r.uuid for r in got] == [entity_uuid_py(a, n) for a, _b, n in rows]
