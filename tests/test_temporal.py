"""Temporal-resolution scenario matrix (FIXTURES.md §3), porting the
reference's contradiction/invalidation suite
(/root/reference/tests/utils/maintenance/test_temporal_operations_int.py:94-264
— LIKES vs DISLIKES, WORKS_FOR vs LEFT_JOB, no-effect, disjoint
intervals) onto deterministic rows through
``operators.temporal.resolve_bitemporal``."""

from __future__ import annotations

import datetime

import pytest

from graphiti_spark.operators.temporal import (
    pair_key,
    predicate_class_map,
    resolve_bitemporal,
)

BATCH = "2025-01-01 00:00:00"


def _ts(s):
    return datetime.datetime.fromisoformat(s)


def _edges(spark, rows):
    """rows: (src, dst, predicate, valid_at[, invalid_at[, expired_at]])"""
    full = []
    for r in rows:
        r = list(r) + [None] * (6 - len(r))
        full.append(
            (
                "g0", r[0], r[1], r[2],
                _ts(r[3]) if r[3] else None,
                _ts(r[4]) if r[4] else None,
                _ts(r[5]) if r[5] else None,
            )
        )
    return spark.createDataFrame(
        full,
        "group_id string, source_node_uuid string, target_node_uuid string, "
        "predicate string, valid_at timestamp, invalid_at timestamp, "
        "expired_at timestamp",
    )


def _collect(df):
    return {
        (r.source_node_uuid, r.target_node_uuid, r.predicate, str(r.valid_at)): (
            str(r.invalid_at) if r.invalid_at else None,
            str(r.expired_at) if r.expired_at else None,
        )
        for r in df.collect()
    }


def test_contradiction_invalidates_older(spark):
    # LIKES(T-1d) then DISLIKES(T): older LIKES gets invalid_at = T.
    out = _collect(
        resolve_bitemporal(
            _edges(
                spark,
                [
                    ("alice", "bob", "LIKES", "2024-01-01"),
                    ("alice", "bob", "DISLIKES", "2024-01-02"),
                ],
            ),
            batch_time=BATCH,
        )
    )
    assert out[("alice", "bob", "LIKES", "2024-01-01 00:00:00")] == (
        "2024-01-02 00:00:00",
        BATCH,
    )
    assert out[("alice", "bob", "DISLIKES", "2024-01-02 00:00:00")] == (None, None)


def test_temporal_update_works_for_left_job(spark):
    out = _collect(
        resolve_bitemporal(
            _edges(
                spark,
                [
                    ("bob", "acme", "WORKS_FOR", "2024-01-01"),
                    ("bob", "acme", "LEFT_JOB", "2024-06-01"),
                ],
            ),
            batch_time=BATCH,
        )
    )
    assert out[("bob", "acme", "WORKS_FOR", "2024-01-01 00:00:00")] == (
        "2024-06-01 00:00:00",
        BATCH,
    )


def test_no_effect_different_pair_or_class(spark):
    # different endpoints, and unrelated predicates on the same pair
    out = _collect(
        resolve_bitemporal(
            _edges(
                spark,
                [
                    ("bob", "xyz", "WORKS_FOR", "2024-01-01"),
                    ("charlie", "xyz", "WORKS_FOR", "2024-06-01"),
                    ("bob", "xyz", "PARTNERED_WITH", "2024-06-01"),
                ],
            ),
            batch_time=BATCH,
        )
    )
    for k, v in out.items():
        assert v == (None, None), k


def test_same_predicate_supersedes_own_older_version(spark):
    out = _collect(
        resolve_bitemporal(
            _edges(
                spark,
                [
                    ("alice", "acme", "WORKS_FOR", "2020-01-01"),
                    ("alice", "acme", "WORKS_FOR", "2023-01-01"),
                ],
            ),
            batch_time=BATCH,
        )
    )
    assert out[("alice", "acme", "WORKS_FOR", "2020-01-01 00:00:00")] == (
        "2023-01-01 00:00:00",
        BATCH,
    )
    assert out[("alice", "acme", "WORKS_FOR", "2023-01-01 00:00:00")] == (None, None)


def test_direction_agnostic_pair(spark):
    # reversed endpoints still contradict (reference matches -[..]-,
    # search_utils.py:781-848)
    out = _collect(
        resolve_bitemporal(
            _edges(
                spark,
                [
                    ("alice", "bob", "LIKES", "2024-01-01"),
                    ("bob", "alice", "DISLIKES", "2024-03-01"),
                ],
            ),
            batch_time=BATCH,
        )
    )
    assert out[("alice", "bob", "LIKES", "2024-01-01 00:00:00")] == (
        "2024-03-01 00:00:00",
        BATCH,
    )


def test_disjoint_interval_not_reopened(spark):
    # existing edge already closed BEFORE the new fact starts: its
    # interval must not change (T1 skip, edge_operations.py:387-395).
    out = _collect(
        resolve_bitemporal(
            _edges(
                spark,
                [
                    ("alice", "bob", "LIKES", "2020-01-01", "2021-01-01", "2021-01-01"),
                    ("alice", "bob", "DISLIKES", "2024-01-02"),
                ],
            ),
            batch_time=BATCH,
        )
    )
    assert out[("alice", "bob", "LIKES", "2020-01-01 00:00:00")] == (
        "2021-01-01 00:00:00",
        "2021-01-01 00:00:00",
    )


def test_existing_open_interval_shrunk(spark):
    # existing open edge overlapping the new fact gets clipped to the
    # new fact's valid_at.
    out = _collect(
        resolve_bitemporal(
            _edges(
                spark,
                [
                    ("alice", "bob", "LIKES", "2020-01-01", "2025-06-01"),
                    ("alice", "bob", "DISLIKES", "2024-01-02"),
                ],
            ),
            batch_time=BATCH,
        )
    )
    assert out[("alice", "bob", "LIKES", "2020-01-01 00:00:00")] == (
        "2024-01-02 00:00:00",
        BATCH,
    )


def test_invalid_at_implies_expired_at(spark):
    # T3: invalid_at set + expired_at null → expired_at = batch time.
    out = _collect(
        resolve_bitemporal(
            _edges(spark, [("a", "b", "LIKES", "2020-01-01", "2021-01-01")]),
            batch_time=BATCH,
        )
    )
    assert out[("a", "b", "LIKES", "2020-01-01 00:00:00")] == (
        "2021-01-01 00:00:00",
        BATCH,
    )


def test_predicate_class_map():
    m = predicate_class_map()
    assert m["LIKES"] == m["DISLIKES"] == "DISLIKES|LIKES"
    assert m["WORKS_FOR"] == m["LEFT_JOB"] == "LEFT_JOB|WORKS_FOR"
    assert m["ACQUIRED"] == "ACQUIRED"
