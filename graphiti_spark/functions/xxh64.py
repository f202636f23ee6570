"""Pure-Python XXH64 — bit-exact with Spark's ``xxhash64`` expression.

XXH64 is a public algorithm (Yann Collet's xxHash, BSD); Spark's
Catalyst implementation (``org.apache.spark.sql.catalyst.expressions
.XXH64``) conforms to the reference vectors, so a spec-conformant
Python implementation reproduces ``F.xxhash64`` exactly. Three entry
points mirror how Catalyst hashes each type:

- :func:`xxh64_string` — UTF-8 bytes of a string column value;
- :func:`xxh64_long` / :func:`xxh64_int` — the fixed-width fast paths
  Catalyst uses for LongType / IntegerType inputs;
- multi-argument ``F.xxhash64(a, b, ...)`` chains: start from seed 42
  and feed each value's hash as the next seed
  (``hash = compute(value, hash)``), which :func:`xxh64_chain`
  replicates.

Bit-exactness is pinned by
tests/test_incremental_local.py::test_xxh64_matches_spark_on_random_inputs
against live ``F.xxhash64`` output on random strings / ints / longs /
chains —
this module exists so small micro-batches can compute LSH band keys
driver-side without a Spark job, with results byte-identical to the
distributed path (operators/incremental.py).
"""

from __future__ import annotations

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1

SPARK_SEED = 42  # Catalyst's default xxhash64 seed


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M
    acc = _rotl(acc, 31)
    return (acc * _P1) & _M


def _merge_round(h: int, acc: int) -> int:
    h ^= _round(0, acc)
    return (h * _P1 + _P4) & _M


def xxh64_bytes(data: bytes, seed: int) -> int:
    """Standard XXH64 over ``data`` with ``seed``; returns SIGNED int64
    (Spark LongType semantics)."""
    seed &= _M
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    return _signed(_fmix(h))


def xxh64_long(value: int, seed: int) -> int:
    """Catalyst's LongType fast path: XXH64 of one 8-byte block."""
    seed &= _M
    h = (seed + _P5 + 8) & _M
    h ^= _round(0, value & _M)
    h = (_rotl(h, 27) * _P1 + _P4) & _M
    return _signed(_fmix(h))


def xxh64_int(value: int, seed: int) -> int:
    """Catalyst's IntegerType fast path: XXH64 of one 4-byte block."""
    seed &= _M
    h = (seed + _P5 + 4) & _M
    h ^= ((value & 0xFFFFFFFF) * _P1) & _M
    h = (_rotl(h, 23) * _P2 + _P3) & _M
    return _signed(_fmix(h))


def xxh64_string(value: str, seed: int = SPARK_SEED) -> int:
    """``F.xxhash64(string_col)`` equivalent (UTF-8 bytes, seed 42)."""
    return xxh64_bytes(value.encode("utf-8"), seed)


def xxh64_chain(values: list, seed: int = SPARK_SEED) -> int:
    """Multi-argument ``F.xxhash64(a, b, ...)``: each value's hash
    seeds the next. Supported element types: ('int', v), ('long', v),
    ('str', v) tuples."""
    h = seed
    for kind, v in values:
        if kind == "long":
            h = xxh64_long(v, h)
        elif kind == "int":
            h = xxh64_int(v, h)
        elif kind == "str":
            h = xxh64_bytes(v.encode("utf-8"), h)
        else:  # pragma: no cover - programming error
            raise ValueError(f"unsupported type {kind!r}")
    return h


def _signed(x: int) -> int:
    x &= _M
    return x - (1 << 64) if x >= (1 << 63) else x
