"""XXH64 over numpy arrays — bit-exact with Spark's ``xxhash64`` expression.

XXH64 is a public algorithm (Yann Collet's xxHash, BSD); Spark's
Catalyst implementation (``org.apache.spark.sql.catalyst.expressions
.XXH64``) conforms to the reference vectors, so a spec-conformant
implementation reproduces ``F.xxhash64`` exactly. The arithmetic runs
element-wise in ``uint64`` (numpy multiplication and addition wrap
mod 2**64, as XXH64 requires), one array pass per step of the
algorithm instead of one Python call per value. Entry points mirror
how Catalyst hashes each type, and return SIGNED int64 (Spark
LongType) arrays:

- :func:`xxh64_rows` — one uint8 matrix whose rows share a byte length:
  the stripe loop for >= 32 bytes, then the 8-, 4- and 1-byte tail
  rounds;
- :func:`xxh64_strings` — UTF-8 bytes of each string, grouped by byte
  length (:func:`byte_groups`) into :func:`xxh64_rows` calls;
- :func:`xxh64_longs` / :func:`xxh64_ints` — LongType / IntegerType
  values, which Catalyst hashes as their 8 / 4 little-endian bytes.

Every entry takes a scalar seed or one seed per row. A multi-argument
``F.xxhash64(a, b, ...)`` starts from seed 42 and feeds each value's
hash in as the next value's seed, so a chain is one call per argument:
``xxh64_longs(b, xxh64_ints(a))``.

Bit-exactness is pinned by
tests/test_incremental_local.py::test_xxh64_matches_spark_on_random_inputs
against live ``F.xxhash64`` output on strings of every UTF-8 byte
length from 0 to 40 and beyond, ints, longs and chains with per-row
seeds. The module lets the driver compute LSH band keys and partition
buckets without a Spark job, byte-identical to the distributed path
(operators/incremental.py).
"""

from __future__ import annotations

import numpy as np

_U = np.uint64
_P1 = _U(0x9E3779B185EBCA87)
_P2 = _U(0xC2B2AE3D27D4EB4F)
_P3 = _U(0x165667B19E3779F9)
_P4 = _U(0x85EBCA77C2B2AE63)
_P5 = _U(0x27D4EB2F165667C5)

SPARK_SEED = 42  # Catalyst's default xxhash64 seed


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U(r)) | (x >> _U(64 - r))


def _round(acc: np.ndarray, inp: np.ndarray) -> np.ndarray:
    return _rotl(acc + inp * _P2, 31) * _P1


def _merge_round(h: np.ndarray, acc: np.ndarray) -> np.ndarray:
    return (h ^ _round(_U(0), acc)) * _P1 + _P4


def _fmix(h: np.ndarray) -> np.ndarray:
    h = (h ^ (h >> _U(33))) * _P2
    h = (h ^ (h >> _U(29))) * _P3
    return h ^ (h >> _U(32))


def _seeds(seed, n: int) -> np.ndarray:
    """``seed`` (scalar or per-row, signed or unsigned) as uint64[n]."""
    s = np.asarray(seed)
    if s.dtype != np.uint64:
        s = s.astype(np.int64).view(np.uint64)
    return np.broadcast_to(s, (n,)).copy()


def _word(mat: np.ndarray, i: int, width: int) -> np.ndarray:
    """Little-endian unsigned word of ``width`` bytes at column ``i``."""
    w = np.ascontiguousarray(mat[:, i : i + width])
    return w.view(f"<u{width}")[:, 0].astype(np.uint64)


def xxh64_rows(mat: np.ndarray, seed=SPARK_SEED) -> np.ndarray:
    """XXH64 of each row of the uint8 matrix ``mat`` [m, n]: every row
    is one n-byte input. Returns int64[m]."""
    m, n = mat.shape
    seed = _seeds(seed, m)
    i = 0
    if n >= 32:
        v1 = seed + _P1 + _P2
        v2 = seed + _P2
        v3 = seed.copy()
        v4 = seed - _P1
        while i + 32 <= n:
            v1 = _round(v1, _word(mat, i, 8))
            v2 = _round(v2, _word(mat, i + 8, 8))
            v3 = _round(v3, _word(mat, i + 16, 8))
            v4 = _round(v4, _word(mat, i + 24, 8))
            i += 32
        h = _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        for v in (v1, v2, v3, v4):
            h = _merge_round(h, v)
    else:
        h = seed + _P5
    h = h + _U(n)
    while i + 8 <= n:
        h = h ^ _round(_U(0), _word(mat, i, 8))
        h = _rotl(h, 27) * _P1 + _P4
        i += 8
    if i + 4 <= n:
        h = h ^ (_word(mat, i, 4) * _P1)
        h = _rotl(h, 23) * _P2 + _P3
        i += 4
    while i < n:
        h = h ^ (mat[:, i].astype(np.uint64) * _P5)
        h = _rotl(h, 11) * _P1
        i += 1
    return _fmix(h).view(np.int64)


def byte_groups(data: list[bytes]) -> list[tuple[np.ndarray, np.ndarray]]:
    """``data`` grouped by byte length: [(row indices, uint8 matrix of
    those rows)], the shape :func:`xxh64_rows` takes."""
    lens = np.fromiter(map(len, data), dtype=np.int64, count=len(data))
    groups = []
    for n in np.unique(lens):
        rows = np.flatnonzero(lens == n)
        buf = b"".join([data[r] for r in rows])
        mat = np.frombuffer(buf, dtype=np.uint8).reshape(len(rows), int(n))
        groups.append((rows, mat))
    return groups


def xxh64_strings(values, seed=SPARK_SEED) -> np.ndarray:
    """``F.xxhash64(string_col)`` over ``values`` (UTF-8 bytes):
    int64[len(values)]."""
    data = [v.encode("utf-8") for v in values]
    seed = _seeds(seed, len(data))
    out = np.empty(len(data), dtype=np.int64)
    for rows, mat in byte_groups(data):
        out[rows] = xxh64_rows(mat, seed[rows])
    return out


def xxh64_longs(values, seed=SPARK_SEED) -> np.ndarray:
    """Catalyst's LongType path: XXH64 of each value's 8 little-endian
    bytes."""
    v = np.ascontiguousarray(values, dtype="<i8")
    return xxh64_rows(v.view(np.uint8).reshape(-1, 8), seed)


def xxh64_ints(values, seed=SPARK_SEED) -> np.ndarray:
    """Catalyst's IntegerType path: XXH64 of each value's 4
    little-endian bytes."""
    v = np.ascontiguousarray(values, dtype="<i4")
    return xxh64_rows(v.view(np.uint8).reshape(-1, 4), seed)
