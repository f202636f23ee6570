"""Similarity primitives for entity linking.

The reference decides duplicates with an LLM judgment over hybrid-search
candidates (graphiti_core/utils/maintenance/node_operations.py:229-338)
on top of embedding cosine (search_utils.py:686-778, min score 0.6).
Deterministic replacement per the north star: embedding-similarity +
Jaro-Winkler name scoring. Everything here is either a pure column
expression (JVM, whole-stage codegen) or an Arrow-batched pandas UDF —
no per-row Python at the Spark level.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, FloatType

EMBED_DIM = 64  # sandbox dim; reference truncates provider vectors to 1024
                # (graphiti_core/embedder/client.py:22) — dim is config here.


# ---------------------------------------------------------------------------
# Jaro-Winkler (vectorized over pandas batches)
# ---------------------------------------------------------------------------

def jaro_winkler(s1: str, s2: str, prefix_weight: float = 0.1) -> float:
    """Pure-python Jaro-Winkler similarity in [0, 1]."""
    if s1 == s2:
        return 1.0
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0
    window = max(len1, len2) // 2 - 1
    if window < 0:
        window = 0
    match1 = [False] * len1
    match2 = [False] * len2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - window)
        hi = min(len2, i + window + 1)
        for j in range(lo, hi):
            if not match2[j] and s2[j] == c:
                match1[i] = True
                match2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(len1):
        if match1[i]:
            while not match2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    jaro = (matches / len1 + matches / len2 + (matches - t) / matches) / 3.0
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        prefix += 1
    return jaro + prefix * prefix_weight * (1.0 - jaro)


@F.pandas_udf(DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched JW over candidate pairs. Pairs reach this UDF only
    AFTER MinHash-LSH blocking (operators/resolve.py), so the batch is
    tiny relative to the corpus — the O(|s1|*|s2|) python kernel is off
    the hot path by construction."""
    return pd.Series(
        [jaro_winkler(x.lower(), y.lower()) for x, y in zip(a, b)], dtype="float64"
    )


# ---------------------------------------------------------------------------
# Deterministic hash embedder (X7 stand-in; pluggable like the reference's
# EmbedderClient, graphiti_core/embedder/client.py:29-37)
# ---------------------------------------------------------------------------

def _trigram_hash(g: str) -> int:
    return int.from_bytes(hashlib.md5(g.encode()).digest()[:8], "big")


def _embed_batch(texts: pd.Series, dim: int) -> pd.Series:
    """Character-trigram feature hashing → L2-normalized vector.

    Each text is lowercased and padded with one space on each side;
    every character trigram (repeats included) is md5-hashed, and its
    first 8 bytes pick the bucket (mod ``dim``) and bit 8 the sign of a
    +/-1 count. The float64 counts are L2-normalized and returned as
    float32; a null or empty text maps to a zero vector.

    Similar surface forms share trigrams → high cosine, which is exactly
    the property the resolver needs from real name embeddings. Purely
    deterministic (no model). ``hash_embed_udf`` runs this per Arrow
    batch on executors; the driver-side bulk resolution runs it once
    over the canonical names (pipeline._resolve_on_driver).
    """
    out = []
    for t in texts:
        s = " " + (t or "").lower() + " "
        v = np.zeros(dim, dtype=np.float64)
        for i in range(len(s) - 2):
            h = _trigram_hash(s[i : i + 3])
            v[h % dim] += 1.0 if (h >> 8) % 2 == 0 else -1.0
        n = np.linalg.norm(v)
        if n > 0:
            v /= n
        out.append(v.astype(np.float32))
    return pd.Series(out)


@F.pandas_udf(ArrayType(FloatType()))
def hash_embed_udf(texts: pd.Series) -> pd.Series:
    return _embed_batch(texts, EMBED_DIM)


def hash_embed_py(text: str, dim: int = EMBED_DIM) -> np.ndarray:
    """Pure-python mirror for tests."""
    return _embed_batch(pd.Series([text]), dim)[0]


# ---------------------------------------------------------------------------
# Cosine as pure column algebra (vectors are L2-normalized at embed time,
# like the reference's normalize_l2, graphiti_core/helpers.py:93-96, so
# cosine == dot product)
# ---------------------------------------------------------------------------

def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product via zip_with + aggregate (no Python)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine for possibly-unnormalized vectors (used on the raw
    embeddings.parquet fixture)."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))
