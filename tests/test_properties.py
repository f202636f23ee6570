"""Property-based and randomized-invariant tests.

Pure functions get hypothesis; Spark operators get ONE seeded random
batch checked against invariants computed in plain python (per-example
Spark actions would be prohibitively slow)."""

from __future__ import annotations

import datetime
import random

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from graphiti_spark.functions.similarity import jaro_winkler
from graphiti_spark.operators.graph_api import pairwise_summary_reduce
from graphiti_spark.operators.search import tokenize_py
from graphiti_spark.operators.temporal import predicate_class_map, resolve_bitemporal

names = st.text(
    alphabet=st.characters(min_codepoint=97, max_codepoint=122), min_size=0, max_size=12
)


@given(names, names)
@settings(max_examples=200, deadline=None)
def test_jaro_winkler_properties(a, b):
    s = jaro_winkler(a, b)
    assert 0.0 <= s <= 1.0
    assert jaro_winkler(b, a) == s          # symmetric
    if a == b:
        assert s == 1.0                      # identity
    if a and b and s == 1.0:
        assert a == b                        # 1.0 only for equality


@given(st.lists(st.text(max_size=8), max_size=8))
@settings(max_examples=100, deadline=None)
def test_summary_reduce_order_invariant(items):
    import itertools

    base = pairwise_summary_reduce(items)
    random.seed(7)
    shuffled = list(items)
    random.shuffle(shuffled)
    assert pairwise_summary_reduce(shuffled) == base


@given(st.text(max_size=40))
@settings(max_examples=100, deadline=None)
def test_tokenizer_properties(text):
    toks = tokenize_py(text)
    assert all(t == t.lower() and t for t in toks)
    assert tokenize_py(" ".join(toks)) == toks  # idempotent round-trip


def test_temporal_randomized_invariants(spark):
    """200 random edges over few pairs/predicates: the resolved frame
    must satisfy (a) invalid_at == min strictly-greater valid_at within
    the (pair, class) group, (b) expired_at iff invalid_at, (c)
    idempotence: resolving twice changes nothing."""
    rng = random.Random(42)
    preds = ["LIKES", "DISLIKES", "WORKS_FOR", "LEFT_JOB", "ACQUIRED"]
    ents = ["a", "b", "c", "d"]
    rows = []
    for i in range(200):
        s, o = rng.sample(ents, 2)
        rows.append(
            (
                "g0", s, o, rng.choice(preds),
                datetime.datetime(2015 + rng.randrange(10), 1 + rng.randrange(12), 1),
            )
        )
    df = spark.createDataFrame(
        rows,
        "group_id string, source_node_uuid string, target_node_uuid string, "
        "predicate string, valid_at timestamp",
    ).dropDuplicates(["source_node_uuid", "target_node_uuid", "predicate", "valid_at"])

    out = resolve_bitemporal(df, batch_time="2025-06-01 00:00:00")
    got = out.collect()

    cls = predicate_class_map()
    groups: dict[tuple, set] = {}
    for r in got:
        key = (
            tuple(sorted([r.source_node_uuid, r.target_node_uuid])),
            cls[r.predicate],
        )
        groups.setdefault(key, set()).add(r.valid_at)

    for r in got:
        key = (
            tuple(sorted([r.source_node_uuid, r.target_node_uuid])),
            cls[r.predicate],
        )
        later = [v for v in groups[key] if v > r.valid_at]
        expected = min(later) if later else None
        assert r.invalid_at == expected, (r, expected)
        assert (r.invalid_at is None) == (r.expired_at is None)

    # idempotence
    again = resolve_bitemporal(out, batch_time="2025-06-01 00:00:00")
    a = sorted(tuple(str(v) for v in r) for r in out.collect())
    b = sorted(tuple(str(v) for v in r) for r in again.collect())
    assert a == b


def test_embedding_near_duplicates_blocking_recall(spark):
    """Multi-table hyperplane blocking finds high-cosine planted pairs
    (collinear: guaranteed; noisy ~0.98: by OR-amplification) and never
    emits a pair below threshold; results are a subset of the exact
    all-pairs answer."""
    import numpy as np

    from graphiti_spark.operators.docops import embedding_near_duplicates

    rng = np.random.RandomState(7)
    rows = []
    for i in range(40):
        v = rng.randn(32)
        rows.append((i, [float(x) for x in v]))
        if i < 8:  # noisy near-duplicate, cosine ≈ 0.98-0.999
            w = v + 0.1 * rng.randn(32)
            rows.append((1000 + i, [float(x) for x in w]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.id_a, r.id_b): r.score
        for r in embedding_near_duplicates(emb, threshold=0.9).collect()
    }
    # exact answer by brute force
    import itertools

    vecs = dict(rows)
    exact = {}
    for (ia, va), (ib, vb) in itertools.combinations(rows, 2):
        a, b = np.asarray(va), np.asarray(vb)
        c = round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6)
        if c >= 0.9:
            exact[tuple(sorted((ia, ib)))] = c
    assert set(got) <= set(exact)          # no false positives
    assert len(got) >= 0.8 * len(exact)    # OR-amplified recall
    assert len(exact) >= 8                  # the planted pairs exist
    for k, v in got.items():
        assert abs(v - exact[k]) < 2e-6


def test_hyperplane_plan_builds_fast_at_1024_dims(spark):
    """VERDICT r2 #3 / round-1 Catalyst lesson as a regression test:
    hyperplane bucketing at production dims (1024) with 6 tables × 6
    planes must not inline ~37k plan literals — plan build AND execution
    stay within a tight bound because the planes ride in a pandas-UDF
    closure, and a planted collinear duplicate is still found."""
    import time

    import numpy as np

    from graphiti_spark.operators.docops import embedding_near_duplicates

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.randn(1024)]) for i in range(12)]
    dup = [(2000, [2.0 * x for x in rows[0][1]])]  # collinear with id 0
    emb = spark.createDataFrame(
        rows + dup, "vec_id long, embedding array<double>"
    )
    t0 = time.monotonic()
    out = embedding_near_duplicates(emb, threshold=0.99, n_tables=6, n_planes=6)
    plan = out._jdf.queryExecution().simpleString()  # forces plan build
    got = {(r.id_a, r.id_b) for r in out.collect()}
    elapsed = time.monotonic() - t0
    assert (0, 2000) in got
    assert elapsed < 60, f"plan+exec took {elapsed:.1f}s at dim=1024"
    assert len(plan) < 200_000  # no literal-inlined plane matrices


def test_hyperplane_explodes_exclude_vector_column(spark):
    """VERDICT r3 #6: the bucket explodes must carry only
    (id, t, bucket) — carrying a vector pushes n_tables× the vector
    bytes through the bucket-join shuffle, and an array payload in the
    candidate dedup forces a SortAggregate (array agg buffers are not
    hash-aggregable). Vectors re-join by id/query_id after candidate
    dedup, so EVERY `Generate explode` node in both hyperplane paths
    must exclude the embedding/query_vec columns, and the candidate
    dedup must compile to a HashAggregate (no SortAggregate anywhere
    in either plan)."""
    import re

    import numpy as np

    from graphiti_spark.operators.docops import (
        embedding_near_duplicates,
        lsh_bucketed_topk,
    )

    rng = np.random.RandomState(7)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(16)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [("q0", [float(x) for x in rng.randn(16)])],
        "query_id string, query_vec array<double>",
    )
    for df in (
        embedding_near_duplicates(emb, threshold=0.9),
        lsh_bucketed_topk(emb, queries, k=5),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        gens = re.findall(r"Generate explode[^\n]*", plan)
        assert gens, "expected explode nodes in the hyperplane plan"
        for g in gens:
            assert "embedding" not in g, g
            assert "query_vec" not in g, g
        assert "SortAggregate" not in plan, "candidate dedup fell off HashAggregate"


def test_lsh_topk_or_amplification_improves_recall(spark):
    """Multi-table OR-amplification lifts the chance of finding a TRUE
    near neighbor (cos ≈ 0.98) to near-certainty, vs the single-table
    variant's p^b per-table odds. (Hyperplane LSH is for high-cosine
    neighbors; low-similarity 'neighbors' are out of scope by design.)"""
    import numpy as np

    from graphiti_spark.operators.docops import lsh_bucketed_topk

    rng = np.random.RandomState(11)
    base = [(i, rng.randn(32)) for i in range(60)]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in base],
        "vec_id long, embedding array<float>",
    )
    # queries = noisy copies of the first 12 vectors (cos ~0.97-0.999)
    queries = spark.createDataFrame(
        [
            (f"q{i}", [float(x) for x in v + 0.12 * rng.randn(32)])
            for i, v in base[:12]
        ],
        "query_id string, query_vec array<float>",
    )

    def hits(n_tables):
        got = lsh_bucketed_topk(
            emb, queries, k=3, n_planes=8, n_tables=n_tables
        ).collect()
        return sum(
            1 for r in got if r.query_id == f"q{r.id}" and r.rank == 1
        )

    h1, h4 = hits(1), hits(4)
    assert h4 >= h1
    assert h4 >= 10  # ≥ 10/12 queries find their true neighbor at rank 1
    assert h1 < 12   # the single table genuinely misses some


def test_lsh_md5_planes_recall_and_reproducibility(spark):
    """The md5-derived ±1 planes (plane_fn="md5" — the SQL-replayable
    variant a SQL engine can regenerate) keep the same recall
    property as the Gaussian planes: OR-amplified tables find planted
    high-cosine neighbors. Also pins plane determinism: md5_planes is a
    pure function of (seed, t, j, d) with a balanced sign distribution."""
    import numpy as np

    from graphiti_spark.operators.docops import lsh_bucketed_topk, md5_planes

    P = md5_planes(42, 4, 8, 32)
    assert P.shape == (4, 8, 32)
    assert set(np.unique(P)) == {-1.0, 1.0}
    assert np.array_equal(P, md5_planes(42, 4, 8, 32))
    # md5 nibbles are uniform: the sign balance is near 50/50
    assert 0.4 < (P > 0).mean() < 0.6

    rng = np.random.RandomState(11)
    base = [(i, rng.randn(32)) for i in range(60)]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in base],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [
            (f"q{i}", [float(x) for x in v + 0.12 * rng.randn(32)])
            for i, v in base[:12]
        ],
        "query_id string, query_vec array<float>",
    )
    got = lsh_bucketed_topk(
        emb, queries, k=3, n_planes=8, n_tables=4, plane_fn="md5"
    ).collect()
    hits = sum(1 for r in got if r.query_id == f"q{r.id}" and r.rank == 1)
    assert hits >= 10  # ≥ 10/12 planted neighbors found at rank 1


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.one_of(
            # well-formed: speaker: subj <phrase> obj since <year>.
            st.builds(
                lambda sp, s, ph, o, y: f"{sp}: {s} {ph} {o} since {y}.",
                st.text(
                    alphabet=st.characters(
                        whitelist_categories=("Lu", "Ll"), max_codepoint=0x24F
                    ),
                    min_size=1,
                    max_size=8,
                ),
                st.sampled_from(["Acme Corp", "J. Smith", "A works B", "X"]),
                st.sampled_from(["works for", "left", "partners with"]),
                st.sampled_from(["Globex", "Big Co Inc", "works", "Y since Z"]),
                st.integers(min_value=1000, max_value=9999),
            ),
            # arbitrary junk incl. control chars / zero-width
            st.text(max_size=40),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_native_kernel_equals_pandas_kernel_fuzzed(spark, texts):
    """The Catalyst kernel (java.util.regex) on a Spark frame and the
    Python-re pandas reference must agree row-for-row on arbitrary
    input, not just the fixture grammar (leftmost-first alternation,
    non-greedy splits, cleaning, self-loop drop)."""
    _assert_native_equals_pandas(spark, texts)


def test_kernels_agree_on_ns_boundary_years(spark):
    """The valid_at contract is the EXPLICIT year range 1678-2261 in
    both kernels. 2262 is the trap: pandas' raw ns range accepts
    2262-01-01 (its max is 2262-04-11), so an unclamped coerce-parse
    diverges from the native clamp on exactly that year — found by the
    kernel fuzz test, pinned here deterministically."""
    import pandas as pd

    years = [1677, 1678, 2261, 2262, 9999]
    want = _assert_native_equals_pandas(
        spark, [f"Ann: Acme works for Globex since {y}." for y in years]
    )
    by_year = {years[o]: v for o, v in zip(want["offset"], want["valid_at"])}
    assert pd.isna(by_year[1677]) and pd.isna(by_year[2262]) and pd.isna(by_year[9999])
    assert by_year[1678].year == 1678 and by_year[2261].year == 2261


def _assert_native_equals_pandas(spark, texts):
    """Parse ``texts`` with the pandas reference and with
    ``extract_native`` on a Spark frame; assert equal rows and return
    the reference's."""
    import pandas as pd

    from graphiti_spark.operators.extract import RuleBasedExtractor
    from tests.test_extract import _native_and_pandas, _pdf

    got, want = _native_and_pandas(spark, RuleBasedExtractor(), _pdf(texts))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    return want


def test_curation_randomized_invariants(spark):
    """One seeded random corpus through the curation ops; invariants
    recomputed in plain python (see module docstring for the pattern):
    - pii_scrub: redaction is a fixpoint — scrubbing the scrubbed text
      changes nothing (no partial redactions left behind);
    - pack_documents: per-stream offsets are an exact prefix sum and
      the chunk index range covers each doc's token span;
    - hash_split + mixture_sample: assignments are pure functions of
      doc_id (stable across runs of the same frame).
    """
    import hashlib
    import random as rnd

    from graphiti_spark.operators.docops import (
        hash_split,
        mixture_sample,
        pack_documents,
        pii_scrub,
    )

    rnd.seed(42)
    words = ["alpha", "bravo", "x9", "mailto", "http", "...", "+123",
             "a.b@c.io", "https://e.org/p", "+12345678901", "plain"]
    rows = [
        (i, " ".join(rnd.choices(words, k=rnd.randint(0, 30))))
        for i in range(300)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    scrubbed = {r.doc_id: r for r in pii_scrub(docs).collect()}
    # fixpoint: feed a manually scrubbed corpus back through — zero hits
    import re

    from graphiti_spark.operators.docops import (
        PII_EMAIL_RE,
        PII_PHONE_RE,
        PII_URL_RE,
    )

    def scrub_py(t):
        t = t.lower()
        t = re.sub(PII_EMAIL_RE, "<email>", t)
        t = re.sub(PII_URL_RE, "<url>", t)
        t = re.sub(PII_PHONE_RE, "<phone>", t)
        return t

    docs2 = spark.createDataFrame(
        [(i, scrub_py(t)) for i, t in rows], "doc_id long, text string"
    )
    again = {r.doc_id: r for r in pii_scrub(docs2).collect()}
    for i, t in rows:
        assert (again[i].n_emails, again[i].n_urls, again[i].n_phones) == (0, 0, 0)
        assert scrubbed[i].scrubbed_md5 == hashlib.md5(
            scrub_py(t).encode()
        ).hexdigest(), i

    packed = pack_documents(docs, budget=50, n_streams=3).collect()
    streams: dict = {}
    for r in packed:
        streams.setdefault(r.stream, []).append(r)
    for srows in streams.values():
        srows.sort(key=lambda r: r.start_off)
        off = 0
        for r in srows:
            assert r.start_off == off
            off += r.n_tokens
            assert r.first_chunk <= r.last_chunk

    a = {r.doc_id: r.split for r in hash_split(docs).collect()}
    b = {r.doc_id: r.split for r in hash_split(docs).collect()}
    assert a == b
    m1 = sorted(map(tuple, mixture_sample(docs.withColumn("lang", F.lit("en")), {"en": 1.5}).collect()))
    m2 = sorted(map(tuple, mixture_sample(docs.withColumn("lang", F.lit("en")), {"en": 1.5}).collect()))
    assert m1 == m2 and len(m1) >= 300


def test_duplicate_spans_randomized_vs_bruteforce(spark):
    """One seeded random corpus (small vocab so k-gram collisions are
    common) checked against a plain-python brute-force reference:
    k-gram multiset count >= 2 -> anchor, merge overlapping/adjacent
    anchors into maximal spans."""
    from collections import Counter

    from graphiti_spark.operators.docops import duplicate_spans

    rng = random.Random(41)
    K = 4
    vocab = [f"w{i}" for i in range(12)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25))))
        for i in range(60)
    ]

    # brute-force reference
    grams: Counter = Counter()
    toks = {i: t.split() if t else [] for i, t in docs}
    for i, tk in toks.items():
        for p in range(len(tk) - K + 1):
            grams[tuple(tk[p:p + K])] += 1
    expected = set()
    for i, tk in toks.items():
        anchors = [
            p for p in range(len(tk) - K + 1)
            if grams[tuple(tk[p:p + K])] >= 2
        ]
        spans = []
        for p in anchors:  # positions ascending
            s, e = p + 1, p + K  # 1-based inclusive
            if spans and s <= spans[-1][1] + 1:
                spans[-1][1] = max(spans[-1][1], e)
            else:
                spans.append([s, e])
        for s, e in spans:
            expected.add((str(i), s, e, e - s + 1))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_tokens)
        for r in duplicate_spans(df, k=K).collect()
    }
    assert got == expected
    assert expected, "seed produced no duplicated grams — weak test"


def test_source_cap_partition_invariance_and_determinism(spark):
    """The kept set must be a pure function of (doc_id, source, cap):
    invariant under repartitioning and across repeated runs."""
    from graphiti_spark.operators.docops import source_cap

    rng = random.Random(7)
    rows = [(i, f"d{rng.randint(0, 4)}") for i in range(200)]
    base = spark.createDataFrame(rows, "doc_id long, source string")
    ref = sorted(map(tuple, source_cap(base, cap=9).collect()))
    for n_parts in (1, 7, 32):
        got = sorted(
            map(tuple, source_cap(base.repartition(n_parts), cap=9).collect())
        )
        assert got == ref, f"repartition({n_parts}) changed the kept set"


def test_semantic_dedup_keep_list_wide_ids(spark):
    """vec_ids wider than 9 digits must survive the string zero-pad
    round-trip intact (Spark's lpad TRUNCATES over-width strings — the
    round-4 review finding): two distinct 10-digit ids sharing a
    9-digit prefix stay distinct vertices, and the numeric-min keep
    rule holds across the 1e9 boundary."""
    from graphiti_spark.operators.docops import semantic_dedup_keep_list

    v = [1.0, 2.0, 3.0, 4.0]
    w = [-4.0, 3.0, -2.0, 1.0]  # orthogonal-ish: cosine < 0
    rows = [
        (999_999_999, v),          # 9 digits — numeric min of its pair
        (1_000_000_000, v),        # 10 digits, same 9-digit prefix as…
        (1_000_000_001, w),        # …this one: must NOT collapse
        (1_000_000_002, w),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.vec_id: (r.keep_vec_id, r.is_kept)
        for r in semantic_dedup_keep_list(emb, threshold=0.95).collect()
    }
    assert got == {
        999_999_999: (999_999_999, True),
        1_000_000_000: (999_999_999, False),
        1_000_000_001: (1_000_000_001, True),
        1_000_000_002: (1_000_000_001, False),
    }


def test_semantic_dedup_keep_list_matches_bruteforce(spark):
    """semantic_dedup_keep_list (SemDeDup-style: components over the
    embedding near-dup pair graph, keep = min vec_id) agrees with a
    brute-force union-find over the exact all-pairs cosine graph on
    planted collinear clusters, and every component keeps exactly one
    representative."""
    import numpy as np

    from graphiti_spark.operators.docops import semantic_dedup_keep_list

    rng = np.random.RandomState(3)
    rows = []
    for i in range(30):
        v = rng.randn(24)
        rows.append((i, [float(x) for x in v]))
        if i < 6:  # collinear twins -> cosine exactly 1.0
            rows.append((500 + i, [1.3 * float(x) for x in v]))
            rows.append((900 + i, [0.7 * float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.vec_id: (r.keep_vec_id, r.is_kept)
        for r in semantic_dedup_keep_list(emb, threshold=0.95).collect()
    }

    # brute-force exact components
    import itertools

    parent = {i: i for i, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (ia, va), (ib, vb) in itertools.combinations(rows, 2):
        a, b = np.asarray(va), np.asarray(vb)
        c = round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6)
        if c >= 0.95:
            ra, rb = find(ia), find(ib)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    exact = {}
    for i, _ in rows:
        root = find(i)
        members = [j for j, _ in rows if find(j) == root]
        if len(members) > 1:
            exact[i] = (min(members), i == min(members))

    assert got == exact
    # exactly one keeper per component
    comps = {}
    for vid, (keep, kept) in got.items():
        comps.setdefault(keep, []).append(kept)
    for keep, flags in comps.items():
        assert sum(flags) == 1 and got[keep][0] == keep


def test_kmv_distinct_accuracy_and_exact_path(spark):
    """KMV sketch: groups with < k distinct values report the EXACT
    count; big groups estimate within the sketch's expected relative
    error (~1/sqrt(k-1), generously 3x here)."""
    from graphiti_spark.operators.docops import kmv_distinct

    rows = [("big", f"val-{i}") for i in range(5000)]
    rows += [("small", f"v{i}") for i in range(37)] * 3  # dups collapse
    df = spark.createDataFrame(rows, "g string, v string")
    k = 128
    out = {r.g: r for r in kmv_distinct(df, "g", F.col("v"), k=k).collect()}
    assert out["small"].est_distinct == 37 and out["small"].n_kept == 37
    big = out["big"]
    assert big.n_kept == k
    rel = abs(big.est_distinct - 5000) / 5000
    assert rel < 3 / (k - 1) ** 0.5, f"relative error {rel:.3f}"


def test_kmv_sketches_merge(spark):
    """Mergeability: the k smallest hashes of (sketch(A) ∪ sketch(B))
    equal the k smallest of A ∪ B — per-day / per-partition sketches
    roll up without rescanning the corpus."""
    from graphiti_spark.operators.docops import _md5_u32, kmv_distinct

    a = spark.createDataFrame(
        [("g", f"a{i}") for i in range(400)], "g string, v string"
    )
    b = spark.createDataFrame(
        [("g", f"b{i}") for i in range(300)] + [("g", f"a{i}") for i in range(50)],
        "g string, v string",
    )
    k = 32
    hashes = lambda df: sorted(
        r.h
        for r in df.select(
            _md5_u32(F.concat_ws("|", F.lit("kmv"), F.col("v"))).alias("h")
        )
        .distinct()
        .collect()
    )
    merged_sketch = sorted(set(hashes(a)[:k]) | set(hashes(b)[:k]))[:k]
    union_sketch = sorted(set(hashes(a.union(b))))[:k]
    assert merged_sketch == union_sketch
    # and the operator over the union reproduces the merged arithmetic
    est = kmv_distinct(a.union(b), "g", F.col("v"), k=k).collect()[0]
    kth = merged_sketch[-1]
    assert est.kth_hash == kth
    assert est.est_distinct == (k - 1) * 4294967296 // max(kth, 1)


def test_kmv_plan_window_group_limit(spark):
    """The per-group bottom-k must compile to WindowGroupLimit (map-side
    partial top-k) so a hot group forwards at most k rows per task; no
    Python anywhere."""
    from graphiti_spark.operators.docops import token_cardinality
    from graphiti_spark.plans.explain import physical_plan, scan_summary

    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = token_cardinality(docs, k=16)
    scan_summary(out).assert_no_python()
    plan = physical_plan(out)
    assert "WindowGroupLimit" in plan
    # column pruning: the token scan needs source + text only
    s = scan_summary(out)
    assert all("lang" not in rs and "n_chars" not in rs for rs in s.read_schemas)


def test_kmv_empty_input_degenerate(spark):
    from graphiti_spark.operators.docops import kmv_distinct

    df = spark.createDataFrame([], "g string, v string")
    assert kmv_distinct(df, "g", F.col("v"), k=8).count() == 0
