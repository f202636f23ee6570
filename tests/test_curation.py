"""Corpus-curation operators: deterministic splits, sequence packing,
PII scrubbing, sampling and the dedup family (operators/docops.py).

These tests pin the *semantic invariants* on hand-crafted inputs — the
properties a 100 TB pipeline relies on (determinism under repartitioning,
prefix-sum packing with no gaps, first-occurrence dedup, redaction
completeness)."""

from __future__ import annotations

from pyspark.sql import functions as F

from graphiti_spark.operators.docops import (
    mixture_sample,
    hash_split,
    pack_documents,
    pii_scrub,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hash_split_total_deterministic_and_partition_invariant(spark):
    docs = _docs(spark, [(i, f"doc {i}") for i in range(500)])
    a = {r.doc_id: r.split for r in hash_split(docs).collect()}
    b = {
        r.doc_id: r.split
        for r in hash_split(docs.repartition(13, "text")).collect()
    }
    assert a == b  # stable under physical layout — unlike randomSplit
    assert set(a.values()) <= {"train", "val", "test"}
    n = len(a)
    frac_train = sum(v == "train" for v in a.values()) / n
    assert 0.7 < frac_train < 0.9  # 80% boundary, hash noise allowed
    assert all(v is not None for v in a.values())  # total assignment


def test_hash_split_short_boundaries_assign_tail_to_last(spark):
    """Custom boundaries whose cumulative percent stops short of 100
    must not leave NULL splits — the tail falls into the last split
    (ADVICE r3 #4)."""
    docs = _docs(spark, [(i, f"doc {i}") for i in range(200)])
    out = {
        r.doc_id: r.split
        for r in hash_split(docs, boundaries=(("a", 40), ("b", 70))).collect()
    }
    assert all(v in ("a", "b") for v in out.values())
    # buckets in [70, 100) exist at n=200 with overwhelming probability,
    # so 'b' must absorb more than the nominal 30%
    assert sum(v == "b" for v in out.values()) > 0.35 * len(out)


def test_mixture_sample_empty_weights_returns_empty(spark):
    docs = spark.createDataFrame(
        [(1, "en"), (2, "zh")], "doc_id long, lang string"
    )
    out = mixture_sample(docs, {})
    assert out.columns == ["doc_id", "lang", "copy"]
    assert out.count() == 0


def test_pack_documents_prefix_sum_no_gaps(spark):
    docs = _docs(spark, [(i, "tok " * (i % 17 + 1)) for i in range(300)])
    rows = pack_documents(docs, budget=64, n_streams=4).collect()
    by_stream: dict[int, list] = {}
    for r in rows:
        by_stream.setdefault(r.stream, []).append(r)
    assert set(by_stream) <= set(range(4))
    for stream_rows in by_stream.values():
        stream_rows.sort(key=lambda r: r.start_off)
        off = 0
        for r in stream_rows:
            assert r.start_off == off, "packing must leave no gaps/overlaps"
            off += r.n_tokens
            assert r.first_chunk == r.start_off // 64
            assert r.last_chunk == max(r.first_chunk, (off - 1) // 64)


def test_pack_documents_deterministic_across_parallelism(spark):
    docs = _docs(spark, [(i, "w " * (i % 5 + 1)) for i in range(100)])
    a = sorted(map(tuple, pack_documents(docs, budget=32).collect()))
    b = sorted(
        map(tuple, pack_documents(docs.repartition(7), budget=32).collect())
    )
    assert a == b


def test_pii_scrub_counts_and_redacts(spark):
    docs = _docs(
        spark,
        [
            (1, "mail Bob.Smith@Example.COM or +14155550123 now"),
            (2, "see https://example.org/path and http://a.b/c"),
            (3, "clean text with no identifiers at all"),
        ],
    )
    out = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert (out[1].n_emails, out[1].n_urls, out[1].n_phones) == (1, 0, 1)
    assert (out[2].n_emails, out[2].n_urls, out[2].n_phones) == (0, 2, 0)
    assert (out[3].n_emails, out[3].n_urls, out[3].n_phones) == (0, 0, 0)

    # redaction completeness: scrubbing the scrubbed text is a no-op,
    # so the md5 must equal the md5 of a manually redacted string
    import hashlib

    exp1 = "mail <email> or <phone> now"
    assert out[1].scrubbed_md5 == hashlib.md5(exp1.encode()).hexdigest()
    assert out[1].scrubbed_len == len(exp1)
    exp2 = "see <url> and http://a.b/c".lower()
    # http:// (no s) IS matched by the pattern's s? — recompute exactly:
    exp2 = "see <url> and <url>"
    assert out[2].scrubbed_md5 == hashlib.md5(exp2.encode()).hexdigest()


def test_pii_scrub_plan_is_shuffle_free(spark):
    docs = _docs(spark, [(1, "x")])
    plan = pii_scrub(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_mixture_sample_epoch_semantics(spark):
    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "zh") for i in range(400)],
        "doc_id long, lang string",
    )
    out = mixture_sample(docs, {"en": 2.5}).collect()
    assert all(r.lang == "en" for r in out)  # unlisted langs drop
    per_doc: dict[int, int] = {}
    for r in out:
        per_doc[r.doc_id] = max(per_doc.get(r.doc_id, 0), r.copy)
        assert r.copy >= 1
    assert set(per_doc.values()) == {2, 3}  # 2.5 epochs = 2 or 3 copies
    mean = sum(per_doc.values()) / len(per_doc)
    assert 2.3 < mean < 2.7  # Bernoulli fraction ~0.5
    # determinism across physical layout
    again = sorted(map(tuple, mixture_sample(docs.repartition(9), {"en": 2.5}).collect()))
    assert again == sorted(map(tuple, out))


def test_ngram_jaccard_prefix_filter_is_exact(spark):
    """The prefix-filtering lemma makes ngram_jaccard_pairs EXACT: on a
    random-ish corpus its output must equal brute-force all-pairs
    verification (same shingles, same round-6 threshold) — the property
    that distinguishes it from MinHash blocking, whose recall is only
    probabilistic."""
    import random

    from graphiti_spark.operators.docops import (
        jaccard,
        ngram_jaccard_pairs,
        word_shingles,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    base = [" ".join(rng.choice(vocab) for _ in range(20)) for _ in range(40)]
    rows = [(i, t) for i, t in enumerate(base)]
    # append mutated twins at several edit distances so pairs straddle
    # the threshold from both sides
    for i, t in enumerate(base[:20]):
        words = t.split()
        for _ in range(i % 4):
            words[rng.randrange(len(words))] = rng.choice(vocab)
        rows.append((1000 + i, " ".join(words)))
    docs = _docs(spark, rows)

    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }

    sh = docs.select(
        F.col("doc_id").cast("string").alias("id"),
        word_shingles(F.col("text"), 3).alias("sh"),
    )
    brute = (
        sh.alias("a")
        .join(sh.alias("b"), F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(jaccard(F.col("a.sh"), F.col("b.sh")), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.5)
    )
    want = {(r.id_a, r.id_b, r.jaccard) for r in brute.collect()}
    assert want, "fixture must produce at least one qualifying pair"
    assert got == want


def test_line_dedup_first_occurrence_semantics(spark):
    """CCNet keep rule: a repeated line survives ONLY at its smallest
    (doc_id, pos); unique lines always survive; partial trailing chunks
    dedup like any other line; clean text preserves document order."""
    from graphiti_spark.operators.docops import line_dedup

    boiler = "the quick brown fox jumps over the dog"  # exactly 8 tokens
    docs = _docs(
        spark,
        [
            # doc 0: boiler at pos 0 AND pos 1 (within-doc dup) + unique tail
            (0, f"{boiler} {boiler} alpha beta"),
            # doc 1: boiler again (cross-doc dup) + its own unique line
            (1, f"{boiler} gamma delta"),
            # doc 2: entirely unique, shorter than one window
            (2, "epsilon zeta"),
            # doc 3: duplicates doc 1's trailing partial chunk
            (3, "gamma delta"),
        ],
    )
    out = {r.doc_id: r for r in line_dedup(docs, line_words=8).collect()}

    # doc 0: 3 lines (boiler, boiler, 'alpha beta'); first boiler + tail kept
    assert (out["0"].n_lines, out["0"].n_kept) == (3, 2)
    assert out["0"].text_clean == f"{boiler} alpha beta"
    # doc 1: boiler dropped (doc 0 owns it), 'gamma delta' kept (first)
    assert (out["1"].n_lines, out["1"].n_kept) == (2, 1)
    assert out["1"].text_clean == "gamma delta"
    # doc 2: untouched
    assert out["2"].text_clean == "epsilon zeta"
    # doc 3: its only line is doc 1's partial chunk → everything dropped
    assert (out["3"].n_lines, out["3"].n_kept) == (1, 0)
    assert out["3"].text_clean == ""


def test_new_dedup_ops_plan_shapes(spark):
    """Scale-shape pins: line_dedup is exactly two shuffles (the
    md5(line) dedup window + the per-doc rebuild agg); ngram_jaccard's
    candidate generation and verify are equi-joins only — a plan with a
    cartesian or broadcast-nested-loop node would be doc×doc and die at
    corpus scale."""
    from graphiti_spark.operators.docops import line_dedup, ngram_jaccard_pairs

    docs = _docs(spark, [(i, f"tok{i} alpha beta gamma") for i in range(30)])

    p1 = line_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    assert p1.count("Exchange") == 2
    assert "CartesianProduct" not in p1

    p2 = (
        ngram_jaccard_pairs(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in p2
    assert "BroadcastNestedLoopJoin" not in p2


def test_chunk_documents_overlap_and_edges(spark):
    from graphiti_spark.operators.docops import chunk_documents

    words = [f"w{i}" for i in range(50)]
    docs = _docs(
        spark,
        [
            (1, " ".join(words)),          # 50 tokens → 2 chunks at 32/8
            (2, "only three tokens"),       # short → exactly one chunk
            (3, ""),                        # empty → no chunks
            (4, " ".join(words[:26])),      # 26 ≤ (n-overlap)/stride = 0.75 → 1 chunk
        ],
    )
    out = chunk_documents(docs, chunk_tokens=32, overlap=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, {})[r.chunk_idx] = r

    c1 = by_doc["1"]
    assert sorted(c1) == [0, 1]
    t0, t1 = c1[0].chunk_text.split(), c1[1].chunk_text.split()
    assert t0 == words[:32]
    assert t1 == words[24:50]  # starts at stride=24 → 8-token overlap
    assert t0[-8:] == t1[:8]
    assert by_doc["2"][0].chunk_text == "only three tokens"
    assert len(by_doc["2"]) == 1
    assert "3" not in by_doc
    assert len(by_doc["4"]) == 1 and by_doc["4"][0].n_tokens == 26


def test_leakage_safe_split_keeps_clusters_together(spark):
    """The leakage guard: every near-duplicate pair must land in ONE
    split — raw-id hashing scatters clusters across train/test."""
    from graphiti_spark.operators.docops import (
        hash_split,
        leakage_safe_split,
        near_duplicates,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, f"{base} doc{i} unique{i} marker{i} extra{i} token{i} pad{i}")
            for i in range(60)]
    # twins with ids far from their originals (different raw hash bucket)
    rows += [(7000 + i, rows[i][1].rsplit(" ", 1)[0] + " padX")
             for i in range(30)]
    docs = _docs(spark, rows)

    split = {r.doc_id: r.split for r in leakage_safe_split(docs).collect()}
    pairs = [
        (r.id_a, r.id_b) for r in near_duplicates(docs, threshold=0.5).collect()
    ]
    assert pairs, "fixture must contain near-dup pairs"
    assert all(split[a] == split[b] for a, b in pairs)

    # the guard is not vacuous: raw-id hashing DOES scatter some pair
    raw = {r.doc_id: r.split for r in hash_split(
        docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    ).collect()}
    assert any(raw[a] != raw[b] for a, b in pairs)


def test_chunk_and_line_dedup_conservation_invariants(spark):
    """Global invariants: with overlap=0 the chunks concatenate back to
    the exact token stream (no token lost or duplicated), and line
    dedup keeps exactly one copy of every distinct line corpus-wide."""
    import random

    from graphiti_spark.operators.docops import chunk_documents, line_dedup

    rng = random.Random(11)
    vocab = [f"v{i}" for i in range(40)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 70))))
        for i in range(50)
    ]
    rows.append((99, ""))  # empty doc
    docs = _docs(spark, rows)

    chunks = chunk_documents(docs, chunk_tokens=16, overlap=0).collect()
    rebuilt: dict[str, list] = {}
    for r in sorted(chunks, key=lambda r: (r.doc_id, r.chunk_idx)):
        rebuilt.setdefault(r.doc_id, []).extend(r.chunk_text.split())
    for i, text in rows:
        toks = text.split()
        if toks:
            assert rebuilt[str(i)] == toks
        else:
            assert str(i) not in rebuilt

    out = line_dedup(docs, line_words=8)
    total_kept = out.agg(F.sum("n_kept")).collect()[0][0]
    distinct_lines = set()
    for _, text in rows:
        toks = text.split()
        for s in range(0, len(toks), 8):
            distinct_lines.add(" ".join(toks[s : s + 8]))
    assert total_kept == len(distinct_lines)


def test_line_dedup_string_doc_ids_stay_per_doc(spark):
    """Regression: string doc_ids (the KG side's shape) must not be
    collapsed into one NULL group by a failed cast-to-long — grouping
    stays on the original id, and the keep rule falls back to
    lexicographic first-occurrence."""
    from graphiti_spark.operators.docops import line_dedup

    boiler = "the quick brown fox jumps over the dog"  # exactly 8 tokens
    docs = spark.createDataFrame(
        [
            ("doc-b", f"{boiler} gamma delta"),
            ("doc-a", f"{boiler} alpha beta"),
        ],
        "doc_id string, text string",
    )
    out = {r.doc_id: r for r in line_dedup(docs, line_words=8).collect()}
    assert set(out) == {"doc-a", "doc-b"}          # one row PER doc
    # lexicographic first occurrence: doc-a owns the shared boiler line
    assert out["doc-a"].text_clean == f"{boiler} alpha beta"
    assert (out["doc-b"].n_lines, out["doc-b"].n_kept) == (2, 1)
    assert out["doc-b"].text_clean == "gamma delta"


# ---------------------------------------------------------------------------
# duplicate_spans (exact duplicated substrings)
# ---------------------------------------------------------------------------


def test_duplicate_spans_shared_passage(spark):
    from graphiti_spark.operators.docops import duplicate_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = _docs(spark, [
        (1, "unique one two three " + shared + " tail1 only here"),
        (2, shared + " completely different continuation words four"),
        (3, "no overlap with anything else at all whatsoever"),
    ])
    out = {r.doc_id: (r.span_start, r.span_end, r.n_tokens)
           for r in duplicate_spans(docs, k=8).collect()}
    # doc 1: shared passage occupies token positions 5..12
    assert out["1"] == (5, 12, 8)
    # doc 2: positions 1..8; doc 3: no duplicated k-gram
    assert out["2"] == (1, 8, 8)
    assert "3" not in out


def test_duplicate_spans_merges_overlapping_anchors(spark):
    from graphiti_spark.operators.docops import duplicate_spans

    # 12 shared tokens → 5 overlapping 8-gram anchors in each doc, all
    # merging into ONE maximal span of 12 tokens
    shared = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12"
    docs = _docs(spark, [
        (1, shared + " x1 x2 x3"),
        (2, "y1 y2 " + shared),
    ])
    rows = duplicate_spans(docs, k=8).collect()
    by_doc = {r.doc_id: r for r in rows}
    assert len(rows) == 2
    assert (by_doc["1"].span_start, by_doc["1"].span_end) == (1, 12)
    assert (by_doc["2"].span_start, by_doc["2"].span_end) == (3, 14)
    assert by_doc["1"].n_tokens == 12


def test_duplicate_spans_within_doc_repetition_and_short_docs(spark):
    from graphiti_spark.operators.docops import duplicate_spans

    rep = "r1 r2 r3 r4 r5 r6 r7 r8"
    docs = _docs(spark, [
        (1, rep + " mid1 mid2 " + rep),  # same 8-gram twice in ONE doc
        (2, "too short to gram"),         # < k tokens: no output
    ])
    rows = sorted(
        duplicate_spans(docs, k=8).collect(), key=lambda r: r.span_start
    )
    assert [r.doc_id for r in rows] == ["1", "1"]
    assert (rows[0].span_start, rows[0].span_end) == (1, 8)
    assert (rows[1].span_start, rows[1].span_end) == (11, 18)


# ---------------------------------------------------------------------------
# source_cap (per-domain cap)
# ---------------------------------------------------------------------------


def _src_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string")


def test_source_cap_respects_cap_and_small_sources(spark):
    from graphiti_spark.operators.docops import source_cap

    rows = [(i, "big") for i in range(40)] + [(100 + i, "small") for i in range(3)]
    out = source_cap(_src_docs(spark, rows), cap=10).collect()
    kept = [r for r in out if r.kept]
    assert len(out) == 43  # one row per input doc
    assert sum(1 for r in kept if r.source == "big") == 10
    assert sum(1 for r in kept if r.source == "small") == 3  # under cap: all kept
    ranks = sorted(r.src_rank for r in kept if r.source == "big")
    assert ranks == list(range(1, 11))
    assert all(r.src_rank is None for r in out if not r.kept)


def test_source_cap_salt_count_invariance(spark):
    # the two-phase salted rank must select the SAME top-cap set as a
    # single global rank regardless of salt count (the equivalence the
    # single-window DuckDB oracle relies on)
    from graphiti_spark.operators.docops import source_cap

    rows = [(i, f"s{i % 3}") for i in range(90)]
    base = _src_docs(spark, rows)
    ref = sorted(map(tuple, source_cap(base, cap=7, n_salts=1).collect()))
    for n_salts in (2, 16, 64):
        got = sorted(map(tuple, source_cap(base, cap=7, n_salts=n_salts).collect()))
        assert got == ref, f"n_salts={n_salts} diverged"


def test_dedup_keep_best_prefers_longest(spark):
    """dedup_keep_best keeps the LONGEST doc per near-dup cluster
    (ties → min doc_id), flipping dedup_keep_list's min-id choice when
    the longer twin has the higher id; singletons never appear."""
    from graphiti_spark.operators.docops import dedup_keep_best, dedup_keep_list
    from pyspark.sql import functions as F

    base = "alpha beta gamma delta epsilon zeta eta theta"
    other = "quick brown foxes jumping over many lazy sleeping dogs today"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra tail tokens here"),   # longer twin, higher id
            (3, "completely different text about spark shuffles and joins"),
            (10, other),
            (11, other + " with appended suffix"),
        ],
        "doc_id long, text string",
    )
    best = {r.doc_id: r for r in dedup_keep_best(docs, threshold=0.5).collect()}
    # cluster {1,2}: 2 is longer -> kept; 1 dropped
    assert best["2"].is_kept and not best["1"].is_kept
    assert best["1"].best_doc_id == "2" == best["2"].best_doc_id
    # cluster {10,11}: 11 longer -> kept
    assert best["11"].is_kept and not best["10"].is_kept
    # doc 3 is a singleton: not clustered, absent from the decision table
    assert "3" not in best
    # same clusters as dedup_keep_list, different representative rule
    klist = {r.doc_id: r for r in dedup_keep_list(docs, threshold=0.5).collect()}
    assert set(best) == set(klist)
    assert klist["1"].is_kept and not klist["2"].is_kept  # min-id keeps 1


def test_dedup_keep_best_tie_breaks_min_id(spark):
    from graphiti_spark.operators.docops import dedup_keep_best

    t = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(7, t), (4, t)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in dedup_keep_best(docs, threshold=0.5).collect()}
    assert out["4"].is_kept and not out["7"].is_kept


def test_containment_catches_what_jaccard_misses(spark):
    """A short doc quoted whole inside a much longer one: containment
    1.0 but Jaccard well below any dedup threshold — containment_pairs
    must emit the directional pair, near_duplicates must not."""
    from graphiti_spark.operators.docops import containment_pairs, near_duplicates

    quote = "the quick brown fox jumps over the lazy dog near the river"
    filler = " ".join(f"filler{i} token{i} word{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " " + filler)],
        "doc_id long, text string",
    )
    got = {
        (r.id_contained, r.id_container): r.containment
        for r in containment_pairs(docs, threshold=0.8).collect()
    }
    assert got[("1", "2")] == 1.0
    assert ("2", "1") not in got  # big doc is NOT contained in the quote
    assert near_duplicates(docs, threshold=0.5).count() == 0


def test_containment_max_df_prunes_boilerplate_postings(spark):
    """max_df drops postings for grams shared by more than max_df docs:
    a pair whose EVERY shared gram is corpus-boilerplate is the
    documented recall trade; pairs with any rare shared gram survive."""
    from graphiti_spark.operators.docops import containment_pairs

    boiler = "subscribe to our newsletter for updates and offers today"
    docs = spark.createDataFrame(
        [(i, boiler) for i in range(1, 7)]
        + [(10, "rare unique snippet appears here exactly once more"),
           (11, "padding words " + "rare unique snippet appears here exactly once more")],
        "doc_id long, text string",
    )
    pruned = containment_pairs(docs, threshold=0.8, max_df=3)
    got = {(r.id_contained, r.id_container) for r in pruned.collect()}
    # boilerplate clique (6 docs share every gram, df=6 > 3): pruned away
    assert not any(a in {"1", "2", "3", "4", "5", "6"} for a, _ in got)
    # rare-gram pair survives pruning
    assert ("10", "11") in got
    # without the cap the boilerplate clique is reported
    full = {
        (r.id_contained, r.id_container)
        for r in containment_pairs(docs, threshold=0.8).collect()
    }
    assert ("1", "2") in full and ("10", "11") in full


def test_containment_empty_text_degenerate(spark):
    """Empty/whitespace text yields ZERO shingles (word_shingles
    filters the ''-join) — such docs must never appear as id_contained
    (the containment denominator would be 0) nor crash the operator;
    sub-shingle-width docs get ONE padded shingle and behave
    normally."""
    from graphiti_spark.operators.docops import containment_pairs

    docs = spark.createDataFrame(
        [
            (1, ""),                # zero shingles
            (2, "   "),             # zero shingles after tokenize
            (3, "two words"),       # one padded shingle
            (4, "two words plus some extra tail of text"),
        ],
        "doc_id long, text string",
    )
    rows = containment_pairs(docs, threshold=0.5).collect()
    contained_ids = {r.id_contained for r in rows}
    assert "1" not in contained_ids and "2" not in contained_ids
    # doc 3's single shingle "two words" is a gram of doc 4's text only
    # if it survives as a 3-gram there — either way no crash and any
    # emitted row carries a well-defined containment in (0, 1]
    assert all(0 < r.containment <= 1 for r in rows)


def test_stratified_sample_exact_counts_and_determinism(spark):
    from graphiti_spark.operators.docops import stratified_sample

    docs = spark.createDataFrame(
        [(i, "en" if i % 3 else "de") for i in range(60)],
        "doc_id long, lang string",
    )
    out = stratified_sample(docs, n_per_stratum=5, strata=["lang"]).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r.doc_id)
    assert len(by_lang["en"]) == 5 and len(by_lang["de"]) == 5
    # draw is a property of the id, not the layout
    out2 = stratified_sample(
        docs.repartition(7), n_per_stratum=5, strata=["lang"]
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
    # a stratum smaller than n keeps every row
    small = stratified_sample(docs.where("lang = 'de'").limit(3), 5, ["lang"])
    assert small.count() == 3


def test_stratified_sample_plan_window_group_limit(spark):
    from graphiti_spark.operators.docops import stratified_sample

    docs = spark.createDataFrame(
        [(i, "en") for i in range(100)], "doc_id long, lang string"
    )
    plan = (
        stratified_sample(docs, 5)._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan  # map-side top-n per stratum
