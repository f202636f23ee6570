"""DuckDB oracle SQL — independent re-derivation of every stage.

Each function returns ANSI SQL (DuckDB dialect) that recomputes a
pipeline stage's expected output directly from ``documents`` (the
pre-registered parquet view), using the same corpus arithmetic as
``synth.py``/``corpus.py`` but NONE of the engine code paths: the
engine parses sentences with a regex extractor, scores names with
JW+cosine, propagates components, and window-merges intervals — the
oracle just *generates* the ground truth. Agreement between the two is
therefore a real end-to-end check, not a tautology.

Keep the arithmetic in sync with ``corpus.fact_params`` /
``synth._sentence`` (three mirrors: python, Spark columns, SQL).

The search and maintenance oracles at the end of the module re-derive
the read paths the same way: BM25 and hybrid candidate generation over
``documents``/``embeddings``, RRF, BFS, point-in-time and pagination
reads, the remove-episode cascade, near-dup facts and the E2E
graph-eval harness.
"""

from __future__ import annotations

import re

from . import corpus
from .operators.temporal import predicate_class_map


def _sql_list(values: list[str]) -> str:
    inner = ", ".join("'" + v.replace("'", "''") + "'" for v in values)
    return f"[{inner}]"


ENTITIES = _sql_list(corpus.ENTITIES)
PHRASES = _sql_list([p for _, p in corpus.PREDICATES])
PREDS = _sql_list([n for n, _ in corpus.PREDICATES])
SPEAKERS = _sql_list(corpus.SPEAKERS)

N_E = corpus.N_ENTITIES
N_P = corpus.N_PREDICATES
N_S = len(corpus.SPEAKERS)


def _canon_values() -> str:
    rows = ", ".join(f"('{k}', '{v}')" for k, v in corpus.CANONICAL.items())
    return f"(VALUES {rows}) AS cm(src, tgt)"


# Group-local canonicalization: a surface form maps to its cluster
# canonical ONLY if that canonical form is itself mentioned in the same
# group — otherwise the lone variant is its own canonical (the engine
# discovers components from observed mentions; a singleton component
# canonicalizes to itself).
CANON_CTE = f"""
present AS (
  SELECT DISTINCT group_id, name FROM (
    SELECT group_id, speaker AS name FROM facts WHERE subj_name <> obj_name
    UNION ALL SELECT group_id, subj_name FROM facts WHERE subj_name <> obj_name
    UNION ALL SELECT group_id, obj_name FROM facts WHERE subj_name <> obj_name
  )
),
canon_map AS (
  SELECT p.group_id, p.name,
    CASE WHEN cm.tgt IS NOT NULL
          AND EXISTS (SELECT 1 FROM present q
                      WHERE q.group_id = p.group_id AND q.name = cm.tgt)
         THEN cm.tgt ELSE p.name END AS canonical_name
  FROM present p LEFT JOIN {_canon_values()} ON p.name = cm.src
)"""


def _class_case(col: str) -> str:
    whens = "".join(
        f" WHEN '{p}' THEN '{c}'" for p, c in predicate_class_map().items()
    )
    return f"(CASE {col}{whens} ELSE {col} END)"


# Raw fact parameters per (doc, j) — the shared root CTE.
FACTS_CTE = f"""
docs AS (SELECT CAST(doc_id AS BIGINT) AS d FROM documents),
jj AS (
  SELECT d, CAST(u.j AS BIGINT) AS j
  FROM docs, UNNEST(generate_series(0, CAST(d % 3 AS INT))) AS u(j)
),
params AS (
  SELECT d, j,
    CASE WHEN (d + j) % {corpus.HOT_EVERY} = 0 THEN 0
         ELSE (d*7 + j*13) % {N_E} END AS subj0,
    (d*11 + j*17 + 1) % {N_E} AS obj00,
    (d*3 + j*5) % {N_P} AS pred_i,
    {corpus.BASE_YEAR} + (d // 16 + 3*j) % 10 AS yr,
    (d + j) % {N_S} AS spk
  FROM jj
),
p2 AS (
  SELECT *, CASE WHEN obj00 = subj0 THEN (obj00 + 1) % {N_E} ELSE obj00 END AS obj0
  FROM params
),
facts AS (
  SELECT
    'doc-' || lpad(CAST(d AS VARCHAR), 6, '0') AS doc_id,
    'g' || CAST(d % {corpus.N_GROUPS} AS VARCHAR) AS group_id,
    d, j,
    list_extract({SPEAKERS}, CAST(spk AS INT) + 1) AS speaker,
    list_extract({ENTITIES}, CAST(subj0 AS INT) + 1) AS subj_name,
    list_extract({PREDS}, CAST(pred_i AS INT) + 1) AS predicate,
    list_extract({PHRASES}, CAST(pred_i AS INT) + 1) AS phrase,
    list_extract({ENTITIES}, CAST(obj0 AS INT) + 1) AS obj_name,
    make_timestamp(CAST(yr AS INT), 1, 1, 0, 0, 0) AS valid_at
  FROM p2
)"""

# Canonicalized + deduped edges with provenance counts.
EDGES_CTE = f"""{FACTS_CTE},
{CANON_CTE},
canon AS (
  SELECT f.doc_id, f.group_id,
    cs.canonical_name AS subj_name,
    f.predicate, f.phrase,
    co.canonical_name AS obj_name,
    f.valid_at
  FROM facts f
  JOIN canon_map cs ON cs.group_id = f.group_id AND cs.name = f.subj_name
  JOIN canon_map co ON co.group_id = f.group_id AND co.name = f.obj_name
  WHERE cs.canonical_name <> co.canonical_name
),
dedup AS (
  SELECT group_id, subj_name, predicate, obj_name, valid_at,
    MIN(phrase) AS phrase,
    COUNT(DISTINCT doc_id) AS n_episodes,
    COUNT(*) AS n_mentions
  FROM canon
  GROUP BY 1, 2, 3, 4, 5
),
classed AS (
  SELECT *,
    {_class_case('predicate')} AS pred_class,
    least(subj_name, obj_name) || '~' || greatest(subj_name, obj_name) AS pair
  FROM dedup
),
nxt AS (
  SELECT group_id, pair, pred_class, valid_at,
    lead(valid_at) OVER (PARTITION BY group_id, pair, pred_class ORDER BY valid_at)
      AS next_valid_at
  FROM (SELECT DISTINCT group_id, pair, pred_class, valid_at FROM classed)
),
edges AS (
  SELECT c.group_id, c.subj_name, c.predicate, c.obj_name, c.valid_at,
    n.next_valid_at AS invalid_at,
    CASE WHEN n.next_valid_at IS NOT NULL
         THEN TIMESTAMP '{corpus.BATCH_TIME}' END AS expired_at,
    c.subj_name || ' ' || c.phrase || ' ' || c.obj_name || ' since ' ||
      CAST(year(c.valid_at) AS VARCHAR) || '.' AS fact,
    c.n_episodes, c.n_mentions
  FROM classed c
  JOIN nxt n USING (group_id, pair, pred_class, valid_at)
)"""


# Expected interleaved span sequence, reusable by every span-level
# oracle: defines all_spans(doc_id, "offset", kind, text, media_ref).
# Text span i (1-based) sits at offset (i-1) + (i-1)//k; the media
# span following text span i (k | i) at offset i + (i-1)//k; the
# trailer (d % 7 == 0) after all base spans.
SPANS_CTE = f"""{FACTS_CTE},
cfg AS (
  SELECT d, 1 + d % 3 AS n,
    list_extract({_sql_list([str(k) for k in corpus.MEDIA_K])},
                 CAST((d // 3) % {len(corpus.MEDIA_K)} AS INT) + 1)::INT AS k,
    'doc-' || lpad(CAST(d AS VARCHAR), 6, '0') AS doc_id
  FROM docs
),
tj AS (
  SELECT cfg.*, CAST(u.i AS INT) AS i
  FROM cfg, UNNEST(generate_series(1, CAST(n AS INT))) AS u(i)
),
text_spans AS (
  SELECT tj.doc_id, 'text' AS kind, (i - 1) + (i - 1) // k AS "offset",
    f.speaker || ': ' || f.subj_name || ' ' || f.phrase || ' ' || f.obj_name ||
      ' since ' || CAST(year(f.valid_at) AS VARCHAR) || '.' AS text
  FROM tj JOIN facts f ON f.d = tj.d AND f.j = tj.i - 1
),
media_spans AS (
  SELECT doc_id, 'media' AS kind, i + (i - 1) // k AS "offset", '' AS text
  FROM tj WHERE i % k = 0
),
trailer AS (
  SELECT doc_id, 'media' AS kind, CAST(n + n // k AS INT) AS "offset", '' AS text
  FROM cfg WHERE d % {corpus.MEDIA_TRAILER_EVERY} = 0
),
span_union AS (
  SELECT * FROM text_spans UNION ALL SELECT * FROM media_spans
  UNION ALL SELECT * FROM trailer
),
all_spans AS (
  SELECT doc_id, CAST("offset" AS INT) AS "offset", kind, text,
    CASE WHEN kind = 'media'
         THEN 'img://' || substr(md5(doc_id || ':' || CAST("offset" AS VARCHAR)), 1, 12)
         ELSE '' END AS media_ref
  FROM span_union
)"""


def q_spans() -> str:
    """Expected exploded span sequence (the input invariant surface)."""
    return f"""
WITH {SPANS_CTE}
SELECT doc_id, "offset", kind, text, media_ref FROM all_spans
"""


def q_triples_raw() -> str:
    return f"""
WITH {FACTS_CTE}
SELECT doc_id, group_id, speaker, subj_name, predicate, obj_name,
  subj_name || ' ' || phrase || ' ' || obj_name || ' since ' ||
    CAST(year(valid_at) AS VARCHAR) || '.' AS fact,
  valid_at
FROM facts
WHERE subj_name <> obj_name
"""


def q_mentions_raw() -> str:
    """Per-name raw mention doc counts (speaker-first + endpoints)."""
    return f"""
WITH {FACTS_CTE},
m AS (
  SELECT doc_id, group_id, speaker AS name FROM facts WHERE subj_name <> obj_name
  UNION ALL
  SELECT doc_id, group_id, subj_name FROM facts WHERE subj_name <> obj_name
  UNION ALL
  SELECT doc_id, group_id, obj_name FROM facts WHERE subj_name <> obj_name
)
SELECT group_id, name, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_mentions
FROM m GROUP BY 1, 2
"""


def q_uuid_map() -> str:
    """Expected canonicalization of every mentioned surface form."""
    return f"""
WITH {FACTS_CTE},
{CANON_CTE}
SELECT group_id, name, canonical_name FROM canon_map
"""


def q_nodes() -> str:
    return f"""
WITH {FACTS_CTE},
{CANON_CTE}
SELECT DISTINCT group_id, canonical_name AS name,
  sha256('entity|' || group_id || '|' || lower(canonical_name)) AS uuid
FROM canon_map
"""


def q_edges_resolved() -> str:
    """The flagship: canonical bi-temporal triples."""
    return f"""
WITH {EDGES_CTE}
SELECT group_id, subj_name, predicate, obj_name, fact, valid_at,
  invalid_at, expired_at, n_episodes
FROM edges
"""


def q_edge_invalidation_counts() -> str:
    """Aggregate view of the temporal stage (quick drift detector)."""
    return f"""
WITH {EDGES_CTE}
SELECT group_id,
  COUNT(*) AS n_edges,
  CAST(SUM(CASE WHEN invalid_at IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_invalidated
FROM edges GROUP BY 1
"""


def q_mentions_table() -> str:
    """Episode × canonical entity distinct pairs (MENTIONS edges)."""
    return f"""
WITH {FACTS_CTE},
{CANON_CTE},
m AS (
  SELECT DISTINCT r.doc_id, r.group_id, c.canonical_name AS name FROM (
    SELECT doc_id, group_id, speaker AS name FROM facts WHERE subj_name <> obj_name
    UNION ALL SELECT doc_id, group_id, subj_name FROM facts WHERE subj_name <> obj_name
    UNION ALL SELECT doc_id, group_id, obj_name FROM facts WHERE subj_name <> obj_name
  ) r
  JOIN canon_map c ON c.group_id = r.group_id AND c.name = r.name
)
SELECT doc_id, group_id, name,
  sha256('entity|' || group_id || '|' || lower(name)) AS entity_uuid
FROM m
"""


def q_episode_edges() -> str:
    """Forward pointers (episode → evidenced edge): one row per
    (doc, canonical triple) — the content of the materialized
    episode_edges index, projected onto oracle-comparable columns."""
    return f"""
WITH {EDGES_CTE}
SELECT DISTINCT c.doc_id, c.group_id, c.subj_name, c.predicate,
  c.obj_name, c.valid_at
FROM canon c
"""


def q_communities(max_iters: int = 20) -> str:
    """C1/C2 oracle: synchronous label propagation, fully unrolled.

    Exactly equivalent to ``operators.community.label_propagation``
    (community_operations.py:79-124 semantics): rounds past convergence
    are no-ops (labels are a deterministic function of labels), and an
    oscillating instance is cut at the same ``max_iters`` cap — so
    unrolling the loop as ``max_iters`` chained CTEs reproduces the
    Spark fixpoint bit-for-bit, including the (weight, label) max_by
    tie-break and the final min-member canonical id.
    """
    # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    # round references the previous one three times -> a 3^max_iters
    # plan explosion without it.
    rounds = []
    for i in range(1, max_iters + 1):
        rounds.append(f"""
n{i} AS (
  SELECT a.group_id, a.src, l.community AS nbr_comm, SUM(a.weight) AS w
  FROM adj a JOIN l{i - 1} l ON l.uuid = a.dst
  GROUP BY 1, 2, 3
),
b{i} AS (
  SELECT group_id, src AS uuid, nbr_comm AS new_comm FROM (
    SELECT *, row_number() OVER (
      PARTITION BY group_id, src ORDER BY w DESC, nbr_comm DESC) AS rn
    FROM n{i})
  WHERE rn = 1
),
l{i} AS MATERIALIZED (
  SELECT l.group_id, l.uuid, COALESCE(b.new_comm, l.community) AS community
  FROM l{i - 1} l LEFT JOIN b{i} b ON b.uuid = l.uuid
)""")
    return f"""
WITH {EDGES_CTE},
enodes AS (
  SELECT DISTINCT group_id, canonical_name AS name,
    sha256('entity|' || group_id || '|' || lower(canonical_name)) AS uuid
  FROM canon_map
),
pairs AS (
  SELECT group_id,
    sha256('entity|' || group_id || '|' || lower(subj_name)) AS src,
    sha256('entity|' || group_id || '|' || lower(obj_name)) AS dst
  FROM edges
),
adj AS MATERIALIZED (
  SELECT group_id, src, dst, COUNT(*) AS weight FROM (
    SELECT group_id, src, dst FROM pairs
    UNION ALL SELECT group_id, dst AS src, src AS dst FROM pairs
  ) GROUP BY 1, 2, 3
),
l0 AS MATERIALIZED (SELECT group_id, uuid, uuid AS community FROM enodes),
{", ".join(rounds)},
canon_comm AS (
  SELECT group_id, community, MIN(uuid) AS community_id
  FROM l{max_iters} GROUP BY 1, 2
)
SELECT l.group_id, l.uuid, c.community_id AS community
FROM l{max_iters} l
JOIN canon_comm c ON c.group_id = l.group_id AND c.community = l.community
"""


def q_triple_prf() -> str:
    """Per-group extraction P/R/F1 in integer micro-units — the SQL
    twin of operators/evaluate.py::triple_prf over the expected-triple
    arithmetic (FACTS_CTE). Both the "extracted" and "expected" sides
    are re-derived from the corpus arithmetic (the extracted side with
    the extractor's self-loop filter applied), so a hash match against
    the Spark side — whose extracted set comes from the REAL span-text
    extraction path — verifies extraction fidelity AND the metric
    arithmetic end to end. DuckDB ``//`` = Spark ``DIV`` (both floor),
    and every count is CAST to BIGINT before the final projection so
    no HUGEINT surfaces."""
    ks = _sql_list([str(k) for k in corpus.MEDIA_K])
    return f"""
WITH {FACTS_CTE},
cfgk AS (
  SELECT d,
    CAST(list_extract({ks}, CAST((d // 3) % {len(corpus.MEDIA_K)} AS INT) + 1) AS BIGINT) AS k
  FROM docs
),
gold AS (
  SELECT DISTINCT f.group_id, f.doc_id,
    CAST(f.j + f.j // c.k AS INT) AS off,
    f.speaker, f.subj_name, f.predicate, f.obj_name,
    CAST(year(f.valid_at) AS INT) AS yr
  FROM facts f JOIN cfgk c ON c.d = f.d
),
ext AS (SELECT * FROM gold WHERE subj_name <> obj_name),
ne AS (SELECT group_id, CAST(COUNT(*) AS BIGINT) AS n_extracted FROM ext GROUP BY 1),
ng AS (SELECT group_id, CAST(COUNT(*) AS BIGINT) AS n_expected FROM gold GROUP BY 1),
tp AS (
  SELECT e.group_id, CAST(COUNT(*) AS BIGINT) AS n_tp
  FROM ext e JOIN gold g
    ON g.group_id = e.group_id AND g.doc_id = e.doc_id AND g.off = e.off
   AND g.speaker = e.speaker AND g.subj_name = e.subj_name
   AND g.predicate = e.predicate AND g.obj_name = e.obj_name AND g.yr = e.yr
  GROUP BY 1
),
counts AS (
  SELECT COALESCE(ne.group_id, ng.group_id) AS group_id,
    CAST(COALESCE(ne.n_extracted, 0) AS BIGINT) AS n_extracted,
    CAST(COALESCE(ng.n_expected, 0) AS BIGINT) AS n_expected,
    CAST(COALESCE(tp.n_tp, 0) AS BIGINT) AS n_tp
  FROM ne
  FULL JOIN ng ON ng.group_id = ne.group_id
  LEFT JOIN tp ON tp.group_id = COALESCE(ne.group_id, ng.group_id)
)
SELECT group_id, n_extracted, n_expected, n_tp,
  CAST(CASE WHEN n_extracted > 0 THEN 1000000 * n_tp // n_extracted ELSE 0 END AS BIGINT)
    AS precision_micro,
  CAST(CASE WHEN n_expected > 0 THEN 1000000 * n_tp // n_expected ELSE 0 END AS BIGINT)
    AS recall_micro,
  CAST(CASE WHEN n_extracted + n_expected > 0
       THEN 2000000 * n_tp // (n_extracted + n_expected) ELSE 0 END AS BIGINT)
    AS f1_micro
FROM counts
"""


# ---------------------------------------------------------------------------
# search and maintenance: BM25, hybrid candidate generation, RRF, BFS,
# point-in-time/context-window/pagination reads, remove-episode cascade,
# near-dup facts, and the E2E graph-eval harness.
#
# Cross-engine determinism rules: doubles rounded to 6 decimals after an
# identical-formula computation; hashes via md5 (md5_number_lower on the
# DuckDB side); ties broken by id columns, never by floats alone.
# ---------------------------------------------------------------------------

# tokenizer macro (mirror of operators/search.py::tokenize)
def _toks(col: str) -> str:
    return (
        f"list_filter(string_split_regex(lower({col}), '[^a-z0-9]+'), x -> x <> '')"
    )


def _qterm_values(queries: list[tuple[str, str]]) -> str:
    """(query_id, term) VALUES rows: each query's distinct tokens in
    first-occurrence order (the tokenizer of operators/search.py)."""
    vals = []
    for qid, text in queries:
        seen = []
        for t in re.split(r"[^a-z0-9]+", text.lower()):
            if t and t not in seen:
                seen.append(t)
        vals.extend(f"('{qid}', '{t}')" for t in seen)
    return ", ".join(vals)


BM25_QUERY = "spark join merge window customer"


def q_bm25_docs(k1: float = 1.2, b: float = 0.75) -> str:
    terms = _sql_list(BM25_QUERY.split())
    return f"""
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS id, UNNEST({_toks('text')}) AS term
  FROM documents
),
dl AS (SELECT id, COUNT(*) AS dl FROM toks GROUP BY 1),
stats AS (
  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
),
tf AS (SELECT id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
matched AS (
  SELECT tf.id, tf.term, tf.tf, dl.dl FROM tf JOIN dl USING (id)
  WHERE list_contains({terms}, tf.term)
),
dfreq AS (SELECT term, COUNT(DISTINCT id) AS df FROM matched GROUP BY 1),
scored AS (
  SELECT m.id,
    ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
      * (m.tf * ({k1} + 1))
      / (m.tf + {k1} * (1 - {b} + {b} * m.dl / s.avgdl)) AS w
  FROM matched m JOIN dfreq d USING (term) CROSS JOIN stats s
)
SELECT id, round(SUM(w), 6) AS score FROM scored GROUP BY 1
"""


BM25_MANY_QUERIES = [
    ("q1", BM25_QUERY),
    ("q2", "vector hash stream batch"),
    ("q3", "filter sort table scan"),
]


def q_bm25_many(k1: float = 1.2, b: float = 0.75) -> str:
    """Batched BM25 (one pass, many queries): same math as q_bm25_docs
    with a (query_id, term) VALUES relation joined in at the end —
    mirrors bm25_score_many's single-aggregation shape."""
    values = _qterm_values(BM25_MANY_QUERIES)
    return f"""
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS id, UNNEST({_toks('text')}) AS term
  FROM documents
),
dl AS (SELECT id, COUNT(*) AS dl FROM toks GROUP BY 1),
stats AS (
  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
),
tf AS (SELECT id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
qterms(query_id, term) AS (VALUES {values}),
matched AS (
  SELECT tf.id, tf.term, tf.tf, dl.dl FROM tf JOIN dl USING (id)
  WHERE tf.term IN (SELECT DISTINCT term FROM qterms)
),
dfreq AS (SELECT term, COUNT(DISTINCT id) AS df FROM matched GROUP BY 1),
w AS (
  SELECT m.id, m.term,
    ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
      * (m.tf * ({k1} + 1))
      / (m.tf + {k1} * (1 - {b} + {b} * m.dl / s.avgdl)) AS w
  FROM matched m JOIN dfreq d USING (term) CROSS JOIN stats s
)
SELECT q.query_id, w.id, round(SUM(w.w), 6) AS score
FROM w JOIN qterms q USING (term)
GROUP BY 1, 2
"""


# Query-node batch for the J2 hybrid candidate-gen driver query: the
# query VECTOR is the document's own embedding (vec_id = query_id); the
# fulltext query string is a short literal, like the reference's node
# NAME (get_relevant_nodes feeds node.fulltext_query, a name string —
# search_utils.py:718).
RELEVANT_NODE_QUERIES = [
    ("0", "spark join merge window"),
    ("1", "batch data column order"),
    ("2", "filter value table scan"),
    ("3", "big join batch merge"),
]


def q_relevant_nodes(min_score: float = 0.25, limit: int = 10,
                     k1: float = 1.2, b: float = 0.75) -> str:
    """Full-value oracle for the J2 hybrid candidate generator
    (resolve.get_relevant_nodes): per query, vector-lane cosine
    top-limit strictly above min_score UNION fulltext-lane BM25
    top-limit, both scoped to the query's group (lang), with BM25
    idf/avgdl CORPUS-wide and the group filter applied after scoring —
    the reference's semantics (global Lucene index, then
    ``WHERE m.group_id = $group_id``). A candidate in both lanes
    surfaces once, as lane='vector'."""
    values = _qterm_values(RELEVANT_NODE_QUERIES)
    qids = ", ".join(f"('{qid}')" for qid, _ in RELEVANT_NODE_QUERIES)
    return f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
corpus AS (
  SELECT CAST(d.doc_id AS VARCHAR) AS id, d.lang, e.v
  FROM documents d JOIN emb e ON e.vec_id = d.doc_id
),
qmeta(query_id) AS (VALUES {qids}),
q AS (
  SELECT m.query_id, c.lang AS qlang, c.v AS qv
  FROM qmeta m JOIN corpus c ON c.id = m.query_id
),
vecscored AS (
  SELECT q.query_id, c.id,
    round(list_dot_product(c.v, q.qv)
      / (sqrt(list_dot_product(c.v, c.v))
         * sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
  FROM corpus c JOIN q ON c.lang = q.qlang
),
vec AS (
  SELECT query_id, id, 'vector' AS lane, score FROM vecscored
  WHERE score > {min_score}
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id)
    <= {limit}
),
toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS id, UNNEST({_toks('text')}) AS term
  FROM documents
),
dl AS (SELECT id, COUNT(*) AS dl FROM toks GROUP BY 1),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
tf AS (SELECT id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
qterms(query_id, term) AS (VALUES {values}),
matched AS (
  SELECT tf.id, tf.term, tf.tf, dl.dl FROM tf JOIN dl USING (id)
  WHERE tf.term IN (SELECT DISTINCT term FROM qterms)
),
dfreq AS (SELECT term, COUNT(DISTINCT id) AS df FROM matched GROUP BY 1),
w AS (
  SELECT m.id, m.term,
    ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
      * (m.tf * ({k1} + 1))
      / (m.tf + {k1} * (1 - {b} + {b} * m.dl / s.avgdl)) AS w
  FROM matched m JOIN dfreq d USING (term) CROSS JOIN stats s
),
ftscored AS (
  SELECT qt.query_id, w.id, round(SUM(w.w), 6) AS score
  FROM w JOIN qterms qt USING (term)
  GROUP BY 1, 2
),
ft AS (
  SELECT f.query_id, f.id, 'fulltext' AS lane, f.score
  FROM ftscored f
  JOIN q ON q.query_id = f.query_id
  JOIN corpus c ON c.id = f.id
  WHERE c.lang = q.qlang
  QUALIFY row_number() OVER (PARTITION BY f.query_id ORDER BY f.score DESC, f.id)
    <= {limit}
)
SELECT * FROM vec
UNION ALL
SELECT f.* FROM ft f
WHERE NOT EXISTS (
  SELECT 1 FROM vec v WHERE v.query_id = f.query_id AND v.id = f.id
)
"""


def q_rrf_docs() -> str:
    """RRF of two deterministic lanes over documents: lane1 = n_chars
    desc, lane2 = (doc_id*37) % 101 asc; top-20 each; fused score."""
    return """
WITH l1 AS (
  SELECT CAST(doc_id AS VARCHAR) AS id,
    row_number() OVER (ORDER BY n_chars DESC, CAST(doc_id AS VARCHAR)) - 1 AS rank
  FROM documents QUALIFY rank < 20
),
l2 AS (
  SELECT CAST(doc_id AS VARCHAR) AS id,
    row_number() OVER (ORDER BY (doc_id * 37) % 101, CAST(doc_id AS VARCHAR)) - 1 AS rank
  FROM documents QUALIFY rank < 20
),
u AS (
  SELECT id, 1.0 / (rank + 1) AS contrib FROM l1
  UNION ALL
  SELECT id, 1.0 / (rank + 1) FROM l2
)
SELECT id, round(SUM(contrib), 6) AS score FROM u GROUP BY 1
"""


def q_bfs_globex() -> str:
    """Min-depth BFS (≤3 hops, undirected) from 'Globex' in group g0
    over the canonical edge graph."""
    return f"""
WITH RECURSIVE {EDGES_CTE},
adj AS (
  SELECT subj_name AS a, obj_name AS b FROM edges WHERE group_id = 'g0'
  UNION
  SELECT obj_name, subj_name FROM edges WHERE group_id = 'g0'
),
reach(name, depth) AS (
  SELECT 'Globex', 0
  UNION
  SELECT adj.b, reach.depth + 1 FROM reach JOIN adj ON adj.a = reach.name
  WHERE reach.depth < 3
)
SELECT name, CAST(MIN(depth) AS INT) AS depth FROM reach GROUP BY 1
"""


def q_point_in_time(reference_time: str, last_n: int = 10) -> str:
    return f"""
WITH {FACTS_CTE},
eps AS (
  SELECT DISTINCT doc_id, d,
    'g' || CAST(d % {corpus.N_GROUPS} AS VARCHAR) AS group_id,
    TIMESTAMP '{corpus.EPISODE_EPOCH}' + INTERVAL (d) MINUTE AS valid_at
  FROM facts
),
newest AS (
  SELECT doc_id, group_id, valid_at FROM eps
  WHERE valid_at <= TIMESTAMP '{reference_time}'
  ORDER BY valid_at DESC, doc_id DESC LIMIT {last_n}
)
SELECT doc_id, group_id, valid_at FROM newest
"""


def q_context_window(window_len: int = 3) -> str:
    return f"""
WITH {FACTS_CTE},
eps AS (
  SELECT DISTINCT doc_id, d,
    'g' || CAST(d % {corpus.N_GROUPS} AS VARCHAR) AS group_id,
    TIMESTAMP '{corpus.EPISODE_EPOCH}' + INTERVAL (d) MINUTE AS valid_at
  FROM facts
)
SELECT doc_id, group_id,
  COALESCE(
    string_agg(doc_id, ',') OVER (
      PARTITION BY group_id ORDER BY valid_at, doc_id
      ROWS BETWEEN {window_len} PRECEDING AND 1 PRECEDING
    ), ''
  ) AS prev_ids
FROM eps
"""


def q_pagination(cursor: str = "8", limit: int = 20) -> str:
    return f"""
WITH {FACTS_CTE},
{CANON_CTE},
nodes AS (
  SELECT DISTINCT group_id, canonical_name AS name,
    sha256('entity|' || group_id || '|' || lower(canonical_name)) AS uuid
  FROM canon_map
)
SELECT group_id, name, uuid FROM nodes
WHERE uuid < '{cursor}' ORDER BY uuid DESC LIMIT {limit}
"""


def q_remove_episode_counts(doc_id: str = "doc-000000") -> str:
    """Cascade counts after removing one episode: surviving mentions,
    entities (those mentioned by some other episode), and edges (those
    with provenance beyond the removed episode)."""
    return f"""
WITH {FACTS_CTE},
{CANON_CTE},
m AS (
  SELECT DISTINCT r.doc_id, r.group_id, c.canonical_name AS name FROM (
    SELECT doc_id, group_id, speaker AS name FROM facts WHERE subj_name <> obj_name
    UNION ALL SELECT doc_id, group_id, subj_name FROM facts WHERE subj_name <> obj_name
    UNION ALL SELECT doc_id, group_id, obj_name FROM facts WHERE subj_name <> obj_name
  ) r JOIN canon_map c ON c.group_id = r.group_id AND c.name = r.name
),
canon AS (
  SELECT f.doc_id, f.group_id, cs.canonical_name AS subj_name, f.predicate,
    co.canonical_name AS obj_name, f.valid_at
  FROM facts f
  JOIN canon_map cs ON cs.group_id = f.group_id AND cs.name = f.subj_name
  JOIN canon_map co ON co.group_id = f.group_id AND co.name = f.obj_name
  WHERE cs.canonical_name <> co.canonical_name
)
SELECT
  (SELECT COUNT(*) FROM m WHERE doc_id <> '{doc_id}') AS n_mentions,
  (SELECT COUNT(*) FROM (
     SELECT group_id, name FROM m GROUP BY 1, 2
     HAVING COUNT(CASE WHEN doc_id <> '{doc_id}' THEN 1 END) > 0
   )) AS n_nodes,
  (SELECT COUNT(*) FROM (
     SELECT group_id, subj_name, predicate, obj_name, valid_at FROM canon
     GROUP BY 1, 2, 3, 4, 5
     HAVING COUNT(DISTINCT CASE WHEN doc_id <> '{doc_id}' THEN doc_id END) > 0
   )) AS n_edges
"""


def q_duplicate_pairs() -> str:
    """Expected IS_DUPLICATE_OF pairs: both variants of a designed
    near-dup cluster mentioned in the same group."""
    canon = _canon_values()
    return f"""
WITH {FACTS_CTE},
{CANON_CTE}
SELECT p.group_id,
  least(cm.src, cm.tgt) AS name_a,
  greatest(cm.src, cm.tgt) AS name_b,
  'IS_DUPLICATE_OF' AS name
FROM {canon}
JOIN present p ON p.name = cm.src
WHERE EXISTS (SELECT 1 FROM present q
              WHERE q.group_id = p.group_id AND q.name = cm.tgt)
"""


def q_facts_as_of(t: str = "2019-06-01 00:00:00") -> str:
    """Event-time slice of the bi-temporal edge table."""
    return f"""
WITH {EDGES_CTE}
SELECT group_id, subj_name, predicate, obj_name, valid_at, invalid_at
FROM edges
WHERE valid_at <= TIMESTAMP '{t}'
  AND (invalid_at IS NULL OR invalid_at > TIMESTAMP '{t}')
"""


def q_episode_subgraph(doc_id: str = "doc-000010") -> str:
    """Edges evidenced by one episode (distinct canonical triples that
    doc contributed to)."""
    return f"""
WITH {EDGES_CTE},
docs_edges AS (
  SELECT DISTINCT group_id, subj_name, predicate, obj_name, valid_at
  FROM canon WHERE doc_id = '{doc_id}'
)
SELECT e.group_id, e.subj_name, e.predicate, e.obj_name, e.valid_at, e.invalid_at
FROM edges e JOIN docs_edges USING (group_id, subj_name, predicate, obj_name, valid_at)
"""


def q_near_dup_facts() -> str:
    """Oracle for the near-duplicate fact merge (D8 near-dup lane,
    operators/resolve.merge_near_duplicate_facts): the fixture plants,
    per document, a base fact, a paraphrase variant sharing its
    valid_at ('... indeed.', trigram cosine ≈ 0.9 — far above the 0.6
    reference cutoff) on even docs, and a differently-dated restatement
    on docs % 3 == 0. Expected merge is known by construction: the
    paraphrase folds into the earliest edge (provenance unioned), the
    differently-dated fact survives untouched — the oracle GENERATES
    that outcome; Spark has to reach it through embedding cosine +
    union-find inside the pair group."""
    return """
WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS d FROM documents),
base AS (
  SELECT d,
    2000 + d % 20 AS y,
    'S' || CAST(d AS VARCHAR) || ' partners with O' || CAST(d AS VARCHAR)
      || ' since ' AS stem
  FROM docs
),
merged AS (
  SELECT
    stem || CAST(y AS VARCHAR) || '.' AS fact,
    CAST(y AS VARCHAR) || '-06-01' AS valid_on,
    'ep-' || CAST(d AS VARCHAR) || '-a'
      || CASE WHEN d % 2 = 0 THEN ',ep-' || CAST(d AS VARCHAR) || '-b'
              ELSE '' END AS episodes_csv
  FROM base
),
dated AS (
  SELECT
    stem || CAST(y + 1 AS VARCHAR) || '.' AS fact,
    CAST(y + 1 AS VARCHAR) || '-06-01' AS valid_on,
    'ep-' || CAST(d AS VARCHAR) || '-c' AS episodes_csv
  FROM base WHERE d % 3 = 0
)
SELECT * FROM merged UNION ALL SELECT * FROM dated
"""


def _md5_u32_sql(expr: str) -> str:
    """SQL twin of operators/evaluate._md5_u32 (see that docstring)."""
    return f"CAST(md5_number_lower({expr}) % 4294967296 AS BIGINT)"


def q_graph_eval(
    f1_thr: int = 800_000, ov_thr: int = 800_000
) -> str:
    """SQL twin of the graph_eval driver query: candidate-vs-baseline
    per-episode grading (evaluate.compare_graphs default judge). The
    baseline is the fixture triple set per doc; the candidate is the
    same set deterministically damaged — md5-dropped edges (1 in 5),
    md5-dropped nodes (1 in 11), md5-drifted summaries (1 in 3) — so
    the whole harness, damage included, replays bit-for-bit."""
    tok = (
        "list_filter(list_distinct(string_split_regex(lower({s}), "
        "'[^a-z0-9]+')), x -> x <> '')"
    )
    h_ev = _md5_u32_sql(
        "'ev|' || group_id || '|' || doc_id || '|' || subj_name || '|' "
        "|| predicate || '|' || obj_name"
    )
    h_evn = _md5_u32_sql("'evn|' || group_id || '|' || doc_id || '|' || name")
    h_evs = _md5_u32_sql("'evs|' || group_id || '|' || doc_id || '|' || name")
    tb = tok.format(s="b.summary")
    tc = tok.format(s="c.summary")
    return f"""
WITH {FACTS_CTE},
ev_be AS (
  SELECT DISTINCT group_id, doc_id, subj_name, predicate, obj_name FROM facts
),
ev_bn AS (
  SELECT group_id, doc_id, name,
    name || ' appears in ' || doc_id AS summary
  FROM (SELECT DISTINCT group_id, doc_id, subj_name AS name FROM ev_be
        UNION SELECT DISTINCT group_id, doc_id, obj_name FROM ev_be)
),
ev_ce AS (SELECT * FROM ev_be WHERE {h_ev} % 5 <> 0),
ev_cn AS (
  SELECT group_id, doc_id, name,
    CASE WHEN {h_evs} % 3 = 0
         THEN name || ' drifted entirely ' || doc_id
         ELSE name || ' appears in ' || doc_id END AS summary
  FROM ev_bn WHERE {h_evn} % 11 <> 0
),
ev_ng AS (SELECT group_id, doc_id, COUNT(*) AS n_g FROM ev_be GROUP BY 1, 2),
ev_ne AS (SELECT group_id, doc_id, COUNT(*) AS n_e FROM ev_ce GROUP BY 1, 2),
ev_tp AS (
  SELECT group_id, doc_id, COUNT(*) AS n_tp
  FROM ev_ce JOIN ev_be USING (group_id, doc_id, subj_name, predicate, obj_name)
  GROUP BY 1, 2
),
ev_prf AS (
  SELECT g.group_id, g.doc_id,
    CAST(2000000 * COALESCE(t.n_tp, 0)
         // (COALESCE(e.n_e, 0) + g.n_g) AS BIGINT) AS edge_f1_micro
  FROM ev_ng g
  LEFT JOIN ev_ne e USING (group_id, doc_id)
  LEFT JOIN ev_tp t USING (group_id, doc_id)
),
ev_matched AS (
  SELECT b.group_id, b.doc_id, 1 AS n_base,
    CASE WHEN c.name IS NOT NULL THEN 1 ELSE 0 END AS n_hit,
    CASE WHEN c.name IS NULL THEN NULL
         WHEN len({tb}) = 0 THEN 1000000
         ELSE CAST(FLOOR(1000000.0 * len(list_intersect({tc}, {tb}))
                         / len({tb})) AS BIGINT)
    END AS ov
  FROM ev_bn b
  LEFT JOIN ev_cn c USING (group_id, doc_id, name)
),
ev_nsc AS (
  SELECT group_id, doc_id,
    CAST(1000000 * SUM(n_hit) // SUM(n_base) AS BIGINT) AS node_recall_micro,
    CAST(COALESCE(FLOOR(AVG(ov)), 0) AS BIGINT) AS summary_overlap_micro
  FROM ev_matched GROUP BY 1, 2
)
SELECT p.group_id, p.doc_id,
  COALESCE(p.edge_f1_micro, 0) AS edge_f1_micro,
  COALESCE(n.node_recall_micro, 1000000) AS node_recall_micro,
  COALESCE(n.summary_overlap_micro, 1000000) AS summary_overlap_micro,
  (COALESCE(p.edge_f1_micro, 0) < {f1_thr}
   OR COALESCE(n.node_recall_micro, 1000000) < {ov_thr}
   OR COALESCE(n.summary_overlap_micro, 1000000) < {ov_thr})
  AS candidate_is_worse
FROM ev_prf p
FULL JOIN ev_nsc n USING (group_id, doc_id)
"""


def q_graph_eval_score(
    f1_thr: int = 800_000, ov_thr: int = 800_000
) -> str:
    """SQL twin of graph_eval_score over q_graph_eval's per-episode
    frame (the reference's mean-not-worse aggregate)."""
    inner = q_graph_eval(f1_thr=f1_thr, ov_thr=ov_thr).strip()
    return f"""
WITH ev_per_ep AS ({inner})
SELECT group_id,
  CAST(COUNT(*) AS BIGINT) AS n_episodes,
  CAST(SUM(CASE WHEN candidate_is_worse THEN 0 ELSE 1 END) AS BIGINT)
    AS n_not_worse,
  CAST(1000000 * SUM(CASE WHEN candidate_is_worse THEN 0 ELSE 1 END)
       // COUNT(*) AS BIGINT) AS score_micro
FROM ev_per_ep
GROUP BY group_id
"""
