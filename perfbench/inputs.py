"""Seeded workload inputs and their ground truth.

Both generators write parquet under a work directory; nothing here
starts Spark. The program only ever sees the parquet input; the ground
truth stays in this process for the checks.

- ``template_documents``: a ``documents.parquet`` of seeded doc ids,
  the input ``graphiti_spark.synth.synthesize_episodes`` amplifies into
  the templated corpus (its ground truth comes from
  ``operators.evaluate.expected_triples``).
- ``entity_rich``: an episodes table of random-letter entity names with
  planted near-duplicate variants, plus (in memory) the expected raw
  triples, the expected canonical edge keys and the planted duplicate
  pairs.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from graphiti_spark import corpus

# synthesize_episodes derives doc d + rep * 500009, so doc ids stay
# below that stride to keep replicas distinct.
DOC_ID_SPACE = 500_009

LETTERS = "abcdefghijklmnopqrstuvwxyz"
FIRST_YEAR, LAST_YEAR = 1990, 2024
VARIANT_SUFFIXES = ["Inc", "Co", "Corp", "Ltd", "Group"]


def write_files(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as a directory of ``n_files`` parquet files, so a
    Spark scan of it runs ``n_files`` tasks."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:03d}.parquet"))


def template_documents(seed: int, n_docs: int, out_dir: str, n_files: int) -> str:
    """``<out_dir>/documents.parquet`` with ``n_docs`` distinct seeded
    doc ids; returns ``out_dir`` (the ``sf_dir`` synthesize_episodes
    reads)."""
    ids = sorted(random.Random(seed).sample(range(DOC_ID_SPACE), n_docs))
    write_files(pa.table({"doc_id": pa.array(ids, pa.int64())}),
                os.path.join(out_dir, "documents.parquet"), n_files)
    return out_dir


def _word(rng: random.Random) -> str:
    return rng.choice(LETTERS).upper() + "".join(
        rng.choice(LETTERS) for _ in range(rng.randint(5, 8))
    )


def _variant(rng: random.Random, name: str) -> str:
    """A near-duplicate the resolver must merge: a suffix, or one
    deleted or substituted letter in the second half of the name (an
    early edit costs Jaro-Winkler its prefix bonus and can fall below
    the merge threshold), never a word's first letter (so every word
    still starts upper-case and no predicate phrase can appear inside a
    name)."""
    kind = rng.randrange(3)
    if kind == 0:
        return f"{name} {rng.choice(VARIANT_SUFFIXES)}"
    inner = [i for i in range(len(name) // 2, len(name))
             if name[i] != " " and name[i - 1] != " "]
    i = rng.choice(inner)
    if kind == 1:
        return name[:i] + name[i + 1:]
    letter = rng.choice([c for c in LETTERS if c != name[i]])
    return name[:i] + letter + name[i + 1:]


def _canon_key(name: str) -> tuple[int, str]:
    # the pipeline's canonical member: min by (length, name)
    return (len(name), name)


def entity_rich(
    seed: int,
    out_dir: str,
    n_groups: int,
    n_entities: int,
    n_docs: int,
    n_files: int,
    dup_share: float = 0.1,
    facts_per_pair: int = 3,
) -> dict:
    """Write the entity-rich episodes under ``out_dir``; returns their
    path, the ground truth (``triples``: expected raw triples as
    (group_id, doc_id, offset, speaker, subj, predicate, obj, year);
    ``edges``: expected edge keys; ``planted``: (group_id, name_a,
    name_b) pairs the resolver must merge) and ``n_names``.

    Per group: ``n_entities`` distinct two-word names, ``dup_share`` of
    them with one planted variant. Facts pick an endpoint pair from a
    per-group pool sized so each pair carries ~``facts_per_pair`` facts
    with random predicates and years (so the bi-temporal stage has real
    contradictions to resolve); each endpoint is written as its variant
    half the time."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    speakers = corpus.SPEAKERS
    phrases = corpus.PREDICATES

    # Speakers are entities too: a name starting like one ("Frankqkp
    # ...") earns Jaro-Winkler's prefix bonus and merges with it.
    speaker_prefixes = {sp[:3].lower() for sp in speakers}
    names: list[list[str]] = []
    variant_of: list[dict[str, str]] = []
    for _ in range(n_groups):
        seen: set[str] = set()
        group_names: list[str] = []
        while len(group_names) < n_entities:
            n = f"{_word(rng)} {_word(rng)}"
            if n.lower() not in seen and n[:3].lower() not in speaker_prefixes:
                seen.add(n.lower())
                group_names.append(n)
        variants: dict[str, str] = {}
        for base in rng.sample(group_names, int(n_entities * dup_share)):
            v = _variant(rng, base)
            while v.lower() in seen:
                v = _variant(rng, base)
            seen.add(v.lower())
            variants[base] = v
        names.append(group_names)
        variant_of.append(variants)

    n_facts_est = n_docs * 2
    n_pairs = max(1, n_facts_est // (facts_per_pair * n_groups))
    pairs = []
    for g in range(n_groups):
        pool = []
        for _ in range(n_pairs):
            s, o = rng.sample(names[g], 2)
            pool.append((s, o))
        pairs.append(pool)

    def surface(g: int, base: str) -> str:
        v = variant_of[g].get(base)
        return v if v is not None and rng.random() < 0.5 else base

    epoch = datetime(2024, 1, 1, tzinfo=timezone.utc)
    batch_time = datetime(2025, 1, 1, tzinfo=timezone.utc)
    ep_rows = {k: [] for k in ("doc_id", "group_id", "name", "source",
                               "source_description", "spans", "created_at",
                               "valid_at")}
    triples: list[tuple] = []
    used: list[set[str]] = [set() for _ in range(n_groups)]
    for i in range(n_docs):
        g = i % n_groups
        group_id = f"g{g}"
        doc_id = f"er-{seed}-{i:07d}"
        spans = []
        for off in range(rng.randint(1, 3)):
            s_base, o_base = rng.choice(pairs[g])
            subj, obj = surface(g, s_base), surface(g, o_base)
            pred, phrase = rng.choice(phrases)
            year = rng.randint(FIRST_YEAR, LAST_YEAR)
            speaker = rng.choice(speakers)
            text = f"{speaker}: {subj} {phrase} {obj} since {year}."
            spans.append({"kind": "text", "text": text, "media_ref": "",
                          "offset": off})
            used[g].update((subj, obj))
            triples.append((group_id, doc_id, off, speaker, subj, pred, obj,
                            year))
        for k, v in (("doc_id", doc_id), ("group_id", group_id),
                     ("name", f"episode {doc_id}"), ("source", "message"),
                     ("source_description", "entity-rich benchmark corpus"),
                     ("spans", spans), ("created_at", batch_time),
                     ("valid_at", epoch + timedelta(minutes=i))):
            ep_rows[k].append(v)

    # Ground truth over the names that actually occur: a cluster's
    # canonical member is chosen among its mentioned surface forms.
    planted = []
    canonical: dict[tuple[str, str], str] = {}
    for g in range(n_groups):
        for base, v in variant_of[g].items():
            members = [n for n in (base, v) if n in used[g]]
            if len(members) == 2:
                planted.append((f"g{g}", base, v))
            c = min(members, key=_canon_key) if members else base
            for n in members:
                canonical[(f"g{g}", n)] = c

    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
    ts = pa.timestamp("us", tz="UTC")
    episodes = pa.table({
        "doc_id": pa.array(ep_rows["doc_id"], pa.string()),
        "group_id": pa.array(ep_rows["group_id"], pa.string()),
        "name": pa.array(ep_rows["name"], pa.string()),
        "source": pa.array(ep_rows["source"], pa.string()),
        "source_description": pa.array(ep_rows["source_description"], pa.string()),
        "spans": pa.array(ep_rows["spans"], pa.list_(span_t)),
        "created_at": pa.array(ep_rows["created_at"], ts),
        "valid_at": pa.array(ep_rows["valid_at"], ts),
    })
    path = os.path.join(out_dir, "episodes.parquet")
    write_files(episodes, path, n_files)
    return {
        "episodes": path,
        "triples": triples,
        "edges": canonical_edges(triples, canonical),
        "planted": planted,
        "n_names": sum(len(u) for u in used),
    }


def canonical_edges(triples: list[tuple], canonical: dict) -> set[tuple]:
    """Expected edge keys (group_id, subj, predicate, obj, year): raw
    triples with both endpoints mapped through ``canonical`` ({(group_id,
    name): canonical name}, identity when absent), self-loops dropped."""
    edges = set()
    for g, _doc, _off, _spk, s, p, o, y in triples:
        cs, co = canonical.get((g, s), s), canonical.get((g, o), o)
        if cs != co:
            edges.add((g, cs, p, co, y))
    return edges
