"""Mention + triple extraction (reference X1/X3).

The reference extracts per episode with LLM calls —
``extract_nodes`` (graphiti_core/utils/maintenance/node_operations.py:69-176)
and ``extract_edges`` (edge_operations.py:106-240) — returning entity
mentions and (relation_type, source, target, fact, valid_at?) triples,
with the speaker-first rule for message episodes
(prompts/extract_nodes.py:73-110) and SCREAMING_SNAKE_CASE predicates
(prompts/extract_edges.py:26,111).

Here the extractor is pluggable. The default ``RuleBasedExtractor``
is deterministic: it is configured with a relation ontology
(predicate → surface phrase), mirroring how the reference receives
``edge_types`` (graphiti_core/graphiti.py:361-365), and parses
"Speaker: Subj <phrase> Obj since <year>." sentences. It runs as one
Catalyst kernel (``extract_native``: ``regexp_*`` expressions inside
WholeStageCodegen, no Python worker in the stage); its pandas
``extract`` is the reference that kernel is tested against. LLM-backed
extractors offer only ``extract(pdf)`` and run one Arrow batch per
client call through ``mapInPandas``, like the reference's pluggable
LLMClient (llm_client/client.py:129-169).

Scale notes: the input is the exploded text-span table, partitioned by
doc_id hash — extraction is embarrassingly parallel, no shuffle. Media
spans are filtered out before any parse runs (predicate pushdown to the
scan).
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import corpus

TRIPLES_RAW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("group_id", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
        T.StructField("speaker", T.StringType(), True),
        T.StructField("subj_name", T.StringType(), False),
        T.StructField("predicate", T.StringType(), False),
        T.StructField("obj_name", T.StringType(), False),
        T.StructField("fact", T.StringType(), False),
        T.StructField("valid_at", T.TimestampType(), True),
        T.StructField("episode_valid_at", T.TimestampType(), False),
    ]
)


@dataclass
class RuleBasedExtractor:
    """Deterministic extractor over templated message sentences.

    ``ontology``: list of (PREDICATE, surface phrase) — longest phrases
    are tried first so e.g. 'works for' wins over a bare 'works'.
    """

    ontology: list[tuple[str, str]] = field(
        default_factory=lambda: list(corpus.PREDICATES)
    )
    # X2 reflexion: a second pass over sentences the main pattern missed
    # (reference loops ≤ MAX_REFLEXION_ITERATIONS, default 0 —
    # node_operations.py:48-66; helpers.py:38). Our fallback accepts
    # sentences without the ' since <year>' suffix and dates them at the
    # episode's valid_at (the reference's reference_time default).
    reflexion: bool = False

    # X8 input cleaning (LLMClient._clean_input, llm_client/client.py:68-88):
    # strip control / zero-width characters before parsing.
    CLEAN_RE = "[\\x00-\\x08\\x0b-\\x1f\\x7f\\u200b-\\u200d\\ufeff]"

    def __post_init__(self) -> None:
        phrases = sorted((p for _, p in self.ontology), key=len, reverse=True)
        alt = "|".join(re.escape(p) for p in phrases)
        # Non-greedy subject/object lets multi-word entity names work:
        # backtracking stops at the first split where the phrase + the
        # ' since <year>.' suffix both parse. The Catalyst kernel's
        # java.util.regex twins below use the same leftmost-first lazy
        # semantics and alternation order, with unnamed groups (Java
        # rejects (?P<name>...)), so both engines split identically
        # (pinned by tests/test_extract.py and the fuzz test in
        # tests/test_properties.py). re.ASCII makes \d [0-9], as in Java.
        self.pattern = re.compile(
            rf"^(?P<speaker>[^:]+): (?P<subj>.+?) (?P<phrase>{alt}) "
            rf"(?P<obj>.+?) since (?P<year>\d{{4}})\.$",
            re.ASCII,
        )
        self.fallback_pattern = re.compile(
            rf"^(?P<speaker>[^:]+): (?P<subj>.+?) (?P<phrase>{alt}) "
            rf"(?P<obj>.+?)\.$"
        )
        self.phrase_to_pred = {p: name for name, p in self.ontology}
        # (?d): '.' stops only at \n, as in Python. Python's '$' also
        # matches before one final \n; the Java twin consumes that \n
        # (\n?\z) so the rewrite below leaves nothing after the record.
        self._pattern_java = (
            rf"(?d)^([^:]+): (.+?) ({alt}) (.+?) since (\d{{4}})\.\n?\z"
        )
        self._fallback_java = rf"(?d)^([^:]+): (.+?) ({alt}) (.+?)\.\n?\z"

    def extract(self, pdf: pd.DataFrame) -> pd.DataFrame:
        """The pandas reference parse: one batch of text spans →
        parsed triple columns, via a single ``str.extract`` over the
        batch. ``extract_triples`` runs :meth:`extract_native`; the
        kernel tests compare it against this method row for row."""
        cleaned = pdf["text"].str.replace(self.CLEAN_RE, "", regex=True)
        ext = cleaned.str.extract(self.pattern)
        out = pdf[["doc_id", "group_id", "offset", "episode_valid_at"]].copy()
        out["speaker"] = ext["speaker"]
        out["subj_name"] = ext["subj"]
        out["predicate"] = ext["phrase"].map(self.phrase_to_pred)
        out["obj_name"] = ext["obj"]
        # Fact = sentence body without the speaker prefix (the reference
        # stores the extracted natural-language sentence, edges.py:199).
        out["fact"] = cleaned.str.split(": ", n=1).str[1]
        # The cross-kernel contract is the EXPLICIT inclusive range
        # 1678-2261 (what the native kernel clamps to), not pandas' raw
        # ns range: pandas would also accept 2262 (its max is
        # 2262-04-11, so 2262-01-01 parses) and the kernels would
        # disagree on exactly that year — caught by the kernel fuzz
        # test. Mask first, then coerce-parse; the reference's date
        # parse falls back to None on failure
        # (edge_operations.py:207-221).
        yr_num = pd.to_numeric(ext["year"], errors="coerce")
        masked = ext["year"].where((yr_num >= 1678) & (yr_num <= 2261))
        out["valid_at"] = pd.to_datetime(
            masked, format="%Y", utc=True, errors="coerce"
        )
        if self.reflexion:
            missed = out["subj_name"].isna()
            if missed.any():
                fb = cleaned[missed].str.extract(self.fallback_pattern)
                out.loc[missed, "speaker"] = fb["speaker"]
                out.loc[missed, "subj_name"] = fb["subj"]
                out.loc[missed, "predicate"] = fb["phrase"].map(self.phrase_to_pred)
                out.loc[missed, "obj_name"] = fb["obj"]
                out.loc[missed, "valid_at"] = pd.to_datetime(
                    out.loc[missed, "episode_valid_at"], utc=True
                )
        out = out[out["subj_name"].notna()]
        # Distinct-endpoints rule (reference drops self-referential
        # triples, bulk_utils.py:469-471).
        out = out[out["subj_name"] != out["obj_name"]]
        return out[
            [
                "doc_id", "group_id", "offset", "speaker", "subj_name",
                "predicate", "obj_name", "fact", "valid_at", "episode_valid_at",
            ]
        ]

    def extract_native(self, spans: DataFrame) -> DataFrame:
        """The rule-based parse as pure Catalyst expressions — the
        same rows as :meth:`extract`, no Python in the stage.

        One cleaning ``regexp_replace``, one ``rlike`` gate, and one
        anchored ``regexp_replace`` that rewrites the whole matched
        sentence into a ``\\x01``-delimited record (the cleaning pass
        strips ``\\x01`` from the input first, so the delimiter cannot
        collide), then a ``split``: ~4 regex passes per row, all inside
        WholeStageCodegen.
        """
        SEP = "\x01"

        def parse(pattern: str, ngroups: int):
            repl = SEP.join(f"${i}" for i in range(1, ngroups + 1))
            # anchored pattern → at most one match per row, so
            # replace-all is a single full-sentence rewrite
            return F.split(
                F.regexp_replace(F.col("_cleaned"), pattern, repl), SEP
            )

        pred_map = F.create_map(
            *[F.lit(x) for kv in self.phrase_to_pred.items() for x in kv]
        )

        def year_to_ts(year):
            # mirror the pandas reference's ns-bounds contract:
            # years outside 1678-2261 yield NULL valid_at
            y = year.cast("int")
            return F.when(
                y.between(1678, 2261),
                F.to_timestamp(F.concat(year, F.lit("-01-01")), "yyyy-MM-dd"),
            )

        cleaned = spans.withColumn(
            "_cleaned", F.regexp_replace(F.col("text"), self.CLEAN_RE, "")
        )
        matched = F.col("_cleaned").rlike(self._pattern_java)
        # F.get (not []): unmatched rows keep the original sentence,
        # whose split has 1 element — get() NULLs the missing indexes
        # (ANSI mode errors on out-of-bounds [i]); those rows are
        # filtered by _matched anyway.
        p = parse(self._pattern_java, 5)
        speaker, subj, phrase, obj = (F.get(p, i) for i in range(4))
        valid_at = year_to_ts(F.get(p, 4))
        if self.reflexion:
            fb = parse(self._fallback_java, 4)
            use_fb = (~matched) & F.col("_cleaned").rlike(self._fallback_java)
            speaker = F.when(matched, speaker).otherwise(F.get(fb, 0))
            subj = F.when(matched, subj).otherwise(F.get(fb, 1))
            phrase = F.when(matched, phrase).otherwise(F.get(fb, 2))
            obj = F.when(matched, obj).otherwise(F.get(fb, 3))
            valid_at = F.when(matched, valid_at).otherwise(
                F.col("episode_valid_at")
            )
            matched = matched | use_fb
        out = cleaned.select(
            "doc_id",
            "group_id",
            "offset",
            speaker.alias("speaker"),
            subj.alias("subj_name"),
            F.element_at(pred_map, phrase).alias("predicate"),
            obj.alias("obj_name"),
            # fact = sentence body without the speaker prefix
            F.regexp_replace(F.col("_cleaned"), "^[^:]+: ", "").alias("fact"),
            valid_at.alias("valid_at"),
            "episode_valid_at",
            matched.alias("_matched"),
        )
        return out.where(
            F.col("_matched") & (F.col("subj_name") != F.col("obj_name"))
        ).drop("_matched")


class ClientBackedExtractor:
    """X9: the reference's central LLM plug point, Spark-shaped.

    The reference drives extraction through
    ``LLMClient.generate_response`` (graphiti_core/llm_client/
    client.py:129-169): each episode's text goes to the client, which
    returns structured entities/edges (node_operations.py:69-176,
    edge_operations.py:106-240). This wrapper gives any such client the
    scale-correct execution shape: ``extract_triples`` routes it
    through ``mapInPandas``, so the client is invoked executor-side
    once per Arrow batch of text spans — batch your LLM HTTP calls
    inside the callable; never a driver loop over collected rows.

    ``client``: ``(episodes: list[dict]) -> list[list[dict]]`` — for
    each input span dict (keys ``doc_id, group_id, offset, text,
    episode_valid_at``) return a list of triple dicts with keys
    ``speaker, subj_name, predicate, obj_name, fact`` and optional
    ``valid_at`` (datetime / ISO string / None — None falls back to
    NULL, matching the reference's date-parse failure path,
    edge_operations.py:207-221). The client must be deterministic per
    input for resumed runs to stay byte-identical (the same contract
    as ``UdfSummarizer`` / ``UdfCrossEncoder``).

    Reference-side post-filters are applied here so a well-behaved
    client composes with the rest of the pipeline unchanged: empty
    subject/object names are dropped (node_operations.py:148) and
    self-referential triples are discarded (bulk_utils.py:469-471).
    """

    _COLS = [
        "doc_id", "group_id", "offset", "speaker", "subj_name",
        "predicate", "obj_name", "fact", "valid_at", "episode_valid_at",
    ]

    def __init__(self, client):
        self.client = client

    def extract(self, pdf: pd.DataFrame) -> pd.DataFrame:
        episodes = pdf[
            ["doc_id", "group_id", "offset", "text", "episode_valid_at"]
        ].to_dict("records")
        results = self.client(episodes)
        if len(results) != len(episodes):
            # zip would silently truncate (dropping the tail episodes'
            # triples) or, worse, misattribute triples to the wrong
            # episode — fail loudly with the count instead
            raise ValueError(
                "client returned "
                f"{len(results)} result lists for {len(episodes)} episodes; "
                "the contract is one list per input episode, in order"
            )
        out_rows: list[dict] = []
        for ep, triples in zip(episodes, results):
            for t in triples or []:
                out_rows.append(
                    {
                        "doc_id": ep["doc_id"],
                        "group_id": ep["group_id"],
                        "offset": ep["offset"],
                        "speaker": t.get("speaker"),
                        "subj_name": t.get("subj_name"),
                        "predicate": t.get("predicate"),
                        "obj_name": t.get("obj_name"),
                        "fact": t.get("fact"),
                        "valid_at": t.get("valid_at"),
                        "episode_valid_at": ep["episode_valid_at"],
                    }
                )
        out = pd.DataFrame(out_rows, columns=self._COLS)
        out["offset"] = out["offset"].astype("int32")
        # coerce, don't raise: a malformed or out-of-ns-range date from
        # the client (e.g. a '9999-01-01' sentinel) becomes NULL — the
        # documented date-parse failure path (the reference swallows
        # parse errors to None, edge_operations.py:207-221) — instead
        # of killing the whole Spark stage
        out["valid_at"] = pd.to_datetime(out["valid_at"], utc=True, errors="coerce")
        out["episode_valid_at"] = pd.to_datetime(out["episode_valid_at"], utc=True)
        keep = (
            out["subj_name"].fillna("").str.strip().ne("")
            & out["obj_name"].fillna("").str.strip().ne("")
            & (out["subj_name"] != out["obj_name"])
        )
        return out[keep][self._COLS]


def text_spans(episodes: DataFrame) -> DataFrame:
    """Explode spans, keep kind='text' (columnar; media filtered before
    any Python runs)."""
    return (
        episodes.select(
            "doc_id",
            "group_id",
            F.col("valid_at").alias("episode_valid_at"),
            F.explode("spans").alias("span"),
        )
        .where(F.col("span.kind") == "text")
        .select(
            "doc_id",
            "group_id",
            "episode_valid_at",
            F.col("span.text").alias("text"),
            F.col("span.offset").alias("offset"),
        )
    )


def extract_triples(
    episodes: DataFrame, extractor: RuleBasedExtractor | None = None
) -> DataFrame:
    """Episodes → raw triples (one row per parsed sentence).

    An extractor with ``extract_native`` (``RuleBasedExtractor``) runs
    as Catalyst expressions, with no Python worker in the stage. One
    with only ``extract(pdf)`` (the X9 LLM plug point, e.g.
    ``ClientBackedExtractor``) runs through ``mapInPandas``: one Arrow
    batch per client call, the scale-correct shape for remote LLMs.
    """
    ex = extractor or RuleBasedExtractor()
    spans = text_spans(episodes)
    if hasattr(ex, "extract_native"):
        return ex.extract_native(spans)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield ex.extract(pdf)

    return spans.mapInPandas(run, schema=TRIPLES_RAW_SCHEMA)


def extract_mentions(triples_raw: DataFrame) -> DataFrame:
    """Triples → entity mentions. Speaker-first rule: the speaker of a
    message episode is always an extracted entity
    (prompts/extract_nodes.py:79-84), plus subject and object."""
    m = triples_raw.select(
        "doc_id",
        "group_id",
        F.explode(
            F.array(
                F.struct(F.col("speaker").alias("name"), F.lit("speaker").alias("role")),
                F.struct(F.col("subj_name").alias("name"), F.lit("subject").alias("role")),
                F.struct(F.col("obj_name").alias("name"), F.lit("object").alias("role")),
            )
        ).alias("m"),
    ).select("doc_id", "group_id", F.col("m.name").alias("name"), F.col("m.role").alias("role"))
    # Empty-name filter (reference node_operations.py:148).
    return m.where(F.trim(F.col("name")) != "")
