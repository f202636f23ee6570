"""Extraction kernel equivalence (X1/X3): ``extract_triples`` runs the
rule-based extractor as one pure-Catalyst ``regexp_*`` kernel, which must
parse byte-identically to the pandas reference ``extract`` (Python re):
same backtracking splits, cleaning, self-loop drop, reflexion fallback.
Extractors with only ``extract(pdf)`` (the LLM plug point) run through
``mapInPandas``."""

from __future__ import annotations

import re

import pandas as pd
import pytest

from graphiti_spark.operators.extract import RuleBasedExtractor, extract_triples

TRICKY = [
    "Alice: Acme Corp works for Big Co since 2015.",
    "Bob: J. Smith left Wonka Works since 2017.",
    "junk line with no structure",
    "Cyd: A works for B works for C since 2001.",  # phrase inside object
    "Dee: X​ works for Y since 1999.",  # zero-width char cleaned
    "Eve: Solo partners with Solo since 2010.",  # self-loop dropped
    "Fay: Thing works for Other.",  # fallback shape (no year)
]


# Line breaks and non-ASCII digits, where java.util.regex and Python re
# differ by default ('.', '$', '\\d').
LINE_BREAKS = [
    "Ann: Acme works for Globex since 2001.\n",  # '$' before a final \n
    "Ann: Acme works for Globex since 2001.\n\n",
    "Ann: Acme works for Globex since 2001.\u0085",
    "Ann: Ac\u2028me works for Globex since 2002.",
    "Ann: Ac\nme works for Globex since 2003.",
    "Ann: Acme works for Globex since \u0661\u0662\u0663\u0664.",
    "Fay: Thing works for Other.\n",
]


def _pdf(texts=TRICKY):
    return pd.DataFrame(
        {
            "doc_id": [f"d{i}" for i in range(len(texts))],
            "group_id": ["g"] * len(texts),
            "offset": pd.array(range(len(texts)), dtype="int32"),
            "episode_valid_at": pd.to_datetime("2025-01-01", utc=True),
            "text": texts,
        }
    )


def _native_and_pandas(spark, ex, pdf):
    want = ex.extract(pdf).sort_values("doc_id").reset_index(drop=True)
    got = (
        ex.extract_native(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    # toPandas returns naive UTC timestamps; align dtypes only
    for c in ("valid_at", "episode_valid_at"):
        got[c] = pd.to_datetime(got[c], utc=True)
        want[c] = pd.to_datetime(want[c], utc=True)
    return got, want


@pytest.mark.parametrize("reflexion", [False, True])
def test_native_kernel_matches_pandas_kernel(spark, reflexion):
    """The Catalyst kernel (java.util.regex) must split the TRICKY
    corpus exactly like the pandas kernel (Python re) — same lazy
    quantifier backtracking, alternation order, cleaning, ns-range
    NULLing, reflexion fallback."""
    got, want = _native_and_pandas(
        spark, RuleBasedExtractor(reflexion=reflexion), _pdf()
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert len(got) == (5 if reflexion else 4)


@pytest.mark.parametrize("reflexion", [False, True])
def test_native_kernel_matches_pandas_on_line_breaks(spark, reflexion):
    """A sentence ending in one newline parses (Python's '$' matches
    before it) without leaving the newline in the year field, where an
    ANSI-mode to_timestamp would fail the job; other line breaks and
    non-ASCII digits never match in either kernel."""
    got, want = _native_and_pandas(
        spark, RuleBasedExtractor(reflexion=reflexion), _pdf(LINE_BREAKS)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert list(got["subj_name"]) == (
        ["Acme", "Ac\u2028me", "Acme", "Thing"] if reflexion else ["Acme", "Ac\u2028me"]
    )


def test_native_kernel_is_pure_codegen(spark):
    """The default extract_triples must be pure JVM: no Python eval
    node of any kind in the executed plan, and the regexp projection
    inside a WholeStageCodegen span."""
    from graphiti_spark.synth import synthesize_episodes
    from tests.conftest import SF_SMOKE

    eps = synthesize_episodes(spark, SF_SMOKE)
    df = extract_triples(eps)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in ("MapInArrow", "MapInPandas", "EvalPython", "ArrowEval"):
        assert node not in plan, plan[:1500]
    # executedPlan().toString() marks WholeStageCodegen spans with the
    # "*(n)" prefix; the regexp projection must carry one.
    assert re.search(r"\*\(\d+\) Project \[doc_id", plan), plan[:1500]


def test_custom_pandas_extractor_still_routes_mapinpandas(spark):
    from graphiti_spark.synth import synthesize_episodes
    from tests.conftest import SF_SMOKE

    class PandasOnly:
        def extract(self, pdf):
            return RuleBasedExtractor().extract(pdf)

    eps = synthesize_episodes(spark, SF_SMOKE)
    df = extract_triples(eps, extractor=PandasOnly())
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, plan[:1500]
    # and the two paths produce identical rows
    default_rows = {tuple(r) for r in extract_triples(eps).collect()}
    pandas_rows = {tuple(r) for r in df.collect()}
    assert default_rows == pandas_rows
