"""Pluggable classification kernels (reference C1, C4, C5, C6).

Three interchangeable engines, same results contract as the deterministic
column kernels in functions/classify.py:

- vader_kernel     : C1, VADER compound score with contrast-word Mixed rule
                     (survey_analysis.py:118-129); falls back to the
                     lexicon automatically when vaderSentiment is absent,
                     exactly like the reference (:131-136).
- llm_kernel       : C5+C6, OpenAI-compatible chat completion with 5-try
                     exponential backoff (1s doubling, 8s cap) and the
                     (Neutral, No Feedback) failure default
                     (survey_analysis.py:171-217); prompt text preserved.
- stub_kernel      : deterministic fake with the same plumbing as VADER --
                     tests and demo runs exercise Arrow batching at zero
                     cost.

The VADER and stub kernels are ``classifier(question: Column, answer:
Column) -> struct<sentiment string, category string>`` column functions
(Arrow-batched pandas UDFs), the column contract of
plans/survey_pipeline and operators/cache. The LLM kernel has one form,
a driver form: ``classify_batch(pairs, max_parallelism)`` sends one
request per distinct (question, answer) pair from ``max_parallelism``
driver threads (n = at most n requests in flight, the engine's
replacement for the reference's single sequential request loop). The
requests are I/O-bound, so executors are no help, and a pandas-UDF
stage would cost a Python worker launch plus an Arrow round trip per
report.
"""

from __future__ import annotations

import json
import sys
import threading
import time
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from automated_review_analysis_pipeline_spark.functions.classify import (
    CONTRAST_WORDS,
    DEMO_KEYWORDS,
    NEG_LEXICON,
    POS_LEXICON,
)
from automated_review_analysis_pipeline_spark.operators.cache import Classifier

RESULT_TYPE = "sentiment string, category string"

# the result of a key whose every try failed (survey_analysis.py:171-217);
# the survey plans give filler answers the same default (:284-285)
NO_FEEDBACK = ("Neutral", "No Feedback")

# C5 prompt text, byte-identical to the reference's literals
# (survey_analysis.py:182-187) -- with a real key, classifications must
# match the reference's, so the wording cannot drift. Pinned by
# tests/test_llm_kernel.py::test_prompt_text_matches_reference_verbatim.
SYS_PROMPT = ("You are an expert CRM assistant that analyzes online "
              "customer feedback.")


def build_user_prompt(industry: str, question_text: str, answer: str) -> str:
    return (
        "Respond ONLY as JSON with keys 'sentiment' and 'category'.\n"
        f"Industry: {industry}\nQuestion: {question_text}\nAnswer: {answer}\n"
        "Sentiment must be one of: Positive, Neutral, Negative, Mixed. "
        "Category should be 1 to 3 words."
    )

_NORMALIZE = {"positive": "Positive", "neutral": "Neutral",
              "negative": "Negative", "mixed": "Mixed"}


def _normalize_sentiment(s: str) -> str:
    return _NORMALIZE.get((s or "").strip().lower(), "Neutral")


def _demo_category(low: str) -> str:
    for cat, kws in DEMO_KEYWORDS:
        if any(k in low for k in kws):
            return cat
    return "General"


def _lexicon_sentiment(low: str) -> str:
    p = any(w in low for w in POS_LEXICON)
    n = any(w in low for w in NEG_LEXICON)
    return "Mixed" if (p and n) else (
        "Positive" if p else ("Negative" if n else "Neutral"))


def vader_kernel(
    lexicon_dir: str | None = None,
) -> Classifier:
    """C1: VADER compound >= 0.35 -> Positive; <= -0.35 -> Negative;
    |score| < 0.35 with a contrast conjunction -> Mixed; else Neutral
    (survey_analysis.py:118-129).

    The scorer is the ENGINE'S OWN implementation of the published VADER
    algorithm (functions/vader.py, score-exact vs vaderSentiment 3.3.2);
    the word/emoji lexicons load once on the driver -- from
    ``lexicon_dir``, the ``ARAP_VADER_LEXICON_DIR`` env var, or an
    installed vaderSentiment package -- and ride the UDF closure to the
    executors. No lexicon discoverable -> tiny-lexicon fallback, exactly
    like the reference when its optional import fails (:131-137)."""
    from automated_review_analysis_pipeline_spark.functions.vader import (
        build_scorer,
    )

    scorer = build_scorer(lexicon_dir)

    @pandas_udf(RESULT_TYPE)
    def _vader(texts: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for batch in texts:
            sents, cats = [], []
            for t in batch.fillna(""):
                txt = str(t).strip()
                low = txt.lower()
                if scorer is not None:
                    sc = scorer.polarity_scores(txt)["compound"]
                    if sc >= 0.35:
                        s = "Positive"
                    elif sc <= -0.35:
                        s = "Negative"
                    elif any(w in low for w in CONTRAST_WORDS) \
                            and abs(sc) < 0.35:
                        s = "Mixed"
                    else:
                        s = "Neutral"
                else:
                    s = _lexicon_sentiment(low)
                sents.append(s)
                cats.append(_demo_category(low))
            yield pd.DataFrame({"sentiment": sents, "category": cats})

    def classifier(question: Column, answer: Column) -> Column:
        return _vader(answer)

    classifier.uses_vader = scorer is not None
    return classifier


def stub_kernel(tag: str = "Stub") -> Classifier:
    """Deterministic fake LLM: same UDF plumbing (Arrow batches, struct
    result), zero cost. sentiment = lexicon; category = first token
    capitalized or ``tag``."""

    @pandas_udf(RESULT_TYPE)
    def _stub(texts: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for batch in texts:
            low = batch.fillna("").astype(str).str.strip().str.lower()
            sents = low.map(_lexicon_sentiment)
            cats = low.str.split().str[0].fillna("").str.capitalize()
            cats = cats.where(cats != "", tag)
            yield pd.DataFrame({"sentiment": sents, "category": cats})

    def classifier(question: Column, answer: Column) -> Column:
        return _stub(answer)

    return classifier


def llm_kernel(
    industry: str,
    model: str = "gpt-4o-mini",
    max_tokens: int = 40,
    max_retries: int = 5,
    api_base: str | None = None,
    client_factory: Callable[[], object] | None = None,
    base_delay: float = 1.0,
) -> SimpleNamespace:
    """C5+C6: LLM classification via an OpenAI-compatible endpoint.

    Reference-parity details (survey_analysis.py:171-217):
    - system prompt: expert CRM assistant; user prompt embeds Industry,
      Question (raw header text), Answer; JSON response format
    - temperature 0.1, max_tokens 40
    - retry with exponential backoff: 5 tries, 1s doubling, 8s cap
    - terminal failure -> ("Neutral", "No Feedback") + stderr warning
    - empty category -> "No Feedback"

    The kernel carries one form, the driver form
    ``kernel.classify_batch(pairs, max_parallelism)``: classify_with_cache
    sends every key it has to classify through it -- a cache pass's
    misses, or every distinct key of an uncached report. A pool of
    ``max_parallelism`` threads, one client each, sends the requests from
    the driver -- at most that many in flight, 1 being the reference's
    sequential loop -- so no Python worker starts, nothing crosses to
    Arrow and building the kernel needs no SparkContext. Results come
    back in ``pairs`` order; one stderr line counts the keys that fell
    back to the default. Filler answers never reach it: the survey plans
    leave them out of the keys (P3).

    ``client_factory`` injects an OpenAI-compatible client builder (tests
    pass a fake; production default constructs the real one). A client
    that cannot be built raises, like the reference's mode select
    (survey_analysis.py:476-485), instead of defaulting every key;
    ``base_delay`` scales the backoff (tests set ~0 to avoid sleeping).
    """

    def make_client():
        if client_factory is not None:
            return client_factory()
        from openai import OpenAI  # type: ignore
        return OpenAI(**({"base_url": api_base} if api_base else {}))

    def classify_one(client, question: str, ans: str
                     ) -> tuple[str, str] | None:
        """One key's classification; None when it falls back to
        NO_FEEDBACK (every try failed)."""
        delay = base_delay
        for attempt in range(max_retries):
            try:
                resp = client.chat.completions.create(
                    model=model,
                    temperature=0.1,
                    max_tokens=max_tokens,
                    response_format={"type": "json_object"},
                    messages=[
                        {"role": "system", "content": SYS_PROMPT},
                        {"role": "user", "content":
                         build_user_prompt(industry, question, ans)},
                    ],
                )
                content = resp.choices[0].message.content or "{}"
                data = json.loads(content)
                sentiment = _normalize_sentiment(
                    str(data.get("sentiment", "Neutral")))
                category = (data.get("category") or "No Feedback").strip()
                return sentiment, category or "No Feedback"
            except Exception as e:
                if attempt == max_retries - 1:
                    print(f"LLM classify failed after {max_retries} "
                          f"tries: {e}", file=sys.stderr)
                    return None
                time.sleep(delay)
                delay = min(delay * 2, 8.0 * base_delay)
        return None

    def classify_batch(pairs: list[tuple[str, str]], max_parallelism: int
                       ) -> list[tuple[str, str]]:
        local = threading.local()

        def one(pair: tuple[str, str]) -> tuple[str, str] | None:
            if not hasattr(local, "client"):
                local.client = make_client()
            return classify_one(local.client, *pair)

        with ThreadPoolExecutor(max_workers=max_parallelism) as pool:
            results = list(pool.map(one, pairs))
        failed = results.count(None)
        if failed:
            print(f"[warn] LLM classify: {failed} of {len(pairs)} keys fell "
                  f"back to {NO_FEEDBACK} (all {max_retries} tries failed)",
                  file=sys.stderr)
        return [r or NO_FEEDBACK for r in results]

    return SimpleNamespace(classify_batch=classify_batch)
