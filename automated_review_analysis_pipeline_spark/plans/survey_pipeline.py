"""The survey analysis pipeline as ONE lazy Spark plan.

Reference flow (survey_analysis.py:223-317, the `analyze_dataframe_wide`
row loop): per response, clean each answer, short-circuit filler to
(Neutral, No Feedback), classify once, then replicate the per-question
triplets into one output row per product. Here the row loop disappears:

    scan -> number rows -> clean columns -> classify columns
         -> explode(products) -> [ResponseID, Product, triplets...]

Rows are numbered by a window inside the plan (:func:`with_response_id`),
so neither plan persists anything.

A column kernel follows the contract ``classifier(question: Column,
answer: Column) -> struct<sentiment, category>``; :func:`analyze_wide`
applies it inline per question column with ``F.lit(question)``.
:func:`analyze_wide_cached` stacks the cleaned answers into one
(industry, question, answer) key frame and hands it to
operators/cache.classify_with_cache -- the single memo-cache
implementation, one cache lookup -- then joins every question back to
ONE broadcast of the results (one BroadcastExchange, Q-1 reuses). The
API kernel has only a driver form (``classify_batch``), so every report
it classifies goes through that pass: :func:`analyze_wide` hands it to
:func:`analyze_wide_cached` with no cache path, the reference's
per-run dict, and each distinct key is classified once.

Plan-construction discipline:

* classify-before-explode (reference R2): each response is classified once
  and the triplets replicate per product. Catalyst will not reorder across
  a nondeterministic UDF kernel, so the pipeline emits this order itself.
* staged selects: clean_text (two regexp_replace passes) is aliased in its
  own projection and everything downstream references the ATTRIBUTE, not
  the expression. CollapseProject declines to inline non-cheap expressions
  referenced more than once, so the regex runs once per (row, question)
  instead of once per lexicon term -- this keeps both runtime and
  plan-compile time linear in |questions|.
"""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from automated_review_analysis_pipeline_spark.functions.classify import (
    keyword_category,
    lexicon_sentiment,
)
from automated_review_analysis_pipeline_spark.functions.text import (
    clean_text,
    is_filler,
    sanitize_base,
)
from automated_review_analysis_pipeline_spark.operators.cache import (
    Classifier,
    classify_with_cache,
)
from automated_review_analysis_pipeline_spark.operators.reshape import explode_products
from automated_review_analysis_pipeline_spark.sources.survey import question_columns


def demo_classifier(question: Column, answer: Column) -> Column:
    """Deterministic demo kernel (C2 lexicon sentiment + C3 keyword
    category) -- pure column expressions, SQL-oracle-checkable."""
    return F.struct(
        lexicon_sentiment(answer).alias("sentiment"),
        keyword_category(answer).alias("category"),
    )


def with_response_id(df: DataFrame, id_col: str | None = None) -> DataFrame:
    """ResponseID = str(source row position + 1) (survey_analysis.py:292).

    Without ``id_col`` rows are numbered in scan order -- partition, then
    position -- by ``row_number()`` over ``monotonically_increasing_id()``,
    inside the plan: no extra job and nothing persisted. The window has
    no partition key, so it runs in one task; a multiLine survey CSV is a
    non-splittable scan and is already one task. Callers at scale pass
    ``id_col`` (a stable key) and skip numbering entirely.
    """
    if id_col is not None:
        return df.withColumn("ResponseID", F.col(id_col).cast("string"))
    scan_order = Window.orderBy(F.monotonically_increasing_id())
    return df.withColumn("ResponseID",
                         F.row_number().over(scan_order).cast("string"))


def _staged_clean(survey: DataFrame, id_col: str | None):
    """Stage 1 shared by the cached and uncached plans: ResponseID +
    products column + every question column cleaned once (null -> "nan"
    first: the reference str()s every cell, survey_analysis.py:283)."""
    questions = [q for q in question_columns(survey) if q != id_col]
    base_to_display = {sanitize_base(q): q for q in questions}
    bases = [sanitize_base(q) for q in questions]
    products_col = survey.columns[2]
    df = with_response_id(survey, id_col).select(
        "ResponseID",
        products_col,
        *[clean_text(F.coalesce(F.col(q), F.lit("nan"))).alias(f"{b}_Answer")
          for q, b in zip(questions, bases)],
    )
    return df, questions, bases, products_col, base_to_display


def _api_bound(classifier: Classifier, max_chars: int) -> Classifier:
    """P6: a kernel with a driver form (the API kernel) sees only the
    first ``max_chars`` code points of each answer, like the reference's
    ``ans_for_api = ans[:max_chars]`` (survey_analysis.py:264-265); the
    column kernels (demo/VADER) score the full cleaned answer (:263)."""
    batch = getattr(classifier, "classify_batch", None)
    if batch is None:
        return classifier
    return SimpleNamespace(classify_batch=lambda pairs, n: batch(
        [(q, a[:max_chars]) for q, a in pairs], n))


def _finalize_wide(df: DataFrame, bases: list[str],
                   products_col: str) -> DataFrame:
    """Stage 3 shared by both plans: explode AFTER classification
    (classify once per response, replicate per product), flatten
    triplets in question order."""
    df = explode_products(df, products_col=products_col, out_col="Product")
    ordered: list[Column] = [F.col("ResponseID"), F.col("Product")]
    for b in bases:
        ordered.extend([
            F.col(f"{b}_Answer"),
            F.col(f"__res_{b}.sentiment").alias(f"{b}_Sentiment"),
            F.col(f"__res_{b}.category").alias(f"{b}_Category"),
        ])
    return df.select(*ordered)


def analyze_wide(
    survey: DataFrame,
    classifier: Classifier = demo_classifier,
    id_col: str | None = None,
    max_chars: int = 600,
) -> tuple[DataFrame, dict[str, str]]:
    """Survey DataFrame -> (wide result, base->display-name map).

    Wide schema (FIXTURES.md C1): ResponseID, Product, then per question q
    the triplet {base}_Answer, {base}_Sentiment, {base}_Category in original
    question order. Row count = sum over responses of max(1, #products).

    A kernel with a driver form (``classify_batch``, the API kernel) is
    handed to :func:`analyze_wide_cached` with no cache path: one collect
    of the distinct non-filler keys, each classified once from the driver
    (the reference's run-scoped dict, survey_analysis.py:257-273), no
    file written. A column kernel stays inline in the plan.

    ``max_chars`` caps ONLY the text handed to the API kernel --
    reference P6 truncates just the API-bound string
    (survey_analysis.py:264-265, ``ans_for_api = ans[:max_chars]``)
    while the demo/VADER path scores the full cleaned answer (:263). The
    emitted _Answer column is always uncapped, and the cache key uses
    the full answer (:259).
    """
    if hasattr(classifier, "classify_batch"):
        return analyze_wide_cached(survey, classifier, "", None, id_col,
                                   max_chars)
    df, questions, bases, products_col, base_to_display = \
        _staged_clean(survey, id_col)

    # Stage 2: classify from the cleaned ATTRIBUTE (not the regex expr).
    # Filler short-circuit (P3, survey_analysis.py:284-285) picks the
    # output for filler rows.
    res_cols = []
    for q, b in zip(questions, bases):
        ans = F.col(f"{b}_Answer")
        res = F.when(
            is_filler(ans),
            F.struct(F.lit("Neutral").alias("sentiment"),
                     F.lit("No Feedback").alias("category")),
        ).otherwise(classifier(F.lit(q), ans))
        res_cols.append(res.alias(f"__res_{b}"))
    df = df.select("*", *res_cols)

    return _finalize_wide(df, bases, products_col), base_to_display


def analyze_wide_cached(
    survey: DataFrame,
    classifier: Classifier,
    industry: str,
    cache_path: str | None,
    id_col: str | None = None,
    max_chars: int = 600,
    max_parallelism: int | None = None,
) -> tuple[DataFrame, dict[str, str]]:
    """analyze_wide with the reference's memo cache wired in (C7,
    survey_analysis.py:257-273): every distinct non-filler (industry,
    question-header, answer) key is classified ONCE through
    classify_with_cache -- one collect looks every key up in the cache,
    only misses are classified and appended as one file -- and every
    question joins back to one broadcast of those results. Filler rows
    never enter the cache (the reference short-circuits BEFORE
    get_sent_cat, :284-285), and the cache key carries the FULL cleaned
    answer while only API-bound text is truncated (:259, :264-265).

    This is the plan the CLI runs when a cache path is configured, in
    BOTH modes (the reference consults the cache before VADER too) -- a
    reference user's migrated .analysis_cache.json (import_json_cache)
    short-circuits every already-paid classification. With no
    ``cache_path`` the lookup is an empty run-scoped dict and nothing is
    read or written (inline :func:`analyze_wide` with the API kernel).
    ``max_parallelism`` bounds API-mode concurrency: at most that many
    requests in flight from the driver (default: the session's default
    parallelism).

    The results are the collected distinct-key rows, so the plan holds
    no cached relation and no reference to the cache files. Every join
    shares one build side and one key, struct(question, answer): a
    literal-question key would be pushed into each build side."""
    df, questions, bases, products_col, base_to_display = \
        _staged_clean(survey, id_col)
    # degenerate survey (no question columns past the 3 fixed ones):
    # nothing to classify, so no cache pass -- like analyze_wide
    if not questions:
        return _finalize_wide(df, bases, products_col), base_to_display

    spark = survey.sparkSession
    q_names = [str(q).strip() for q in questions]
    pairs = [c for qn, b in zip(q_names, bases)
             for c in (F.lit(qn), F.col(f"{b}_Answer"))]
    keys = df.select(
        F.lit(industry).alias("industry"),
        F.stack(F.lit(len(q_names)), *pairs).alias("question", "answer"),
    ).where(~is_filler(F.col("answer")))
    results = F.broadcast(classify_with_cache(
        keys, _api_bound(classifier, max_chars), spark, cache_path,
        max_parallelism,
    ).select(F.struct("question", "answer").alias("__key"),
             F.col("sentiment").alias("__s"), F.col("category").alias("__c")))

    for qn, b in zip(q_names, bases):
        df = df.withColumn("__key", F.struct(
            F.lit(qn).alias("question"),
            F.col(f"{b}_Answer").alias("answer"),
        )).join(results, "__key", "left")
        # unmatched = filler (excluded from keys) -> the P3 defaults
        df = df.withColumn(f"__res_{b}", F.struct(
            F.coalesce("__s", F.lit("Neutral")).alias("sentiment"),
            F.coalesce("__c", F.lit("No Feedback")).alias("category"),
        )).drop("__key", "__s", "__c")

    return _finalize_wide(df, bases, products_col), base_to_display
