"""Public entry point mirroring the reference CLI surface (S6,
survey_analysis.py:455-461): run(input, industry, output, cache, max_chars).

Mode selection follows the reference (survey_analysis.py:476-485): an
OPENAI_API_KEY in the environment selects the LLM kernel, otherwise the
deterministic demo kernel -- a plan-time decision that swaps the
classification operator, nothing else.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automated_review_analysis_pipeline_spark.operators.classify import llm_kernel
from automated_review_analysis_pipeline_spark.plans.survey_pipeline import (
    analyze_wide,
    demo_classifier,
)
from automated_review_analysis_pipeline_spark.session import (
    driver_frame,
    get_spark,
)
from automated_review_analysis_pipeline_spark.sinks.excel import write_excel_report
from automated_review_analysis_pipeline_spark.sources.survey import read_survey_csv


def detect_survey_language(survey: DataFrame) -> str | None:
    """P8 sampling diagnostic (survey_analysis.py:95-103, :241-249): take
    the first non-null value of each question column, clean it, and return
    the first sample the language heuristic can identify -- log-only, never
    part of the plan. The reference runs langdetect over the same samples;
    here the deterministic stopword-evidence heuristic (language_id)
    substitutes, with 'und' playing langdetect's detection-failure role
    (skip to the next sample)."""
    from automated_review_analysis_pipeline_spark.functions.text import clean_text
    from automated_review_analysis_pipeline_spark.operators.textanalysis import (
        language_id,
    )
    from automated_review_analysis_pipeline_spark.sources.survey import (
        question_columns,
    )

    qcols = question_columns(survey)
    if not qcols:
        return None
    # one aggregate job: first non-null sample per question, in file order
    row = survey.select(*[
        F.first(F.col(q), ignorenulls=True).alias(f"s{i}")
        for i, q in enumerate(qcols)
    ]).first()
    samples = [(i, row[f"s{i}"]) for i in range(len(qcols))
               if row[f"s{i}"] is not None]
    if not samples:
        return None
    langs = (
        driver_frame(survey.sparkSession, samples, "idx int, sample string")
        .select("idx", language_id(clean_text(F.col("sample"))).alias("lang"))
        .collect()
    )
    for _, lang in sorted((r["idx"], r["lang"]) for r in langs):
        if lang != "und":
            return lang
    return None


def run(
    input_path: str,
    industry: str,
    output: str = "data analysis output.xlsx",
    cache: str | None = ".analysis_cache_parquet",
    max_chars: int = 600,
    spark: SparkSession | None = None,
    max_parallelism: int | None = None,
) -> list[str]:
    """CSV in -> Excel report out; returns the report's sheet names.

    Demo mode is fully deterministic end-to-end, like the reference's
    zero-spend demo path (README.md:32). The run persists nothing, so
    repeated runs in one session hold no memory.

    With a ``cache`` path the memo cache is consulted and extended in
    BOTH modes, exactly like the reference's get_sent_cat
    (survey_analysis.py:257-273): distinct non-filler keys are looked up
    in the parquet cache table, only misses reach the classifier, and a
    migrated reference .analysis_cache.json (import_json_cache)
    short-circuits every classification it already paid for.
    ``max_parallelism`` bounds API-mode concurrency (requests in flight
    from the driver). ``cache=None`` keeps only the reference's per-run
    dict: each distinct non-filler key is classified once and nothing is
    read or written (the LLM kernel sends those requests from the driver;
    a column kernel classifies inline in the plan)."""
    from automated_review_analysis_pipeline_spark.plans.survey_pipeline import (
        analyze_wide_cached,
    )

    spark = spark or get_spark(app_name="automated-review-analysis-pipeline")
    survey = read_survey_csv(spark, input_path)

    lang = detect_survey_language(survey)
    if lang:
        print(f"[info] Detected language: {lang}")

    if os.getenv("OPENAI_API_KEY"):
        classifier = llm_kernel(industry)
    else:
        # Demo mode mirrors the reference's optional-import ladder
        # (survey_analysis.py:41-48, 118-137): VADER when a lexicon is
        # available (in-engine scorer, functions/vader.py), else the
        # deterministic tiny-lexicon kernel -- which stays a pure column
        # expression (the fast, whole-stage-codegen path).
        from automated_review_analysis_pipeline_spark.operators.classify import (
            vader_kernel,
        )

        candidate = vader_kernel()
        classifier = candidate if candidate.uses_vader else demo_classifier

    if cache:
        wide, base_to_display = analyze_wide_cached(
            survey, classifier, industry, cache, max_chars=max_chars,
            max_parallelism=max_parallelism)
    else:
        wide, base_to_display = analyze_wide(
            survey, classifier=classifier, max_chars=max_chars)
    return write_excel_report(wide, output, base_to_display)


def main() -> None:
    import argparse

    p = argparse.ArgumentParser(
        description="PySpark survey review analysis (reference-parity CLI)")
    p.add_argument("--input", required=True)
    p.add_argument("--industry", required=True)
    p.add_argument("--output", default="data analysis output.xlsx")
    p.add_argument("--cache", default=".analysis_cache_parquet")
    p.add_argument("--max-chars", type=int, default=600)
    p.add_argument("--max-parallelism", type=int, default=None,
                   help="bound API-mode concurrency: concurrent API "
                        "streams, at most this many requests in flight "
                        "(1 = the reference's sequential loop); default: "
                        "session parallelism")
    p.add_argument("--import-cache", default=None, metavar="JSON",
                   help="migrate a reference .analysis_cache.json into "
                        "the parquet cache before running (idempotent)")
    p.add_argument("--compact-cache", action="store_true",
                   help="after the run, rewrite the append-only cache "
                        "directory as few-files one-row-per-key parquet "
                        "(crash-safe swap; idempotent)")
    args = p.parse_args()
    if args.import_cache and args.cache:
        from automated_review_analysis_pipeline_spark.operators.cache import (
            import_json_cache,
        )

        spark = get_spark(app_name="automated-review-analysis-pipeline")
        n = import_json_cache(spark, args.import_cache, args.cache)
        print(f"[info] Imported {n} cache entries from {args.import_cache}")
    run(args.input, args.industry, args.output, args.cache, args.max_chars,
        max_parallelism=args.max_parallelism)
    if args.compact_cache and args.cache:
        from automated_review_analysis_pipeline_spark.operators.cache import (
            compact_cache,
        )

        n = compact_cache(
            get_spark(app_name="automated-review-analysis-pipeline"),
            args.cache)
        print(f"[info] Compacted cache to {n} file(s)")


if __name__ == "__main__":
    main()
