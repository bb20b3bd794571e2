"""Reshaping operators (reference R1-R7): product explode, wide triplets,
melt, summary pivot.

Plan-order discipline (reference §4): classification columns are computed
BEFORE the product explode so each response is classified exactly once and
replicated per product (survey_analysis.py:280-300). Catalyst will not
reorder across a nondeterministic UDF, so the pipeline emits this order
itself; with the deterministic expression kernels the order is still the
cheap one (classify 1 row, fan out N) at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from automated_review_analysis_pipeline_spark.functions.classify import SENTIMENT_ORDER
from automated_review_analysis_pipeline_spark.session import driver_frame

UNSPECIFIED = "Unspecified"
PRODUCT_MAX_CHARS = 100  # survey_analysis.py:292 (prod[:100])


def parse_products(c: Column) -> Column:
    """Comma-packed string -> array of trimmed, non-empty, <=100-char tokens;
    empty/missing -> ["Unspecified"] (survey_analysis.py:276-277, 291-300).

    Duplicate tokens in one cell are KEPT (the reference emits one row per
    token occurrence, not per distinct product).
    """
    # NB: lambda wrapper is load-bearing -- F.trim is binary in Spark 4, and
    # transform() would call it with (element, index).
    toks = F.filter(
        F.transform(F.split(F.coalesce(c.cast("string"), F.lit("")), ","),
                    lambda x: F.trim(x)),
        lambda x: x != "",
    )
    toks = F.transform(toks, lambda x: F.substring(x, 1, PRODUCT_MAX_CHARS))
    return F.when(F.size(toks) == 0, F.array(F.lit(UNSPECIFIED))).otherwise(toks)


def explode_products(df: DataFrame, products_col: str = "Products",
                     out_col: str = "Product") -> DataFrame:
    """One output row per product token (R1). Runs AFTER classification
    columns exist so classify-once-replicate-per-product holds."""
    return df.withColumn(out_col, F.explode(parse_products(F.col(products_col))))


def melt_sentiments(wide: DataFrame) -> DataFrame:
    """Wide -> long (Product, Question, Sentiment) over every *_Sentiment
    column (R5, survey_analysis.py:326-337). Blank/missing -> Neutral."""
    sent_cols = [c for c in wide.columns if c.endswith("_Sentiment")]
    if not sent_cols:
        return driver_frame(
            wide.sparkSession, [],
            "Product string, Question string, Sentiment string")
    pairs = F.array(*[
        F.struct(
            F.lit(c[: -len("_Sentiment")]).alias("Question"),
            F.coalesce(
                F.nullif(F.trim(F.col(c).cast("string")), F.lit("")),
                F.lit("Neutral"),
            ).alias("Sentiment"),
        )
        for c in sent_cols
    ])
    return (
        wide.select("Product", F.explode(pairs).alias("qs"))
        .select("Product", "qs.Question", "qs.Sentiment")
    )


def summary_pivot(long_df: DataFrame) -> DataFrame:
    """(Product, Question, Sentiment) counts pivoted to the fixed enum
    columns, 0-filled, in the reference's column order (A1 + R6 + R7,
    survey_analysis.py:338-354).

    Explicit pivot values => single shuffle (partial+final hash agg), no
    values-discovery job, and the 4 enum columns always exist.
    """
    out = (
        long_df.groupBy("Product", "Question")
        .pivot("Sentiment", list(SENTIMENT_ORDER))
        .count()
        .na.fill(0, list(SENTIMENT_ORDER))
    )
    return out.select("Product", "Question", *SENTIMENT_ORDER)


def summary_from_wide(wide: DataFrame) -> DataFrame:
    """build_summary_from_wide (survey_analysis.py:323-354) as one lazy plan."""
    return summary_pivot(melt_sentiments(wide))
