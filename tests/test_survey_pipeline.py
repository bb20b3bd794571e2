"""Survey pipeline: wide build, explode semantics, summary pivot.

Expectations are hand-derived from the reference semantics
(survey_analysis.py:223-354) -- NOT computed by running reference code.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from automated_review_analysis_pipeline_spark.functions.classify import SENTIMENT_ORDER
from automated_review_analysis_pipeline_spark.operators.reshape import (
    parse_products,
    summary_from_wide,
)
from automated_review_analysis_pipeline_spark.plans.survey_pipeline import analyze_wide
from automated_review_analysis_pipeline_spark.sources.survey import (
    SurveySchemaError,
    validate_survey_schema,
)

COLS = ["Email", "Name", "Products", "How was the fit?", "Any other comments?"]
ROWS = [
    # 2 products; positive lexicon hit ("love"); category Fit via "fit"
    ("a@x.com", "Ann", "Alpha Jacket, Delta Watch", "I love the fit", "n/a"),
    # filler products -> Unspecified; mixed (love+late); filler second answer
    ("b@x.com", "Bob", "", "love it but arrived late", "none"),
    # duplicate product tokens kept; emoji stripped; negative ("bad")
    ("c@x.com", "Cy", "Beta, Beta", "bad \U0001F621 quality", "  spaced   out  "),
]


@pytest.fixture(scope="module")
def wide(spark):
    survey = spark.createDataFrame(ROWS, COLS)
    w, b2d = analyze_wide(survey)
    return w.orderBy("ResponseID", "Product").collect(), b2d


def test_row_count_is_sum_of_max1_products(wide):
    rows, _ = wide
    # 2 + 1 + 2 products per response
    assert len(rows) == 5


def test_column_order(spark):
    survey = spark.createDataFrame(ROWS, COLS)
    w, _ = analyze_wide(survey)
    assert w.columns == [
        "ResponseID", "Product",
        "How_was_the_fit?_Answer", "How_was_the_fit?_Sentiment",
        "How_was_the_fit?_Category",
        "Any_other_comments?_Answer", "Any_other_comments?_Sentiment",
        "Any_other_comments?_Category",
    ]


def test_base_to_display(wide):
    _, b2d = wide
    assert b2d == {
        "How_was_the_fit?": "How was the fit?",
        "Any_other_comments?": "Any other comments?",
    }


def test_explode_and_classify_semantics(wide):
    rows, _ = wide
    by_key = {(r["ResponseID"], r["Product"]): r for r in rows}
    # response 1: two products, same classification replicated
    r1a = by_key[("1", "Alpha Jacket")]
    r1b = by_key[("1", "Delta Watch")]
    assert r1a["How_was_the_fit?_Sentiment"] == "Positive"  # "love"
    assert r1a["How_was_the_fit?_Category"] == "Fit"
    assert r1b["How_was_the_fit?_Sentiment"] == "Positive"
    # filler answer short-circuits to (Neutral, No Feedback)
    assert r1a["Any_other_comments?_Sentiment"] == "Neutral"
    assert r1a["Any_other_comments?_Category"] == "No Feedback"
    # response 2: empty Products -> Unspecified; love+late -> Mixed
    r2 = by_key[("2", "Unspecified")]
    assert r2["How_was_the_fit?_Sentiment"] == "Mixed"
    # "late" hits the Shipping keywords before Quality
    assert r2["How_was_the_fit?_Category"] == "Shipping"
    # response 3: duplicate tokens kept -> two Beta rows
    beta_rows = [r for r in rows if r["Product"] == "Beta"]
    assert len(beta_rows) == 2
    # emoji stripped, whitespace collapsed
    assert beta_rows[0]["How_was_the_fit?_Answer"] == "bad quality"
    assert beta_rows[0]["How_was_the_fit?_Sentiment"] == "Negative"
    assert beta_rows[0]["How_was_the_fit?_Category"] == "Quality"
    # non-filler whitespace answer cleans to collapsed form, Neutral/General
    assert beta_rows[0]["Any_other_comments?_Answer"] == "spaced out"
    assert beta_rows[0]["Any_other_comments?_Category"] == "General"


def test_parse_products_unit(spark):
    df = spark.createDataFrame(
        [("a, b,,c",), ("",), (None,), ("x," + "y" * 150,)], ["Products"])
    got = df.select(parse_products(F.col("Products")).alias("p")).collect()
    assert got[0]["p"] == ["a", "b", "c"]
    assert got[1]["p"] == ["Unspecified"]
    assert got[2]["p"] == ["Unspecified"]
    assert got[3]["p"] == ["x", "y" * 100]  # 100-char product cap


def test_summary_pivot(spark):
    survey = spark.createDataFrame(ROWS, COLS)
    w, _ = analyze_wide(survey)
    summary = summary_from_wide(w)
    assert summary.columns == ["Product", "Question", *SENTIMENT_ORDER]
    rows = {(r["Product"], r["Question"]): r for r in summary.collect()}
    # every (product, question) combo present: 4 products x 2 questions
    assert len(rows) == 8
    # total counts = |wide rows| x |questions| = 5 x 2 = 10
    total = sum(
        r["Positive"] + r["Neutral"] + r["Negative"] + r["Mixed"]
        for r in rows.values()
    )
    assert total == 10
    assert rows[("Alpha Jacket", "How_was_the_fit?")]["Positive"] == 1
    assert rows[("Unspecified", "How_was_the_fit?")]["Mixed"] == 1
    assert rows[("Beta", "How_was_the_fit?")]["Negative"] == 2


def test_schema_validation(spark):
    bad = spark.createDataFrame([("a", "b", "c")], ["Email", "Name", "Products"])
    with pytest.raises(SurveySchemaError):
        validate_survey_schema(bad)


def test_detect_survey_language_sampling(spark):
    """P8 diagnostic (survey_analysis.py:95-103, :241-249): first non-null
    sample per question, first identifiable language wins; undetectable
    samples are skipped; all-null surveys yield None."""
    from automated_review_analysis_pipeline_spark.api import detect_survey_language

    schema = ("Email string, Name string, Products string, "
              "Q1 string, Q2 string")
    en = spark.createDataFrame(
        [("e", "n", "P", None, "the quality is good and the fit was right"),
         ("e", "n", "P", "12345", None)], schema)
    assert detect_survey_language(en) == "en"
    es = spark.createDataFrame(
        [("e", "n", "P", "la calidad es muy buena para el precio", "ok")],
        schema)
    assert detect_survey_language(es) == "es"
    empty = spark.createDataFrame([("e", "n", "P", None, None)], schema)
    assert detect_survey_language(empty) is None


def test_sql_surface_matches_dataframe_twin(spark, sf_dir):
    """spark.sql over the registered views must equal the DataFrame-API
    twin (same Catalyst plans underneath), and SQL filters must still
    push into the parquet scan."""
    from automated_review_analysis_pipeline_spark.registry import QUERIES
    from automated_review_analysis_pipeline_spark.sql import sql

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    got = sql(spark, """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
        FROM lineitem WHERE l_shipdate <= TIMESTAMP_NTZ '2000-12-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """, sf_dir)
    twin = QUERIES["q1_pricing_summary"](spark, sf_dir).select(
        "l_returnflag", "l_linestatus", "sum_qty")
    assert [tuple(r) for r in got.collect()] \
        == [tuple(r) for r in twin.collect()]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "l_shipdate" in plan.split(
        "PushedFilters")[1].split("]")[0]


def test_parquet_schema_evolution_merge(spark, tmp_path, sf_dir):
    """A corpus written in two generations (v2 adds a column) must read
    back with mergeSchema=true as the union schema, old rows NULL-filled
    -- the additive-schema-drift contract a long-lived 100 TB corpus
    directory relies on."""
    from pyspark.sql import functions as F

    from automated_review_analysis_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "evolving")
    docs.where(F.col("doc_id") % 2 == 0).write.parquet(out + "/gen=1")
    docs.where(F.col("doc_id") % 2 == 1) \
        .withColumn("quality_tier", F.lit("a")) \
        .write.parquet(out + "/gen=2")
    back = spark.read.option("mergeSchema", "true").parquet(out)
    assert "quality_tier" in back.columns
    assert back.count() == docs.count()
    nulls = back.where(F.col("quality_tier").isNull()).count()
    assert nulls == docs.where(F.col("doc_id") % 2 == 0).count()


def test_orc_roundtrip(spark, tmp_path, sf_dir):
    """documents -> ORC (partitioned by lang) -> read back: content
    identical, lang partition column survives, and a lang filter prunes
    partitions (PartitionFilters in the scan, not a post-filter)."""
    from pyspark.sql import functions as F

    from automated_review_analysis_pipeline_spark.sources.columnar import (
        read_orc,
        write_orc,
    )
    from automated_review_analysis_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_orc")
    write_orc(docs, out, partition_by="lang")
    back = read_orc(spark, out)
    assert sorted(back.columns) == sorted(docs.columns)
    a = sorted(tuple(r) for r in docs.select(*sorted(docs.columns)).collect())
    b = sorted(tuple(r) for r in back.select(*sorted(docs.columns)).collect())
    assert a == b
    one = back.where(F.col("lang") == "en")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan.split(
        "PartitionFilters")[1].split("]")[0]


def test_jsonl_roundtrip(spark, tmp_path):
    """documents -> gzip JSONL (partitioned by lang) -> read with explicit
    schema: content-identical, no corrupt lines, partition pruning intact."""
    from pyspark.sql import functions as F

    from automated_review_analysis_pipeline_spark.sources import jsonl
    from automated_review_analysis_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = str(tmp_path / "docs_jsonl")
    jsonl.write_jsonl(docs, out, partition_by="lang")

    # partition_by moves `lang` into the directory key; read it back out.
    back = jsonl.read_jsonl(
        spark, out,
        schema="doc_id bigint, text string, source string, "
               "_corrupt_record string, lang string")
    stats = jsonl.corrupt_line_stats(back).collect()[0]
    assert stats["n_lines"] == docs.count()
    assert stats["n_corrupt"] == 0

    a = {(r["doc_id"], r["text"], r["lang"], r["source"])
         for r in docs.collect()}
    b = {(r["doc_id"], r["text"], r["lang"], r["source"])
         for r in back.collect()}
    assert a == b

    # a lang-filtered FRESH read only lists that partition directory
    # (corrupt_line_stats cached `back`; cache matching is plan-based,
    # so it must be dropped for the scan to reappear)
    spark.catalog.clearCache()
    fresh = jsonl.read_jsonl(
        spark, out,
        schema="doc_id bigint, text string, source string, "
               "_corrupt_record string, lang string")
    one = fresh.where(F.col("lang") == "en")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan


def test_synthetic_survey_datasource(spark):
    """Custom Python DataSource: deterministic rows, partition layout
    independent of data, end-to-end through the survey pipeline."""
    from automated_review_analysis_pipeline_spark.plans.survey_pipeline import analyze_wide
    from automated_review_analysis_pipeline_spark.sources.synthetic_survey import register

    register(spark)
    df = (spark.read.format("synthetic_survey")
          .option("numRows", 200).option("numPartitions", 4).load())
    assert df.rdd.getNumPartitions() == 4
    rows = df.collect()
    assert len(rows) == 200
    assert df.columns[:3] == ["Email", "Name", "Products"]
    # determinism across re-reads and partition layouts
    df2 = (spark.read.format("synthetic_survey")
           .option("numRows", 200).option("numPartitions", 7).load())
    assert sorted(map(tuple, rows)) == sorted(map(tuple, df2.collect()))
    # the generated shape drives the full reference pipeline
    wide, _ = analyze_wide(df)
    out = wide.collect()
    assert len(out) >= 200  # explode fans out multi-product rows
    assert "How_was_your_experience?_Sentiment" in wide.columns


@pytest.mark.parametrize("partitions", [None, 7])
def test_response_id_is_scan_position(spark, tmp_path, partitions):
    """ResponseID = source row position + 1 (survey_analysis.py:292) on a
    multiLine CSV whose cells hold quoted newlines, commas and pandas NA
    tokens, read through read_survey_csv and run through the CLI plan.
    Each response's Products cell is a unique token, so every wide row
    names the CSV row it came from. The CSV read is one partition, so
    its scan position is the csv.reader position. Repartitioned to 7,
    the scan order is partition then position: the zipWithIndex order
    of the (pinned) input."""
    import csv

    from automated_review_analysis_pipeline_spark.plans.survey_pipeline import (
        analyze_wide_cached,
        demo_classifier,
    )
    from automated_review_analysis_pipeline_spark.sources.survey import (
        PANDAS_NA_TOKENS,
        read_survey_csv,
    )

    path = str(tmp_path / "survey.csv")
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(["Email", "Name", "Products", "Q1, the fit", "Q2"])
        for i in range(1200):
            na = PANDAS_NA_TOKENS[i % len(PANDAS_NA_TOKENS)]
            w.writerow([
                f"u{i}@x.com", f"Doe, J{i}",
                f"P{i}, R{i}" if i % 3 else f"P{i}",
                na if i % 4 == 0 else f'love it, "{i}"\nsecond line',
                f"line one\r\nline, two {i}" if i % 5 else na,
            ])
    with open(path, newline="", encoding="utf-8") as f:
        expected = {r[2].split(",")[0]: pos + 1
                    for pos, r in enumerate(list(csv.reader(f))[1:])}

    survey = read_survey_csv(spark, path)
    if partitions:
        survey = survey.repartition(partitions).localCheckpoint()
        assert survey.rdd.getNumPartitions() == partitions
        expected = {r["Products"].split(",")[0]: n + 1
                    for r, n in survey.rdd.zipWithIndex().collect()}
    wide, _ = analyze_wide_cached(survey, demo_classifier, "retail",
                                  str(tmp_path / "cache"))
    rows = wide.collect()
    assert len(rows) == 1200 + 800
    got = {}
    for r in rows:
        token = r["Product"].replace("R", "P")
        assert got.setdefault(token, r["ResponseID"]) == r["ResponseID"]
    assert got == {p: str(n) for p, n in expected.items()}
