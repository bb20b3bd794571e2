"""Cache-as-join (C7), UDF kernels, multimodal plumbing, Excel sink."""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from automated_review_analysis_pipeline_spark.operators.cache import (
    KEY_COLS,
    classify_with_cache,
    load_cache,
)
from automated_review_analysis_pipeline_spark.operators.classify import (
    RESULT_TYPE,
    stub_kernel,
    vader_kernel,
)
from automated_review_analysis_pipeline_spark.operators.multimodal import (
    attach_media_features,
    deterministic_fake_decoder,
    real_decoder,
    sample_frames,
)
from automated_review_analysis_pipeline_spark.plans.survey_pipeline import analyze_wide
from automated_review_analysis_pipeline_spark.session import driver_frame


def _assert_no_rdd(df):
    """A frame built from driver data is an Arrow LocalRelation: no
    pickled LogicalRDD, so no Python worker reads it."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan, plan


def _counting_kernel(marker_dir):
    """Column kernel that classifies every answer (Positive, Stub) and
    leaves one executor-side marker file per answer classified (local
    mode: workers share the filesystem)."""
    os.makedirs(marker_dir, exist_ok=True)

    @pandas_udf(RESULT_TYPE)
    def _count(answers: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        import uuid

        for batch in answers:
            for _ in batch:
                open(os.path.join(marker_dir, uuid.uuid4().hex), "w").close()
            yield pd.DataFrame({"sentiment": ["Positive"] * len(batch),
                                "category": ["Stub"] * len(batch)})

    return lambda question, answer: _count(answer)


def test_cache_dedups_and_is_idempotent(spark, tmp_path):
    cache_path = str(tmp_path / "cache_parquet")
    marker = str(tmp_path / "calls")
    _assert_no_rdd(load_cache(spark, cache_path))
    keys = spark.createDataFrame(
        [("retail", "q1", "love it")] * 5 + [("retail", "q1", "meh")] * 3,
        KEY_COLS)
    out = classify_with_cache(keys, _counting_kernel(marker), spark,
                              cache_path)
    assert out.count() == 2          # distinct keys only
    assert len(os.listdir(marker)) == 2   # dedup-before-compute (C7)
    _assert_no_rdd(out)

    # second run: all hits, zero classifier calls
    out2 = classify_with_cache(keys, _counting_kernel(marker), spark,
                               cache_path)
    assert out2.count() == 2
    assert len(os.listdir(marker)) == 2

    cached = load_cache(spark, cache_path)
    assert cached.count() == 2


def test_import_reference_json_cache(spark, tmp_path):
    """A porting user's .analysis_cache.json (the reference's memo format)
    must import losslessly into the parquet cache, skip already-present
    keys on re-import, and make classify_with_cache treat every imported
    key as a hit. Exercised against the reference's own 278-entry golden
    cache."""
    import json

    from automated_review_analysis_pipeline_spark.operators.cache import (
        import_json_cache,
    )

    cache_path = str(tmp_path / "migrated_cache")
    src = "/root/reference/.analysis_cache.json"
    n = import_json_cache(spark, src, cache_path)
    with open(src, encoding="utf-8") as f:
        raw = json.load(f)
    assert n == len(raw) == 278
    cached = load_cache(spark, cache_path)
    assert cached.count() == 278
    # spot-check one entry end-to-end
    key, (sent, cat) = next(iter(raw.items()))
    ind, q, ans = key.split("|||", 2)
    row = cached.where(
        (F.col("industry") == ind) & (F.col("question") == q)
        & (F.col("answer") == ans)).collect()
    assert [(row[0]["sentiment"], row[0]["category"])] == [(sent, cat)]
    # idempotent re-import
    assert import_json_cache(spark, src, cache_path) == 0
    # imported keys are cache HITS: classifier sees zero calls
    keys = spark.createDataFrame(
        [(ind, q, ans)], KEY_COLS)
    marker = str(tmp_path / "calls")
    out = classify_with_cache(keys, _counting_kernel(marker), spark,
                              cache_path)
    assert out.count() == 1 and not os.listdir(marker)


def test_stub_kernel_plumbs_through_pipeline(spark):
    survey = spark.createDataFrame(
        [("a@x", "A", "P1", "love it"), ("b@x", "B", "P2", "bad quality")],
        ["Email", "Name", "Products", "Q1"])
    wide, _ = analyze_wide(survey, classifier=stub_kernel())
    rows = {r["Product"]: r for r in wide.collect()}
    assert rows["P1"]["Q1_Sentiment"] == "Positive"
    assert rows["P1"]["Q1_Category"] == "Love"     # first token capitalized
    assert rows["P2"]["Q1_Sentiment"] == "Negative"


def test_vader_kernel_falls_back_to_lexicon(spark):
    # vaderSentiment absent in this container -> lexicon fallback branch
    survey = spark.createDataFrame(
        [("a@x", "A", "P1", "love it but late")],
        ["Email", "Name", "Products", "Q1"])
    wide, _ = analyze_wide(survey, classifier=vader_kernel())
    r = wide.collect()[0]
    assert r["Q1_Sentiment"] == "Mixed"   # pos+neg lexicon hits
    assert r["Q1_Category"] == "Shipping"  # "late"


def test_multimodal_features(spark):
    media = spark.createDataFrame(
        [(1, bytearray(b"abcdef"), "image/png", 4, 4, None, "s1"),
         (2, None, "image/png", 0, 0, None, "s1")],
        "media_id long, payload binary, mime string, width int, height int, "
        "duration_ms long, source string")
    out = {r["media_id"]: r for r in attach_media_features(media).collect()}
    assert out[1]["n_bytes"] == 6
    assert out[1]["features"][0] == 6.0
    assert out[1]["features"][1] == float(b"a"[0])
    assert out[2]["features"] == [0.0] * 8


def test_resize_media_dims_and_payload(spark):
    from automated_review_analysis_pipeline_spark.operators.multimodal import (
        resize_media,
    )

    media = spark.createDataFrame(
        [(1, bytearray(b"x" * 5000), "image/png", 448, 224),   # downscale 2x
         (2, bytearray(b"y" * 10), "image/png", 100, 50),      # no upscale
         (3, bytearray(b"z" * 5000), "image/png", 10000, 20)], # min-1px clamp
        "media_id long, payload binary, mime string, width int, height int")
    out = {r["media_id"]: r for r in resize_media(media, 224, 224).collect()}
    assert (out[1]["new_width"], out[1]["new_height"]) == (224, 112)
    assert len(out[1]["payload"]) == min(5000, (224 * 112) // 64)
    # smaller than target: untouched dims, payload truncation still applies
    assert (out[2]["new_width"], out[2]["new_height"]) == (100, 50)
    assert len(out[2]["payload"]) == 10
    # extreme aspect ratio: height floors to 0 -> clamped to 1
    assert out[3]["new_width"] == 224
    assert out[3]["new_height"] == 1


def test_real_decoder_is_explicit_stub():
    with pytest.raises(NotImplementedError):
        real_decoder(b"x", "image/png")


def test_media_ahash_and_near_dup_pairs(spark):
    """Perceptual aHash: identical payloads hash equal (hamming 0 pair),
    a one-byte edit flips at most one bucket bit (hamming <= 2 given the
    global-mean shift), unrelated payloads do not pair at the tight
    threshold; the whole pipeline is deterministic."""
    import random

    from automated_review_analysis_pipeline_spark.operators.multimodal import (
        media_ahash,
        media_near_dup_pairs,
    )

    rng = random.Random(11)
    base = bytes(rng.randrange(256) for _ in range(4096))
    edited = bytearray(base)
    edited[100] ^= 0xFF
    other = bytes(rng.randrange(256) for _ in range(4096))
    media = spark.createDataFrame(
        [(1, base, "image/png"), (2, base, "image/png"),
         (3, bytes(edited), "image/png"), (4, other, "image/png")],
        "media_id long, payload binary, mime string")
    hashes = {r["media_id"]: r["ahash"]
              for r in media_ahash(media).collect()}
    assert hashes[1] == hashes[2]
    assert bin(hashes[1] ^ hashes[3]).count("1") <= 2
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in media_near_dup_pairs(media, max_hamming=4).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and (2, 3) in pairs
    assert not any(4 in p for p in pairs)
    again = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in media_near_dup_pairs(media, max_hamming=4).collect()}
    assert again == pairs


def test_frame_sampling_fanout(spark):
    media = spark.createDataFrame(
        [(1, bytearray(b"vid"), "video/mp4", 0, 0, 3500, "s1")],
        "media_id long, payload binary, mime string, width int, height int, "
        "duration_ms long, source string")
    frames = sample_frames(media, every_ms=1000).collect()
    assert [f["frame_ts_ms"] for f in frames] == [0, 1000, 2000, 3000]


def test_excel_sink_inventory(spark, tmp_path):
    from automated_review_analysis_pipeline_spark.sinks.excel import write_excel_report

    survey = spark.createDataFrame(
        [("a@x", "A", "P1, P2", "love it"), ("b@x", "B", "P1", "bad")],
        ["Email", "Name", "Products", "Q1"])
    wide, b2d = analyze_wide(survey)
    sheets = write_excel_report(wide, str(tmp_path / "report.xlsx"), b2d)
    # inventory: one sheet per product + Summary + one chart sheet per product
    assert "Summary" in sheets
    assert "P1" in sheets and "P2" in sheets
    assert any(s.startswith("Charts - ") for s in sheets)
    assert len(sheets) == 5


def test_excel_summary_matches_summary_from_wide(spark):
    """The sink counts the Summary from the collected wide rows; it must
    equal the Spark operator registry queries use: blank, space-padded
    and None sentiments (Spark trim strips spaces only, so a tab stays),
    a value outside the enum, several products, and no rows at all."""
    from automated_review_analysis_pipeline_spark.operators.reshape import (
        summary_from_wide,
    )
    from automated_review_analysis_pipeline_spark.sinks.excel import (
        summary_rows,
    )

    schema = ("ResponseID string, Product string, Q1_Answer string, "
              "Q1_Sentiment string, Q2_Answer string, Q2_Sentiment string")
    rows = [("1", "P1", "a", "", "b", "  Positive  "),
            ("1", "P2", "a", "", "b", "  Positive  "),
            ("2", "P1", "c", "\tNegative", "d", None),
            ("3", "P2", "e", "Great", "f", "Mixed"),
            ("4", "P3", "g", "   ", "h", "Negative"),
            ("5", "P3", "i", "Positive", "j", "Elated"),
            ("6", "P4", "k", "Great", "l", "Elated")]
    for data in (rows, []):
        wide = spark.createDataFrame(data, schema)
        got = summary_rows(wide.collect(), wide.columns)
        assert got == sorted(summary_from_wide(wide).collect())
        assert len(got) == (8 if data else 0)
    # _write_xlsx reads the rows by position and by name
    first = summary_rows(spark.createDataFrame(rows, schema).collect(),
                         wide.columns)[0]
    assert (first[0], first["Product"], first["Question"]) == \
        ("P1", "P1", "Q1")
    assert tuple(first) == ("P1", "Q1", 0, 1, 0, 0)


def test_empty_survey_guard(spark):
    """R4: zero input rows -> empty wide frame with the full schema."""
    survey = spark.createDataFrame(
        [], "Email string, Name string, Products string, Q1 string")
    wide, b2d = analyze_wide(survey)
    assert wide.count() == 0
    assert wide.columns == ["ResponseID", "Product", "Q1_Answer",
                            "Q1_Sentiment", "Q1_Category"]

    from automated_review_analysis_pipeline_spark.operators.reshape import (
        summary_from_wide,
    )

    assert summary_from_wide(wide).count() == 0

    from automated_review_analysis_pipeline_spark.operators.reshape import (
        melt_sentiments,
    )

    no_sentiments = melt_sentiments(spark.range(1).select(
        F.lit("P1").alias("Product")))
    assert no_sentiments.collect() == []
    _assert_no_rdd(no_sentiments)


def test_driver_frame_keeps_schema(spark, tmp_path):
    """The one driver-data-to-frame helper keeps the declared schema
    exactly (nested and decimal types included), plans a LocalRelation,
    and an empty one writes one schema-bearing file that reads back."""
    from decimal import Decimal

    ddl = ("a int, b decimal(38,9), c array<string>, d map<string,int>, "
           "e struct<x:int,y:string>")
    want = spark.createDataFrame([], ddl).schema
    row = (1, Decimal("1.5"), ["x"], {"k": 2}, (3, "y"))
    full = driver_frame(spark, [row, (None,) * 5], ddl)
    assert full.schema == want
    assert [tuple(r) for r in full.collect()] == [
        (1, Decimal("1.500000000"), ["x"], {"k": 2}, (3, "y")),
        (None,) * 5]
    _assert_no_rdd(full)
    empty = driver_frame(spark, [], want)
    assert empty.schema == want
    _assert_no_rdd(empty)
    out = str(tmp_path / "empty")
    empty.write.parquet(out)
    assert len([f for f in os.listdir(out) if f.endswith(".parquet")]) == 1
    assert spark.read.parquet(out).schema == want


def test_excel_sheet_rows_sorted_lexicographically(spark, tmp_path):
    """O1 quirk: per-product sheet rows sort by ResponseID AS STRING
    ("1","10","11","2",... not numeric) -- matches the golden workbook.
    Read back from the real workbook the dependency-free writer emits."""
    from automated_review_analysis_pipeline_spark.sinks.excel import write_excel_report
    from automated_review_analysis_pipeline_spark.sinks.xlsx_writer import read_workbook

    rows = [("u%d@x" % i, "N", "P1", "fine answer %d" % i)
            for i in range(1, 13)]
    survey = spark.createDataFrame(rows, ["Email", "Name", "Products", "Q1"])
    wide, b2d = analyze_wide(survey)
    write_excel_report(wide, str(tmp_path / "r.xlsx"), b2d)
    grid = read_workbook(str(tmp_path / "r.xlsx"))["P1"]
    ids = [row[0] for row in grid[1:]]  # skip header
    assert ids == sorted(ids)          # lexicographic
    assert ids != sorted(ids, key=int)  # and NOT numeric
