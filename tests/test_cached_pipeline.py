"""End-to-end memo-cache wiring (C7 in the CLI plan): api.run with a
cache path must consult and extend the parquet cache exactly like the
reference's get_sent_cat (survey_analysis.py:257-273) -- in BOTH modes.

The decisive provenance test: import the reference's golden
.analysis_cache.json (industry 'Apparel', questions Q1..Q5, sentiments
produced by ITS VADER run) and run the pipeline with the lexicon-fallback
kernel, which CANNOT produce those sentiments. If every sentiment cell
still matches the golden workbook, the values demonstrably came from the
cache -- cache precedence proven by value provenance, not instrumentation.
"""

from __future__ import annotations

import os
from types import SimpleNamespace

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from automated_review_analysis_pipeline_spark.operators.cache import (
    import_json_cache,
    load_cache,
)
from automated_review_analysis_pipeline_spark.operators.classify import (
    RESULT_TYPE,
)
from automated_review_analysis_pipeline_spark.plans.survey_pipeline import (
    analyze_wide,
    analyze_wide_cached,
    demo_classifier,
)
from automated_review_analysis_pipeline_spark.sources.survey import (
    read_survey_csv,
)

CSV_PATH = "/root/reference/example_survey_large.csv"
REF_CACHE = "/root/reference/.analysis_cache.json"


@pytest.fixture()
def migrated_cache(spark, tmp_path):
    path = str(tmp_path / "cache")
    assert import_json_cache(spark, REF_CACHE, path) == 278
    return path


def test_cached_pipeline_reproduces_reference_vader_cells(
        spark, migrated_cache):
    """Fallback kernel + migrated reference cache => the wide table's
    sentiment cells equal the reference's VADER demo run (cache-sourced:
    the fallback kernel cannot emit those values), and the cache gains
    ZERO new entries (the golden cache covers every distinct non-filler
    key of its own CSV)."""
    import json

    survey = read_survey_csv(spark, CSV_PATH)
    wide, b2d = analyze_wide_cached(
        survey, demo_classifier, "Apparel", migrated_cache)
    rows = wide.collect()

    golden = {}
    with open(REF_CACHE, encoding="utf-8") as f:
        for key, (sent, cat) in json.load(f).items():
            _, q, ans = key.split("|||", 2)
            golden[(q, ans)] = (sent, cat)

    from automated_review_analysis_pipeline_spark.functions.text import (
        FILLER_VALUES,
    )
    fillers = set(FILLER_VALUES)
    checked = 0
    for r in rows:
        for base in b2d:
            ans = r[f"{base}_Answer"]
            got = (r[f"{base}_Sentiment"], r[f"{base}_Category"])
            if (ans or "").strip().lower() in fillers:
                assert got == ("Neutral", "No Feedback")
            else:
                assert got == golden[(b2d[base], ans)], (base, ans, got)
                checked += 1
    assert checked > 1500   # all non-filler cells came from the cache
    assert load_cache(spark, migrated_cache).count() == 278  # no growth


def test_cached_pipeline_writes_back_misses_and_is_idempotent(
        spark, tmp_path):
    """Fresh cache: first run classifies every distinct non-filler key
    once and appends it; an immediate second run classifies ZERO rows
    (anti-join idempotence) and returns identical cells."""
    cache = str(tmp_path / "fresh_cache")
    survey = read_survey_csv(spark, CSV_PATH)

    calls = {"n": 0}

    def counting_classifier(question_text, answer):
        calls["n"] += 1   # plan-construction count: once per question
        return demo_classifier(question_text, answer)

    wide1, _ = analyze_wide_cached(
        survey, counting_classifier, "Apparel", cache)
    first = sorted(tuple(r) for r in wide1.collect())
    n_keys = load_cache(spark, cache).count()
    assert n_keys == 278   # same distinct key set as the reference's run

    wide2, _ = analyze_wide_cached(
        survey, counting_classifier, "Apparel", cache)
    second = sorted(tuple(r) for r in wide2.collect())
    assert second == first
    assert load_cache(spark, cache).count() == n_keys  # nothing re-added


def test_cached_pipeline_matches_uncached_demo(spark, tmp_path):
    """With an empty starting cache the cached plan's cells equal plain
    analyze_wide's (same kernels, same filler short-circuit) -- the cache
    rewrite changes the execution, never the result."""
    survey = read_survey_csv(spark, CSV_PATH)
    cached, _ = analyze_wide_cached(
        survey, demo_classifier, "Apparel", str(tmp_path / "c2"))
    plain, _ = analyze_wide(survey, classifier=demo_classifier)
    a = sorted(tuple(r) for r in cached.collect())
    b = sorted(tuple(r) for r in plain.collect())
    assert a == b


def test_cache_json_round_trip(spark, tmp_path):
    """import -> export reproduces the reference's memo JSON exactly
    (key set and [sentiment, category] values) -- a porting user can
    carry classifications in BOTH directions."""
    import json

    from automated_review_analysis_pipeline_spark.operators.cache import (
        export_json_cache,
    )

    cache = str(tmp_path / "rt_cache")
    assert import_json_cache(spark, REF_CACHE, cache) == 278
    out_json = str(tmp_path / "exported.json")
    assert export_json_cache(spark, cache, out_json) == 278
    with open(REF_CACHE, encoding="utf-8") as f:
        want = {k: list(v) for k, v in json.load(f).items()}
    with open(out_json, encoding="utf-8") as f:
        got = json.load(f)
    assert got == want


def test_cached_pipeline_with_llm_kernel_bills_only_misses(
        spark, tmp_path):
    """THE production path (api.run in API mode with a cache): the LLM
    kernel must be invoked once per distinct non-filler (question,
    answer) key -- never per row -- and a second run must make ZERO API
    calls. Observed via executor-side marker files (local mode shares
    the filesystem), like the filler short-circuit test."""
    import os

    from automated_review_analysis_pipeline_spark.operators.classify import (
        llm_kernel,
    )

    marker = str(tmp_path / "api_calls")
    os.makedirs(marker)

    def factory():
        import json as _json
        import uuid

        class _Resp:
            def __init__(self):
                msg = type("M", (), {"content": _json.dumps(
                    {"sentiment": "Positive", "category": "General"})})
                self.choices = [type("C", (), {"message": msg})]

        class _Completions:
            def create(self, **kwargs):
                open(os.path.join(marker, uuid.uuid4().hex), "w").close()
                return _Resp()

        return type("Client", (), {
            "chat": type("Chat", (), {"completions": _Completions()})()})()

    kernel = llm_kernel("retail", client_factory=factory, base_delay=0.001)
    # 6 rows, 2 questions; Q1 has 2 distinct non-filler answers (one
    # repeated 4x), Q2 has 1 distinct answer + fillers
    rows = [("a@x", "A", "P1", "love it", "fine product"),
            ("b@x", "B", "P1", "love it", "n/a"),
            ("c@x", "C", "P1", "love it", "fine product"),
            ("d@x", "D", "P1", "love it", "none"),
            ("e@x", "E", "P1", "hate it", "-"),
            ("f@x", "F", "P1", "n/a", "fine product")]
    survey = spark.createDataFrame(
        rows, ["Email", "Name", "Products", "Q1", "Q2"])
    cache = str(tmp_path / "api_cache")

    wide, _ = analyze_wide_cached(survey, kernel, "retail", cache)
    got = {(r["Q1_Answer"], r["Q1_Sentiment"]) for r in wide.collect()}
    assert ("love it", "Positive") in got
    assert ("n/a", "Neutral") in got          # filler short-circuit
    # 3 distinct keys billed: Q1 x {love it, hate it}, Q2 x {fine product}
    assert len(os.listdir(marker)) == 3
    assert load_cache(spark, cache).count() == 3

    wide2, _ = analyze_wide_cached(survey, kernel, "retail", cache)
    wide2.collect()
    assert len(os.listdir(marker)) == 3       # second run: zero API calls


def test_duplicate_cache_keys_collapse_on_read(spark, tmp_path):
    """Two concurrent runs can append the same miss set twice (the
    JSON-dict reference could never hold duplicate keys; append-only
    parquet can) -- load_cache dedups so the broadcast join-back never
    fans out and the wide table never duplicates rows."""
    from automated_review_analysis_pipeline_spark.operators.cache import (
        CACHE_SCHEMA,
        classify_with_cache,
        load_cache,
    )

    cache = str(tmp_path / "dup_cache")
    row = [("Apparel", "Q1", "great stuff", "Positive", "Praise")]
    spark.createDataFrame(row, CACHE_SCHEMA).write.mode("append") \
        .parquet(cache)
    spark.createDataFrame(row, CACHE_SCHEMA).write.mode("append") \
        .parquet(cache)  # simulated concurrent second append
    assert load_cache(spark, cache).count() == 1

    keys = spark.createDataFrame(
        [("Apparel", "Q1", "great stuff")],
        "industry string, question string, answer string")
    out = classify_with_cache(
        keys, lambda question, answer: F.struct(
            F.lit("X").alias("sentiment"), F.lit("Y").alias("category")),
        spark, cache)
    assert out.count() == 1   # not fanned out by the duplicate


def test_export_keeps_answers_containing_delimiter(spark, tmp_path):
    """Answers may contain '|||' (the importer splits maxsplit=2) --
    export must round-trip them, skipping only industry/question
    delimiter collisions."""
    import json

    from automated_review_analysis_pipeline_spark.operators.cache import (
        CACHE_SCHEMA,
        export_json_cache,
        import_json_cache,
    )

    cache = str(tmp_path / "delim_cache")
    rows = [
        ("Apparel", "Q1", "great ||| would buy again", "Positive", "P"),
        ("bad|||industry", "Q1", "x", "Neutral", "C"),   # unrepresentable
    ]
    spark.createDataFrame(rows, CACHE_SCHEMA).write.parquet(cache)
    out_json = str(tmp_path / "x.json")
    assert export_json_cache(spark, cache, out_json) == 1
    with open(out_json, encoding="utf-8") as f:
        got = json.load(f)
    assert got == {"Apparel|||Q1|||great ||| would buy again":
                   ["Positive", "P"]}
    # and the exported form re-imports to the same key
    cache2 = str(tmp_path / "delim_cache2")
    assert import_json_cache(spark, out_json, cache2) == 1


def test_cached_pipeline_degenerate_no_question_columns(spark, tmp_path):
    """A survey with only the 3 fixed columns (zero questions) must not
    crash the cached path (it used to AttributeError on the None key
    union) and must match plain analyze_wide's output on the same
    input -- and leave the cache untouched."""
    import os

    survey = spark.createDataFrame(
        [("a@x", "A", "P1"), ("b@x", "B", "P2")],
        ["Email", "Name", "Products"])
    cache = str(tmp_path / "degenerate_cache")
    cached, b2d = analyze_wide_cached(
        survey, demo_classifier, "Apparel", cache)
    plain, _ = analyze_wide(survey, classifier=demo_classifier)
    assert b2d == {}
    assert sorted(tuple(r) for r in cached.collect()) == \
        sorted(tuple(r) for r in plain.collect())
    assert not os.path.exists(cache)   # no cache pass ran


def test_compact_cache_shrinks_files_keeps_contents(spark, tmp_path):
    """N runs append N file sets; compaction rewrites to the byte-sized
    budget (1 file here), load_cache contents are IDENTICAL (including
    the durable dedup of concurrently-appended duplicate keys), and
    re-compacting is a no-op rewrite. Missing/empty cache -> 0."""
    import os

    from automated_review_analysis_pipeline_spark.operators.cache import (
        CACHE_SCHEMA,
        compact_cache,
        load_cache,
    )

    cache = str(tmp_path / "grown_cache")
    assert compact_cache(spark, cache) == 0          # missing dir

    for i in range(4):
        spark.createDataFrame(
            [("Apparel", "Q1", f"answer {i}", "Positive", "P")],
            CACHE_SCHEMA).write.mode("append").parquet(cache)
    # a concurrent duplicate append on an existing key
    spark.createDataFrame(
        [("Apparel", "Q1", "answer 0", "Positive", "P")],
        CACHE_SCHEMA).write.mode("append").parquet(cache)

    def pq_files():
        return [f for f in os.listdir(cache) if f.endswith(".parquet")]

    before = sorted(tuple(r) for r in load_cache(spark, cache).collect())
    assert len(pq_files()) >= 5
    assert compact_cache(spark, cache) == 1
    assert len(pq_files()) == 1
    after = sorted(tuple(r) for r in load_cache(spark, cache).collect())
    assert after == before and len(after) == 4       # dedup made durable
    assert not os.path.exists(cache + ".compact.tmp")
    assert not os.path.exists(cache + ".compact.old")

    assert compact_cache(spark, cache) == 1          # idempotent
    assert sorted(tuple(r)
                  for r in load_cache(spark, cache).collect()) == before


def test_compact_cache_recovers_stranded_old_dir(spark, tmp_path):
    """Crash between the two renames leaves the only complete copy at
    ``.compact.old`` with ``path`` gone. BOTH load_cache and a later
    compact_cache must restore it rather than treating the cache as
    empty (silently re-classifying everything already paid for)."""
    import os

    from automated_review_analysis_pipeline_spark.operators.cache import (
        CACHE_SCHEMA,
        compact_cache,
        load_cache,
    )

    cache = str(tmp_path / "crashed_cache")
    spark.createDataFrame(
        [("Apparel", "Q1", "a", "Positive", "P"),
         ("Apparel", "Q1", "b", "Negative", "N")],
        CACHE_SCHEMA).write.mode("append").parquet(cache)
    # simulate the crash window: live dir moved aside, tmp never landed
    os.rename(cache, cache + ".compact.old")

    assert load_cache(spark, cache).count() == 2     # restored on read
    assert os.path.isdir(cache)
    assert not os.path.exists(cache + ".compact.old")

    os.rename(cache, cache + ".compact.old")         # crash again
    assert compact_cache(spark, cache) == 1          # restored + compacted
    assert load_cache(spark, cache).count() == 2
    assert not os.path.exists(cache + ".compact.old")


def test_compact_cache_keeps_concurrent_appends(spark, tmp_path):
    """Files appended after the compaction snapshot must survive the
    swap: the reconciliation moves any non-snapshot parquet file out of
    ``.compact.old`` back into the live table before deletion, so a
    concurrent classify_with_cache run never loses paid-for rows."""
    import glob
    import os

    from automated_review_analysis_pipeline_spark.operators import cache as m

    cache = str(tmp_path / "racing_cache")
    spark.createDataFrame(
        [("Apparel", "Q1", "a", "Positive", "P")],
        m.CACHE_SCHEMA).write.mode("append").parquet(cache)

    # emulate an append landing between the snapshot and the swap by
    # injecting it from inside the snapshot read (monkeypatch-free:
    # wrap os.rename's first use -- simpler: append right before calling
    # compact via a snapshot taken manually). Deterministic approach:
    # take the snapshot compact_cache would take, append a new file,
    # then run compact_cache -- its own snapshot now INCLUDES the new
    # file, so instead patch glob to return the stale snapshot.
    stale = sorted(glob.glob(os.path.join(cache, "*.parquet")))
    spark.createDataFrame(
        [("Apparel", "Q2", "late", "Neutral", "G")],
        m.CACHE_SCHEMA).write.mode("append").parquet(cache)

    real_glob = glob.glob
    calls = {"n": 0}

    def stale_first_glob(pat):
        if pat == os.path.join(cache, "*.parquet") and calls["n"] == 0:
            calls["n"] += 1
            return list(stale)           # pretend the append came later
        return real_glob(pat)

    glob.glob, orig = stale_first_glob, glob.glob
    try:
        assert m.compact_cache(spark, cache) == 1
    finally:
        glob.glob = orig

    rows = sorted(tuple(r) for r in m.load_cache(spark, cache).collect())
    assert ("Apparel", "Q2", "late", "Neutral", "G") in rows
    assert len(rows) == 2
    assert not os.path.exists(cache + ".compact.old")
    assert not os.path.exists(cache + ".compact.tmp")


def test_cli_compact_cache_flag(spark, tmp_path, monkeypatch):
    """The CLI surface: --compact-cache leaves a single-file cache with
    the full 278-key content after the run."""
    import os
    import sys

    from automated_review_analysis_pipeline_spark import api

    monkeypatch.delenv("OPENAI_API_KEY", raising=False)
    monkeypatch.delenv("ARAP_VADER_LEXICON_DIR", raising=False)
    cache = str(tmp_path / "cli_compact_cache")
    out = str(tmp_path / "report.xlsx")
    monkeypatch.setattr(sys, "argv", [
        "api", "--input", CSV_PATH, "--industry", "Apparel",
        "--output", out, "--cache", cache, "--compact-cache"])
    api.main()
    files = [f for f in os.listdir(cache) if f.endswith(".parquet")]
    assert len(files) == 1
    assert load_cache(spark, cache).count() == 278


def test_run_cli_uses_cache(spark, tmp_path, monkeypatch):
    """api.run with a cache path populates the cache on disk (the S6
    surface now carries C7, like the reference CLI)."""
    from automated_review_analysis_pipeline_spark import api

    monkeypatch.delenv("OPENAI_API_KEY", raising=False)
    monkeypatch.delenv("ARAP_VADER_LEXICON_DIR", raising=False)
    cache = str(tmp_path / "cli_cache")
    out = str(tmp_path / "report.xlsx")
    api.run(CSV_PATH, "Apparel", output=out, cache=cache, spark=spark)
    assert load_cache(spark, cache).count() == 278


# Inline survey for the tests below (no reference checkout needed):
# three questions, "love it" answered under both Q1 and Q2, filler
# cells, multi-product and no-product rows.
INLINE_SURVEY = [
    ("a@x", "A", "P1, P2", "love it", "love it", "n/a"),
    ("b@x", "B", "P1", "bad quality", "none", "love it"),
    ("c@x", "C", "", "love it", "late shipping", "great fit"),
    ("d@x", "D", "P2,P3", "-", "love it", "bad quality"),
]
INLINE_COLUMNS = ["Email", "Name", "Products", "Q1", "Q2", "Q3"]


def question_aware_kernel(question, answer):
    """UDF kernel whose category spells out the (question, answer) pair
    it was handed, so a question/answer mix-up changes the output."""

    @pandas_udf(RESULT_TYPE)
    def _kernel(questions: pd.Series, answers: pd.Series) -> pd.DataFrame:
        return pd.DataFrame({
            "sentiment": answers.str.len().astype(str),
            "category": questions + "|" + answers,
        })

    return _kernel(question, answer)


def _arrow_eval_nodes_since(spark, first_execution):
    """ArrowEvalPython nodes in the plans of every SQL execution with
    id >= first_execution (the SQL status store keeps each one's final
    plan graph)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    n = 0
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid >= first_execution:
            nodes = store.planGraph(eid).allNodes()
            n += sum(nodes.apply(j).name() == "ArrowEvalPython"
                     for j in range(nodes.size()))
    return n


def _next_execution_id(spark):
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore() \
        .executionsList()
    return 1 + max([execs.apply(i).executionId()
                    for i in range(execs.size())], default=-1)


def test_cached_pipeline_matches_uncached_inline(spark, tmp_path):
    """Cold cached plan == plain analyze_wide on an inline survey with a
    question-aware UDF kernel, and the cold plan classifies every
    question in ONE ArrowEvalPython node."""
    survey = spark.createDataFrame(INLINE_SURVEY, INLINE_COLUMNS)
    first = _next_execution_id(spark)
    cached, b2d = analyze_wide_cached(
        survey, question_aware_kernel, "retail", str(tmp_path / "cache"))
    got = sorted(tuple(r) for r in cached.collect())
    assert _arrow_eval_nodes_since(spark, first) == 1

    plain, _ = analyze_wide(survey, classifier=question_aware_kernel)
    assert got == sorted(tuple(r) for r in plain.collect())
    assert len(got) == 6 and list(b2d) == ["Q1", "Q2", "Q3"]
    cells = {(r[1], r[2], r[7]) for r in got}     # (Product, Q1, Q2 cat)
    assert ("P1", "love it", "Q2|love it") in cells
    assert ("Unspecified", "love it", "Q2|late shipping") in cells
    assert ("P1", "bad quality", "No Feedback") in cells   # filler


def test_warm_run_writes_no_cache_file(spark, tmp_path):
    """A warm run (every key a hit) appends nothing: the cache
    directory's file list is unchanged by it."""
    survey = spark.createDataFrame(INLINE_SURVEY, INLINE_COLUMNS)
    cache = str(tmp_path / "cache")
    cold, _ = analyze_wide_cached(
        survey, question_aware_kernel, "retail", cache)
    cold_rows = sorted(tuple(r) for r in cold.collect())
    files = sorted(os.listdir(cache))
    warm, _ = analyze_wide_cached(
        survey, question_aware_kernel, "retail", cache)
    assert sorted(tuple(r) for r in warm.collect()) == cold_rows
    assert sorted(os.listdir(cache)) == files


def test_repeated_runs_hold_no_persisted_rdds(spark, tmp_path, monkeypatch):
    """api.run owns what its report persists: after each of three
    reports in one session, no RDD it persisted is still held."""
    import csv

    from automated_review_analysis_pipeline_spark import api

    monkeypatch.delenv("OPENAI_API_KEY", raising=False)
    monkeypatch.delenv("ARAP_VADER_LEXICON_DIR", raising=False)
    csv_path = str(tmp_path / "survey.csv")
    with open(csv_path, "w", newline="", encoding="utf-8") as f:
        csv.writer(f).writerows([INLINE_COLUMNS, *INLINE_SURVEY])
    def persisted():
        # ids, not a count: the context cleaner may drop earlier tests'
        # RDDs meanwhile
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    for i in range(3):
        api.run(csv_path, "retail", output=str(tmp_path / f"r{i}.xlsx"),
                cache=str(tmp_path / "cache"), spark=spark)
        assert persisted() <= before


def test_cold_then_warm_leaves_one_parquet_file(spark, tmp_path):
    """A cold run appends its misses as ONE driver-written file and the
    warm run appends none: the directory ends with one .parquet file
    and nothing else."""
    survey = spark.createDataFrame(INLINE_SURVEY, INLINE_COLUMNS)
    cache = str(tmp_path / "cache")
    for _ in range(2):
        wide, _ = analyze_wide_cached(
            survey, question_aware_kernel, "retail", cache)
        wide.collect()
    files = os.listdir(cache)
    assert len(files) == 1 and files[0].endswith(".parquet"), files
    # 7 distinct non-filler (question, answer) keys in INLINE_SURVEY
    assert load_cache(spark, cache).count() == 7


def test_import_json_cache_appends_one_parquet_file(spark, tmp_path):
    """import_json_cache appends through the same one-file writer: into
    an empty directory it leaves one .parquet file and nothing else, and
    re-importing the same JSON imports 0 entries and adds no file."""
    import json

    entries = {f"retail|||Q{i % 3 + 1}|||answer {i}": ["Positive", "Praise"]
               for i in range(7)}
    json_path = str(tmp_path / "cache.json")
    with open(json_path, "w", encoding="utf-8") as f:
        json.dump(entries, f)
    cache = str(tmp_path / "cache")
    assert import_json_cache(spark, json_path, cache) == 7
    files = os.listdir(cache)
    assert len(files) == 1 and files[0].endswith(".parquet"), files
    assert import_json_cache(spark, json_path, cache) == 0
    assert os.listdir(cache) == files
    assert load_cache(spark, cache).count() == 7


def test_interrupted_append_temp_file_is_ignored(spark, tmp_path):
    """An append killed before its rename leaves a hidden temp file
    that does not end in .parquet. load_cache and compact_cache skip
    it: a directory holding only that file is an empty cache, and
    next to real data it adds no row."""
    from automated_review_analysis_pipeline_spark.operators.cache import (
        CACHE_SCHEMA,
        compact_cache,
    )

    cache = str(tmp_path / "cache")
    os.makedirs(cache)
    with open(os.path.join(cache, ".part-dead.parquet.tmp"), "wb") as f:
        f.write(b"PAR1 truncated")          # half-written, unreadable
    assert load_cache(spark, cache).count() == 0
    assert compact_cache(spark, cache) == 0

    spark.createDataFrame(
        [("retail", "Q1", "love it", "Positive", "Praise")],
        CACHE_SCHEMA).write.mode("append").parquet(cache)
    assert load_cache(spark, cache).count() == 1
    assert compact_cache(spark, cache) == 1
    assert [tuple(r) for r in load_cache(spark, cache).collect()] == \
        [("retail", "Q1", "love it", "Positive", "Praise")]

    # the next run classifies around the debris and lands its file
    survey = spark.createDataFrame(INLINE_SURVEY, INLINE_COLUMNS)
    with open(os.path.join(cache, ".part-dead2.parquet.tmp"), "wb") as f:
        f.write(b"PAR1 truncated")
    wide, _ = analyze_wide_cached(
        survey, question_aware_kernel, "retail", cache)
    rows = wide.collect()
    assert len(rows) == 6
    # the seeded row is a hit: its cached category beats the kernel's
    assert {r["Q1_Category"] for r in rows
            if r["Q1_Answer"] == "love it"} == {"Praise"}
    assert load_cache(spark, cache).count() == 1 + 6


def test_uncached_report_classifies_each_cell_once(spark, tmp_path):
    """With no cache the LLM kernel's driver form classifies each
    distinct non-filler key once (the reference's per-run dict), and the
    report executes the wide plan once: one request per distinct key, 7
    for INLINE_SURVEY's 9 non-filler cells. No plan the report executes
    reads a pickled RDD or evaluates Python, so it starts no Python
    worker."""
    from automated_review_analysis_pipeline_spark.operators.classify import (
        llm_kernel,
    )
    from automated_review_analysis_pipeline_spark.session import driver_frame
    from automated_review_analysis_pipeline_spark.sinks.excel import (
        write_excel_report,
    )

    requests = []

    def factory():
        def create(**kwargs):
            requests.append(kwargs)
            msg = SimpleNamespace(content='{"sentiment": "Positive", '
                                          '"category": "General"}')
            return SimpleNamespace(choices=[SimpleNamespace(message=msg)])

        return SimpleNamespace(chat=SimpleNamespace(
            completions=SimpleNamespace(create=create)))

    kernel = llm_kernel("retail", client_factory=factory, base_delay=0.001)
    survey = driver_frame(spark, INLINE_SURVEY,
                          ", ".join(f"{c} string" for c in INLINE_COLUMNS))
    first = _next_execution_id(spark)
    wide, b2d = analyze_wide(survey, classifier=kernel)
    sheets = write_excel_report(wide, str(tmp_path / "r.xlsx"), b2d)
    assert "Summary" in sheets
    # 12 cells, 3 filler ("n/a", "none", "-") -> 9 cells, 7 distinct keys
    assert len(requests) == 7
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore() \
        .executionsList()
    plans = [execs.apply(i).physicalPlanDescription()
             for i in range(execs.size())
             if execs.apply(i).executionId() >= first]
    assert plans
    for plan in plans:
        assert "ExistingRDD" not in plan and "Python" not in plan, plan


def test_cached_plan_broadcasts_results_once(spark, tmp_path):
    """Every question joins the SAME broadcast of the results: the
    executed plan holds one results BroadcastExchange and Q-1
    ReusedExchange of it."""
    survey = spark.createDataFrame(INLINE_SURVEY, INLINE_COLUMNS)
    wide, b2d = analyze_wide_cached(
        survey, question_aware_kernel, "retail", str(tmp_path / "cache"))
    wide.collect()
    final = wide._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    lines = [ln for ln in final.splitlines()
             if "BroadcastExchange" in ln
             and "struct<question:string,answer:string>" in ln]
    reused = [ln for ln in lines if "ReusedExchange" in ln]
    assert len(lines) - len(reused) == 1, lines
    assert len(reused) == len(b2d) - 1, lines


def test_unbuildable_client_raises_and_caches_nothing(
        spark, tmp_path, monkeypatch):
    """An API-mode run whose client cannot be built (say, no openai
    package) raises instead of reporting (Neutral, No Feedback) for
    every key, and appends nothing to the memo cache, so a later run
    with a working client classifies those keys."""
    import csv

    from automated_review_analysis_pipeline_spark import api
    from automated_review_analysis_pipeline_spark.operators.classify import (
        llm_kernel,
    )

    def factory():
        raise ImportError("No module named 'openai'")

    csv_path = str(tmp_path / "survey.csv")
    with open(csv_path, "w", newline="", encoding="utf-8") as f:
        csv.writer(f).writerows([INLINE_COLUMNS, *INLINE_SURVEY])
    monkeypatch.setenv("OPENAI_API_KEY", "unused")
    monkeypatch.setattr(api, "llm_kernel", lambda industry: llm_kernel(
        industry, client_factory=factory, base_delay=0.001))
    cache, out = tmp_path / "cache", tmp_path / "r.xlsx"
    with pytest.raises(ImportError, match="openai"):
        api.run(csv_path, "retail", output=str(out), cache=str(cache),
                spark=spark)
    assert not cache.exists() or os.listdir(cache) == []
    assert not out.exists()


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_api_run_job_ceilings(spark, tmp_path, monkeypatch):
    """Pinned Spark job counts of one public call: a cold and a warm
    api.run over the inline 3-question survey. Measured 8 cold and 8
    warm on local[4] since the memo cache is read with pyarrow on the
    driver and the Excel Summary is counted from the collected wide rows
    (11 and 13 with a left-join lookup of a Spark-read cache and the
    Summary aggregated over a driver frame; 12 and 16 with the anti-join
    and semi-join branches; 16-17 and 17 while the empty cache, the
    classified results, the Excel summary input and the language sample
    were pickled Python-list frames; 20-22 and 22-24 while rows were
    numbered with extra jobs; 39 and 34 before the plans were shared);
    the ceilings leave a margin of 3 over each.
    No plan that the demo-mode runs, or a cold LLM-mode run, executes
    reads a pickled RDD or evaluates Python, so they start no Python
    worker: the LLM kernel sends its requests from the driver. Per
    stage, with the plan's output checkpointed as the benchmark traces
    it, write_excel_report runs exactly 1 job (4 while the Summary ran
    through Spark) and a warm analyze_wide_cached runs no more jobs than
    a cold one (the Spark-read cache made it 2 more); reading the cache
    through load_cache runs none."""
    import csv
    import uuid

    from automated_review_analysis_pipeline_spark import api
    from automated_review_analysis_pipeline_spark.operators.classify import (
        llm_kernel,
    )
    from automated_review_analysis_pipeline_spark.sinks.excel import (
        write_excel_report,
    )

    monkeypatch.delenv("OPENAI_API_KEY", raising=False)
    monkeypatch.delenv("ARAP_VADER_LEXICON_DIR", raising=False)
    csv_path = str(tmp_path / "survey.csv")
    with open(csv_path, "w", newline="", encoding="utf-8") as f:
        csv.writer(f).writerows([INLINE_COLUMNS, *INLINE_SURVEY])
    cache = str(tmp_path / "cache")
    executions = spark._jsparkSession.sharedState().statusStore() \
        .executionsList
    seen = executions().size()
    counts = [_jobs_in_group(
        spark, f"api-run-{phase}-{uuid.uuid4().hex}",
        lambda: api.run(csv_path, "retail", output=str(tmp_path / "r.xlsx"),
                        cache=cache, spark=spark))
        for phase in ("cold", "warm")]
    assert counts[0] <= 11 and counts[1] <= 11, counts

    requests = []

    def factory():
        def create(**kwargs):
            requests.append(kwargs)
            msg = SimpleNamespace(content='{"sentiment": "Positive", '
                                          '"category": "General"}')
            return SimpleNamespace(choices=[SimpleNamespace(message=msg)])

        return SimpleNamespace(chat=SimpleNamespace(
            completions=SimpleNamespace(create=create)))

    monkeypatch.setenv("OPENAI_API_KEY", "unused")
    monkeypatch.setattr(api, "llm_kernel", lambda industry: llm_kernel(
        industry, client_factory=factory, base_delay=0.001))
    api.run(csv_path, "retail", output=str(tmp_path / "llm.xlsx"),
            cache=str(tmp_path / "llm_cache"), spark=spark)
    assert len(requests) == 7      # the distinct non-filler keys
    ran = executions()
    for i in range(min(seen, ran.size()), ran.size()):
        plan = ran.apply(i).physicalPlanDescription()
        assert "ExistingRDD" not in plan and "Python" not in plan, plan

    # per stage, as the benchmark traces it: the plan's output is
    # checkpointed inside its span, so the sink's one collect is 1 job
    survey = read_survey_csv(spark, csv_path)
    stage_cache = str(tmp_path / "stage_cache")
    plan_jobs, sink_jobs = [], []
    for phase in ("cold", "warm"):
        held = {}
        plan_jobs.append(_jobs_in_group(
            spark, f"plan-{phase}-{uuid.uuid4().hex}",
            lambda: held.update(wide=analyze_wide_cached(
                survey, demo_classifier, "retail", stage_cache)[0]
                .localCheckpoint(eager=True))))
        sink_jobs.append(_jobs_in_group(
            spark, f"sink-{phase}-{uuid.uuid4().hex}",
            lambda: write_excel_report(held["wide"],
                                       str(tmp_path / f"{phase}.xlsx"))))
    assert sink_jobs == [1, 1], sink_jobs
    assert plan_jobs[1] <= plan_jobs[0], plan_jobs
    assert _jobs_in_group(
        spark, f"load-{uuid.uuid4().hex}",
        lambda: load_cache(spark, stage_cache).collect()) == 0
