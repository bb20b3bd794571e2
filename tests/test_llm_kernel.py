"""C5/C6 LLM kernel: prompt plumbing, JSON parsing, sentiment
normalization, empty-category default, retry-with-backoff, and the
terminal (Neutral, No Feedback) failure default -- exercised with fake
OpenAI-compatible clients (no network, near-zero backoff).

The kernel sends its requests from driver threads, so the fake clients
run in the test process.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql.functions import pandas_udf

from automated_review_analysis_pipeline_spark.operators.cache import load_cache
from automated_review_analysis_pipeline_spark.operators.classify import (
    RESULT_TYPE,
    llm_kernel,
)
from automated_review_analysis_pipeline_spark.plans.survey_pipeline import (
    analyze_wide,
    analyze_wide_cached,
)


def _make_factory(marker_dir: str | None = None):
    def factory():
        import json as _json

        class _Resp:
            def __init__(self, content):
                msg = type("M", (), {"content": content})
                self.choices = [type("C", (), {"message": msg})]

        class _Completions:
            def create(self, **kwargs):
                if marker_dir:
                    import uuid
                    open(os.path.join(marker_dir, uuid.uuid4().hex),
                         "w").close()
                user = kwargs["messages"][1]["content"]
                answer = [ln for ln in user.splitlines()
                          if ln.startswith("Answer: ")][0][8:]
                if "love" in answer:
                    return _Resp(_json.dumps(
                        {"sentiment": "POSITIVE", "category": "Fit Praise"}))
                if "empty-cat" in answer:
                    return _Resp(_json.dumps(
                        {"sentiment": "negative", "category": "  "}))
                return _Resp(_json.dumps(
                    {"sentiment": "weird-label", "category": "General"}))

        class _Chat:
            completions = _Completions()

        class _Client:
            chat = _Chat()

        return _Client()

    return factory


def _survey(spark, answers):
    rows = [("a@x", "A", "P1", a) for a in answers]
    return spark.createDataFrame(rows, ["Email", "Name", "Products", "Q1"])


def test_llm_kernel_parses_and_normalizes(spark):
    kernel = llm_kernel("retail", client_factory=_make_factory(),
                        base_delay=0.001)
    wide, _ = analyze_wide(_survey(spark, ["love the fit", "empty-cat here",
                                           "plain words"]),
                           classifier=kernel)
    by_ans = {r["Q1_Answer"]: r for r in wide.collect()}
    # "POSITIVE" normalized to the canonical enum
    assert by_ans["love the fit"]["Q1_Sentiment"] == "Positive"
    assert by_ans["love the fit"]["Q1_Category"] == "Fit Praise"
    # whitespace category -> "No Feedback" (survey_analysis.py:206-210)
    assert by_ans["empty-cat here"]["Q1_Sentiment"] == "Negative"
    assert by_ans["empty-cat here"]["Q1_Category"] == "No Feedback"
    # unknown sentiment label -> Neutral (normalize_sentiment)
    assert by_ans["plain words"]["Q1_Sentiment"] == "Neutral"


def test_prompt_text_matches_reference_verbatim(spark, tmp_path):
    """C5 parity: the system prompt and user prompt our kernel sends must
    be BYTE-IDENTICAL to what the reference's call_openai_analyze sends
    (survey_analysis.py:180-187) for the same (industry, question, answer)
    -- with a real key, classifications must match the reference's, so the
    wording cannot drift. Both sides run against recording fake clients;
    request kwargs (model, temperature, max_tokens, response_format) are
    compared too."""
    import importlib.util
    import json

    industry, question, answer = (
        "retail", "Overall comments", "The fit was great, shipping slow.")

    # -- reference side: capture what IT sends ------------------------------
    spec = importlib.util.spec_from_file_location(
        "ref_survey_analysis_prompt", "/root/reference/survey_analysis.py")
    ref_mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ref_mod)

    ref_captured = {}

    class _RefResp:
        def __init__(self):
            msg = type("M", (), {"content": json.dumps(
                {"sentiment": "Neutral", "category": "General"})})
            self.choices = [type("C", (), {"message": msg})]

    class _RefCompletions:
        def create(self, **kwargs):
            ref_captured.update(kwargs)
            return _RefResp()

    ref_client = type("Client", (), {
        "chat": type("Chat", (), {"completions": _RefCompletions()})()})()
    ref_mod.call_openai_analyze(industry, question, answer, ref_client)

    # -- engine side: capture what WE send --------------------------------
    capture_path = str(tmp_path / "captured.json")

    def factory():
        import json as _json

        class _Resp:
            def __init__(self):
                msg = type("M", (), {"content": _json.dumps(
                    {"sentiment": "Neutral", "category": "General"})})
                self.choices = [type("C", (), {"message": msg})]

        class _Completions:
            def create(self, **kwargs):
                with open(capture_path, "w", encoding="utf-8") as f:
                    _json.dump(kwargs, f)
                return _Resp()

        return type("Client", (), {
            "chat": type("Chat", (), {"completions": _Completions()})()})()

    kernel = llm_kernel(industry, client_factory=factory, base_delay=0.001)
    rows = [("a@x", "A", "P1", answer)]
    survey = spark.createDataFrame(rows, ["Email", "Name", "Products",
                                          question])
    wide, _ = analyze_wide(survey, classifier=kernel)
    wide.collect()
    with open(capture_path, encoding="utf-8") as f:
        ours = json.load(f)

    assert ours["messages"] == ref_captured["messages"]  # byte-identical
    for k in ("model", "temperature", "max_tokens", "response_format"):
        assert ours[k] == ref_captured[k], k


def test_classify_stage_respects_max_parallelism(spark, tmp_path):
    """API-mode concurrency bound: classify_with_cache repartitions the
    miss set to exactly max_parallelism partitions before the classifier
    runs (the reference's sequential loop = max_parallelism 1). The
    kernel leaves one executor-side marker file per classify task."""
    from automated_review_analysis_pipeline_spark.operators.cache import (
        classify_with_cache,
    )

    keys = spark.createDataFrame(
        [("retail", "q", f"answer {i}") for i in range(40)],
        "industry string, question string, answer string")

    def per_task_kernel(marker):
        os.makedirs(marker)

        @pandas_udf(RESULT_TYPE)
        def _kernel(answers: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
            import uuid

            open(os.path.join(marker, uuid.uuid4().hex), "w").close()
            for batch in answers:
                yield pd.DataFrame({"sentiment": ["Neutral"] * len(batch),
                                    "category": ["General"] * len(batch)})

        return lambda question, answer: _kernel(answer)

    for n in (3, 1):
        marker = str(tmp_path / f"tasks{n}")
        out = classify_with_cache(keys, per_task_kernel(marker), spark,
                                  max_parallelism=n)
        assert len(out.collect()) == 40
        assert len(os.listdir(marker)) == n


def test_llm_kernel_filler_short_circuit_skips_api(spark, tmp_path):
    """Filler answers never reach the client: inline analyze_wide leaves
    them out of the distinct keys it hands the kernel's driver form
    (P3), counted with marker files."""
    marker = str(tmp_path / "api_calls")
    os.makedirs(marker)
    kernel = llm_kernel("retail",
                        client_factory=_make_factory(marker_dir=marker),
                        base_delay=0.001)
    wide, _ = analyze_wide(
        _survey(spark, ["n/a", "none", "-", "a real answer"]),
        classifier=kernel)
    rows = {r["Q1_Answer"]: r for r in wide.collect()}
    assert rows["n/a"]["Q1_Category"] == "No Feedback"
    assert rows["a real answer"]["Q1_Category"] == "General"
    # exactly ONE api call: the three filler rows were never keys
    assert len(os.listdir(marker)) == 1


def test_driver_form_bounds_requests_in_flight(spark):
    """The driver form sends at most max_parallelism requests at once,
    one client per thread, and maps each result to its own key. A
    barrier of max_parallelism parties makes every wave reach the bound.
    No Spark job runs."""
    import threading

    for n in (1, 3):
        lock = threading.Lock()
        barrier = threading.Barrier(n, timeout=10)
        state = {"inflight": 0, "max": 0, "clients": 0}

        def factory():
            with lock:
                state["clients"] += 1

            class _Completions:
                def create(self, **kwargs):
                    with lock:
                        state["inflight"] += 1
                        state["max"] = max(state["max"], state["inflight"])
                    barrier.wait()
                    with lock:
                        state["inflight"] -= 1
                    answer = kwargs["messages"][1]["content"].split(
                        "Answer: ")[1].split("\n")[0]
                    msg = type("M", (), {"content": json.dumps(
                        {"sentiment": "Mixed", "category": answer})})
                    return type("R", (), {"choices": [
                        type("C", (), {"message": msg})]})

            return type("Client", (), {"chat": type(
                "Chat", (), {"completions": _Completions()})()})()

        kernel = llm_kernel("retail", client_factory=factory)
        pairs = [(f"q{i % 2}", f"answer {i}") for i in range(3 * n)]
        assert kernel.classify_batch(pairs, n) == \
            [("Mixed", a) for _, a in pairs]
        assert state["max"] == n and state["clients"] == n


def test_driver_form_matches_column_form(spark, tmp_path, capsys):
    """A cached report (analyze_wide_cached) and an uncached one (inline
    analyze_wide, the run-scoped dict) give the same values for a
    429-then-success key, an always-failing key and an answer past
    max_chars with non-ASCII text, which both cut to the same code
    points; the cache row keeps the full answer, and the driver counts
    the one fallback on stderr."""
    long_answer = "Précis: " + "日本語のテキスト " * 3 + "ünïcödé tail"
    max_chars = 14      # cuts inside the Japanese run

    def factory():
        seen = set()

        class _Completions:
            def create(self, **kwargs):
                answer = kwargs["messages"][1]["content"].split(
                    "Answer: ")[1].split("\nSentiment must")[0]
                if answer == "always down":
                    raise RuntimeError("simulated outage")
                if answer == "retry me" and answer not in seen:
                    seen.add(answer)
                    raise RuntimeError("simulated 429")
                msg = type("M", (), {"content": json.dumps(
                    {"sentiment": "negative", "category": answer})})
                return type("R", (), {"choices": [
                    type("C", (), {"message": msg})]})

        return type("Client", (), {"chat": type(
            "Chat", (), {"completions": _Completions()})()})()

    kernel = llm_kernel("retail", client_factory=factory, base_delay=0.001)
    survey = _survey(spark, ["retry me", "always down", long_answer])
    column, _ = analyze_wide(survey, classifier=kernel, max_chars=max_chars)
    cache = str(tmp_path / "cache")
    driver, _ = analyze_wide_cached(survey, kernel, "retail", cache,
                                    max_chars=max_chars)

    def values(wide):
        return {r["Q1_Answer"]: (r["Q1_Sentiment"], r["Q1_Category"])
                for r in wide.collect()}

    got = values(driver)
    assert got == values(column)
    assert got == {"retry me": ("Negative", "retry me"),
                   "always down": ("Neutral", "No Feedback"),
                   long_answer: ("Negative", long_answer[:max_chars])}
    assert "1 of 3 keys fell back" in capsys.readouterr().err
    cached = {r["answer"] for r in load_cache(spark, cache).collect()}
    assert cached == {"retry me", "always down", long_answer}


def test_llm_kernel_never_builds_a_pandas_udf(spark, monkeypatch):
    """The LLM kernel has only its driver form: building it, running
    classify_batch and collecting an inline analyze_wide with it build
    no pandas UDF."""
    from automated_review_analysis_pipeline_spark.operators import classify

    def no_udf(*args, **kwargs):
        raise AssertionError("pandas_udf called")

    monkeypatch.setattr(classify, "pandas_udf", no_udf)
    kernel = llm_kernel("retail", client_factory=_make_factory(),
                        base_delay=0.001)
    assert kernel.classify_batch([("Q1", "love it"), ("Q1", "so-so")], 2) \
        == [("Positive", "Fit Praise"), ("Neutral", "General")]
    wide, _ = analyze_wide(_survey(spark, ["love it", "n/a"]),
                           classifier=kernel)
    assert sorted((r["Q1_Sentiment"], r["Q1_Category"])
                  for r in wide.collect()) == \
        [("Neutral", "No Feedback"), ("Positive", "Fit Praise")]
