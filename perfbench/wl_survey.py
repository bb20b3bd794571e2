"""survey_report: the reference surface end to end.

Each iteration runs the public calls the CLI (``api.run``) makes --
``read_survey_csv`` -> ``analyze_wide_cached`` -> ``write_excel_report``
-- twice: a cold report into an empty memo-cache directory, whose
classifications go to the loopback LLM stub, then a warm report over the
filled cache, which must send no request at all.
"""

from __future__ import annotations

import csv
import functools
import os
import re
import shutil
import time
from contextlib import contextmanager

from perfbench import gen
from perfbench.harness import Run, dir_stats
from perfbench.stub_llm import StubClient, StubServer, classify

N_RESPONSES = 2_000
INDUSTRY = "retail"
MAX_CHARS = 600

_ASTRAL = re.compile("[\U00010000-\U0010FFFF]")
_WS = re.compile("[ \t\n\x0b\f\r]+")


def _clean(cell: str) -> str:
    """Python twin of functions.text.clean_text for generated cells."""
    return _WS.sub(" ", _ASTRAL.sub("", cell.strip(" "))).strip(" ")


def expected(csv_path: str) -> tuple[int, set[tuple[str, str, str]]]:
    """(wide row count, distinct non-filler cache keys) of a survey CSV,
    computed without the program."""
    from automated_review_analysis_pipeline_spark.functions.text import (
        FILLER_VALUES,
    )
    from automated_review_analysis_pipeline_spark.sources.survey import (
        PANDAS_NA_TOKENS,
    )

    na, filler = set(PANDAS_NA_TOKENS), set(FILLER_VALUES)
    with open(csv_path, newline="", encoding="utf-8") as f:
        rows = list(csv.reader(f))
    questions = [q.strip() for q in rows[0][3:]]
    n_wide, keys = 0, set()
    for row in rows[1:]:
        prods = [p.strip() for p in row[2].split(",") if p.strip()]
        n_wide += max(1, len(prods))
        for q, cell in zip(questions, row[3:]):
            ans = "nan" if cell in na else _clean(cell)
            if ans.lower() not in filler:
                keys.add((INDUSTRY, q, ans))
    return n_wide, keys


def prepare(run: Run) -> dict[str, float]:
    from automated_review_analysis_pipeline_spark.sources.survey import (
        read_survey_csv,
    )

    run.csv_path = os.path.join(run.work, "survey.csv")
    t0 = time.perf_counter()
    gen.write_survey_csv(run.csv_path, run.seed, N_RESPONSES)
    t1 = time.perf_counter()
    read_survey_csv(run.spark, run.csv_path).count()
    t2 = time.perf_counter()
    return {"setup.generate_inputs.wall_s": t1 - t0,
            "setup.warmup.wall_s": t2 - t1}


def report(run: Run, classifier, cache_dir: str, out_path: str,
           phase: str) -> None:
    """One CLI-equivalent report, a timed part of the unit. Traced, each
    stage's output is materialized inside its own span."""
    from automated_review_analysis_pipeline_spark.plan_cache import (
        release_plan_caches,
    )
    from automated_review_analysis_pipeline_spark.plans.survey_pipeline import (
        analyze_wide_cached,
    )
    from automated_review_analysis_pipeline_spark.sinks.excel import (
        write_excel_report,
    )
    from automated_review_analysis_pipeline_spark.sources.survey import (
        read_survey_csv,
    )

    tr = run.tracer
    with run.timed():
        with tr.span(f"{phase}.sources.read_survey_csv"):
            survey = read_survey_csv(run.spark, run.csv_path)
            if tr.enabled:
                survey = survey.localCheckpoint(eager=True)
        with tr.span(f"{phase}.plans.analyze_wide_cached"):
            wide, base_to_display = analyze_wide_cached(
                survey, classifier, INDUSTRY, cache_dir, max_chars=MAX_CHARS)
            if tr.enabled:
                wide = wide.localCheckpoint(eager=True)
        with tr.span(f"{phase}.sinks.write_excel_report"):
            write_excel_report(wide, out_path, base_to_display)
    release_plan_caches()


def check_cache(run: Run, cache_dir: str, keys: set) -> None:
    import pyarrow.parquet as pq

    table = pq.read_table(cache_dir).to_pylist()
    got = {(r["industry"], r["question"], r["answer"]) for r in table}
    run.check(len(table) == len(keys) and got == keys,
              f"cache holds {len(table)} rows / {len(got)} keys, "
              f"expected the {len(keys)} distinct non-filler keys")
    wrong = sum((r["sentiment"], r["category"])
                != classify(r["answer"][:MAX_CHARS]) for r in table)
    run.check(wrong == 0, f"{wrong} cached classifications differ from "
                          "the stub's answers")


@contextmanager
def units(run: Run):
    """Starts the stub LLM and yields the unit: a cold report into an
    empty cache, then a warm report over it."""
    from automated_review_analysis_pipeline_spark.operators.classify import (
        llm_kernel,
    )

    n_wide, keys = expected(run.csv_path)
    stub = StubServer().start()
    try:
        classifier = llm_kernel(
            INDUSTRY, client_factory=functools.partial(StubClient, stub.url),
            base_delay=0.001)

        def unit(i: int) -> None:
            cache_dir = os.path.join(run.work, f"cache{i}")
            cold_xlsx = os.path.join(run.work, f"cold{i}.xlsx")
            warm_xlsx = os.path.join(run.work, f"warm{i}.xlsx")
            stub.stats.reset()
            report(run, classifier, cache_dir, cold_xlsx, "cold")
            cold = stub.stats.snapshot()
            stub.stats.reset()
            report(run, classifier, cache_dir, warm_xlsx, "warm")
            warm = stub.stats.snapshot()
            check_report(run, cache_dir, cold_xlsx, warm_xlsx, keys, n_wide,
                         cold, warm)
            if run.trace:
                record_layers(run, cache_dir, keys, cold, warm)
            shutil.rmtree(cache_dir, ignore_errors=True)

        yield unit
    finally:
        stub.stop()


def check_report(run: Run, cache_dir, cold_xlsx, warm_xlsx, keys, n_wide,
                 cold, warm) -> None:
    """Output checks for one cold+warm cycle, outside the timed reports."""
    from automated_review_analysis_pipeline_spark.sinks.xlsx_writer import (
        read_workbook,
    )

    run.check(cold["requests"] == len(keys) + cold["retries"],
              f"cold report sent {cold['requests']} requests, expected "
              f"{len(keys)} keys + {cold['retries']} 429s")
    run.check(warm["requests"] == 0,
              f"warm report sent {warm['requests']} requests")
    check_cache(run, cache_dir, keys)
    cold_wb, warm_wb = read_workbook(cold_xlsx), read_workbook(warm_xlsx)
    run.check(cold_wb == warm_wb, "warm workbook differs from cold")
    data_rows = sum(len(rows) - 1 for name, rows in cold_wb.items()
                    if name != "Summary" and not name.startswith("Charts"))
    run.check(data_rows == n_wide,
              f"workbook has {data_rows} data rows, expected {n_wide}")


def record_layers(run: Run, cache_dir, keys, cold, warm) -> None:
    """Stub-side and cache-side counters for one cycle."""
    from automated_review_analysis_pipeline_spark.operators.cache import (
        load_cache,
    )

    run.layer("classify.requests", cold["requests"])
    run.layer("classify.retries", cold["retries"])
    run.layer("classify.busy_s", cold["busy_s"])
    run.layer("classify.max_inflight", cold["max_inflight"])
    run.layer("classify.mean_inflight", cold["mean_inflight"])
    run.layer("classify.useful_ratio", len(keys) / max(cold["requests"], 1))
    run.layer("cache.hit_ratio", 1.0 - warm["requests"] / max(len(keys), 1))
    files, mb = dir_stats(cache_dir)
    run.layer("cache.files", files)
    run.layer("cache.mb", mb)
    t0 = time.perf_counter()
    load_cache(run.spark, cache_dir).count()
    run.layer("cache.load_cache.wall_s", time.perf_counter() - t0)


SPAN_METRICS = ("wall_s", "driver_s", "jobs", "task_cpu_s")


def layer_names() -> list[str]:
    out: list[str] = []
    for phase in ("cold", "warm"):
        out.append(f"{phase}.sources.read_survey_csv.wall_s")
        out += [f"{phase}.{stage}.{m}" for m in SPAN_METRICS
                for stage in ("plans.analyze_wide_cached",
                              "sinks.write_excel_report")]
    out += [f"classify.{k}" for k in ("requests", "retries", "busy_s",
                                      "max_inflight", "mean_inflight",
                                      "useful_ratio")]
    out += [f"cache.{k}" for k in ("hit_ratio", "files", "mb",
                                   "load_cache.wall_s")]
    return out
