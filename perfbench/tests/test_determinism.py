"""Same seed, same inputs, same counts.

Run from the repository root:

    python3 -m pytest perfbench/tests -q

The generator tests take seconds. The two end-to-end tests run
``perfbench/run.py`` twice per workload with one seed (four Spark
launches, about three minutes on 4 cores) and compare the counts the
traced runs report.
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
import subprocess
import sys

import pytest

from perfbench import gen
from perfbench.wl_curation import COUNTS
from perfbench.wl_survey import expected

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


@pytest.fixture()
def work():
    path = os.path.join(ROOT, ".perfbench_work", "tests")
    os.makedirs(path, exist_ok=True)
    return path


def digest(path: str) -> str:
    """sha256 over a file, or over every file under a directory (with its
    relative path)."""
    if os.path.isfile(path):
        files = [path]
    else:
        files = sorted(os.path.join(d, f)
                       for d, _, names in os.walk(path) for f in names)
    h = hashlib.sha256()
    for name in files:
        h.update(os.path.relpath(name, path).encode())
        with open(name, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_survey_csv_is_a_function_of_the_seed(work):
    paths = [os.path.join(work, f"s{i}.csv") for i in range(3)]
    for path, seed in zip(paths, (7, 7, 8)):
        gen.write_survey_csv(path, seed, 1_000)
    assert digest(paths[0]) == digest(paths[1])
    assert digest(paths[0]) != digest(paths[2])


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_survey_csv_input_ratios(work, seed):
    """Filler, emoji and repeated-answer shares stay near the reference's
    (278 distinct keys over 2,071 non-filler cells)."""
    path = os.path.join(work, f"ratios{seed}.csv")
    gen.write_survey_csv(path, seed, 2_000)
    _, keys = expected(path)
    with open(path, newline="", encoding="utf-8") as f:
        cells = [c for row in list(csv.reader(f))[1:] for c in row[3:]]
    fillers = sum(c in gen.FILLERS for c in cells)
    emoji = sum(any(ord(ch) > 0xFFFF for ch in c) for c in cells)
    assert 0.15 <= fillers / len(cells) <= 0.19
    assert 0.13 <= len(keys) / (len(cells) - fillers) <= 0.18
    assert 0.06 <= emoji / (len(cells) - fillers) <= 0.10
    assert any(len(c) > 600 for c in cells)


def test_star_tables_are_a_function_of_the_seed(work):
    dirs = [os.path.join(work, f"t{i}") for i in range(3)]
    for d, seed in zip(dirs, (7, 7, 8)):
        gen.write_star_tables(d, seed, 0.001)
    assert digest(dirs[0]) == digest(dirs[1])
    assert digest(dirs[0]) != digest(dirs[2])


def test_curation_corpus_shares():
    a, b = gen.curation_corpus(5, 2_000), gen.curation_corpus(5, 2_000)
    assert a == b
    assert gen.curation_corpus(6, 2_000).rows != a.rows
    texts = [t for _, t in a.rows]
    assert len(texts) - len(set(texts)) >= a.n_exact_copies * 0.9
    assert a.n_exact_copies == 200 and a.n_near_dups == 400


def traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    return {k: v["value"] for k, v in result["metrics"].items()}


def test_survey_requests_repeat():
    runs = [traced("survey_report", 11) for _ in range(2)]
    for key in ("classify.requests", "classify.retries",
                "classify.useful_ratio", "cache.hit_ratio"):
        assert runs[0][key] == runs[1][key], key
    assert runs[0]["classify.requests"] > 0


def test_search_terms_are_a_function_of_the_seed():
    assert gen.search_terms(4) == gen.search_terms(4)
    assert gen.search_terms(4) != gen.search_terms(5)


def test_curation_counts_and_manifest_repeat():
    manifest = os.path.join(ROOT, ".perfbench_work", "curation_star",
                            "shards0", "manifest.json")
    runs, manifests = [], []
    for _ in range(2):
        runs.append(traced("curation_star", 11))
        with open(manifest, encoding="utf-8") as f:
            manifests.append(json.load(f))
    for key in (*COUNTS, "store.bm25.tombstones"):
        assert runs[0][key] == runs[1][key], key
    assert runs[0]["curation.docs_out"] > 0
    assert manifests[0] == manifests[1]
