"""Persisted BM25 inverted index: build + delta appends accumulate
EXACTLY the one-shot scorer's inputs, searches are bucket-pruned to
the query terms, and replayed appends are no-ops."""
from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from automated_review_analysis_pipeline_spark import fsio
from automated_review_analysis_pipeline_spark.operators import (
    textanalysis as ta,
)
from automated_review_analysis_pipeline_spark.sources.tables import load_table

QUERY = ("the", "of", "data", "model")


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_bm25_index_appends_equal_oneshot(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = str(tmp_path / "bm25")
    ta.build_bm25_index(docs.where(F.col("doc_id") % 3 == 0), store,
                        n_buckets=4)
    for m in (1, 2):
        ta.bm25_index_append(spark, store,
                             docs.where(F.col("doc_id") % 3 == m))
    got = _rows(ta.bm25_index_search(spark, store, QUERY, k=15))
    want = _rows(ta.bm25_search(docs, QUERY, k=15))
    assert got == want and got


def test_bm25_index_search_is_bucket_pruned(spark, sf_dir, tmp_path):
    """The scale claim: a search's postings scan reads ONLY the query
    terms' buckets (SelectedBucketsCount < total), never the whole
    index."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = str(tmp_path / "bm25")
    ta.build_bm25_index(docs, store, n_buckets=8)
    plan = (ta.bm25_index_search(spark, store, ("data",), k=5)
            ._jdf.queryExecution().executedPlan().toString())
    assert "SelectedBucketsCount" in plan, plan
    import re

    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m and int(m.group(1)) < int(m.group(2)), m.group(0)


def test_bm25_index_append_replay_is_noop(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = str(tmp_path / "bm25")
    ta.build_bm25_index(docs.where(F.col("doc_id") % 2 == 0), store,
                        n_buckets=4)
    ta.bm25_index_append(spark, store, docs.where(F.col("doc_id") % 2 == 1),
                         batch_id=0)
    meta1 = fsio.read_json(spark, store + "/meta.json")
    once = _rows(ta.bm25_index_search(spark, store, QUERY, k=10))
    ta.bm25_index_append(spark, store, docs.where(F.col("doc_id") % 2 == 1),
                         batch_id=0)
    assert fsio.read_json(spark, store + "/meta.json") == meta1
    assert _rows(ta.bm25_index_search(spark, store, QUERY, k=10)) == once


def test_bm25_index_empty_text_docs_excluded(spark, tmp_path):
    """Docs whose text tokenizes to nothing are absent from postings,
    doclen, and the counters -- matching the one-shot scorer's view."""
    docs = spark.createDataFrame(
        [(1, "data model data"), (2, "   "), (3, "")],
        "doc_id long, text string")
    store = str(tmp_path / "bm25")
    ta.build_bm25_index(docs, store, n_buckets=2)
    meta = fsio.read_json(spark, store + "/meta.json")
    assert meta["n_docs"] == 1 and meta["total_len"] == 3
    got = _rows(ta.bm25_index_search(spark, store, ("data",), k=5))
    want = _rows(ta.bm25_search(docs, ("data",), k=5))
    assert got == want and len(got) == 1


def test_bm25_store_compaction_preserves_scores(spark, sf_dir, tmp_path):
    from automated_review_analysis_pipeline_spark.operators.partitioning import (
        index_compact,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = str(tmp_path / "bm25")
    ta.build_bm25_index(docs.where(F.col("doc_id") % 3 == 0), store,
                        n_buckets=4)
    for m in (1, 2):
        ta.bm25_index_append(spark, store,
                             docs.where(F.col("doc_id") % 3 == m))
    before = _rows(ta.bm25_index_search(spark, store, QUERY, k=10))
    report = index_compact(spark, store)
    assert set(report) == {"postings", "doclen"}
    for part, (b, a) in report.items():
        assert a <= b and a >= 1, (part, b, a)
    assert report["postings"][1] <= 4  # one file per bucket
    assert _rows(ta.bm25_index_search(spark, store, QUERY, k=10)) == before


def test_bm25_index_topk_equals_oneshot_both_probe_paths(
        spark, sf_dir, tmp_path):
    """The batch (query-table) form against the persisted index equals
    the one-shot bm25_topk exactly -- via BOTH probe paths: the
    driver-pruned static IN filter (small distinct-term sets) and the
    broadcast term-join fallback (max_pruning_terms=0 forces it)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    q = (docs.where(F.col("doc_id") < 5)
         .select(F.col("doc_id").alias("query_id"),
                 F.concat_ws(" ", F.slice(
                     ta.tokens(F.lower(F.col("text"))), 1, 4))
                 .alias("query_text")))
    store = str(tmp_path / "bm25")
    ta.build_bm25_index(docs.where(F.col("doc_id") % 2 == 0), store,
                        n_buckets=4)
    ta.bm25_index_append(spark, store, docs.where(F.col("doc_id") % 2 == 1))
    want = _rows(ta.bm25_topk(docs, q, k=5))
    pruned = ta.bm25_index_topk(spark, store, q, k=5)
    assert _rows(pruned) == want and want
    joined = ta.bm25_index_topk(spark, store, q, k=5,
                                max_pruning_terms=0)
    assert _rows(joined) == want
    # the pruned path's postings scan is bucket-pruned
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "SelectedBucketsCount" in plan, plan


def test_streaming_bm25_auto_compact_bounds_files_per_bucket(
        spark, sf_dir, tmp_path):
    """The small-file closed loop: draining 4 micro-batches with
    auto_compact_files_per_bucket=2 keeps every postings bucket at
    <= 2 files (each append adds one; the inline OPTIMIZE folds back
    to one), and the drained search still equals the one-shot scorer
    exactly -- compaction is score-invariant."""
    import os
    import re

    from automated_review_analysis_pipeline_spark.streaming.docs_stream import (
        streaming_bm25_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "docs_split")
    docs.repartition(4).write.parquet(src)
    work = str(tmp_path / "work")
    got = _rows(streaming_bm25_index(
        spark, src, work, QUERY, max_files_per_trigger=1, k=15,
        auto_compact_files_per_bucket=2))
    want = _rows(ta.bm25_search(docs, QUERY, k=15))
    assert got == want and got
    buckets: dict = {}
    post = os.path.join(work, "bm25_store", "postings")
    for f in os.listdir(post):
        m = re.search(r"_(\d{5})(?:\.c\d+)?\.[a-z0-9.]*parquet$", f)
        if m:
            buckets[m.group(1)] = buckets.get(m.group(1), 0) + 1
    assert buckets and max(buckets.values()) <= 2, buckets


# One doc of each corpus has 6dp term scores that sum EXACTLY to a 4dp
# rounding boundary. Doc 4: 0.448391 + 0.313874 + 0.871385 = 1.63365,
# which a double sum reads as 1.6336 or 1.6337 depending on the order
# the postings arrive in. Doc 2: 0.812182 + 0.266886 + 0.812182 =
# 1.89125, which every double summation order reads as 1.8912.
BOUNDARY_CORPORA = [
    ([(1, "y"), (2, "red green y y"), (3, "red blue z z z green x"),
      (4, "z blue green red red blue")], 4, 1.6337),
    ([(1, "green green"), (2, "green x blue x red"),
      (3, "green green red y x"), (4, "w x z z y w"), (5, "x blue green")],
     2, 1.8913),
]


@pytest.mark.parametrize("corpus,doc_id,score", BOUNDARY_CORPORA)
def test_bm25_scores_independent_of_postings_order(spark, tmp_path, corpus,
                                                   doc_id, score):
    """Permuting the postings order (corpus order, partitioning, and
    which docs the index build vs. the append receives) leaves every
    score identical across the one-shot scorer, the persisted index and
    the DuckDB twin, and the boundary doc rounds its exact sum half-up."""
    query = ("red", "green", "blue")
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", corpus)
    want = con.execute(ta.bm25_search_sql(query, k=10)).fetchall()
    con.close()
    assert dict((r[0], r[1]) for r in want)[doc_id] == score
    for i, order in enumerate((corpus, corpus[::-1],
                               corpus[1::2] + corpus[::2])):
        docs = spark.createDataFrame(order, "doc_id long, text string") \
            .repartition(i + 1)
        assert _rows(ta.bm25_search(docs, query, k=10)) == want
        store = str(tmp_path / f"bm25_{i}")
        half = len(order) // 2
        ta.build_bm25_index(
            spark.createDataFrame(order[:half], "doc_id long, text string"),
            store, n_buckets=2)
        ta.bm25_index_append(spark, store, spark.createDataFrame(
            order[half:], "doc_id long, text string"))
        assert _rows(ta.bm25_index_search(spark, store, query, k=10)) == want
