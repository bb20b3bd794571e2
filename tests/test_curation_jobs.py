"""Spark work per call on the curation and index-upkeep path: pinned job
counts (a regression guard, as ``test_api_run_job_ceilings`` is for the
survey path) and a single-execution check of the shard writer."""
from __future__ import annotations

import os
import uuid

from pyspark.sql import functions as F
from test_cached_pipeline import _jobs_in_group

from automated_review_analysis_pipeline_spark.operators import (
    textanalysis as ta,
)
from automated_review_analysis_pipeline_spark.operators.dedup import (
    exact_dedup,
    minhash_near_dup_pairs,
)
from automated_review_analysis_pipeline_spark.operators.similarity import (
    star_connected_components,
)
from automated_review_analysis_pipeline_spark.sinks.shards import (
    write_training_shards,
)

BASE = [
    "the quick brown fox jumps over the lazy dog near the river bank",
    "spark plans every query before it runs a single task on the data",
    "a training shard holds documents in a fixed pseudo random order",
    "near duplicate documents share most of their word shingles here",
    "the inverted index maps each word to the documents that hold it",
    "tombstones hide deleted documents until compaction purges them",
]
# each base text, an exact copy and a one-word edit of it
CORPUS = [(i, t) for i, t in enumerate(
    [t for b in BASE for t in (b, b, b.replace("the", "a", 1) + " too")])]


def _docs(spark):
    return spark.createDataFrame(CORPUS, "doc_id bigint, text string")


def test_curation_and_index_job_ceilings(spark, tmp_path):
    """Pinned Spark job counts per public call on an 18-doc inline
    corpus, local[4], 4 runs each. Measured: building
    ``minhash_near_dup_pairs`` over a shuffled (deduplicated) input 0
    (1 while ``_spread`` counted the input's partitions);
    ``write_training_shards`` 5 (12 while the manifest re-ran the
    input); ``bm25_index_delete`` 5 (7 while the tombstone writer
    recounted the new ids; 9 while the id list was a pickled frame and
    doclen/ was read by schema inference);
    ``star_connected_components`` over the 3 near-dup edges, checkpointed
    first, 3 (5 while a count decided the side before a collect fetched
    the edges; 6 while the edges took the star path, whose convergence
    check runs even when no round is needed; graphs that need rounds
    save more). The ceilings are the measured maximum + 2."""
    uniq = exact_dedup(_docs(spark), ["text"], order_by=["doc_id"])
    box = {}

    def build():
        box["pairs"] = minhash_near_dup_pairs(uniq, threshold=0.5)

    assert _jobs_in_group(spark, f"minhash-{uuid.uuid4().hex}", build) == 0
    assert box["pairs"].count() > 0

    edges = box["pairs"].select(F.col("id_a").alias("a"),
                                F.col("id_b").alias("b")).localCheckpoint()
    n = _jobs_in_group(spark, f"components-{uuid.uuid4().hex}",
                       lambda: star_connected_components(edges))
    assert n <= 5, n

    n = _jobs_in_group(
        spark, f"shards-{uuid.uuid4().hex}",
        lambda: write_training_shards(uniq, str(tmp_path / "d"), 4))
    assert n <= 7, n

    store = str(tmp_path / "bm25")
    ta.build_bm25_index(uniq, store, n_buckets=4)
    n = _jobs_in_group(
        spark, f"delete-{uuid.uuid4().hex}",
        lambda: ta.bm25_index_delete(spark, store, [0, 3]))
    assert n <= 7, n


def test_shard_writer_runs_its_input_once(spark, tmp_path):
    """The text column comes from a Python UDF that leaves one
    executor-side marker file per evaluated row: the writer evaluates
    each row once, so the manifest (built from the rows written) costs
    no second run of the input."""
    marker = str(tmp_path / "rows")
    os.makedirs(marker)

    @F.udf("string")
    def text_of(i):
        open(os.path.join(marker, uuid.uuid4().hex), "w").close()
        return CORPUS[i][1]

    docs = spark.range(len(CORPUS), numPartitions=3).select(
        F.col("id").alias("doc_id"), text_of("id").alias("text"))
    manifest = write_training_shards(docs, str(tmp_path / "d"), n_shards=4)
    assert sum(s["n_docs"] for s in manifest["shards"]) == len(CORPUS)
    assert len(os.listdir(marker)) == len(CORPUS)
