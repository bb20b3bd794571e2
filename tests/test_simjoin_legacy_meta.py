"""simjoin_append over a store whose meta.json predates the doc counters
(``n_docs_total`` and ``build_stats.n_docs``): a missing counter says
nothing about emptiness, so the append must still join the new docs
against the store instead of taking the empty-store shortcut."""
from __future__ import annotations

from automated_review_analysis_pipeline_spark import fsio
from automated_review_analysis_pipeline_spark.operators import dedup

BASE = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "completely unrelated words about gardening tomatoes and soil"),
]
NEW = [  # 11 near-duplicates 1; 12 stands alone
    (11, "the quick brown fox jumps over the lazy dog near the river bed"),
    (12, "a short note on quarterly tax filing deadlines for freelancers"),
]


def test_append_without_counters_finds_new_vs_store_pairs(spark, tmp_path):
    store = str(tmp_path / "sj_legacy")
    dedup.build_simjoin_index(
        spark.createDataFrame(BASE, "doc_id long, text string"), store,
        threshold=0.5, n_buckets=4)
    meta_path = fsio.join(store, "meta.json")
    meta = fsio.read_json(spark, meta_path)
    meta.pop("n_docs_total", None)
    meta.pop("build_stats", None)
    fsio.write_json(spark, meta_path, meta)

    new = spark.createDataFrame(NEW, "doc_id long, text string")
    dedup.simjoin_append(spark, store, new)
    got = {(r["a_id"], r["b_id"])
           for r in dedup.simjoin_pairs(spark, store).collect()}
    everything = spark.createDataFrame(BASE + NEW, "doc_id long, text string")
    want = {(r["a_id"], r["b_id"]) for r in
            dedup.set_similarity_join(everything, threshold=0.5).collect()}
    assert (1, 11) in want
    assert got == want
