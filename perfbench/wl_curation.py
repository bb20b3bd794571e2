"""Corpus curation, the first two parts of the ``curation_star`` unit: an
LLM-data-pipeline batch job, then a retrieval index over its output.

Each is a timed part. The curation job composes public functions over
a seeded corpus that holds exact copies, near-duplicates, boilerplate
and PII lines:
``redact_pii`` -> ``gopher_quality_flags`` keep -> ``exact_dedup`` on text
-> ``minhash_near_dup_pairs`` -> ``star_connected_components`` -> keep the
smallest ``doc_id`` of each component -> ``write_training_shards``. It is
shuffle- and tokenization-heavy and runs no Python UDF. The index part
builds a persisted BM25 index over the shards, minus a seeded held-out
set, and maintains it: ``build_bm25_index`` -> ``bm25_index_append``
(the held-out docs) -> ``bm25_index_delete`` (seeded live ids) -> a
search with seeded terms. The writes go through the staged-commit,
tombstone and meta-file paths (``store_commit``, ``store_delete``,
``fsio``).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time
from contextlib import contextmanager

from perfbench import gen
from perfbench.harness import Run, dir_stats

N_DOCS = 1_500
N_SHARDS = 4
N_BUCKETS = 8
APPEND_DOCS, DELETE_DOCS = 50, 20
STAGES = ("curation.redact_pii", "curation.gopher_quality_flags",
          "dedup.exact_dedup", "dedup.minhash_near_dup_pairs",
          "similarity.star_connected_components",
          "sinks.write_training_shards")
INDEX_OPS = ("textanalysis.build_bm25_index",
             "textanalysis.bm25_index_append",
             "textanalysis.bm25_index_delete",
             "textanalysis.bm25_index_search")
STORE = ("store.bm25.files", "store.bm25.tombstones", "store.mb")
COUNTS = ("curation.docs_in", "curation.docs_kept_quality",
          "dedup.docs_after_exact", "dedup.lsh_candidates",
          "dedup.pairs_verified", "dedup.verify_ratio",
          "similarity.cc_iterations", "curation.docs_out")


def prepare(run: Run) -> dict[str, float]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    run.corpus_path = os.path.join(run.work, "corpus.parquet")
    t0 = time.perf_counter()
    ids, texts = zip(*gen.curation_corpus(run.seed, N_DOCS).rows)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts, pa.string())}),
                   run.corpus_path)
    t1 = time.perf_counter()
    run.spark.read.parquet(run.corpus_path).count()
    t2 = time.perf_counter()
    return {"setup.generate_inputs.wall_s": t1 - t0,
            "setup.warmup.wall_s": t2 - t1}


def curate(run: Run, out_dir: str) -> tuple[dict, tuple]:
    """The curation job; returns the shard manifest and the stage frames
    ``record_counts`` takes. Traced, each stage's output is materialized
    inside its own span."""
    from pyspark.sql import functions as F

    from automated_review_analysis_pipeline_spark.operators.curation import (
        gopher_quality_flags,
        redact_pii,
    )
    from automated_review_analysis_pipeline_spark.operators.dedup import (
        exact_dedup,
        minhash_near_dup_pairs,
    )
    from automated_review_analysis_pipeline_spark.operators.similarity import (
        star_connected_components,
    )
    from automated_review_analysis_pipeline_spark.plan_cache import (
        release_plan_caches,
    )
    from automated_review_analysis_pipeline_spark.sinks.shards import (
        write_training_shards,
    )

    tr = run.tracer

    def stage(df):
        return df.localCheckpoint(eager=True) if tr.enabled else df

    docs = run.spark.read.parquet(run.corpus_path)
    with tr.span(STAGES[0]):
        red = stage(redact_pii(docs).select(
            "doc_id", F.col("redacted_text").alias("text")))
    with tr.span(STAGES[1]):
        keep = gopher_quality_flags(red).where("keep").select("doc_id")
        kept = stage(red.join(keep, "doc_id"))
    with tr.span(STAGES[2]):
        uniq = stage(exact_dedup(kept, ["text"], order_by=["doc_id"]))
    with tr.span(STAGES[3]):
        pairs = stage(minhash_near_dup_pairs(uniq))
    with tr.span(STAGES[4]):
        labels, rounds = star_connected_components(
            pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b")))
        labels = stage(labels)
    survivors = (uniq.join(labels, uniq.doc_id == labels.node, "left")
                 .where(F.col("node").isNull()
                        | (F.col("node") == F.col("component")))
                 .select("doc_id", "text"))
    with tr.span(STAGES[5]):
        manifest = write_training_shards(survivors, out_dir,
                                         n_shards=N_SHARDS)
    release_plan_caches()
    return manifest, (docs, kept, uniq, pairs, rounds)


def record_counts(run, manifest, docs, kept, uniq, pairs, rounds) -> None:
    from automated_review_analysis_pipeline_spark.operators.dedup import (
        add_minhash,
        lsh_candidate_pairs,
    )

    n_pairs = pairs.count()
    n_cands = lsh_candidate_pairs(add_minhash(uniq)).count()
    run.layer("curation.docs_in", docs.count())
    run.layer("curation.docs_kept_quality", kept.count())
    run.layer("dedup.docs_after_exact", uniq.count())
    run.layer("dedup.lsh_candidates", n_cands)
    run.layer("dedup.pairs_verified", n_pairs)
    run.layer("dedup.verify_ratio", n_pairs / max(n_cands, 1))
    run.layer("similarity.cc_iterations", rounds)
    run.layer("curation.docs_out",
              sum(s["n_docs"] for s in manifest["shards"]))


def manifest_digest(manifest: dict) -> str:
    return hashlib.sha256(json.dumps(manifest, sort_keys=True)
                          .encode()).hexdigest()


def check_shards(run: Run, out_dir: str, manifest: dict) -> list[int]:
    """Checks on the written shards; returns the surviving doc ids."""
    import pyarrow.dataset as ds

    table = ds.dataset(os.path.join(out_dir, "shards"), format="parquet",
                       partitioning="hive").to_table(
                           columns=["doc_id", "text"])
    texts = table.column("text").to_pylist()
    total = sum(s["n_docs"] for s in manifest["shards"])
    run.check(len(texts) == len(set(texts)),
              f"{len(texts) - len(set(texts))} surviving docs share a text")
    run.check(total == len(texts),
              f"manifest total {total} != {len(texts)} survivors written")
    run.check(0 < total < N_DOCS,
              f"{total} survivors of {N_DOCS} docs: dedup removed nothing "
              "or everything")
    return sorted(table.column("doc_id").to_pylist())


def index(run: Run, out_dir: str, store: str, held: list[int],
          deleted: list[int], terms: tuple[str, ...]) -> list:
    """Build the BM25 index over the shards minus ``held``, append
    ``held``, delete ``deleted`` and search ``terms``; returns the
    hits."""
    from pyspark.sql import functions as F

    from automated_review_analysis_pipeline_spark.operators.textanalysis import (
        bm25_index_append,
        bm25_index_delete,
        bm25_index_search,
        build_bm25_index,
    )
    from automated_review_analysis_pipeline_spark.plan_cache import (
        release_plan_caches,
    )

    tr, spark = run.tracer, run.spark
    docs = spark.read.parquet(os.path.join(out_dir, "shards")).select(
        "doc_id", "text")
    is_held = F.col("doc_id").isin(held)

    with tr.span(INDEX_OPS[0]):
        build_bm25_index(docs.where(~is_held), store, n_buckets=N_BUCKETS)
    with tr.span(INDEX_OPS[1]):
        bm25_index_append(spark, store, docs.where(is_held), batch_id=1)
    with tr.span(INDEX_OPS[2]):
        bm25_index_delete(spark, store, deleted, batch_id=1)
    with tr.span(INDEX_OPS[3]):
        hits = [tuple(r) for r in bm25_index_search(
            spark, store, terms, k=10).collect()]
    release_plan_caches()
    return hits


def check_index(run: Run, out_dir: str, deleted: list[int],
                terms: tuple[str, ...], got: list) -> None:
    """The search against the program's DuckDB twin of the one-shot
    ``bm25_search`` over the surviving corpus, and no deleted id among
    its hits."""
    import duckdb

    from automated_review_analysis_pipeline_spark.operators.textanalysis import (
        bm25_search_sql,
    )

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT doc_id, text FROM "
            f"read_parquet('{os.path.join(out_dir, 'shards')}/*/*.parquet') "
            f"WHERE doc_id NOT IN ({', '.join(map(str, deleted))})")
        want = con.execute(bm25_search_sql(terms, k=10)).fetchall()
    finally:
        con.close()
    run.check(got == [tuple(r) for r in want] and len(got) > 0,
              f"bm25_index_search{terms}: {len(got)} hits differ from the "
              f"one-shot scorer's {len(want)}")
    hit = set(deleted).intersection(r[0] for r in got)
    run.check(not hit, f"bm25_index_search{terms} returned deleted ids "
                       f"{sorted(hit)}")


def record_store(run: Run, store: str) -> None:
    import pyarrow.parquet as pq

    files, mb = dir_stats(store)
    tomb = os.path.join(store, "tombstones")
    run.layer("store.bm25.files", files)
    run.layer("store.bm25.tombstones", pq.read_table(tomb).num_rows
              if os.path.isdir(tomb) else 0)
    run.layer("store.mb", mb)


@contextmanager
def units(run: Run):
    """Yields the unit: the curation job, then the index part."""
    terms = gen.search_terms(run.seed)
    rng = random.Random(run.seed)
    digests = []

    def unit(i: int) -> None:
        out_dir = os.path.join(run.work, f"shards{i}")
        store = os.path.join(run.work, f"bm25_{i}")
        with run.timed():
            manifest, stages = curate(run, out_dir)
        if run.trace:
            record_counts(run, manifest, *stages)
        ids = check_shards(run, out_dir, manifest)
        digests.append(manifest_digest(manifest))
        run.check(digests[-1] == digests[0],
                  "shard manifest digest differs between units")
        picked = rng.sample(ids, APPEND_DOCS + DELETE_DOCS)
        held, deleted = picked[:APPEND_DOCS], picked[APPEND_DOCS:]
        with run.timed():
            hits = index(run, out_dir, store, held, deleted, terms)
        check_index(run, out_dir, deleted, terms, hits)
        if run.trace:
            record_store(run, store)

    yield unit


SPAN_METRICS = ("wall_s", "driver_s", "jobs", "task_cpu_s", "shuffle_mb")


def layer_names() -> list[str]:
    return [*(f"{s}.{m}" for s in STAGES for m in SPAN_METRICS), *COUNTS,
            *(f"{s}.{m}" for s in INDEX_OPS for m in SPAN_METRICS[:4]),
            *STORE]
