"""Scale-stress the dedup/similarity family: replicate the sf0.1 corpus
1x / 3x / 10x and time each operator, checking growth stays near-linear
(the 100 TB design claim). Replicas get shifted ids plus per-replica
text suffixes / deterministic sign-flips so cross-replica content is
DECORRELATED -- otherwise every replica is a near-dup of every other and
the OUTPUT (not the operator) grows quadratically.

Usage: python tools/scale_stress.py [sf_dir]
Prints a markdown table for PERF.md.
"""

from __future__ import annotations

import random
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from automated_review_analysis_pipeline_spark.operators import dedup  # noqa: E402
from automated_review_analysis_pipeline_spark.operators import (  # noqa: E402
    curation as cur,
)
from automated_review_analysis_pipeline_spark.operators import (  # noqa: E402
    partitioning as part,
)
from automated_review_analysis_pipeline_spark.operators import (  # noqa: E402
    similarity as sim,
)
from automated_review_analysis_pipeline_spark.operators import (  # noqa: E402
    textanalysis as ta,
)
from automated_review_analysis_pipeline_spark.registry import (  # noqa: E402
    _synth_multiline,
)
from automated_review_analysis_pipeline_spark.plan_cache import (  # noqa: E402
    release_plan_caches,
)
from automated_review_analysis_pipeline_spark.session import get_spark  # noqa: E402
from automated_review_analysis_pipeline_spark.sources.tables import (  # noqa: E402
    load_table,
)

SCALES = (1, 3, 10)


def replicate_docs(base: DataFrame, n_docs: int, factor: int) -> DataFrame:
    """Replica i = the same corpus with every document's WORDS
    deterministically shuffled by a per-replica hash order. In-replica
    duplicate texts stay duplicates (same text -> same shuffle), but a
    document shares almost no word 3-shingles with its other-replica
    copies -- so near-dup OUTPUT grows linearly with the factor and the
    measurement isolates operator cost, not result-set blow-up."""
    def shuffled_text(i: int):
        if i == 0:
            return F.col("text")  # replica 0 = the original corpus
        toks = F.split(F.col("text"), r"\s+")
        # per-(word, position, replica) hash key: repeated words scatter
        # instead of clumping into degenerate "w w w" runs
        keyed = F.transform(
            toks,
            lambda w, idx: F.struct(
                F.md5(F.concat(w, idx.cast("string"),
                               F.lit(f"replica{i}"))).alias("h"),
                w.alias("w")))
        return F.concat_ws(
            " ", F.transform(F.array_sort(keyed), lambda s: s["w"]))

    parts = [
        base.select(
            (F.col("doc_id") + F.lit(i * n_docs)).alias("doc_id"),
            shuffled_text(i).alias("text"),
            "lang", "source")
        for i in range(factor)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(32).cache()


def replicate_vecs(base: DataFrame, n_vecs: int, dim: int,
                   factor: int) -> DataFrame:
    parts = []
    for i in range(factor):
        rng = random.Random(1000 + i)
        signs = F.array(*[F.lit(float(rng.choice((-1.0, 1.0))))
                          for _ in range(dim)])
        parts.append(base.select(
            (F.col("vec_id") + F.lit(i * n_vecs)).alias("vec_id"),
            F.zip_with(F.col("embedding").cast("array<double>"), signs,
                       lambda a, b: a * b).alias("embedding"),
            "label"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(32).cache()


def _incremental_minhash(docs: DataFrame) -> DataFrame:
    """Store-build + incremental pass over a 20% delta, per scale --
    times the full lifecycle so super-linearity in EITHER phase shows."""
    import os
    import shutil
    import tempfile

    from automated_review_analysis_pipeline_spark.operators.dedup import (
        build_signature_table,
        incremental_minhash_pairs,
    )

    store = os.path.join(tempfile.gettempdir(),
                         f"arap_stress_store_{os.getpid()}")
    shutil.rmtree(store, ignore_errors=True)
    build_signature_table(docs.where(F.col("doc_id") % 5 != 0), store,
                          num_hashes=16)
    return incremental_minhash_pairs(
        docs.sparkSession, store, docs.where(F.col("doc_id") % 5 == 0),
        num_hashes=16, bands=4, threshold=0.7, update_store=False)


def _star_side(fn, *args, **kwargs):
    """Call ``fn`` with the connected-components edge bound at 0, so
    every edge set takes the star rounds."""
    saved = sim.MAX_COLLECT_EDGES
    sim.MAX_COLLECT_EDGES = 0
    try:
        return fn(*args, **kwargs)
    finally:
        sim.MAX_COLLECT_EDGES = saved


def _audio_features(docs: DataFrame) -> DataFrame:
    """Round-7 audio path: synthesize genuine mono 8-bit PCM WAVs from
    the text bytes (one JVM binary concat) and run the REAL RIFF decode
    through mapInPandas -- times the per-payload Python/Arrow crossing,
    the only part whose scaling is not plain column arithmetic."""
    from automated_review_analysis_pipeline_spark.operators import (
        multimodal as mm,
    )

    n = 256
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(
            F.lit(mm.wav_header_pcm8(n)),
            F.encode(F.rpad(F.substring(F.coalesce(F.col("text"),
                                                   F.lit("")), 1, n),
                            n, " "), "UTF-8"),
        ).alias("payload"),
        F.lit("audio/wav").alias("mime"),
    )
    return mm.attach_media_features(media, decoder=mm.real_decoder)


def _table_diff_docs(docs: DataFrame) -> DataFrame:
    from automated_review_analysis_pipeline_spark.operators.quality import (
        table_diff,
    )

    mutated = (
        docs.where(F.col("doc_id") % 97 != 0)
        .withColumn(
            "text",
            F.when(F.col("doc_id") % 13 == 0,
                   F.concat(F.col("text"), F.lit(" x")))
            .otherwise(F.col("text"))))
    return table_diff(docs, mutated, ["doc_id"])


def _tmix_tokens(docs: DataFrame) -> DataFrame:
    enc = ta.bpe_encode(docs, n_merges=3).select("doc_id", "n_bpe_tokens")
    weighted = (docs.join(enc, "doc_id", "left")
                .select("doc_id", "lang",
                        F.coalesce("n_bpe_tokens", F.lit(0)).alias("__w")))
    return cur.temperature_mix(weighted, alpha=0.3, weight_col="__w")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="scale-stress")
    spark.sparkContext.setLogLevel("ERROR")

    docs0 = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "text", "lang", "source")
    vecs0 = load_table(spark, sf_dir, "embeddings")
    n_docs, n_vecs = docs0.count(), vecs0.count()
    dim = len(vecs0.select("embedding").first()[0])

    ops = {
        "minhash_pairs": lambda d, v: dedup.minhash_near_dup_pairs(
            d, threshold=0.7),
        "ngram_jaccard (cap=8, blocked)": lambda d, v:
            dedup.ngram_jaccard_pairs(d, threshold=0.3,
                                      block_on=["lang", "source"],
                                      max_posting_freq=8),
        "containment (cap=8)": lambda d, v: dedup.containment_pairs(
            d, threshold=0.6, max_posting_freq=8),
        "simhash_pairs": lambda d, v: dedup.simhash_near_dup_pairs(d),
        "winnow_overlap": lambda d, v: dedup.winnow_overlap_pairs(d),
        "banded_cosine (thr 0.8)": lambda d, v: sim.pairwise_cosine_above(
            v, threshold=0.8),
        "random_projection": lambda d, v: sim.random_projection(v),
        "prototype_prune (k=8, keep=32)": lambda d, v:
            sim.prototype_prune(v),
        "shuffle_shards (32)": lambda d, v: cur.shuffle_shards(
            d, n_shards=32),
        "line_dedup (freq>=10)": lambda d, v: cur.line_dedup(
            _synth_multiline(d), min_doc_freq=10),
        # round-5 extension: the remaining dedup/similarity/curation
        # family members the 4c sweep did not cover
        "exact_dedup (lang,source)": lambda d, v: dedup.exact_dedup(
            d, ["lang", "source"], order_by=["doc_id"]),
        "near_dup_components (thr 0.8)": lambda d, v:
            sim.near_dup_components(v, threshold=0.8),
        # force the large-star/small-star side (the edge-count switch
        # keeps test scales on the driver union-find, so without forcing
        # it the 100 TB algorithm would never be timed)
        "near_dup_components star (forced)": lambda d, v:
            _star_side(sim.near_dup_components, v, threshold=0.8),
        "semantic_dedup (thr 0.8)": lambda d, v: sim.semantic_dedup(
            v, threshold=0.8),
        "leakage_safe_split (thr 0.8)": lambda d, v:
            cur.leakage_safe_split(v, threshold=0.8),
        "curate_corpus": lambda d, v: cur.curate_corpus(d),
        "incremental_minhash (20% delta)": lambda d, v:
            _incremental_minhash(d),
        # ANN query family: FIXED 10-query set (replica-0 ids) against the
        # replicated corpus -- measures corpus-scan/index scaling at
        # constant query load, the production retrieval shape
        "cosine_topk (10q, k=5)": lambda d, v: sim.cosine_topk(
            v, v.where(F.col("vec_id") < 10), k=5),
        "sign_lsh_topk (10q, k=5)": lambda d, v: sim.sign_lsh_topk(
            v, v.where(F.col("vec_id") < 10), k=5),
        "ivf_topk (10q, k=5)": lambda d, v: sim.ivf_topk(
            v, v.where(F.col("vec_id") < 10), k=5),
        "pq_topk (10q, k=5)": lambda d, v: sim.pq_topk(
            v, v.where(F.col("vec_id") < 10), k=5),
        # round-6 extension: the BPE tokenizer family. Word-shuffled
        # replicas keep the DISTINCT-WORD vocabulary constant while the
        # corpus token stream grows -- exactly the Sennrich claim under
        # test (training cost ~ vocab after the word count; encode adds
        # the linear per-occurrence join)
        "bpe_train (3 merges)": lambda d, v: ta.bpe_train(d, n_merges=3),
        "bpe_encode (3 merges)": lambda d, v: ta.bpe_encode(d, n_merges=3),
        "pack_sequences_bpe (128)": lambda d, v:
            ta.pack_sequences_bpe(d, seq_len=128, n_merges=3),
        # round-7 extension: substring dedup (gram-grouped, no pairwise
        # join), loader-facing id encoding, token-budget curation/mix
        "substring_dedup (k=8)": lambda d, v: dedup.substring_dedup(
            d, k=8),
        "bpe_encode_ids (3 merges)": lambda d, v: ta.bpe_encode_ids(
            d, n_merges=3),
        "curate_corpus_tokens (2048)": lambda d, v:
            cur.curate_corpus_tokens(d, token_quota=2048),
        "temperature_mix_tokens": lambda d, v: _tmix_tokens(d),
        "audio_features (real PCM decode)": lambda d, v:
            _audio_features(d),
        # round-9 extension: two-pass global id assignment -- the claim
        # under test is that cost tracks the two aggregate passes + one
        # keyed window, with no single-task sort emerging at 10x
        "assign_global_ids (32 buckets)": lambda d, v:
            part.assign_global_ids(
                d.select("doc_id", F.length("text").alias("n_chars")),
                ["n_chars", "doc_id"], n_buckets=32),
        # round-9: snapshot diff -- both sides reduce to (key, hash)
        # before the outer join, so cost must track the two scans, not
        # the payload width
        "table_diff (3% mutated)": lambda d, v: _table_diff_docs(d),
    }
    only = set(sys.argv[2:])
    if only:
        ops = {k: f for k, f in ops.items() if k.split(" ")[0] in only}

    results: dict[str, dict[int, float]] = {k: {} for k in ops}
    rows_out: dict[str, dict[int, int]] = {k: {} for k in ops}
    for factor in SCALES:
        docs = replicate_docs(docs0, n_docs, factor)
        vecs = replicate_vecs(vecs0, n_vecs, dim, factor)
        docs.count(), vecs.count()
        for name, fn in ops.items():
            best, nrows = 1e9, -1
            for _ in range(2):
                release_plan_caches()
                t0 = time.perf_counter()
                nrows = fn(docs, vecs).count()
                best = min(best, time.perf_counter() - t0)
            results[name][factor] = round(best, 2)
            rows_out[name][factor] = nrows
            print(f"  {factor}x {name}: {best:.2f}s ({nrows} pairs)",
                  flush=True)
        docs.unpersist()
        vecs.unpersist()

    print(f"\ncorpus: {n_docs} docs / {n_vecs} vectors at 1x\n")
    print("| operator | 1x | 3x | 10x | t(10x)/t(1x) | pairs@10x |")
    print("|---|---|---|---|---|---|")
    for name in ops:
        r = results[name]
        ratio = round(r[10] / r[1], 1) if r[1] else float("inf")
        print(f"| {name} | {r[1]} s | {r[3]} s | {r[10]} s | {ratio}x "
              f"| {rows_out[name][10]} |")
    spark.stop()


if __name__ == "__main__":
    main()
