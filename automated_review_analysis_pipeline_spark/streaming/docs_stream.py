"""Streaming near-duplicate detection over a document stream.

The incremental-dedup shape a continuous ingestion pipeline needs: every
micro-batch's documents are MinHash-signed and LSH-banded, candidate
pairs are generated against BOTH the batch itself and the persisted
signature store (all previously seen documents), verified with exact
Jaccard, and appended to a results table; the batch's signatures then
append to the store. Old-vs-old pairs are excluded by construction
(earlier batches already emitted them), so after the stream drains the
accumulated pair set equals the one-shot batch recompute EXACTLY -- every
pair (a, b) is found precisely once, when its later-arriving member's
batch runs. That equivalence gives this streaming operator a full
value-level SQL oracle (the batch MinHash oracle), rare for streaming.

Scale: the store grows as O(corpus signatures) -- (id, shingles, 16
int64s) per doc, a small fraction of the raw text -- and each batch's
work is (batch x store) banded candidates, never store x store. The
parquet-append store stands in for a real table format; swap the
directory for Delta/Iceberg and the plan is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automated_review_analysis_pipeline_spark.operators.dedup import (
    add_minhash,
    jaccard_with_sizes,
    lsh_candidate_pairs,
)
from automated_review_analysis_pipeline_spark.session import driver_frame

SIG_SCHEMA = ("doc_id long, __shingles array<string>, __n int, "
              "minhash array<long>")


def read_documents_stream(spark: SparkSession, path: str,
                          max_files_per_trigger: int | None = None
                          ) -> DataFrame:
    """Parquet-directory stream of documents; schema pinned from a batch
    probe of the same path (footer-only), like read_events_stream."""
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if path.endswith(".parquet") and os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return reader.parquet(path)


def streaming_minhash_pairs(spark: SparkSession, docs_path: str,
                            work_dir: str,
                            max_files_per_trigger: int | None = None,
                            k: int = 3, num_hashes: int = 16,
                            bands: int = 4,
                            threshold: float = 0.0) -> DataFrame:
    """Drain ``docs_path`` with availableNow, incrementally detecting
    near-duplicate pairs (see module docstring); returns the accumulated
    verified pair set, which equals the batch minhash_near_dup_pairs
    result on the same corpus.

    Replay note: a replayed (at-least-once) micro-batch appends
    duplicate signature and pair ROWS, but never changes the returned
    SET -- candidates and results are both value-duplicates that the
    final ``dropDuplicates`` collapses, so no batch-id guard is needed
    here (unlike the simjoin/profile lanes, whose stores are
    fold-sensitive)."""
    store_dir = os.path.join(work_dir, "sig_store")
    results_dir = os.path.join(work_dir, "results")
    chk = os.path.join(work_dir, "_chk")

    def has_parquet(path: str) -> bool:
        return os.path.isdir(path) and any(
            f.endswith(".parquet") for f in os.listdir(path))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        new_sig = (
            add_minhash(batch_df.select("doc_id", "text"), "text",
                        k, num_hashes)
            .select("doc_id", "__shingles",
                    F.size("__shingles").cast("int").alias("__n"), "minhash")
        ).cache()
        store = (spark.read.parquet(store_dir) if has_parquet(store_dir)
                 else driver_frame(spark, [], SIG_SCHEMA))
        allsig = (
            new_sig.withColumn("__new", F.lit(True))
            .unionByName(store.withColumn("__new", F.lit(False)))
        ).cache()
        cands = lsh_candidate_pairs(allsig, "doc_id", num_hashes, bands,
                                    flag_col="__new")
        sides = allsig.select("doc_id", "__shingles", "__n")
        a, b = sides.alias("sa"), sides.alias("sb")
        verified = (
            cands.join(a, F.col("id_a") == F.col("sa.doc_id"))
            .join(b, F.col("id_b") == F.col("sb.doc_id"))
            .select(
                "id_a", "id_b",
                F.round(jaccard_with_sizes(
                    F.col("sa.__shingles"), F.col("sb.__shingles"),
                    F.col("sa.__n"), F.col("sb.__n")), 6)
                .alias("jaccard_sim"))
            .where(F.col("jaccard_sim") >= threshold)
        )
        verified.write.mode("append").parquet(results_dir)
        new_sig.select("doc_id", "__shingles", "__n", "minhash") \
            .write.mode("append").parquet(store_dir)
        allsig.unpersist()
        new_sig.unpersist()

    stream = read_documents_stream(spark, docs_path, max_files_per_trigger)
    q = (
        stream.writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .option("checkpointLocation", chk)
        .start()
    )
    q.awaitTermination()
    if not has_parquet(results_dir):
        return driver_frame(
            spark, [], "id_a long, id_b long, jaccard_sim double")
    return (spark.read.parquet(results_dir)
            .dropDuplicates(["id_a", "id_b"])
            .orderBy("id_a", "id_b"))


def _maybe_refreeze(spark: SparkSession, store_dir: str,
                    ratio: float) -> bool:
    """The CLOSED maintenance loop for streaming simjoin lanes: read
    the store's drift trigger (metadata-only -- the per-append
    candidate-density records simjoin_append keeps anyway) and run
    simjoin_refreeze inline when it trips. Safe here because
    foreachBatch serializes micro-batches: the stream IS the store's
    single writer, so maintenance between batches cannot race an
    append; the refreeze also resets the records, re-arming the
    trigger against the new order."""
    from automated_review_analysis_pipeline_spark.operators.dedup import (
        simjoin_refreeze,
        simjoin_store_stats_row,
    )

    st = simjoin_store_stats_row(spark, store_dir,
                                 drift_threshold=ratio)
    if not st["refreeze_recommended"]:
        return False
    simjoin_refreeze(spark, store_dir)
    return True


def _maybe_compact_simjoin(spark: SparkSession, store_dir: str,
                           max_files_per_bucket: int) -> bool:
    """Inline OPTIMIZE trigger for the streaming simjoin lanes,
    keyed on prefix bucket health (files per bucket == appends since
    the last compaction). Single-writer-safe between micro-batches,
    like the refreeze trigger."""
    from automated_review_analysis_pipeline_spark.operators.partitioning import (  # noqa: E501
        bucket_file_counts,
        index_compact,
    )

    buckets = bucket_file_counts(spark, store_dir + "/prefix")
    if not buckets or max(buckets.values()) <= max_files_per_bucket:
        return False
    index_compact(spark, store_dir)
    return True


def streaming_set_similarity(spark: SparkSession, docs_path: str,
                             work_dir: str,
                             max_files_per_trigger: int | None = None,
                             threshold: float = 0.5,
                             k: int = 3,
                             auto_refreeze_ratio: float | None = None,
                             auto_compact_files_per_bucket:
                             int | None = None) -> DataFrame:
    """Streaming EXACT set-similarity detection: the zero-false-negative
    twin of :func:`streaming_minhash_pairs`. The persisted exact-simjoin
    store (operators.dedup.build_simjoin_index) is initialized EMPTY --
    freezing the degenerate all-df-0 order, i.e. plain token-string
    order, which is still a valid shared total order (prefix-filter
    completeness needs ANY shared order; frequencies only minimize
    candidates) -- and every micro-batch simjoin_appends: only
    (batch x seen-so-far) prefix candidates are joined, each qualifying
    pair is found exactly once (when its later member arrives), and the
    drained pair set equals the one-shot batch recompute EXACTLY, so
    the batch exact-Jaccard oracle carries over verbatim.

    ``auto_refreeze_ratio`` closes the maintenance loop: after each
    append the store's drift trigger is read (metadata-only) and a
    :func:`~..operators.dedup.simjoin_refreeze` runs inline past the
    ratio -- the long-running ingestion service keeps its own prefix
    selectivity healthy with no operator in the loop. Pair sets are
    refreeze-invariant, so the drained result (and its oracle) is
    unchanged whether or not maintenance fired (pytest drives a
    drift-mid-stream fixture through the trigger)."""
    import shutil

    from automated_review_analysis_pipeline_spark.operators.dedup import (
        build_simjoin_index,
        simjoin_append,
    )

    store_dir = os.path.join(work_dir, "simjoin_store")
    chk = os.path.join(work_dir, "_chk")
    shutil.rmtree(store_dir, ignore_errors=True)
    empty = spark.read.parquet(docs_path).limit(0)
    build_simjoin_index(empty, store_dir, threshold=threshold, k=k)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # batch_id makes a replayed (at-least-once) micro-batch a
        # no-op instead of a duplicate append -- see simjoin_append
        simjoin_append(spark, store_dir,
                       batch_df.select("doc_id", "text"),
                       batch_id=batch_id)
        if auto_refreeze_ratio is not None:
            _maybe_refreeze(spark, store_dir, auto_refreeze_ratio)
        if auto_compact_files_per_bucket is not None:
            _maybe_compact_simjoin(spark, store_dir,
                                   auto_compact_files_per_bucket)

    stream = read_documents_stream(spark, docs_path, max_files_per_trigger)
    q = (stream.writeStream.foreachBatch(process)
         .trigger(availableNow=True)
         .option("checkpointLocation", chk)
         .start())
    q.awaitTermination()
    return (spark.read.parquet(store_dir + "/pairs")
            .orderBy("a_id", "b_id"))


def streaming_components(spark: SparkSession, docs_path: str,
                         work_dir: str,
                         max_files_per_trigger: int | None = None,
                         threshold: float = 0.5,
                         k: int = 3,
                         auto_refreeze_ratio: float | None = None,
                         auto_compact_files_per_bucket:
                         int | None = None,
                         auto_compact_deltas: int | None = 32
                         ) -> DataFrame:
    """CONTINUOUSLY-FRESH dedup clusters: the full incremental dedup
    lifecycle as one streaming lane. Every micro-batch (a) folds into
    the persisted exact-simjoin store (delta-only candidate + verify
    work, zero false negatives -- :func:`streaming_set_similarity`'s
    discipline), then (b) feeds EXACTLY the pairs that append
    discovered into the persisted components store, where star rounds
    run over the contracted <= 2x|batch pairs| label graph -- so after
    the drain, cluster labels over the whole corpus are already
    sitting in the store, no one-shot clustering pass anywhere.

    The per-batch pair DELTA is recovered by file-listing diff against
    a FOLDED-FILES watermark (parquet part names are job-unique;
    metadata-only): ``folded_pairs.json`` records which pairs files
    the components store has absorbed, and advances only AFTER the
    fold commits. A crash between the simjoin commit and the
    components fold therefore re-folds that batch's files on replay --
    and re-folding is IDEMPOTENT by contraction (edges whose endpoints
    already share a component collapse to nothing before the star
    rounds), so labels stay exact end to end across the two stores
    under at-least-once replay, with no cross-store transaction
    needed. The simjoin store keeps its own batch_id guard + staged-
    append rollback.

    Maintenance interplay, documented: ``index_compact`` on the
    simjoin store REWRITES the pairs files, so the next micro-batch's
    listing diff sees them all as new and re-folds the full pair set
    once -- labels stay exact (contraction no-op again), at an O(all
    pairs) one-time fold cost; run compaction in the same maintenance
    window as a components_compact and the watermark re-bases with
    it. The watermark file itself is one name per pairs part file --
    compaction is also what keeps THAT bounded.

    Drained labels equal the one-shot recompute over the full corpus
    (labels are minima of exact-Jaccard reachability), so the batch
    recursive-CTE oracle carries over verbatim. Returns (doc_id,
    component) for every document that participates in >= 1 pair."""
    import shutil

    from automated_review_analysis_pipeline_spark import fsio
    from automated_review_analysis_pipeline_spark.operators.dedup import (
        build_simjoin_index,
        simjoin_append,
    )
    from automated_review_analysis_pipeline_spark.operators.similarity import (
        build_components_store,
        components_append,
        components_read,
    )

    store_dir = os.path.join(work_dir, "simjoin_store")
    comp_dir = os.path.join(work_dir, "comp_store")
    chk = os.path.join(work_dir, "_chk")
    shutil.rmtree(store_dir, ignore_errors=True)
    shutil.rmtree(comp_dir, ignore_errors=True)
    fsio.delete(spark, os.path.join(work_dir, "folded_pairs.json"))
    empty = spark.read.parquet(docs_path).limit(0)
    build_simjoin_index(empty, store_dir, threshold=threshold, k=k)
    pairs_dir = store_dir + "/pairs"

    folded_p = os.path.join(work_dir, "folded_pairs.json")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        simjoin_append(spark, store_dir,
                       batch_df.select("doc_id", "text"),
                       batch_id=batch_id)
        folded = set(fsio.read_json(spark, folded_p)) \
            if fsio.exists(spark, folded_p) else set()
        listing = [f for f in fsio.list_files(spark, pairs_dir)
                   if f.endswith(".parquet")]
        new_files = [pairs_dir + "/" + f for f in listing
                     if f not in folded]
        if new_files:
            new_pairs = spark.read.parquet(*new_files)
            if not fsio.exists(spark, fsio.join(comp_dir, "meta.json")):
                build_components_store(new_pairs, comp_dir,
                                       a_col="a_id", b_col="b_id")
            else:
                # auto_compact_deltas bounds the label fold chain FROM
                # THE LANE (round 15): the inline re-base existed in
                # components_append, but the streaming service had a
                # knob only for bucket health -- now both store
                # families' debt is capped by lane parameters
                components_append(spark, comp_dir, new_pairs,
                                  a_col="a_id", b_col="b_id",
                                  auto_compact_every=auto_compact_deltas)
        # watermark advances ONLY after the fold committed: a crash
        # above re-folds these files on replay, which contraction
        # makes a label no-op
        fsio.write_json(spark, folded_p, sorted(listing))
        if auto_refreeze_ratio is not None:
            # refreeze rewrites prefix/dfreq only -- the pairs files
            # (and so the folded watermark) are untouched
            _maybe_refreeze(spark, store_dir, auto_refreeze_ratio)
        if auto_compact_files_per_bucket is not None \
                and _maybe_compact_simjoin(spark, store_dir,
                                           auto_compact_files_per_bucket):
            # compaction rewrote the pairs files: re-anchor the
            # watermark to the new names NOW (the folded pair SET is
            # unchanged), so the next batch does not pay the
            # documented full re-fold that an EXTERNAL compaction
            # still triggers
            fsio.write_json(
                spark, folded_p,
                sorted(f for f in fsio.list_files(spark, pairs_dir)
                       if f.endswith(".parquet")))

    stream = read_documents_stream(spark, docs_path, max_files_per_trigger)
    q = (stream.writeStream.foreachBatch(process)
         .trigger(availableNow=True)
         .option("checkpointLocation", chk)
         .start())
    q.awaitTermination()
    if not fsio.exists(spark, fsio.join(comp_dir, "meta.json")):
        return driver_frame(spark, [], "doc_id long, component long")
    return (components_read(spark, comp_dir)
            .select(F.col("node").alias("doc_id"), "component")
            .orderBy("doc_id"))


def streaming_embedding_drift(spark: SparkSession, vectors_path: str,
                              ivfpq_store: str, work_dir: str,
                              max_files_per_trigger: int | None = None,
                              vec_col: str = "embedding"
                              ) -> DataFrame:
    """Streaming embedding-drift monitor, wired to the index it
    guards: every micro-batch of new vectors (a) raises a per-batch
    ALARM row -- the cosine between the batch's mean vector and the
    persisted IVF-PQ index's TRAINING-snapshot mean (build_ivfpq_index
    persists the training corpus's per-dim stats as ``dimstats/``) --
    and (b) folds its decimal-exact per-dim sums into a versioned
    state store (the profile-store discipline: batch_id-guarded,
    meta flipped last), so after the drain the ACCUMULATED report
    equals the one-shot ``embedding_drift(training snapshot, whole
    streamed corpus)`` EXACTLY (decimal addition is associative; batch
    boundaries cannot change the finalized means) -- the batch oracle
    carries over verbatim.

    Returns the finalized drift report; per-batch alarm rows land in
    ``work_dir/alerts`` (batch_id, cos_means) for the pytest that a
    shifted batch drops the cosine while identity batches stay ~1."""
    import shutil

    from automated_review_analysis_pipeline_spark import fsio
    from automated_review_analysis_pipeline_spark.operators.quality import (
        drift_from_stats,
        embedding_dim_stats,
        merge_dim_stats,
    )

    state_dir = os.path.join(work_dir, "drift_state")
    alerts_dir = os.path.join(work_dir, "alerts")
    chk = os.path.join(work_dir, "_chk")
    shutil.rmtree(state_dir, ignore_errors=True)
    shutil.rmtree(alerts_dir, ignore_errors=True)
    if not fsio.exists(spark, fsio.join(ivfpq_store, "dimstats")):
        raise FileNotFoundError(
            f"{ivfpq_store} has no dimstats/ -- the store predates the "
            f"round-13 training-snapshot stats; rebuild it with "
            f"build_ivfpq_index to enable drift monitoring")
    train_stats = spark.read.parquet(ivfpq_store + "/dimstats")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        meta_p = fsio.join(state_dir, "meta.json")
        meta = fsio.read_json(spark, meta_p) \
            if fsio.exists(spark, meta_p) else {"version": -1}
        if batch_id <= meta.get("last_batch_id", -1):
            return  # at-least-once replay: already folded
        batch_stats = embedding_dim_stats(batch_df, vec_col) \
            .localCheckpoint(eager=True)
        # per-batch alarm vs the index's training snapshot
        (drift_from_stats(train_stats, batch_stats)
         .agg(F.min("cos_means").alias("cos_means"))
         .select(F.lit(batch_id).alias("batch_id"), "cos_means")
         .write.mode("append").parquet(alerts_dir))
        if meta["version"] >= 0:
            old = spark.read.parquet(
                fsio.join(state_dir, f"stats/v{meta['version']}"))
            merged = merge_dim_stats(old, batch_stats)
        else:
            merged = batch_stats
        nxt = meta["version"] + 1
        merged.write.mode("overwrite").parquet(
            fsio.join(state_dir, f"stats/v{nxt}"))
        fsio.write_json(spark, meta_p,
                        {"version": nxt, "last_batch_id": batch_id})
        # a drained year of micro-batches must not keep a dir per batch
        from automated_review_analysis_pipeline_spark.operators.quality import (  # noqa: E501
            vacuum_versions,
        )
        vacuum_versions(spark, fsio.join(state_dir, "stats"), nxt,
                        keep=2)

    stream = read_documents_stream(spark, vectors_path,
                                   max_files_per_trigger)
    q = (stream.writeStream.foreachBatch(process)
         .trigger(availableNow=True)
         .option("checkpointLocation", chk)
         .start())
    q.awaitTermination()
    meta_p = fsio.join(state_dir, "meta.json")
    if not fsio.exists(spark, meta_p):  # empty stream: no new snapshot
        acc = driver_frame(spark, [], "dim int, s decimal(38,9), n long")
    else:
        meta = fsio.read_json(spark, meta_p)
        acc = spark.read.parquet(
            fsio.join(state_dir, f"stats/v{meta['version']}"))
    return drift_from_stats(train_stats, acc).orderBy("dim")


def streaming_ivfpq_maintain(spark: SparkSession, vectors_path: str,
                             ivfpq_store: str, work_dir: str,
                             seed_corpus: DataFrame | None = None,
                             max_files_per_trigger: int | None = None,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             auto_rebuild_cos: float | None = None
                             ) -> DataFrame:
    """The CLOSED ANN maintenance loop (round 15) -- what
    auto_refreeze_ratio is to the simjoin store, this is to the IVF-PQ
    index. Appends encode against build-time centroids/codebooks,
    which keeps membership exact but lets recall decay as the corpus
    drifts off the training snapshot; streaming_embedding_drift
    already raises that alarm -- this lane ACTS on it. Every
    micro-batch:

    1. appends its vectors to ``work_dir/corpus`` -- the raw-vector
       LAKE the index's exact rerank already requires and any rebuild
       retrains from (batch_id-guarded sidecar: at-least-once replays
       skip);
    2. folds them into the index (``ivfpq_index_append``: staged
       commit + its own batch_id guard -- exactly-once codes);
    3. compares the batch's mean vector against the index's CURRENT
       training snapshot (``dimstats/``, re-read per batch: a rebuild
       refreshes it) and logs the alarm row; past
       ``auto_rebuild_cos`` the lane runs :func:`~..operators.
       similarity.ivfpq_rebuild` INLINE from the accumulated lake --
       single-writer-safe because foreachBatch serializes batches --
       after which the alarm re-arms against the NEW snapshot.

    The rebuilt index is byte-equivalent in results to a fresh build
    over the accumulated corpus (deterministic training), so probe
    oracles carry over; the recall restoration is pytest-measured
    (stale vs rebuilt on a drifted fixture). Returns the alarm log
    (batch_id, cos_means, rebuilt)."""
    import shutil

    from automated_review_analysis_pipeline_spark import fsio
    from automated_review_analysis_pipeline_spark.operators.quality import (
        drift_from_stats,
        embedding_dim_stats,
    )
    from automated_review_analysis_pipeline_spark.operators.similarity import (  # noqa: E501
        ivfpq_index_append,
        ivfpq_rebuild,
    )

    lake = os.path.join(work_dir, "corpus")
    lake_meta = os.path.join(work_dir, "corpus_meta.json")
    alerts_dir = os.path.join(work_dir, "alerts")
    chk = os.path.join(work_dir, "_chk")
    shutil.rmtree(alerts_dir, ignore_errors=True)
    if seed_corpus is not None and not fsio.exists(spark, lake_meta):
        shutil.rmtree(lake, ignore_errors=True)
        seed_corpus.select(id_col, vec_col).write.parquet(lake)
        fsio.write_json(spark, lake_meta, {"last_batch_id": -1})

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        lm = fsio.read_json(spark, lake_meta) \
            if fsio.exists(spark, lake_meta) else {"last_batch_id": -1}
        if batch_id > lm["last_batch_id"]:
            batch_df.select(id_col, vec_col).write.mode("append") \
                .parquet(lake)
            fsio.write_json(spark, lake_meta,
                            {"last_batch_id": batch_id})
        ivfpq_index_append(spark, ivfpq_store, batch_df,
                           id_col=id_col, vec_col=vec_col,
                           batch_id=batch_id)
        train_stats = spark.read.parquet(ivfpq_store + "/dimstats")
        batch_stats = embedding_dim_stats(batch_df, vec_col) \
            .localCheckpoint(eager=True)
        cos = (drift_from_stats(train_stats, batch_stats)
               .agg(F.min("cos_means").alias("c")).first()["c"])
        rebuilt = False
        if auto_rebuild_cos is not None and cos is not None \
                and cos < auto_rebuild_cos:
            ivfpq_rebuild(spark, ivfpq_store,
                          spark.read.parquet(lake),
                          id_col=id_col, vec_col=vec_col)
            rebuilt = True
        driver_frame(
            spark, [(batch_id, float(cos), rebuilt)],
            "batch_id long, cos_means double, rebuilt boolean") \
            .write.mode("append").parquet(alerts_dir)

    stream = read_documents_stream(spark, vectors_path,
                                   max_files_per_trigger)
    q = (stream.writeStream.foreachBatch(process)
         .trigger(availableNow=True)
         .option("checkpointLocation", chk)
         .start())
    q.awaitTermination()
    if not fsio.exists(spark, alerts_dir):
        return driver_frame(
            spark, [], "batch_id long, cos_means double, rebuilt boolean")
    return spark.read.parquet(alerts_dir).orderBy("batch_id")


def _maybe_compact_bm25(spark: SparkSession, store_dir: str,
                        max_files_per_bucket: int) -> bool:
    """Inline OPTIMIZE trigger for the streaming BM25 lane: when any
    postings bucket has accumulated more than ``max_files_per_bucket``
    files (== appends since the last compaction; each append writes
    <= 1 file per bucket), fold the store with index_compact.
    Metadata-only check (file-name listing)."""
    from automated_review_analysis_pipeline_spark.operators.partitioning import (  # noqa: E501
        bucket_file_counts,
        index_compact,
    )

    buckets = bucket_file_counts(spark, store_dir + "/postings")
    if not buckets or max(buckets.values()) <= max_files_per_bucket:
        return False
    index_compact(spark, store_dir)
    return True


def streaming_bm25_index(spark: SparkSession, docs_path: str,
                         work_dir: str,
                         query_terms: tuple[str, ...],
                         max_files_per_trigger: int | None = None,
                         k: int = 20,
                         auto_compact_files_per_bucket: int | None = None
                         ) -> DataFrame:
    """Maintain a persisted BM25 inverted index under a document
    stream: the index starts EMPTY and every micro-batch
    bm25_index_appends (delta-only postings/doclen appends + exact
    counter bumps, batch_id-guarded so at-least-once replays fold
    once). Because search derives idf/avgdl from the ACCUMULATED state
    at query time, the drained search equals the one-shot
    :func:`~..operators.textanalysis.bm25_search` over the whole
    corpus EXACTLY -- the batch scoring oracle carries over verbatim.
    The freshness shape a continuously-ingesting retrieval service
    needs: each increment pays its own tokenization only.

    ``auto_compact_files_per_bucket`` closes the small-file loop the
    way ``auto_refreeze_ratio`` closes the selectivity one: each
    append adds <= 1 file per postings bucket, so files-per-bucket
    counts appends since the last OPTIMIZE; past the bound the lane
    runs ``index_compact`` inline (single-writer-safe -- foreachBatch
    serializes micro-batches) and the index folds back to one file
    per bucket. Scores are compaction-invariant (pytest-pinned)."""
    import shutil

    from automated_review_analysis_pipeline_spark.operators.textanalysis import (  # noqa: E501
        bm25_index_append,
        bm25_index_search,
        build_bm25_index,
    )

    store_dir = os.path.join(work_dir, "bm25_store")
    chk = os.path.join(work_dir, "_chk")
    shutil.rmtree(store_dir, ignore_errors=True)
    empty = spark.read.parquet(docs_path).limit(0)
    build_bm25_index(empty.select("doc_id", "text"), store_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        bm25_index_append(spark, store_dir,
                          batch_df.select("doc_id", "text"),
                          batch_id=batch_id)
        if auto_compact_files_per_bucket is not None:
            _maybe_compact_bm25(spark, store_dir,
                                auto_compact_files_per_bucket)

    stream = read_documents_stream(spark, docs_path, max_files_per_trigger)
    q = (stream.writeStream.foreachBatch(process)
         .trigger(availableNow=True)
         .option("checkpointLocation", chk)
         .start())
    q.awaitTermination()
    return bm25_index_search(spark, store_dir, query_terms, k=k)


def streaming_curate(spark: SparkSession, docs_path: str,
                     work_dir: str,
                     quota: int = 80, budget: int = 512, k: int = 5,
                     max_files_per_trigger: int | None = None,
                     m_bits: int = 1 << 20, n_hashes: int = 3,
                     max_pruning_shingles: int = 1024,
                     export_dir: str | None = None) -> DataFrame:
    """END-TO-END STREAMING CURATION (round 15): the batch
    :func:`~..operators.curation.curate_corpus` pipeline re-expressed
    as delta-disciplined persisted state, so a continuously-ingesting
    corpus keeps its curated training manifest current without ever
    re-scanning history. Per micro-batch:

    1. **Quality gate** -- Gopher keep-rules evaluate on the batch's
       rows alone; every gated doc's METADATA (id, lang, token count,
       text fingerprint, split) appends to the ``gated/`` state --
       the text itself is never stored;
    2. **Dedup state** -- exact-dedup needs only min(doc_id) per
       distinct text, a fold over the stored fingerprints at drain
       end; no cross-batch text comparison ever runs;
    3. **Bloom decontamination, incrementally** -- the batch's
       TEST-split docs (original corpus, ungated -- the batch
       definition) contribute their shingles to a persisted set AND
       OR their bit positions into a fixed-size Bloom bitset
       (``bloom.bits``, m_bits/8 bytes, atomic overwrite); the
       batch's TRAIN-side shingles are probed against the bitset
       (vectorized numpy over Arrow batches -- false positives die in
       the exact verify join against the accumulated test-shingle
       set, false negatives impossible), while the REVERSE direction
       -- earlier train docs contaminated by THIS batch's test docs
       -- probes the bucketed ``train_postings/`` store with the
       bm25-style two-lane scan (static IN -> bucket pruning when the
       batch's test shingles are bounded, broadcast join beyond);
       newly contaminated ids append to ``contaminated/``;
    4. all four state appends commit under the STAGED COMMIT protocol
       (:mod:`...store_commit`) with a batch-id replay guard --
       at-least-once replays fold exactly once; a crashed batch rolls
       back (stray Bloom bits are harmless: supersets only admit
       candidates the exact verify kills).

    After the drain, the manifest assembles from METADATA-ONLY state
    (survivor fold -> per-lang md5 quota window -> token-budget shard
    offsets -- the exact curate_corpus expressions), so the finish
    pass costs O(gated survivors), not O(corpus text). Drained
    manifest == one-shot ``curate_corpus`` over the whole corpus
    EXACTLY (the batch oracle carries over verbatim). With
    ``export_dir`` the manifest additionally ships via
    ``sorted_export`` -- the validating-manifest shard delivery.
    Returns the manifest (lang, doc_id, n_tokens, tokens_before,
    shard)."""
    import numpy as np

    from automated_review_analysis_pipeline_spark import (
        fsio,
        store_commit,
    )
    from automated_review_analysis_pipeline_spark.operators.curation import (
        TRAIN_MAX,
        VAL_MAX,
        gopher_quality_flags,
        split_key,
    )
    from automated_review_analysis_pipeline_spark.operators.dedup import (
        shingle_tokens,
        word_shingles_from_tokens,
    )
    from automated_review_analysis_pipeline_spark.operators.partitioning import (  # noqa: E501
        register_bucketed_path,
        write_bucketed_path,
    )
    from automated_review_analysis_pipeline_spark.operators.textanalysis import (  # noqa: E501
        token_count,
    )

    store = os.path.join(work_dir, "curate_store")
    chk = os.path.join(work_dir, "_chk")
    meta_p = fsio.join(store, "meta.json")
    bits_p = fsio.join(store, "bloom.bits")
    gated_p = store + "/gated"
    test_sh_p = store + "/test_shingles"
    cont_p = store + "/contaminated"
    post_p = store + "/train_postings"
    import hashlib

    post_name = ("arap_curate_postings_"
                 + hashlib.md5(store.encode()).hexdigest()[:12])
    n_buckets = 8
    post_cols = "`doc_id` bigint, `shingle` string"

    def hash_pos(col):
        h1 = F.pmod(F.xxhash64(col), F.lit(m_bits))
        h2 = F.pmod(F.xxhash64(F.concat(col, F.lit("#b2"))),
                    F.lit(m_bits))
        return [F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits))
                .cast("long").alias(f"__p{i}") for i in range(n_hashes)]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        meta = fsio.read_json(spark, meta_p) \
            if fsio.exists(spark, meta_p) else {}
        store_commit.repair(spark, store, meta.get("append_epoch", 0))
        if batch_id <= meta.get("last_batch_id", -1):
            return
        docs = batch_df.select("doc_id", "lang", "text") \
            .withColumn("__h", split_key("doc_id"))
        kept = gopher_quality_flags(docs).where("keep").select("doc_id")
        gated = (docs.join(kept, "doc_id", "left_semi")
                 .select("doc_id", "lang",
                         token_count(F.col("text")).alias("n_tokens"),
                         F.md5("text").alias("fp"),
                         (F.col("__h") < TRAIN_MAX).alias("is_train"))
                 .localCheckpoint(eager=True))
        sh = docs.withColumn(
            "__toks", shingle_tokens(F.col("text"))).select(
            "doc_id", "__h",
            F.explode(word_shingles_from_tokens(F.col("__toks"), k))
            .alias("shingle"))
        new_test_sh = (sh.where(F.col("__h") >= VAL_MAX)
                       .select("shingle").distinct()
                       .localCheckpoint(eager=True))
        new_train_sh = (sh.where(F.col("__h") < TRAIN_MAX)
                        .join(kept, "doc_id", "left_semi")
                        .select("doc_id", "shingle")
                        .localCheckpoint(eager=True))

        # Bloom bits: OR in this batch's test shingles FIRST (bits are
        # a superset filter; crash-stray bits only admit candidates
        # the exact verify kills)
        bits = (np.frombuffer(fsio.read_bytes(spark, bits_p),
                              dtype=np.uint8).copy()
                if fsio.exists(spark, bits_p)
                else np.zeros(m_bits // 8, dtype=np.uint8))
        new_pos = (new_test_sh
                   .select(F.explode(F.array(
                       *hash_pos(F.col("shingle")))).alias("p"))
                   .distinct().collect())
        if new_pos:
            p = np.array([r[0] for r in new_pos], dtype=np.int64)
            np.bitwise_or.at(bits, p >> 3,
                             np.uint8(1) << (p & 7).astype(np.uint8))
        fsio.write_bytes(spark, bits_p, bits.tobytes())
        bcast = spark.sparkContext.broadcast(bits.tobytes())

        # direction 1: this batch's train shingles vs ALL test
        # shingles so far (bitset probe -> exact verify)
        probe_in = new_train_sh.select(
            "doc_id", "shingle", *hash_pos(F.col("shingle")))

        def probe(batches):
            import pandas as pd  # noqa: F401
            b_arr = np.frombuffer(bcast.value, dtype=np.uint8)
            for b in batches:
                if not len(b):
                    continue
                mask = np.ones(len(b), dtype=bool)
                for i in range(n_hashes):
                    pp = b[f"__p{i}"].to_numpy(dtype=np.int64)
                    mask &= (b_arr[pp >> 3]
                             & (np.uint8(1)
                                << (pp & 7).astype(np.uint8))) != 0
                if mask.any():
                    yield b.loc[mask, ["doc_id", "shingle"]]

        cand = probe_in.mapInPandas(probe, "doc_id long, shingle string")
        acc_test = (spark.read.parquet(test_sh_p).select("shingle")
                    if fsio.exists(spark, test_sh_p + "/_SUCCESS")
                    or fsio.count_files(spark, test_sh_p)
                    else new_test_sh.limit(0))
        all_test = acc_test.unionByName(new_test_sh).distinct()
        cont1 = cand.join(all_test, "shingle").select("doc_id")

        # direction 2: earlier train postings vs THIS batch's test
        # shingles -- bucket-pruned static IN when bounded, broadcast
        # join beyond (the bm25_index_topk two-lane discipline)
        cont2 = driver_frame(spark, [], "doc_id long")
        if fsio.count_files(spark, post_p):
            post = register_bucketed_path(
                spark, post_p, post_name, post_cols,
                ["shingle"], ["shingle"], n_buckets)
            terms = [r["shingle"] for r in new_test_sh
                     .limit(max_pruning_shingles + 1).collect()]
            if len(terms) <= max_pruning_shingles:
                matched = post.where(F.col("shingle").isin(terms)) \
                    if terms else post.limit(0)
            else:
                matched = post.join(
                    F.broadcast(new_test_sh), "shingle")
            cont2 = matched.select("doc_id")

        new_cont = cont1.unionByName(cont2).distinct() \
            .localCheckpoint(eager=True)

        epoch = int(meta.get("append_epoch", 0)) + 1
        store_commit.begin_append(
            spark, store,
            ["gated", "test_shingles", "train_postings",
             "contaminated"], epoch)
        gated.write.mode("append").parquet(gated_p)
        new_test_sh.write.mode("append").parquet(test_sh_p)
        write_bucketed_path(new_train_sh, post_p, post_name,
                            post_cols, ["shingle"], ["shingle"],
                            n_buckets, "append")
        new_cont.write.mode("append").parquet(cont_p)
        meta.update({"append_epoch": epoch, "last_batch_id": batch_id,
                     "m_bits": m_bits, "n_hashes": n_hashes})
        fsio.write_json(spark, meta_p, meta)  # COMMIT POINT
        store_commit.commit_append(spark, store)

    stream = read_documents_stream(spark, docs_path, max_files_per_trigger)
    q = (stream.writeStream.foreachBatch(process)
         .trigger(availableNow=True)
         .option("checkpointLocation", chk)
         .start())
    q.awaitTermination()

    if not fsio.exists(spark, meta_p):  # empty stream
        return driver_frame(
            spark, [], "lang string, doc_id long, n_tokens int, "
                "tokens_before bigint, shard bigint")
    from pyspark.sql import Window

    gated = spark.read.parquet(gated_p)
    w_d = Window.partitionBy("fp").orderBy("doc_id")
    kept = (gated.withColumn("__rn", F.row_number().over(w_d))
            .where("__rn = 1 AND is_train"))
    cont = (spark.read.parquet(cont_p).distinct()
            if fsio.count_files(spark, cont_p)
            else kept.select("doc_id").limit(0))
    clean = kept.join(cont, "doc_id", "left_anti")
    w_q = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id")
    sampled = (clean.withColumn("__r", F.row_number().over(w_q))
               .where(F.col("__r") <= quota))
    w_s = (Window.partitionBy("lang").orderBy("doc_id")
           .rowsBetween(Window.unboundedPreceding, -1))
    manifest = (
        sampled.select("lang", "doc_id",
                       F.col("n_tokens").cast("int").alias("n_tokens"))
        .select("lang", "doc_id", "n_tokens",
                F.coalesce(F.sum("n_tokens").over(w_s), F.lit(0))
                .alias("tokens_before"))
        .select("lang", "doc_id", "n_tokens", "tokens_before",
                F.floor(F.col("tokens_before") / budget).cast("long")
                .alias("shard"))
        .orderBy("lang", "doc_id"))
    if export_dir is not None:
        from automated_review_analysis_pipeline_spark.operators.partitioning import (  # noqa: E501
            sorted_export,
        )
        sorted_export(manifest, export_dir, ["lang", "doc_id"])
        manifest = (spark.read.parquet(export_dir + "/data")
                    .select("lang", "doc_id", "n_tokens",
                            "tokens_before", "shard")
                    .orderBy("lang", "doc_id"))
    return manifest


def streaming_profile_stats(spark: SparkSession, docs_path: str,
                            work_dir: str,
                            max_files_per_trigger: int | None = None
                            ) -> DataFrame:
    """Streaming ANALYZE: maintain the incremental profile store
    (operators.quality.build_profile_store) under a document stream --
    every micro-batch folds ONLY its own rows into the persisted
    <= k x 513-row register state (profile_append), old versions are
    vacuumed down to 2 as the drain proceeds, and the drained stats
    equal the one-shot column_stats of the whole corpus EXACTLY (the
    register/count/bound merge law is associative and commutative, so
    batch boundaries cannot change the result) -- the batch hll oracle
    carries over verbatim. The profile a 100 TB ingest keeps current
    at the cost of each increment's scan."""
    import shutil

    from automated_review_analysis_pipeline_spark.operators.quality import (
        build_profile_store,
        profile_append,
        profile_stats,
        profile_vacuum,
    )

    store_dir = os.path.join(work_dir, "profile_store")
    chk = os.path.join(work_dir, "_chk")
    shutil.rmtree(store_dir, ignore_errors=True)
    empty = spark.read.parquet(docs_path).limit(0)
    build_profile_store(empty, store_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # foreachBatch is at-least-once: the batch_id guard makes a
        # replayed micro-batch a no-op, so the fold stays exactly-once
        # (profile_append's version flip is atomic, so even a crash
        # MID-append replays cleanly)
        profile_append(spark, store_dir, batch_df, batch_id=batch_id)
        profile_vacuum(spark, store_dir, keep=2)

    stream = read_documents_stream(spark, docs_path, max_files_per_trigger)
    q = (stream.writeStream.foreachBatch(process)
         .trigger(availableNow=True)
         .option("checkpointLocation", chk)
         .start())
    q.awaitTermination()
    return profile_stats(spark, store_dir)
