"""Deduplication operators for a training-data pipeline (SURVEY.md §2B):
exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Design for 100 TB:
* exact dedup is a single hash shuffle on the key (or a window if a
  deterministic survivor matters);
* MinHash/LSH never compares all pairs -- signatures are per-row column
  math, candidate generation is a groupBy on (band, bucket-hash), and only
  bucket-mates are verified. Buckets are the classic b-bands x r-rows
  construction, so the shuffle volume is O(rows x bands), not O(rows^2);
* the hash family is ONE md5 per shingle (portable: identical in the
  DuckDB oracle, deterministic across runs/executors, unlike hash()/
  xxhash64 whose seeds are engine-specific) followed by cheap integer
  universal-hash permutations (a*x+b mod 2^31-1) for the signature;
* SimHash is numpy inside a vectorized pandas UDF (bit-majority over token
  hashes is genuinely awkward as column math) -- Arrow-batched, linear.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from automated_review_analysis_pipeline_spark.plan_cache import plan_cache
from automated_review_analysis_pipeline_spark.session import driver_frame


class _jd:
    """Label every Spark job issued in the block (guide §1.5: a
    multi-action operator like simjoin_append is unreadable in the UI /
    event log without per-action descriptions). Restores the previous
    description on exit so callers' labels survive nesting."""

    def __init__(self, spark, desc: str):
        self._sc = spark.sparkContext
        self._desc = desc

    def __enter__(self):
        self._prev = self._sc.getLocalProperty("spark.job.description")
        self._sc.setJobDescription(self._desc)

    def __exit__(self, *exc):
        self._sc.setJobDescription(self._prev)


# a shuffle exchange node in a physical-plan string; Broadcast- and
# ReusedExchange do not match
_SHUFFLE_EXCHANGE = re.compile(r"(?<![A-Za-z])Exchange ")


def _spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition UP to the session's parallelism when the input arrived
    under-partitioned (a small parquet file reads as ONE partition -- fatal
    for the CPU-bound hashing below). Inputs that already have enough
    partitions (the 100 TB case) pass through untouched: no extra shuffle.

    The physical plan decides first. An input whose plan already holds
    a shuffle exchange keeps its partitioning, and no Spark job runs:
    AQE sizes that exchange at run time, and counting its partitions
    would run it -- and everything upstream -- just to probe.
    Only an input without one is probed; for a scan, possibly filtered
    or projected, that probe lists its file splits and runs nothing."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if _SHUFFLE_EXCHANGE.search(plan):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, *cols) if cols else df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, keys: list[str],
                order_by: list[str] | None = None) -> DataFrame:
    """Keep one row per key. With ``order_by``, the survivor is the first
    row in that order (deterministic, oracle-friendly); without, it is
    dropDuplicates (cheaper: partial dedup map-side before the shuffle)."""
    if order_by is None:
        return df.dropDuplicates(keys)
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def duplicate_stats(df: DataFrame, keys: list[str]) -> DataFrame:
    """Per-key multiplicity for keys occurring more than once."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .where(F.col("n_copies") > 1)
        .orderBy(*keys)
    )


# ---------------------------------------------------------------------------
# shingles + portable MinHash
# ---------------------------------------------------------------------------

def shingle_tokens(text: Column) -> Column:
    """The tokenization the shingle family shares."""
    return F.split(F.lower(F.trim(F.coalesce(text, F.lit("")))), r"\s+")


def word_shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Distinct word k-shingles over a PRE-ALIASED token array. Prefer
    this + :func:`stage_shingles` over :func:`word_shingles` in plans:
    referencing the token attribute keeps the split out of the shingle
    expression tree, where it would otherwise be inlined ~4x per row
    (measured 3.3x on decontaminate at sf0.1 -- CollapseProject declines
    to inline a multi-referenced expensive attribute, cf. PERF.md #1)."""
    n = F.size(toks)
    shingled = F.transform(
        F.sequence(F.lit(0), n - F.lit(k)),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )
    return F.array_distinct(
        F.when(n >= k, shingled).otherwise(
            F.array(F.concat_ws(" ", toks))
        )
    )


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-shingles of lowercased text. len<k -> the whole text
    as one shingle (so short docs still participate). Column-expression
    form (repeats the split subtree); plans should stage via
    :func:`stage_shingles` instead."""
    return word_shingles_from_tokens(shingle_tokens(text), k)


def stage_shingles(df: DataFrame, text_col: str, k: int,
                   out_col: str = "__shingles") -> DataFrame:
    """Two-stage shingle projection: token split -> own attribute ->
    shingle construction references it (computed once per row).

    CAUTION: do not F.explode(out_col) directly on the result unless the
    frame is cached first -- InferFiltersFromGenerate adds a size()>0
    filter on the attribute and predicate pushdown re-inlines the whole
    shingle expression below the staging (4x split per row again). For
    explode consumers, build the shingle expression inside the explode
    over a staged token attribute instead (see curation.decontaminate)."""
    return (
        df.withColumn("__toks", shingle_tokens(F.col(text_col)))
        .withColumn(out_col, word_shingles_from_tokens(F.col("__toks"), k))
        .drop("__toks")
    )


# Universal-hash MinHash family: ONE md5 per shingle (the expensive part),
# then num_hashes cheap integer permutations (a*x + b) mod p. p = 2^31 - 1
# keeps a*x inside int64 for any 32-bit x, so Spark and the DuckDB oracle
# compute bit-identical coordinates. Coefficients are fixed literals
# (seeded) shared by the Spark plan and the generated oracle SQL.
MINHASH_PRIME = 2_147_483_647  # 2^31 - 1


def minhash_coeffs(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
            for _ in range(num_hashes)]


def shingle_ints(shingles: Column) -> Column:
    """shingle -> 32-bit int (first 8 hex chars of md5), mod p."""
    return F.transform(
        shingles,
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10)
        .cast("long") % MINHASH_PRIME,
    )


def minhash_signature(shingle_int_col: Column,
                      num_hashes: int = 16) -> Column:
    """num_hashes MinHash coordinates over pre-hashed shingle ints."""
    def perm(a: int, b: int):
        # closure factory: a unary lambda per coordinate (PySpark treats
        # every parameter -- even defaulted ones -- as a lambda variable)
        return lambda x: (F.lit(a) * x + F.lit(b)) % MINHASH_PRIME

    return F.array(*[
        F.array_min(F.transform(shingle_int_col, perm(a, b)))
        for a, b in minhash_coeffs(num_hashes)
    ])


def add_minhash(df: DataFrame, text_col: str = "text", k: int = 3,
                num_hashes: int = 16) -> DataFrame:
    """documents + (shingles, minhash signature). Staged withColumns so the
    shingle array is built once and md5 runs once per shingle -- the
    permutations that follow are integer-only."""
    out = stage_shingles(df, text_col, k)
    out = out.withColumn("__shingle_ints", shingle_ints(F.col("__shingles")))
    return out.withColumn(
        "minhash", minhash_signature(F.col("__shingle_ints"), num_hashes)
    )


def lsh_candidate_pairs(df: DataFrame, id_col: str = "doc_id",
                        num_hashes: int = 16, bands: int = 4,
                        flag_col: str | None = None) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands of
    num_hashes/bands rows; docs sharing any band bucket are candidates.

    Emits distinct (id_a < id_b) pairs. The only shuffles are the
    explode-groupBy on bucket keys and the final distinct -- no cross join
    anywhere. Requires ``minhash`` column (see add_minhash).

    ``flag_col`` (boolean) restricts output to pairs where AT LEAST ONE
    side is flagged -- the incremental-dedup shape: old-vs-old pairs were
    already emitted by earlier runs, so only new-vs-anything survives.
    The flagged subset IS the join's right input (not a post-join
    filter), so the bucket join is |all| x |new| instead of |all|^2 --
    old-vs-old candidates are never materialized, which is the whole
    point of incremental dedup."""
    rows_per_band = num_hashes // bands
    band_keys = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("|", *[
                F.col("minhash")[b * rows_per_band + r]
                for r in range(rows_per_band)
            ]).alias("bucket"),
        )
        for b in range(bands)
    ])
    extra = [F.col(flag_col).alias("__flag")] if flag_col else []
    buckets = (
        df.select(F.col(id_col), F.explode(band_keys).alias("bk"), *extra)
        .select(id_col, "bk.band", "bk.bucket",
                *(["__flag"] if flag_col else []))
    )
    if flag_col:
        left = buckets.drop("__flag").alias("l")
        right = buckets.where(F.col("__flag")).drop("__flag").alias("r")
        cond = (
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") != F.col(f"r.{id_col}"))
        )
        # new-new pairs surface twice (either side can be the right row);
        # least/greatest + distinct canonicalizes
        return (
            left.join(right, cond)
            .select(
                F.least(F.col(f"l.{id_col}"), F.col(f"r.{id_col}"))
                .alias("id_a"),
                F.greatest(F.col(f"l.{id_col}"), F.col(f"r.{id_col}"))
                .alias("id_b"))
            .distinct()
        )
    left = buckets.alias("l")
    right = buckets.alias("r")
    cond = (
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.bucket") == F.col("r.bucket"))
        & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
    )
    return (
        left.join(right, cond)
        .select(F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def jaccard_with_sizes(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Jaccard with per-side sizes precomputed BEFORE the join: one
    array_intersect per pair, |union| = na + nb - |inter|, no union array
    ever materialized -- half the per-pair set work of :func:`jaccard`."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = na.cast("double") + nb.cast("double") - inter
    return F.when(union <= 0, F.lit(0.0)).otherwise(inter / union)


def minhash_near_dup_pairs(documents: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", k: int = 3,
                           num_hashes: int = 16, bands: int = 4,
                           threshold: float = 0.7) -> DataFrame:
    """MinHash -> LSH banding -> exact-Jaccard verification of candidates.

    Returns (id_a, id_b, jaccard_sim) for verified near-duplicate pairs.
    The verify join ships only (id, shingles) for candidate ids -- at scale
    add a broadcast threshold or bucketed join on id."""
    # One computation of shingles+signature, cached: four downstream uses
    # (two join sides of candidate generation, two of verification) would
    # otherwise each recompute the md5 pipeline.
    with_sig = plan_cache(add_minhash(
        _spread(documents.select(id_col, text_col), id_col),
        text_col, k, num_hashes))
    shingle_map = with_sig.select(
        F.col(id_col), F.col("__shingles"),
        F.size(F.col("__shingles")).alias("__n"))
    cands = lsh_candidate_pairs(with_sig, id_col, num_hashes, bands)
    a = shingle_map.alias("sa")
    b = shingle_map.alias("sb")
    return (
        cands.join(a, F.col("id_a") == F.col(f"sa.{id_col}"))
        .join(b, F.col("id_b") == F.col(f"sb.{id_col}"))
        .select(
            "id_a", "id_b",
            F.round(jaccard_with_sizes(
                F.col("sa.__shingles"), F.col("sb.__shingles"),
                F.col("sa.__n"), F.col("sb.__n")), 6)
            .alias("jaccard_sim"),
        )
        .where(F.col("jaccard_sim") >= threshold)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# persisted MinHash signature table (the production incremental pattern)
# ---------------------------------------------------------------------------

SIG_TABLE_SCHEMA = ("doc_id long, __shingles array<string>, __n int, "
                    "minhash array<long>")


def build_signature_table(documents: DataFrame, store_dir: str,
                          text_col: str = "text", id_col: str = "doc_id",
                          k: int = 3, num_hashes: int = 16,
                          mode: str = "overwrite") -> DataFrame:
    """Hash the corpus ONCE and persist (id, shingles, |shingles|,
    signature) as a parquet table; every later near-dup run reads the
    table instead of re-running the md5+permutation pipeline over the raw
    text (PERF.md "known costs": the cold minhash_pairs run re-hashes the
    corpus on every invocation). At 100 TB this is the difference between
    an O(corpus) one-time build and paying it per query; the streaming
    twin (streaming/docs_stream.py) appends to the same shape per
    micro-batch. Returns the reloaded table."""
    spark = documents.sparkSession
    sig = (
        add_minhash(_spread(documents.select(id_col, text_col), id_col),
                    text_col, k, num_hashes)
        .select(F.col(id_col).alias("doc_id"), "__shingles",
                F.size("__shingles").cast("int").alias("__n"), "minhash")
    )
    sig.write.mode(mode).parquet(store_dir)
    return spark.read.parquet(store_dir)


def pairs_from_signature_table(sig: DataFrame, num_hashes: int = 16,
                               bands: int = 4, threshold: float = 0.7,
                               flag_col: str | None = None) -> DataFrame:
    """Verified near-dup pairs from a PRE-COMPUTED signature table: LSH
    banding + exact-Jaccard verify, zero text hashing. ``flag_col``
    restricts to pairs with >=1 flagged side (incremental shape)."""
    cands = lsh_candidate_pairs(sig, "doc_id", num_hashes, bands,
                                flag_col=flag_col)
    sides = sig.select("doc_id", "__shingles", "__n")
    a, b = sides.alias("sa"), sides.alias("sb")
    return (
        cands.join(a, F.col("id_a") == F.col("sa.doc_id"))
        .join(b, F.col("id_b") == F.col("sb.doc_id"))
        .select(
            "id_a", "id_b",
            F.round(jaccard_with_sizes(
                F.col("sa.__shingles"), F.col("sb.__shingles"),
                F.col("sa.__n"), F.col("sb.__n")), 6)
            .alias("jaccard_sim"),
        )
        .where(F.col("jaccard_sim") >= threshold)
        .orderBy("id_a", "id_b")
    )


def incremental_minhash_pairs(spark, store_dir: str, delta_docs: DataFrame,
                              text_col: str = "text",
                              id_col: str = "doc_id", k: int = 3,
                              num_hashes: int = 16, bands: int = 4,
                              threshold: float = 0.7,
                              update_store: bool = True) -> DataFrame:
    """Near-dup pairs involving AT LEAST ONE delta document, generated
    against the persisted signature store plus the delta itself -- only
    the delta is hashed, the store's signatures are reused as-is, and
    old-vs-old pairs are excluded by the flag (earlier runs already
    emitted them). With ``update_store`` the delta's signatures append to
    the store, so successive calls accumulate exactly the one-shot batch
    recompute's pair set (same contract as streaming_minhash_pairs,
    streaming/docs_stream.py:54 -- this is its batch form).

    The store snapshot is FROZEN at call time by listing the parquet
    files explicitly, so the returned lazy plan is unaffected by the
    append (or by any concurrent writer)."""
    import os

    files = sorted(
        os.path.join(store_dir, f) for f in
        (os.listdir(store_dir) if os.path.isdir(store_dir) else [])
        if f.endswith(".parquet"))
    store = (spark.read.parquet(*files) if files
             else driver_frame(spark, [], SIG_TABLE_SCHEMA))
    new_sig = plan_cache(
        add_minhash(_spread(delta_docs.select(id_col, text_col), id_col),
                    text_col, k, num_hashes)
        .select(F.col(id_col).alias("doc_id"), "__shingles",
                F.size("__shingles").cast("int").alias("__n"), "minhash"))
    # cached: four scans consume allsig (two candidate sides, two verify
    # sides); without it the store parquet read + union re-run per scan
    allsig = plan_cache(
        new_sig.withColumn("__new", F.lit(True))
        .unionByName(store.withColumn("__new", F.lit(False))))
    pairs = pairs_from_signature_table(allsig, num_hashes, bands, threshold,
                                       flag_col="__new")
    if update_store:
        new_sig.write.mode("append").parquet(store_dir)
    return pairs


def _cap_posting_lists(posts: DataFrame, group_cols: list[str],
                       max_posting_freq: int) -> DataFrame:
    """Frequency-filter an inverted index: drop every posting whose shingle
    occurs in more than ``max_posting_freq`` documents (within its blocking
    group). This is the standard stop-shingle guard for posting-list
    set-similarity joins -- an f-frequency shingle otherwise emits ~f^2/2
    join rows, which is quadratic on hot shingles at corpus scale.
    Implemented as a partially-aggregated df table inner-joined back on
    the SAME keys the self-join shuffles on: the groupBy count combines
    map-side, where the equivalent window count would sort every
    partition (measured 3x slower at sf0.1)."""
    keep = (
        posts.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") <= max_posting_freq)
        .drop("__df")
    )
    return posts.join(keep, group_cols)


def ngram_jaccard_pairs(documents: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        threshold: float = 0.1,
                        block_on: list[str] | None = None,
                        max_posting_freq: int | None = None) -> DataFrame:
    """Blocked exact n-gram Jaccard: join within ``block_on`` groups (or a
    cheap derived block), compute exact Jaccard on word-shingle sets.

    This is the SQL-oracle-friendly near-dup variant -- deterministic,
    no hashing family, DuckDB-expressible with list_intersect.

    ``max_posting_freq`` drops shingles appearing in more than that many
    documents (per block) BEFORE the self-join, and recomputes set sizes on
    the filtered sets, so Jaccard stays exact over the stop-shingle-pruned
    shingle sets. Without it, one shingle shared by f documents emits f^2/2
    join rows -- the cap is what makes this operator survive a 100 TB
    corpus, at the cost of ignoring ubiquitous (hence uninformative)
    shingles. None = no cap (exact classic Jaccard)."""
    if threshold <= 0:
        raise ValueError(
            "posting-list jaccard join cannot emit zero-overlap pairs; "
            "use a threshold > 0")
    block_on = block_on or []
    src = _spread(documents.select(id_col, text_col, *block_on), *block_on)
    d = plan_cache(stage_shingles(src, text_col, k, "shingles")
                   .select(
                       F.col(id_col),
                       *[F.col(c) for c in block_on],
                       "shingles",
                       F.size(F.col("shingles")).alias("n_sh"),
                   ))

    # Posting-list (inverted index) set-similarity join: one row per
    # (shingle, doc), self-join on the shingle within the block, then
    # |intersection| = count per pair. Everything is hash joins + hash
    # aggregation (JVM, codegen) -- no per-pair array set operations, and
    # nothing jaccard-shaped can leak into a join residual condition.
    # Zero-overlap pairs never appear, which is exactly right for any
    # threshold > 0. At web scale add prefix filtering to cap the posting
    # lists of stop-shingles.
    posts = d.select(
        F.col(id_col), *[F.col(c) for c in block_on],
        F.explode("shingles").alias("sh"),
    )
    if max_posting_freq is not None:
        posts = _cap_posting_lists(posts, [*block_on, "sh"],
                                   max_posting_freq)
        # sizes over the SURVIVING shingles, so jaccard stays a true set
        # similarity of the pruned sets (mirrored in the DuckDB oracle)
        # (measured: plan-caching this table costs MORE than the 3x
        # recompute at sf0.1 -- materialization isn't free; leave lazy)
        sizes = posts.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    else:
        sizes = d.select(F.col(id_col), F.col("n_sh"))
    pa, pb = posts.alias("pa"), posts.alias("pb")
    cond = (F.col("pa.sh") == F.col("pb.sh")) \
        & (F.col(f"pa.{id_col}") < F.col(f"pb.{id_col}"))
    for c in block_on:
        cond = cond & (F.col(f"pa.{c}") == F.col(f"pb.{c}"))
    inter = (
        pa.join(pb, cond)
        .groupBy(
            F.col(f"pa.{id_col}").alias("id_a"),
            F.col(f"pb.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    na, nb = sizes.alias("na"), sizes.alias("nb")
    inter_d = F.col("__inter").cast("double")
    union_d = (F.col("na.n_sh") + F.col("nb.n_sh")).cast("double") - inter_d
    return (
        inter.join(na, F.col("id_a") == F.col(f"na.{id_col}"))
        .join(nb, F.col("id_b") == F.col(f"nb.{id_col}"))
        .select(
            "id_a", "id_b",
            F.round(inter_d / union_d, 6).alias("jaccard_sim"),
        )
        .where(F.col("jaccard_sim") >= threshold)
        .orderBy("id_a", "id_b")
    )


def containment_pairs(documents: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 3,
                      threshold: float = 0.5,
                      max_posting_freq: int | None = None) -> DataFrame:
    """Asymmetric n-gram containment C(S, D) = |sh(S) n sh(D)| / |sh(S)|:
    the fraction of S's word k-shingles that also occur in D. Catches
    documents largely CONTAINED in a bigger one (quotes, boilerplate
    wrappers, subset-dups) that symmetric Jaccard under-scores when sizes
    differ -- the second dedup signal a curation pipeline runs next to
    Jaccard.

    Same posting-list plan as ngram_jaccard_pairs (hash joins + hash
    aggregation, nothing pairwise in a join residual); ONE intersection
    count per unordered pair feeds BOTH directed rows, each emitted only
    if it clears the threshold. Directed output: (id_src, id_dst,
    containment) = how much of id_src appears in id_dst.

    ``max_posting_freq`` mirrors :func:`ngram_jaccard_pairs`: drop
    shingles occurring in more than that many documents before the
    self-join and recompute |sh(S)| on the pruned sets. Without it a
    stop-shingle in f docs emits ~f^2/2 join rows -- the cap is the
    100 TB guard. None = no cap.
    """
    if threshold <= 0:
        raise ValueError(
            "posting-list containment join cannot emit zero-overlap pairs; "
            "use a threshold > 0")
    # NO _spread here (unlike the simjoin/set_similarity tokenize
    # sites): this shingle table is plan_cache'd and consumed by
    # several small downstream stages, so spreading only taxes the
    # one-time cache fill with an exchange of raw text and fragments
    # every cached read into 32 near-empty partitions -- measured
    # 1.66s (no spread) vs 2.37s (spread) min-of-5 at sf0.1.
    d = plan_cache(stage_shingles(documents.select(id_col, text_col),
                                  text_col, k, "shingles")
                   .select(F.col(id_col), "shingles",
                           F.size(F.col("shingles")).alias("n_sh")))
    posts = d.select(F.col(id_col), F.explode("shingles").alias("sh"))
    if max_posting_freq is not None:
        posts = _cap_posting_lists(posts, ["sh"], max_posting_freq)
        sizes = posts.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    else:
        sizes = d.select(F.col(id_col), F.col("n_sh"))
    pa, pb = posts.alias("pa"), posts.alias("pb")
    inter = (
        pa.join(pb, (F.col("pa.sh") == F.col("pb.sh"))
                & (F.col(f"pa.{id_col}") < F.col(f"pb.{id_col}")))
        .groupBy(
            F.col(f"pa.{id_col}").alias("id_a"),
            F.col(f"pb.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    na, nb = sizes.alias("na"), sizes.alias("nb")
    both = (
        inter.join(na, F.col("id_a") == F.col(f"na.{id_col}"))
        .join(nb, F.col("id_b") == F.col(f"nb.{id_col}"))
        .select("id_a", "id_b", "__inter",
                F.col("na.n_sh").alias("__na"),
                F.col("nb.n_sh").alias("__nb"))
    )
    fwd = both.select(
        F.col("id_a").alias("id_src"), F.col("id_b").alias("id_dst"),
        F.round(F.col("__inter").cast("double") / F.col("__na"), 6)
        .alias("containment"))
    rev = both.select(
        F.col("id_b").alias("id_src"), F.col("id_a").alias("id_dst"),
        F.round(F.col("__inter").cast("double") / F.col("__nb"), 6)
        .alias("containment"))
    return (
        fwd.unionByName(rev)
        .where(F.col("containment") >= threshold)
        .orderBy("id_src", "id_dst")
    )


# ---------------------------------------------------------------------------
# SimHash (pandas-UDF kernel; rows-only oracle check)
# ---------------------------------------------------------------------------

def add_simhash(documents: DataFrame, text_col: str = "text",
                bits: int = 64) -> DataFrame:
    """64-bit SimHash over whitespace tokens: per-token md5 -> bit-majority.

    Bit-majority over token hashes is per-row vectorizable but awkward as
    column math (64 nested aggregates), so it runs as an Arrow-batched
    pandas UDF -- numpy does (tokens x 64) popcount in C. Deterministic
    (md5), so tests can assert exact values; not SQL-portable, so the
    driver gets a rows-only check."""
    import pandas as pd  # local import: executors only
    from pyspark.sql.functions import pandas_udf

    def _simhash64(texts):
        import hashlib

        import numpy as np

        shifts = np.arange(bits, dtype=np.uint64)
        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts.fillna("")):
            toks = str(t).lower().split()
            if not toks:
                continue
            hs = np.array(
                [int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8],
                                "big") for tok in toks],
                dtype=np.uint64,
            )
            # (tokens x bits) bit matrix -> per-bit majority, all in numpy
            bit_m = ((hs[:, None] >> shifts[None, :]) & np.uint64(1))
            maj = (2 * bit_m.astype(np.int64) - 1).sum(axis=0) > 0
            v = int(np.sum(np.where(maj, np.uint64(1) << shifts, np.uint64(0)),
                           dtype=np.uint64))
            out[i] = v - (1 << 64) if v >= (1 << 63) else v
        return pd.Series(out)

    # real annotations (the module-level `from __future__ import annotations`
    # would stringify inline hints, which PySpark cannot resolve here)
    _simhash64.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    simhash64 = pandas_udf(_simhash64, "long")

    return documents.withColumn("simhash", simhash64(F.col(text_col)))


def hamming_block_pairs(d: DataFrame, id_col: str, hash_col: str,
                        max_hamming: int = 8) -> DataFrame:
    """Generic 64-bit-hash near-dup pairing: block on 16-bit chunks (a
    pair within hamming distance 3 shares at least one of 4 chunks; wider
    distances admit some misses -- standard SimHash-family banding),
    verify with exact popcount hamming. Shared by SimHash text dedup and
    media perceptual-hash dedup; ``d`` must be (id, hash) and SHOULD be
    cached/persisted by the caller (both join sides read it).

    Scale note: f documents with IDENTICAL hashes emit f^2/2 pairs --
    but those pairs ARE the requested output (hamming 0), not join
    waste; the pipeline discipline is to run :func:`exact_dedup` on the
    text/payload FIRST so exact copies collapse to one representative
    before any near-dup family runs (curate_corpus stages them in that
    order)."""
    chunks = F.array(*[
        F.struct(F.lit(i).alias("chunk"),
                 F.shiftrightunsigned(hash_col, i * 16).bitwiseAND(F.lit(0xFFFF))
                 .alias("val"))
        for i in range(4)
    ])
    blocked = d.select(id_col, hash_col, F.explode(chunks).alias("c")) \
               .select(id_col, hash_col, "c.chunk", "c.val")
    a, b = blocked.alias("a"), blocked.alias("b")
    hamming = F.bit_count(
        F.col(f"a.{hash_col}").bitwiseXOR(F.col(f"b.{hash_col}")))
    return (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col("a.val") == F.col("b.val"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
        .orderBy("id_a", "id_b")
    )


def simhash_near_dup_pairs(documents: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           max_hamming: int = 8) -> DataFrame:
    """SimHash near-dup: 16-bit chunk blocking + exact popcount verify
    (see hamming_block_pairs)."""
    # Cache the signature frame: a self-join would otherwise run the md5
    # bit-majority UDF on BOTH sides (plan showed 4 ArrowEval nodes + 2
    # scans). At 100 TB the production pattern is a persisted signature
    # table; .cache() is the single-query equivalent (same precedent as
    # minhash_near_dup_pairs).
    d = plan_cache(add_simhash(documents, text_col).select(id_col, "simhash"))
    return hamming_block_pairs(d, id_col, "simhash", max_hamming)


# ---------------------------------------------------------------------------
# Winnowing fingerprints (the MOSS algorithm): Rabin polynomial k-gram
# hashes + per-window minimum selection. Schleimer/Wilkerson/Aiken,
# "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD 2003.
#
# The classic presentation rolls the hash incrementally because it targets
# a sequential machine; a columnar engine evaluates every k-gram's
# polynomial directly inside one whole-stage-codegen projection, which is
# the same O(n*k) work without the sequential dependency. Everything is
# integer math mod 2^31-1 on md5-derived token hashes, so the DuckDB
# oracle reproduces the fingerprints bit-for-bit.
# ---------------------------------------------------------------------------

WINNOW_BASE = 1_000_003      # polynomial base; th*BASE stays < 2^51 (int64-safe)
WINNOW_ENC = 2_147_483_648   # 2^31 > any fp: encodes (pos, fp) as pos*ENC + fp


def _rabin_poly(token_hash_slice: Column) -> Column:
    """Horner fold: sum th_j * BASE^(len-1-j) mod p over the slice.
    Init 0 keeps the first step (0*B + th_1) % p == th_1, so a length-1
    slice hashes to the bare token hash (short-doc fallback)."""
    return F.aggregate(
        token_hash_slice, F.lit(0).cast("long"),
        lambda a, x: (a * F.lit(WINNOW_BASE) + x) % F.lit(MINHASH_PRIME))


def stage_winnow_hashes(documents: DataFrame, text_col: str = "text",
                        k: int = 4) -> DataFrame:
    """doc_id + staged k-gram Rabin hash array ``__kh`` (+ token count
    ``n``). Three stacked projections so the token split, the per-token
    md5, and the k-gram polynomials each live in their OWN attribute --
    the multi-reference inlining trap of PERF.md #1 (each __kh lambda
    slices __h several times; as an attribute that is free).

    Docs with fewer than k tokens hash their whole token list as one
    lower-degree polynomial (same family), so every doc yields >=1 k-gram.
    """
    toks = F.filter(shingle_tokens(F.col(text_col)), lambda t: t != "")
    staged = documents.select("doc_id", toks.alias("__tk"))
    th = F.transform(
        F.col("__tk"),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
        % F.lit(MINHASH_PRIME))
    staged = staged.select(
        "doc_id", F.size("__tk").alias("n"), th.alias("__h"))
    kh = F.transform(
        F.sequence(F.lit(1), F.greatest(F.col("n") - F.lit(k - 1), F.lit(1))),
        lambda i: _rabin_poly(F.slice(F.col("__h"), i, k)))
    return staged.select("doc_id", "n", kh.alias("__kh"))


def _winnow_select(kh: Column, w: int) -> Column:
    """Distinct window selections over the k-gram hash attribute, encoded
    pos*WINNOW_ENC + fp (DuckDB cannot list_distinct structs; a single
    int64 dedupes identically in both engines). Each length-w window
    contributes its minimum hash; ties keep the RIGHTMOST position (the
    winnowing paper's rule, which makes overlapping windows re-select the
    same (pos, fp) and collapse under distinct)."""
    m = F.size(kh)

    def win_min(i):
        return F.array_min(F.slice(kh, i, w))

    return F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.greatest(m - F.lit(w - 1), F.lit(1))),
        lambda i:
            F.array_max(F.filter(
                F.sequence(i, F.least(i + F.lit(w - 1), m)),
                lambda j: F.element_at(kh, j) == win_min(i)))
            * F.lit(WINNOW_ENC) + win_min(i)))


def winnow_fingerprints(documents: DataFrame, text_col: str = "text",
                        k: int = 4, w: int = 4) -> DataFrame:
    """Per-doc winnowing summary: token/k-gram counts, number of selected
    fingerprints, and the sorted distinct fingerprint values as CSV (the
    driver-compare-safe serialization of the set).

    One map-only projection chain -- no shuffle, no UDF; at 100 TB this
    is a pure scan->project stage whose cost is the md5 per token."""
    sel = _winnow_select(F.col("__kh"), w)
    fps = F.array_sort(F.array_distinct(
        F.transform(sel, lambda s: s % F.lit(WINNOW_ENC))))
    return (
        stage_winnow_hashes(documents, text_col, k)
        .select(
            "doc_id",
            F.col("n").alias("n_tokens"),
            F.size("__kh").alias("n_kgrams"),
            sel.alias("__sel"),
            fps.alias("__fps"))
        .select(
            "doc_id", "n_tokens", "n_kgrams",
            F.size("__sel").alias("n_fps"),
            F.concat_ws(",", F.transform(
                F.col("__fps"), lambda x: x.cast("string"))).alias("fp_csv"))
        .orderBy("doc_id")
    )


def winnow_overlap_pairs(documents: DataFrame, text_col: str = "text",
                         k: int = 4, w: int = 4, min_shared: int = 2,
                         max_df: int = 50) -> DataFrame:
    """Near-dup pairs by shared winnowing fingerprints: docs sharing >=
    ``min_shared`` distinct fingerprints, with overlap_ppm =
    floor(1e6 * shared / min(|fps_a|, |fps_b|)) (integer arithmetic --
    engine-portable, cf. quality_score).

    Fingerprints occurring in more than ``max_df`` docs are dropped before
    the join (stop-fingerprints: boilerplate phrases). That cap is what
    keeps the self-join linear-ish at scale -- without it one viral
    n-gram mates every pair of its documents. The exploded fingerprint
    frame is cached because THREE consumers scan it (df cap, per-doc
    sizes, the pair join); at 100 TB it would be a persisted table."""
    sel = _winnow_select(F.col("__kh"), w)
    base = (
        stage_winnow_hashes(documents, text_col, k)
        .select("doc_id", F.explode(F.array_distinct(
            F.transform(sel, lambda s: s % F.lit(WINNOW_ENC)))).alias("fp"))
    )
    base = plan_cache(base)
    doc_sizes = base.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fps"))
    keep_fps = (
        base.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_df)
        .select("fp")
    )
    pruned = base.join(keep_fps, "fp")
    a, b = pruned.alias("a"), pruned.alias("b")
    shared = (
        a.join(b, (F.col("a.fp") == F.col("b.fp"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"),
                 F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )
    na = doc_sizes.select(F.col("doc_id").alias("id_a"),
                          F.col("n_fps").alias("n_fps_a"))
    nb = doc_sizes.select(F.col("doc_id").alias("id_b"),
                          F.col("n_fps").alias("n_fps_b"))
    return (
        shared.join(na, "id_a").join(nb, "id_b")
        .select(
            "id_a", "id_b", "shared_fps", "n_fps_a", "n_fps_b",
            F.floor(F.lit(1_000_000) * F.col("shared_fps")
                    / F.least("n_fps_a", "n_fps_b")).alias("overlap_ppm"))
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# exact duplicated-substring removal (Lee et al. 2022-style, bounded k-gram)
# ---------------------------------------------------------------------------

def substring_dedup(documents: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 8) -> DataFrame:
    """Remove exact duplicated substrings ACROSS documents -- the other
    standard LLM-corpus dedup next to near-dup removal ("Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2022). The
    suffix-array construction of the paper is replaced by a bounded,
    SQL-expressible k-gram variant: a token k-gram occurring in >= 2
    distinct documents is a duplicated run; every token position it
    covers is excised from every document EXCEPT the gram's canonical
    owner (min doc_id), which keeps its text intact. Runs longer than k
    are handled for free -- each of their length-k windows is itself
    duplicated, so overlapping covered windows excise the whole run.

    Output per document with >= 1 token, ordered by doc_id:

        (doc_id, n_tokens, n_removed, text_deduped)

    where ``text_deduped`` re-joins the surviving tokens in order (the
    lowercased token stream, not the raw text -- same normalization as
    every other text operator here).

    Scale shape: grams never meet pairwise -- one groupBy(gram) computes
    (n_docs, owner), one join back marks covered occurrences, one
    explode + distinct turns them into covered positions, and a
    left join + groupBy(doc_id) rebuilds the text. Everything shuffles
    on gram or doc_id; a viral boilerplate gram costs one big posting
    list in ONE aggregate, never a pairwise blow-up (unlike similarity
    joins, no df-cap is needed -- we only need each gram's min doc_id
    and distinct-doc count).
    """
    from .textanalysis import tokens as word_tokens

    toked = documents.select(
        F.col(id_col).alias("doc_id"),
        word_tokens(F.lower(F.col(text_col))).alias("toks"),
    ).where(F.size("toks") > 0)
    toked = plan_cache(toked)

    grams = (
        toked.where(F.size("toks") >= k)
        .select(
            "doc_id",
            F.explode(F.transform(
                F.sequence(F.lit(1), F.size("toks") - k + 1),
                lambda i: F.struct(
                    i.alias("start"),
                    F.concat_ws(" ", F.slice("toks", i, k)).alias("gram")),
            )).alias("g"))
        .select("doc_id", F.col("g.start").alias("start"),
                F.col("g.gram").alias("gram"))
    )
    grams = plan_cache(grams)

    dup = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("n_docs"),
             F.min("doc_id").alias("owner"))
        .where(F.col("n_docs") >= 2)
    )
    covered = (
        grams.join(dup, "gram")
        .where(F.col("doc_id") != F.col("owner"))
        .select("doc_id",
                F.explode(F.sequence(
                    F.col("start"), F.col("start") + k - 1)).alias("pos"))
        .distinct()
        .withColumn("__cut", F.lit(1))
    )
    tokpos = (
        toked.select("doc_id", F.posexplode("toks").alias("pos0", "tok"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    )
    kept_struct = F.when(
        F.col("__cut").isNull(), F.struct("pos", "tok"))
    return (
        tokpos.join(covered, ["doc_id", "pos"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.coalesce(F.col("__cut"), F.lit(0)))
            .cast("long").alias("n_removed"),
            F.concat_ws(" ", F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda x: x["tok"])).alias("text_deduped"),
        )
        .orderBy("doc_id")
    )


def set_similarity_join(documents: DataFrame, threshold: float = 0.5,
                        text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """EXACT Jaccard set-similarity self-join with PPJoin-style PREFIX
    FILTERING -- the exact counterpart of the MinHash-LSH pipeline
    (same distinct word-k-shingle sets): every pair of documents whose
    shingle-set Jaccard >= t, NO false negatives (LSH banding trades
    recall for speed; this trades nothing), no all-pairs comparison.

    The classic prefix-filter rewrite (Chaudhuri et al. SSJoin,
    Xiao et al. PPJoin): order every document's tokens by one GLOBAL
    rare-first order (document frequency, ties by token); if
    J(x, y) >= t, then x and y must share a token within their first
    ``|d| - ceil(t*|d|) + 1`` tokens under that shared order -- so an
    equi-join on PREFIX tokens finds every qualifying pair. Candidates
    then verify exactly (array_intersect on the full token arrays).
    Three properties make this the 100-TB shape:

    * the prefix explode is ~(1-t)*|d|+1 rows per doc, not |d|;
    * prefix tokens are by construction the RAREST -- the zipf head
      that would blow up a plain token self-join is excluded unless a
      document is almost all boilerplate;
    * the size filter t*|x| <= |y| <= |x|/t kills cross-size pairs
      before verification.

    Emits (a_id, b_id, n_common, jaccard) for a_id < b_id with
    jaccard = round(inter/union, 6) >= t, threshold applied to the
    ROUNDED value (mirrored in the oracle)."""
    toks = (_spread(documents
                    .select(F.col(id_col).alias("id"), F.col(text_col)),
                    "id")
            .withColumn("__toks", shingle_tokens(F.col(text_col)))
            .select("id", F.explode(
                word_shingles_from_tokens(F.col("__toks"), k))
                .alias("tok")))
    # materialize the shingle arrays ONCE and derive every other use
    # of the token table from them (shingles are distinct per doc, so
    # exploding the array reproduces the (id, tok) set exactly): the
    # CPU-dense tokenize+shingle map stage used to re-run under each
    # of its four plan references (df counts, ranking, and both verify
    # array sides)
    arrs = toks.groupBy("id").agg(
        F.sort_array(F.collect_list("tok")).alias("toks"),
        F.count(F.lit(1)).alias("sz")).localCheckpoint(eager=True)
    toks = arrs.select("id", F.explode("toks").alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w_doc = Window.partitionBy("id").orderBy("df", "tok")
    ranked = (toks.join(freq, "tok")
              .select("id", "tok", "df")
              .withColumn("pos", F.row_number().over(w_doc)))
    sizes = ranked.groupBy("id").agg(F.max("pos").alias("sz"))
    pref = (ranked.join(sizes, "id")
            .where(F.col("pos") <=
                   F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")
                                        - 1e-9)
                   + 1)
            .select("id", "tok", "pos", "sz"))
    cand = _positional_candidates(pref, pref, threshold,
                                  self_join=True)
    # verify is CPU-dense, not byte-dense: each candidate row costs an
    # array_intersect over the full shingle arrays, while the candidate
    # rows themselves are ~16 bytes -- AQE's byte-based coalescing
    # collapses them to 1-4 post-shuffle partitions and serializes the
    # whole verify (measured 7.2s CPU in ONE task at sf0.1). Hash-
    # repartitioning the candidate ids to the cluster's parallelism
    # costs a few-MB exchange and restores full verify parallelism; in
    # the large-corpus regime (arrs above the broadcast threshold) the
    # verify join re-exchanges anyway and this is a no-op-sized extra.
    cand = cand.repartition(
        documents.sparkSession.sparkContext.defaultParallelism,
        "a_id", "b_id")
    verified = (cand
                .join(arrs.select(F.col("id").alias("a_id"),
                                  F.col("toks").alias("a_toks"),
                                  F.col("sz").alias("a_sz")), "a_id")
                .join(arrs.select(F.col("id").alias("b_id"),
                                  F.col("toks").alias("b_toks"),
                                  F.col("sz").alias("b_sz")), "b_id")
                .withColumn("n_common", F.size(
                    F.array_intersect("a_toks", "b_toks")).cast("int"))
                .withColumn("jaccard", F.round(
                    F.col("n_common")
                    / (F.col("a_sz") + F.col("b_sz") - F.col("n_common")),
                    6)))
    return (verified.where(F.col("jaccard") >= threshold)
            .select("a_id", "b_id", "n_common", "jaccard")
            .orderBy("a_id", "b_id"))


def _simjoin_prefix_table_name(store_dir: str) -> str:
    """Catalog name for a store's bucketed prefix table, derived from
    the store location (stable across sessions, collision-free for
    distinct stores)."""
    import hashlib

    return ("arap_simjoin_prefix_"
            + hashlib.md5(store_dir.encode("utf-8")).hexdigest()[:12])


def _register_prefix_table(spark, store_dir: str,
                           n_buckets: int) -> DataFrame:
    """The store's bucketed ``/prefix`` as a catalog table -- the thing
    that makes the store side of every candidate join EXCHANGE-FREE:
    the files are bucketed by ``tok`` (the join key), so Catalyst reads
    them already hash-partitioned and only the delta side shuffles.
    Re-issues the CREATE TABLE DDL when this session has not seen the
    store yet (the catalog is per-session; the files and their bucket
    spec are the durable part)."""
    from .. import fsio
    from .partitioning import register_bucketed_path

    name = _simjoin_prefix_table_name(store_dir)
    if not spark.catalog.tableExists(name):
        meta_p = fsio.join(store_dir, "meta.json")
        if fsio.exists(spark, meta_p):
            # schema from the sidecar: works even when every bucket is
            # still empty (a stream store starts from zero documents)
            cols = fsio.read_json(spark, meta_p)["prefix_cols"]
        else:
            schema = spark.read.parquet(store_dir + "/prefix").schema
            cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                             for f in schema.fields)
        return register_bucketed_path(
            spark, store_dir + "/prefix", name, cols, ["tok"], ["tok"],
            n_buckets)
    # cross-session append visibility (foreachBatch clones): drop any
    # stale cached listing before reading
    spark.catalog.refreshTable(name)
    return spark.table(name)


def _simjoin_docs_table_name(store_dir: str) -> str:
    """Catalog name for a store's bucketed shingle-array table."""
    import hashlib

    return ("arap_simjoin_docs_"
            + hashlib.md5(store_dir.encode("utf-8")).hexdigest()[:12])


def _register_docs_table(spark, store_dir: str,
                         n_buckets: int) -> DataFrame:
    """The store's ``/docs`` (id, toks, sz) as a catalog table BUCKETED
    BY id -- what makes the append VERIFY stage scale: the two
    verify joins key on a candidate's doc id, so the store side reads
    pre-hash-partitioned (no Exchange), and a static ``id IN (...)``
    filter from the bounded candidate set prunes the scan to the
    matching buckets' files (SelectedBucketsCount) plus parquet
    row-group min/max -- the accumulated corpus is no longer scanned
    (let alone shuffled) per delta."""
    from .. import fsio
    from .partitioning import register_bucketed_path

    name = _simjoin_docs_table_name(store_dir)
    if not spark.catalog.tableExists(name):
        cols = fsio.read_json(
            spark, fsio.join(store_dir, "meta.json"))["docs_cols"]
        return register_bucketed_path(
            spark, store_dir + "/docs", name, cols, ["id"], ["id"],
            n_buckets)
    spark.catalog.refreshTable(name)
    return spark.table(name)


def _write_docs_bucketed(arrs: DataFrame, store_dir: str,
                         n_buckets: int, mode: str) -> None:
    """Bucketed (by id) write of the shingle-array part; appends
    re-register the catalog entry inside write_bucketed_path."""
    from .partitioning import write_bucketed_path

    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                     for f in arrs.schema.fields)
    write_bucketed_path(arrs, store_dir + "/docs",
                        _simjoin_docs_table_name(store_dir), cols,
                        ["id"], ["id"], n_buckets, mode)


def _write_prefix_bucketed(prefix: DataFrame, store_dir: str,
                           n_buckets: int, mode: str) -> None:
    """Bucketed prefix write via the generic write_bucketed_path
    discipline (pre-shuffle onto the bucket hash -> at most n_buckets
    files per write); on append the catalog entry is re-registered
    first so a fresh session can append to a persisted store."""
    from .partitioning import write_bucketed_path

    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                     for f in prefix.schema.fields)
    write_bucketed_path(prefix, store_dir + "/prefix",
                        _simjoin_prefix_table_name(store_dir), cols,
                        ["tok"], ["tok"], n_buckets, mode)


def build_simjoin_index(documents: DataFrame, store_dir: str,
                        threshold: float = 0.5, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        mode: str = "overwrite",
                        n_buckets: int = 8) -> DataFrame:
    """Persist an EXACT set-similarity index so deltas never rescan the
    corpus: the frozen rare-first token ORDER (document frequencies at
    build time), every document's shingle array + prefix rows under
    that order, and the qualifying pairs. Layout under ``store_dir``:

      dfreq/   (tok, df)           -- the FROZEN global order
      docs/    (id, toks, sz)      -- shingle arrays for verification
      prefix/  (id, tok, sz)       -- prefix rows, BUCKETED BY tok
      pairs/   (a_id, b_id, n_common, jaccard)

    Freezing the order is what makes appends exact: the prefix filter
    only needs BOTH documents ranked by the SAME total order -- which
    order is immaterial to completeness (any shared order works; rare-
    first merely minimizes candidates). So delta prefixes rank against
    the STORED dfreq (unseen tokens get df 0 = rarest) and the
    accumulated pair set equals the one-shot recompute exactly -- same
    discipline as the persisted MinHash signature store, but with NO
    false negatives at any point. ``mode`` must be "overwrite" (an
    append-mode build would refreeze the order under existing
    prefixes). Returns the pair table.

    ``/prefix`` persists as a BUCKETED table (``n_buckets`` buckets on
    ``tok``, the candidate join key): every ``simjoin_append`` and
    every streaming micro-batch probes the accumulated store WITHOUT
    re-shuffling it -- the store side of the candidate join carries no
    Exchange (plan-gated in tests); only the |delta| side shuffles.
    The alternative (plain parquet, the pre-round-13 layout) pays an
    O(store) exchange per append, which at a year of appends to a
    100-TB corpus dominates everything else in the pipeline."""
    if mode != "overwrite":
        raise ValueError(
            f"build_simjoin_index only supports mode='overwrite' (got "
            f"{mode!r}); append deltas with simjoin_append")
    spark = documents.sparkSession

    is_empty = documents.isEmpty()
    toks = (_spread(documents
                    .select(F.col(id_col).alias("id"), F.col(text_col)),
                    "id")
            .withColumn("__toks", shingle_tokens(F.col(text_col)))
            .select("id", F.explode(
                word_shingles_from_tokens(F.col("__toks"), k))
                .alias("tok")))
    arrs = toks.groupBy("id").agg(
        F.sort_array(F.collect_list("tok")).alias("toks"),
        F.count(F.lit(1)).alias("sz"))
    if is_empty:
        # empty driver frames (zero partitions) with exactly the real
        # plans' schemas, so the persisted layout cannot drift and the
        # empty-store writes below run 0 tasks -- the stream-start shape
        # (streaming_set_similarity / streaming_components) builds an
        # empty store inside every drain; defaultParallelism empty task
        # commits per write measured ~1.3 s per empty build
        arrs = driver_frame(spark, [], arrs.schema)
    docs_cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                          for f in arrs.schema.fields)
    if is_empty:
        # stream-start fast path: every part's SCHEMA is known from
        # the lazy plans (analysis only, zero jobs), so on a local FS
        # with pyarrow the whole empty store writes driver-side -- no
        # Spark jobs at all (measured 0.80 s -> ~0.1 s per stream
        # start). Falls through to the generic Spark writes (which
        # handle the 0-row case via the typed empties) otherwise; a
        # partial fast reset is safe there because every write below
        # is mode=overwrite.
        from .. import fsio
        toks0 = arrs.select("id", F.explode("toks").alias("tok"))
        dfreq0 = toks0.groupBy("tok").agg(
            F.count(F.lit(1)).alias("df"))
        prefix0 = _simjoin_prefix(toks0, dfreq0, threshold)
        prefix_cols0 = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in prefix0.schema.fields)
        idt = documents.schema[id_col].dataType.simpleString()
        pairs0 = driver_frame(
            spark, [], f"a_id {idt}, b_id {idt}, n_common int, "
                       f"jaccard double")
        if (fsio.reset_bucketed_dir_fast(
                spark, store_dir + "/docs",
                _simjoin_docs_table_name(store_dir))
                and fsio.reset_bucketed_dir_fast(
                    spark, store_dir + "/prefix",
                    _simjoin_prefix_table_name(store_dir))
                and fsio.write_empty_parquet_fast(
                    spark, store_dir + "/dfreq", dfreq0.schema)
                and fsio.write_empty_parquet_fast(
                    spark, store_dir + "/pairs", pairs0.schema)):
            fsio.write_json(
                spark, fsio.join(store_dir, "meta.json"),
                {"threshold": threshold, "k": k,
                 "n_buckets": n_buckets,
                 "prefix_cols": prefix_cols0,
                 "docs_cols": docs_cols,
                 "docs_buckets": n_buckets,
                 "order_epoch": 0,
                 "build_stats": {"n_docs": 0, "n_candidates": 0},
                 "append_stats": []})
            return spark.read.parquet(store_dir + "/pairs")
    # /docs writes FIRST: the CPU-dense tokenize+shingle stage (the
    # most expensive map stage of the build) runs exactly once, and
    # dfreq + prefix both derive from the persisted compact arrays
    # (shingles are distinct per doc, so exploding the array
    # reproduces the (id, tok) set exactly). The old shape recomputed
    # the tokenize under all THREE writes; re-reading the array
    # parquet is the cheaper side at any scale -- no raw-text scan,
    # no shingle transform. Write order within the build is free to
    # change: meta.json (written last) is the store's commit point.
    _write_docs_bucketed(arrs, store_dir, n_buckets, "overwrite")
    toks = (arrs if is_empty
            else spark.read.parquet(store_dir + "/docs")) \
        .select("id", F.explode("toks").alias("tok"))
    dfreq_df = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    if is_empty:
        dfreq_df = driver_frame(spark, [], dfreq_df.schema)
    dfreq_df.write.mode("overwrite").parquet(store_dir + "/dfreq")
    # empty path ranks against the in-plan typed frame instead of
    # re-reading the just-written empty parquet: whether a
    # zero-partition write leaves a schema-bearing file is an engine
    # detail (SPARK-23271), not something the layout should depend on
    # (round-15 ADVICE)
    prefix_df = _simjoin_prefix(
        toks,
        dfreq_df if is_empty
        else spark.read.parquet(store_dir + "/dfreq"),
        threshold)
    if is_empty:
        prefix_df = driver_frame(spark, [], prefix_df.schema)
    prefix_cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                            for f in prefix_df.schema.fields)
    _write_prefix_bucketed(prefix_df, store_dir, n_buckets, "overwrite")
    if is_empty:
        # stream-start shape: an empty corpus has no pairs -- write the
        # typed empty pair table without planning the candidate/verify
        # jobs over empty frames (several wasted Spark jobs otherwise)
        pairs0.write.mode("overwrite").parquet(store_dir + "/pairs")
    build_stats = {"n_docs": 0, "n_candidates": 0}
    if not is_empty:
        # bucketed on both sides of the self-join: the one-shot
        # candidate stage runs with no Exchange at all. The candidate
        # set checkpoints once so (a) verify reads it instead of
        # re-running the joins and (b) its count -- the store's
        # build-time SELECTIVITY baseline, which the drift report
        # compares appends against -- is free
        prefix = _register_prefix_table(spark, store_dir, n_buckets)
        docs_tbl = _register_docs_table(spark, store_dir, n_buckets)
        cand = _simjoin_candidates(prefix, prefix, threshold) \
            .localCheckpoint(eager=True)
        build_stats = {"n_docs": docs_tbl.count(),
                       "n_candidates": cand.count()}
        pairs = _simjoin_verify(cand, docs_tbl, threshold)
        pairs.write.mode("overwrite").parquet(store_dir + "/pairs")
    # sidecar LAST, through the Hadoop FS API (works on s3a://hdfs://
    # the same as file:) -- a crash before this line leaves no
    # meta.json, so simjoin_append fails fast on the half-store
    from .. import fsio
    fsio.write_json(spark, fsio.join(store_dir, "meta.json"),
                    {"threshold": threshold, "k": k,
                     "n_buckets": n_buckets,
                     "prefix_cols": prefix_cols,
                     "docs_cols": docs_cols,
                     "docs_buckets": n_buckets,
                     "order_epoch": 0,
                     "build_stats": build_stats,
                     "append_stats": []})
    return spark.read.parquet(store_dir + "/pairs")


def _simjoin_prefix(toks: DataFrame, dfreq: DataFrame,
                    threshold: float) -> DataFrame:
    """(id, tok, sz) prefix rows under the given (frozen) df order;
    tokens absent from dfreq rank as df 0 (rarest)."""
    w_doc = Window.partitionBy("id").orderBy("df", "tok")
    ranked = (toks.join(dfreq, "tok", "left")
              .select("id", "tok",
                      F.coalesce(F.col("df"), F.lit(0)).alias("df"))
              .withColumn("pos", F.row_number().over(w_doc)))
    sizes = ranked.groupBy("id").agg(F.max("pos").alias("sz"))
    return (ranked.join(sizes, "id")
            .where(F.col("pos") <=
                   F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")
                                        - 1e-9)
                   + 1)
            .select("id", "tok", "pos", "sz"))


def _positional_candidates(px: DataFrame, py: DataFrame,
                           threshold: float,
                           self_join: bool) -> DataFrame:
    """Distinct (a_id, b_id) candidate pairs from two prefix tables
    carrying token POSITIONS -- the full PPJoin filter stack:

    * size filter: t*|x| <= |y| <= |x|/t, applied per match BEFORE the
      pair aggregation (per-pair-sound: sizes are pair constants);
    * POSITIONAL filter (Xiao et al.): a match of token w at positions
      (px, py) bounds the possible overlap by
      1 + min(|x| - px, |y| - py); a qualifying pair's EARLIEST shared
      token match has bound >= its true overlap >= alpha =
      ceil(t/(1+t) * (|x|+|y|)), so requiring max-over-matches of the
      bound >= alpha is complete;
    * SUFFIX-STYLE group bound (the PPJoin+ refinement, computed
      relationally instead of by suffix binary search): aggregate ALL
      of a pair's prefix matches -- any shared token ordered before
      the LAST prefix match t* sits inside both prefixes (it would
      contradict the shared global order otherwise), so total overlap
      <= n_shared_prefix + min(|x| - pos_x(t*), |y| - pos_y(t*)).
      Tighter than any single-match bound whenever a pair shares
      several prefix tokens but little else. Measured on the 50k
      dup-heavy stress (PERF.md): 12.35M -> 11.86M candidates (-4%)
      and verify wall 19.7 -> 16.8 s (-15%) for free -- the same
      groupBy the old distinct paid. The residual candidate mass
      shares exactly ONE rare token, where no prefix-local bound can
      improve on the single-match bound; cutting it further requires
      probing the suffix arrays themselves (PPJoin+'s binary search),
      which would drag the full arrays into the candidate stage --
      the cost verify already pays once, so it is not taken here.

    Both bounds aggregate over the FULL match set in one groupBy (the
    old per-match pre-filter would drop matches and silently weaken
    the group bound below the true overlap -- a false-negative trap).
    Self-joins additionally canonicalize a < b."""
    j = px.alias("x").join(py.alias("y"), "tok")
    if self_join:
        j = j.where(F.col("x.id") < F.col("y.id"))
    xs, ys = F.col("x.sz"), F.col("y.sz")
    grouped = (j.where((ys >= threshold * xs - 1e-9)
                       & (xs >= threshold * ys - 1e-9))
               .groupBy(F.col("x.id").alias("a_id"),
                        F.col("y.id").alias("b_id"),
                        xs.alias("xs"), ys.alias("ys"))
               .agg(F.count(F.lit(1)).alias("n_sp"),
                    F.max(F.col("x.pos")).alias("px_last"),
                    F.max(F.col("y.pos")).alias("py_last"),
                    F.max(1 + F.least(xs - F.col("x.pos"),
                                      ys - F.col("y.pos")))
                    .alias("match_bound")))
    # the 1e-9 slack keeps an upward float ulp from bumping ceil past
    # the true integer alpha at exact boundaries (t/(1+t)*(|x|+|y|)
    # integral), which would over-prune a pair with overlap == alpha --
    # pruning is only ever allowed to be CONSERVATIVE
    alpha = F.ceil(F.lit(threshold) / (1.0 + threshold)
                   * (F.col("xs") + F.col("ys")) - 1e-9)
    group_bound = (F.col("n_sp")
                   + F.least(F.col("xs") - F.col("px_last"),
                             F.col("ys") - F.col("py_last")))
    return (grouped
            .where((F.col("match_bound") >= alpha)
                   & (group_bound >= alpha))
            .select("a_id", "b_id"))


def _simjoin_candidates(px: DataFrame, py: DataFrame,
                        threshold: float) -> DataFrame:
    """Distinct (a_id, b_id) candidate pairs from two prefix tables
    (a < b, size + positional filtered)."""
    return _positional_candidates(px, py, threshold, self_join=True)


def _cross_candidates_canonical(px: DataFrame, py: DataFrame,
                                threshold: float) -> DataFrame:
    """Candidate pairs between two DISJOINT prefix sets (a delta vs a
    store) in ONE join: every PPJoin filter here -- size, positional
    match bound, suffix-style group bound -- is symmetric in (x, y),
    so a pair qualifies regardless of which side plays x; only the
    OUTPUT is canonicalized (least/greatest). The directional
    formulation (cand(new, store) UNION cand(store, new)) runs the
    same tok equi-join twice to recover pairs on both sides of the id
    order; this recovers them from one pass, halving the per-append
    join count."""
    j = (px.alias("x").join(py.alias("y"), "tok")
         .where(F.col("x.id") != F.col("y.id")))
    xs, ys = F.col("x.sz"), F.col("y.sz")
    grouped = (j.where((ys >= threshold * xs - 1e-9)
                       & (xs >= threshold * ys - 1e-9))
               .groupBy(F.col("x.id").alias("xid"),
                        F.col("y.id").alias("yid"),
                        xs.alias("xs"), ys.alias("ys"))
               .agg(F.count(F.lit(1)).alias("n_sp"),
                    F.max(F.col("x.pos")).alias("px_last"),
                    F.max(F.col("y.pos")).alias("py_last"),
                    F.max(1 + F.least(xs - F.col("x.pos"),
                                      ys - F.col("y.pos")))
                    .alias("match_bound")))
    alpha = F.ceil(F.lit(threshold) / (1.0 + threshold)
                   * (F.col("xs") + F.col("ys")) - 1e-9)
    group_bound = (F.col("n_sp")
                   + F.least(F.col("xs") - F.col("px_last"),
                             F.col("ys") - F.col("py_last")))
    return (grouped
            .where((F.col("match_bound") >= alpha)
                   & (group_bound >= alpha))
            .select(F.least("xid", "yid").alias("a_id"),
                    F.greatest("xid", "yid").alias("b_id")))


def _simjoin_verify(cand: DataFrame, arrs: DataFrame,
                    threshold: float) -> DataFrame:
    verified = (cand
                .join(arrs.select(F.col("id").alias("a_id"),
                                  F.col("toks").alias("a_toks"),
                                  F.col("sz").alias("a_sz")), "a_id")
                .join(arrs.select(F.col("id").alias("b_id"),
                                  F.col("toks").alias("b_toks"),
                                  F.col("sz").alias("b_sz")), "b_id")
                .withColumn("n_common", F.size(
                    F.array_intersect("a_toks", "b_toks")).cast("int"))
                .withColumn("jaccard", F.round(
                    F.col("n_common")
                    / (F.col("a_sz") + F.col("b_sz") - F.col("n_common")),
                    6)))
    return (verified.where(F.col("jaccard") >= threshold)
            .select("a_id", "b_id", "n_common", "jaccard"))


def _simjoin_verify_store(cand: DataFrame, docs_tbl: DataFrame,
                          new_arrs: DataFrame, threshold: float,
                          max_in_ids: int = 1024,
                          max_semi_ids: int = 4_000_000) -> DataFrame:
    """Verify append candidates WITHOUT an O(store) scan-and-shuffle
    of the accumulated ``/docs`` per delta -- round 13 removed that
    growth term from the candidate stage (bucketed prefix); this
    removes it from the verify stage, the last per-append full-store
    touch.

    Every candidate pair references >= 1 NEW doc (candidates are
    (new x store) U (new x new)), and the delta's arrays are already
    in hand (``new_arrs``, checkpointed). Only the OLD ids that
    actually appear in candidates -- bounded by |store docs matched|,
    typically a small multiple of |delta| -- need fetching:

    * IN lane (<= ``max_in_ids`` old ids): the ids collect and prune
      the BUCKETED ``/docs`` scan with a static ``id IN (...)`` --
      bucket pruning (SelectedBucketsCount) + parquet row-group
      min/max restrict the read to the matching buckets' files, the
      :func:`bm25_index_topk` discipline. The store is neither
      scanned nor shuffled. The bound is deliberately small: a
      thousands-of-literals IN costs more to ship and analyze than
      it saves (measured: a 5k-literal IN dominated the append).
    * SEMI lane (<= ``max_semi_ids``): the old-id table BROADCASTS
      and semi-joins the store -- one pass over ``/docs`` per append
      but ZERO store-side shuffle (BroadcastHashJoin on the scan),
      and the verify joins then run over the |candidate-ids|-sized
      result, which AQE broadcasts against the candidates.
    * flood lane (beyond that -- a drifted store overdue for
      :func:`simjoin_refreeze`): verify joins run AGAINST the
      bucketed table directly, store side pre-hash-partitioned, no
      Exchange (plan-gated) -- the full-store reshuffle that used to
      appear exactly when the store could least afford it (4.09M
      candidates at the refreeze fixture) is gone; only the
      candidate side shuffles. Delta-side arrays resolve through a
      second (small-side) join, coalesced.

    ``cand`` must be materialized (checkpointed) by the caller: the
    lane selection and verify must see the SAME candidate set.
    """
    from pyspark.sql.functions import broadcast

    cand_ids = (cand.select(F.col("a_id").alias("id"))
                .unionByName(cand.select(F.col("b_id").alias("id")))
                .distinct())
    old_ids = cand_ids.join(new_arrs.select("id"), "id", "left_anti")
    # ONE limit+collect decides the IN lane AND fetches its ids (the
    # steady-state small append); it used to be checkpoint + count +
    # collect -- three driver round-trips where one suffices. The
    # bigger lanes checkpoint only when they are actually taken.
    sample = [r["id"]
              for r in old_ids.limit(max_in_ids + 1).collect()]
    if len(sample) <= max_in_ids:
        if sample:
            store_arrs = docs_tbl.where(F.col("id").isin(sample))
            all_arrs = store_arrs.unionByName(new_arrs)
        else:
            all_arrs = new_arrs
        return _simjoin_verify(cand, all_arrs, threshold)
    old_ids = old_ids.localCheckpoint(eager=True)
    n_old = old_ids.count()
    if n_old <= max_semi_ids:
        store_arrs = docs_tbl.join(broadcast(old_ids), "id")
        return _simjoin_verify(
            cand, store_arrs.unionByName(new_arrs), threshold)
    # flood lane: bucketed store side, exchange-free
    a_s = docs_tbl.select(F.col("id").alias("a_id"),
                          F.col("toks").alias("a_toks_s"),
                          F.col("sz").alias("a_sz_s"))
    b_s = docs_tbl.select(F.col("id").alias("b_id"),
                          F.col("toks").alias("b_toks_s"),
                          F.col("sz").alias("b_sz_s"))
    a_n = new_arrs.select(F.col("id").alias("a_id"),
                          F.col("toks").alias("a_toks_n"),
                          F.col("sz").alias("a_sz_n"))
    b_n = new_arrs.select(F.col("id").alias("b_id"),
                          F.col("toks").alias("b_toks_n"),
                          F.col("sz").alias("b_sz_n"))
    verified = (cand
                .join(a_s, "a_id", "left").join(b_s, "b_id", "left")
                .join(broadcast(a_n), "a_id", "left")
                .join(broadcast(b_n), "b_id", "left")
                .select("a_id", "b_id",
                        F.coalesce("a_toks_s", "a_toks_n")
                        .alias("a_toks"),
                        F.coalesce("b_toks_s", "b_toks_n")
                        .alias("b_toks"),
                        F.coalesce("a_sz_s", "a_sz_n").alias("a_sz"),
                        F.coalesce("b_sz_s", "b_sz_n").alias("b_sz"))
                .withColumn("n_common", F.size(
                    F.array_intersect("a_toks", "b_toks")).cast("int"))
                .withColumn("jaccard", F.round(
                    F.col("n_common")
                    / (F.col("a_sz") + F.col("b_sz") - F.col("n_common")),
                    6)))
    return (verified.where(F.col("jaccard") >= threshold)
            .select("a_id", "b_id", "n_common", "jaccard"))


def simjoin_pairs(spark, store_dir: str) -> DataFrame:
    """The store's CURRENT qualifying-pair set -- the one read path
    that respects tombstones (round 15): pairs touching a deleted doc
    are excluded by an anti-join against the tombstone set (no-op --
    and no plan nodes -- when the store has none; ``index_compact``
    physically purges them, after which the filter costs nothing
    again). Every consumer that used to read ``store_dir + '/pairs'``
    directly routes through here."""
    from .. import fsio, store_delete

    meta = fsio.read_json(spark, fsio.join(store_dir, "meta.json"))
    pairs = spark.read.parquet(store_dir + "/pairs")
    return store_delete.exclude_tombstoned(
        pairs, spark, store_dir, meta, ("a_id", "b_id"))


def simjoin_delete(spark, store_dir: str, doc_ids,
                   batch_id: int | None = None,
                   fence: dict | None = None) -> DataFrame:
    """Delete documents from a persisted exact-simjoin index by
    TOMBSTONE (round 15): the ids append to a small ``tombstones/``
    part under the staged commit protocol -- same crash/replay
    discipline as :func:`simjoin_append` (write-ahead intent, meta
    flip as the atomic commit point, rollback-on-open; ``batch_id``
    makes at-least-once replays a no-op via ``last_delete_batch_id``).
    Reads (:func:`simjoin_pairs`) and future appends exclude
    tombstoned docs immediately; ``index_compact`` physically purges
    pairs/prefix/docs rows and drops the tombstones. Post-delete the
    pair set equals the one-shot recompute over the SURVIVING corpus
    exactly (oracle-pinned: every pair among survivors was found
    before the delete and none is dropped; every pair touching a
    deleted doc is excluded). Deleted ids must not be re-appended
    (appends fail fast on them until a compaction purges the
    tombstones). ``doc_ids`` is a python iterable or a one-column
    DataFrame. Returns the surviving pair table.

    Scale shape: the delete itself is metadata-plus-|ids| work -- the
    only store touch is a bucketed, bounded-IN-pruned ``/docs`` probe
    to count which of the ids are actually present (the
    ``n_docs_total`` decrement that keeps the drift trigger's density
    denominator honest); nothing is rewritten until compaction."""
    from .. import fsio, store_delete, store_fence

    store_fence.fence_check(spark, store_dir, fence)
    meta = fsio.read_json(spark, fsio.join(store_dir, "meta.json"))
    from .. import store_commit
    store_commit.repair(spark, store_dir, meta.get("append_epoch", 0))
    _refreeze_restore(spark, store_dir)
    if batch_id is not None \
            and batch_id <= meta.get("last_delete_batch_id", -1):
        return simjoin_pairs(spark, store_dir)
    docs_buckets = int(meta.get("docs_buckets", 0))
    docs_tbl = (_register_docs_table(spark, store_dir, docs_buckets)
                if docs_buckets
                else spark.read.parquet(store_dir + "/docs"))
    ids = store_delete.exclude_tombstoned(
        store_delete.as_id_frame(spark, doc_ids, docs_tbl, "id"),
        spark, store_dir, meta, ("id",))
    new_ts = ids.localCheckpoint(eager=True)
    # bounded-IN pruned presence count (the verify stage's IN-lane
    # discipline): a delete is |ids|-sized, never an O(store) scan
    sample = [r["id"] for r in new_ts.limit(1025).collect()]
    if len(sample) <= 1024:
        n_new = len(sample)
        n_present = (docs_tbl.where(F.col("id").isin(sample)).count()
                     if sample else 0)
    else:
        n_new = new_ts.count()
        n_present = docs_tbl.join(F.broadcast(new_ts), "id").count()
    n_store = int(meta.get("n_docs_total",
                           (meta.get("build_stats") or {})
                           .get("n_docs", 0)))
    store_delete.append_tombstones(
        spark, store_dir, new_ts, n_new, meta,
        extra_meta={"n_docs_total": max(0, n_store - n_present)},
        batch_id=batch_id)
    return simjoin_pairs(spark, store_dir)


def simjoin_append(spark, store_dir: str, new_docs: DataFrame,
                   text_col: str = "text",
                   id_col: str = "doc_id",
                   batch_id: int | None = None,
                   fence: dict | None = None) -> DataFrame:
    """Append a DELTA to a persisted exact-simjoin index: only
    (new x all) candidate prefixes are joined -- the |all| x |new|
    discipline of the incremental MinHash store, with zero false
    negatives because both sides rank by the SAME frozen order. New
    docs' shingle arrays, prefixes, and qualifying pairs (new-old and
    new-new) parquet-append into the store; the accumulated pair table
    equals the one-shot recompute exactly. Returns the reloaded pair
    table.

    ``batch_id`` guards against at-least-once REPLAY of a COMPLETED
    append (Structured Streaming's foreachBatch re-runs a batch whose
    checkpoint commit was lost): meta.json records the last applied
    batch id, written after the data appends, and an append with
    ``batch_id`` <= the recorded one is a no-op -- without it a
    replayed micro-batch would duplicate prefixes AND pairs. A crash
    in the MIDDLE of the three data appends is closed by the staged-
    append commit protocol (:mod:`..store_commit`, round 14): the
    append writes a ``pending.json`` intent (per-part file snapshots +
    the epoch it will commit), flips meta.json's ``append_epoch``
    LAST (the atomic commit point), and every appender/maintenance op
    first ROLLS BACK any files a crashed append left behind -- so the
    retried batch folds exactly once, end to end (kill-mid-append
    pytest).

    Scale shape: the store's ``/prefix`` is BUCKETED by ``tok`` (the
    candidate join key), so the store side of both candidate joins
    reads ALREADY hash-partitioned -- no Exchange, plan-gated -- and
    only the |delta|-sized prefix shuffles per append. Candidate
    GENERATION was always |new| x |all|; this makes the EXCHANGE
    O(delta) too, which is what keeps a year of micro-batch appends
    from re-shuffling the accumulated store every batch. The VERIFY
    stage (round 14) stops touching the accumulated ``/docs`` the same
    way: it is BUCKETED by ``id`` and :func:`_simjoin_verify_store`
    fetches only the old ids candidates reference (static-IN bucket
    pruning / broadcast semi-join / exchange-free bucketed join --
    three lanes by id count, all plan-gated). Stores built before
    round 13 (no ``n_buckets`` in meta.json) fall back to the
    plain-parquet union path unchanged; round-13 stores without
    ``docs_buckets`` keep the union verify."""
    from .. import fsio, store_commit, store_delete, store_fence
    store_fence.fence_check(spark, store_dir, fence)
    meta = fsio.read_json(spark, fsio.join(store_dir, "meta.json"))
    # heal any crashed earlier append BEFORE the replay guard (the
    # crashed batch's id was never committed, so it re-folds cleanly)
    store_commit.repair(spark, store_dir,
                        meta.get("append_epoch", 0))
    # heal a crashed refreeze/compaction half-swap on any part BEFORE
    # the replay early-return below reads /pairs -- a replayed batch
    # arriving right after a compaction crashed between its pairs-dir
    # renames must heal the swap exactly like the non-replay path,
    # not fail on the missing live dir (round-15 ADVICE)
    _refreeze_restore(spark, store_dir)
    if batch_id is not None and batch_id <= meta.get("last_batch_id", -1):
        return simjoin_pairs(spark, store_dir)
    # a tombstoned id must not be re-appended (half-resurrected state
    # after the next compaction purge otherwise) -- fail fast
    store_delete.check_not_tombstoned(
        new_docs.select(F.col(id_col)), spark, store_dir, meta, id_col)
    threshold, k = float(meta["threshold"]), int(meta["k"])
    n_buckets = meta.get("n_buckets")
    # (bucketed stores) refuse a MIXED token order (prefix vs dfreq
    # epoch stamps) -- completeness of the prefix filter depends on
    # one shared order
    if n_buckets:
        _check_order_epoch(spark, store_dir)
    dfreq = spark.read.parquet(store_dir + "/dfreq")
    # a corpus-sized first batch arrives as ONE file = ONE partition;
    # the shingle explode below is the CPU-dense stage of the whole
    # append, so spread it (no-op for already-partitioned inputs, and
    # the steady-state small delta costs one tiny exchange)
    toks = (_spread(new_docs
                    .select(F.col(id_col).alias("id"), F.col(text_col)),
                    "id")
            .withColumn("__toks", shingle_tokens(F.col(text_col)))
            .select("id", F.explode(
                word_shingles_from_tokens(F.col("__toks"), k))
                .alias("tok")))
    new_arrs = toks.groupBy("id").agg(
        F.sort_array(F.collect_list("tok")).alias("toks"),
        F.count(F.lit(1)).alias("sz"))
    with _jd(spark, "simjoin_append: delta arrs checkpoint"):
        new_arrs = new_arrs.localCheckpoint(eager=True)
    # the prefix derives from the CHECKPOINTED arrays, not the raw
    # text: shingles are distinct per doc, so exploding the array
    # reproduces exactly the (id, tok) set -- and the CPU-dense
    # tokenize+shingle stage (the most expensive map stage of the
    # append) runs ONCE instead of twice (it used to be recomputed
    # under both eager checkpoints, which cannot share lineage)
    new_prefix = _simjoin_prefix(
        new_arrs.select("id", F.explode("toks").alias("tok")),
        dfreq, threshold)
    with _jd(spark, "simjoin_append: delta prefix checkpoint"):
        new_prefix = new_prefix.localCheckpoint(eager=True)
    # candidates touching a NEW doc only (a<b canonicalization inside
    # _simjoin_candidates dedupes the new-new overlap); new-old pairs
    # need both orientations because canonicalization is on id order
    counted = meta.get("n_docs_total",
                       (meta.get("build_stats") or {}).get("n_docs"))
    n_store = int(counted or 0)
    if n_buckets and counted is not None and n_store == 0:
        # stream-start shape: the store side is EMPTY (every streaming
        # lane builds an empty store to freeze the token order, then
        # folds its first micro-batch here), so the new-vs-store join
        # is STATICALLY empty -- only the self-join branch can produce
        # candidates. Skipping it drops its planning + scan stages
        # from the first batch of every stream. (Even if a store were
        # deleted down to zero docs, its prefix rows are tombstoned
        # until compaction and exclude_tombstoned below drops their
        # candidates -- the skip is equivalent either way.) A meta
        # without either counter says nothing about emptiness, so an
        # older store takes the generic branch below.
        cand = _simjoin_candidates(new_prefix, new_prefix, threshold)
    elif n_buckets:
        store_prefix = _register_prefix_table(spark, store_dir,
                                              int(n_buckets))
        # one symmetric new-vs-store join (filters are x/y-symmetric,
        # output canonicalized) + the new-new self-join; the store
        # side reads bucketed -- no Exchange (plan-gated). NO distinct
        # across the union: each branch is a groupBy output (one row
        # per pair) and the branches are disjoint -- a cross pair has
        # exactly one store-side id, a self pair none (ids are unique
        # forever, the store's append contract) -- so the distinct was
        # a full exchange+aggregate over the candidate set for nothing
        cand = _cross_candidates_canonical(new_prefix, store_prefix,
                                           threshold) \
            .unionByName(_simjoin_candidates(new_prefix, new_prefix,
                                             threshold))
    else:  # pre-round-13 plain layout
        all_prefix = spark.read.parquet(store_dir + "/prefix") \
            .unionByName(new_prefix)
        cand = _simjoin_candidates(new_prefix, all_prefix, threshold) \
            .unionByName(
                _simjoin_candidates(all_prefix, new_prefix, threshold)) \
            .distinct()
    # tombstoned store docs still carry prefix rows until compaction
    # purges them: drop their candidates BEFORE verify, so deleted-doc
    # pairs are neither computed nor written (reads would filter them
    # anyway; this keeps the work and the pair part clean)
    cand = store_delete.exclude_tombstoned(
        cand, spark, store_dir, meta, ("a_id", "b_id"))
    # one materialization of the candidate set: verify consumes it
    # without re-running the candidate joins, and its count feeds the
    # per-append selectivity record (the refreeze trigger) for free
    with _jd(spark, "simjoin_append: candidate generation"):
        cand = cand.localCheckpoint(eager=True)
    # count is ~free on the checkpointed RDD and is needed for the
    # append selectivity record anyway; here it also sizes the VERIFY
    # parallelism: the candidate set is a few bytes/row but each row
    # costs an array_intersect over full shingle arrays, so AQE's
    # byte-based coalescing hands the whole verify to 1 task (measured
    # 7.2s serial CPU on a corpus-sized batch). Partition by candidate
    # COUNT instead -- bounded by cluster parallelism, and skipped for
    # the steady-state small delta append where 1 task is right.
    n_cand = cand.count()
    par = min(spark.sparkContext.defaultParallelism,
              (n_cand + 1023) // 1024)
    if par > 1:
        cand = cand.repartition(par, "a_id", "b_id")
    docs_buckets = int(meta.get("docs_buckets", 0))
    if docs_buckets:
        # round-14 verify: never scan (or shuffle) the accumulated
        # /docs per delta -- prune it to the bounded candidate ids, or
        # fall back to the bucketed (exchange-free store side) join
        docs_tbl = _register_docs_table(spark, store_dir, docs_buckets)
        new_pairs = _simjoin_verify_store(cand, docs_tbl, new_arrs,
                                          threshold)
    else:  # pre-round-14 plain /docs layout
        all_arrs = spark.read.parquet(store_dir + "/docs") \
            .unionByName(new_arrs)
        new_pairs = _simjoin_verify(cand, all_arrs, threshold)
    epoch = int(meta.get("append_epoch", 0)) + 1
    store_commit.begin_append(spark, store_dir,
                              ["pairs", "prefix", "docs"], epoch)
    with _jd(spark, "simjoin_append: verify+write pairs"):
        new_pairs.write.mode("append").parquet(store_dir + "/pairs")
    with _jd(spark, "simjoin_append: write prefix part"):
        if n_buckets:
            _write_prefix_bucketed(new_prefix, store_dir, int(n_buckets),
                                   "append")
        else:
            new_prefix.write.mode("append").parquet(store_dir + "/prefix")
    with _jd(spark, "simjoin_append: write docs part"):
        if docs_buckets:
            _write_docs_bucketed(new_arrs, store_dir, docs_buckets,
                                 "append")
        else:
            new_arrs.write.mode("append").parquet(store_dir + "/docs")
    meta["append_epoch"] = epoch
    if batch_id is not None:
        meta["last_batch_id"] = batch_id
    # per-append selectivity record (bounded: last 20 appends) -- the
    # input of simjoin_store_stats' refreeze trigger; counts are free
    # (both frames are checkpointed)
    n_delta = new_arrs.count()
    stats = meta.setdefault("append_stats", [])
    stats.append({"epoch": epoch, "batch_id": batch_id,
                  "n_delta_docs": n_delta,
                  "n_store_docs": n_store,
                  "n_candidates": n_cand})
    # a store with no usable BUILD baseline (stream-start empty build,
    # or zero build-time candidates) anchors drift to its FIRST
    # CANDIDATE-BEARING append, kept DURABLY outside the rolling
    # window -- the window eviction would otherwise re-anchor the
    # baseline to ~20 appends ago and gradual drift could never trip
    # the refreeze trigger. A zero-candidate first append (a plausible
    # first micro-batch) must NOT freeze as the baseline: its density
    # is 0, which simjoin_store_stats maps to None and the trigger
    # would stay disarmed forever (round-15 ADVICE) -- so a
    # zero-candidate baseline is replaced by the first append that
    # records candidates.
    if not (meta.get("build_stats") or {}).get("n_candidates") \
            and not (meta.get("baseline_append") or {}).get("n_candidates"):
        rec0 = next((a for a in stats if a["n_candidates"]), None)
        if rec0 is not None:
            meta["baseline_append"] = rec0
    del stats[:-20]
    meta["n_docs_total"] = n_store + n_delta
    # COMMIT POINT: the atomic meta flip makes the 3-part append
    # durable; the intent cleanup after it is crash-tolerant
    fsio.write_json(spark, fsio.join(store_dir, "meta.json"), meta)
    store_commit.commit_append(spark, store_dir)
    return simjoin_pairs(spark, store_dir)


def _part_order_epoch(spark, part_dir: str) -> int:
    """The order epoch stamped inside a dfreq/prefix part dir
    (``_order_epoch.json``; underscore-prefixed, so parquet listings
    never see it). Absent stamp = epoch 0 (the build-time order)."""
    from .. import fsio

    p = fsio.join(part_dir, "_order_epoch.json")
    if not fsio.exists(spark, p):
        return 0
    return int(fsio.read_json(spark, p)["order_epoch"])


def _check_order_epoch(spark, store_dir: str) -> int:
    """Fail fast when ``dfreq/`` and ``prefix/`` carry DIFFERENT order
    epochs -- the signature of a refreeze that crashed between its two
    part swaps. Appending against a mixed state would rank delta
    prefixes under a different total order than the stored prefixes,
    silently voiding the zero-false-negative guarantee (the store's
    core contract); failing here keeps the store exact and the repair
    is one re-run of :func:`simjoin_refreeze`. Returns the epoch.

    One mismatch shape is SELF-HEALABLE and distinct from the
    crashed-refreeze signature: an ``index_compact`` part rewrite
    drops the in-dir stamp, so a crash between a part's swap and its
    restamp leaves that part at epoch 0 while the OTHER part still
    matches meta's ``order_epoch``. Compaction never changes the
    token order, so the lost stamp is purely clerical -- restamp it
    from meta and continue (round-15 ADVICE: before this, the only
    recovery was a full O(store) refreeze for an order that never
    actually changed). A genuinely mixed refreeze crash cannot match
    this shape: the refreeze flips meta LAST, so its half-swapped
    NEW epoch is always meta+1, never equal to meta."""
    from .. import fsio

    pe = _part_order_epoch(spark, store_dir + "/prefix")
    de = _part_order_epoch(spark, store_dir + "/dfreq")
    if pe != de:
        meta = fsio.read_json(spark, fsio.join(store_dir, "meta.json"))
        me = int(meta.get("order_epoch", 0))
        heal = None
        if pe == 0 and de == me and me:
            heal = "prefix"
        elif de == 0 and pe == me and me:
            heal = "dfreq"
        if heal is not None:
            fsio.write_json(
                spark,
                fsio.join(fsio.join(store_dir, heal),
                          "_order_epoch.json"),
                {"order_epoch": me})
            return me
        raise RuntimeError(
            f"simjoin store {store_dir} has a MIXED token order "
            f"(prefix epoch {pe} != dfreq epoch {de}): a "
            f"simjoin_refreeze crashed between its part swaps. "
            f"Re-run simjoin_refreeze({store_dir!r}) to repair; "
            f"appending now would break the prefix filter's "
            f"completeness guarantee")
    return pe


def _refreeze_restore(spark, store_dir: str) -> None:
    """Heal the narrow swap windows a crashed refreeze OR compaction
    can leave on any store part: a live dir renamed aside
    (``.__old__``) but its replacement not yet in place -> restore the
    old part; a leftover ``.__old__`` next to a live part -> drop
    it (heal_interrupted_swap per part)."""
    from .partitioning import heal_interrupted_swap

    for part in ("prefix", "dfreq", "pairs", "docs"):
        heal_interrupted_swap(spark, store_dir + "/" + part)


def simjoin_refreeze(spark, store_dir: str,
                     fence: dict | None = None) -> DataFrame:
    """Re-freeze a persisted simjoin index's rare-first token order
    from the ACCUMULATED document frequencies -- the maintenance op
    that keeps the prefix filter SELECTIVE as the corpus drifts.

    Why it exists: appends rank against the BUILD-TIME dfreq (any
    shared total order keeps the filter complete, so appends stay
    exact), but selectivity degrades -- a token that was rare (or
    absent: df 0 ranks rarest) at build time and became boilerplate
    through appends floods every new prefix, inflating the candidate
    join. Refreezing recomputes dfreq from the stored shingle arrays
    (one scan of ``/docs``, no raw text needed), re-ranks EVERY
    document's prefix under the fresh order, and rewrites ``dfreq/``
    and the bucketed ``/prefix``. The PAIR TABLE is untouched: the
    qualifying pair set is a function of the shingle sets alone, not
    of the order (pytest pins pairs byte-identical and the candidate
    count non-increasing on a boilerplate-drift fixture).

    Crash discipline (round 14): both parts STAGE into ``.__new__``
    tmp siblings carrying an ``_order_epoch.json`` stamp, then swap
    (rename-aside + rename-in + drop-old, per part) and flip meta's
    ``order_epoch`` last -- an interrupted refreeze leaves the old
    order serving (or a part renamed aside, which
    :func:`_refreeze_restore` heals), and the one state a crash
    between the two swaps can produce -- prefix and dfreq on
    DIFFERENT orders -- is detected by every subsequent append via the
    epoch stamps, which fail fast with a re-run-refreeze message
    instead of silently voiding the prefix filter's completeness
    (interrupt pytests). Also resets the per-append selectivity
    records (``append_stats``): they measured the OLD order.
    Single-writer maintenance, like index_compact. Returns the new
    prefix table."""
    from .. import fsio, store_commit, store_fence
    from .partitioning import write_bucketed_path

    store_fence.fence_check(spark, store_dir, fence)
    meta = fsio.read_json(spark, fsio.join(store_dir, "meta.json"))
    # a crashed append's partial files must not get baked into the
    # refrozen order; a crashed refreeze's half-swaps heal first
    store_commit.repair(spark, store_dir, meta.get("append_epoch", 0))
    _refreeze_restore(spark, store_dir)
    threshold = float(meta["threshold"])
    n_buckets = int(meta.get("n_buckets", 0))
    if not n_buckets:
        raise ValueError(
            f"{store_dir} is a pre-round-13 plain-layout store; rebuild "
            f"with build_simjoin_index before refreezing")
    new_epoch = max(_part_order_epoch(spark, store_dir + "/prefix"),
                    _part_order_epoch(spark, store_dir + "/dfreq"),
                    int(meta.get("order_epoch", 0))) + 1
    docs_buckets = int(meta.get("docs_buckets", 0))
    docs = (_register_docs_table(spark, store_dir, docs_buckets)
            if docs_buckets
            else spark.read.parquet(store_dir + "/docs"))
    toks = docs.select("id", F.explode("toks").alias("tok"))
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df")) \
        .localCheckpoint(eager=True)
    prefix = _simjoin_prefix(toks, dfreq, threshold)

    # stage both parts fully before touching the live store
    tmp_prefix = store_dir + "/prefix.__new__"
    tmp_dfreq = store_dir + "/dfreq.__new__"
    tmp_name = _simjoin_prefix_table_name(store_dir) + "_refreeze"
    spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")
    fsio.delete(spark, tmp_prefix)
    fsio.delete(spark, tmp_dfreq)
    write_bucketed_path(prefix, tmp_prefix, tmp_name,
                        meta["prefix_cols"], ["tok"], ["tok"],
                        n_buckets, "overwrite")
    dfreq.write.mode("overwrite").parquet(tmp_dfreq)
    for d in (tmp_prefix, tmp_dfreq):
        fsio.write_json(spark, fsio.join(d, "_order_epoch.json"),
                        {"order_epoch": new_epoch})

    # swap (prefix, then dfreq); catalog entries drop around the move
    spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")
    spark.sql(
        f"DROP TABLE IF EXISTS {_simjoin_prefix_table_name(store_dir)}")
    for live, tmp in ((store_dir + "/prefix", tmp_prefix),
                      (store_dir + "/dfreq", tmp_dfreq)):
        fsio.rename(spark, live, live + ".__old__")
        fsio.rename(spark, tmp, live)
        fsio.delete(spark, live + ".__old__")

    meta["order_epoch"] = new_epoch
    meta["append_stats"] = []
    meta.pop("baseline_append", None)  # measured under the old order
    fsio.write_json(spark, fsio.join(store_dir, "meta.json"), meta)
    return _register_prefix_table(spark, store_dir, n_buckets)


def simjoin_store_stats(spark, store_dir: str,
                        drift_threshold: float = 8.0) -> DataFrame:
    """One-row health report for a persisted simjoin store, and the
    AUTO-DRIFT TRIGGER for :func:`simjoin_refreeze`: round 13 measured
    a 27x candidate-selectivity win from refreezing a drifted store,
    but knowing WHEN to run it required watching the append plans by
    hand. Every append now records its selectivity (candidates per
    delta doc, from counts the append materializes anyway); this
    report compares the recent appends (last 5) against the BUILD-TIME
    baseline (the store's healthy selectivity under the frozen order)
    and recommends a refreeze when the ratio exceeds
    ``drift_threshold`` (default 8x -- past the unseen-vocabulary
    decay every real append mix shows (~5x on the sf0.001 fixture),
    well before the 27x-class flood).  Selectivity is measured as
    candidate DENSITY -- candidates per POSSIBLE new pair (build:
    C(n,2); append: |delta| x |store| + C(|delta|,2)) -- because raw
    candidates-per-doc grows with the store even under a healthy
    order and would false-trigger.  A refreeze resets the records
    (they measured the old order), so the trigger re-arms against the
    new epoch's appends.

    Stream-start stores (built EMPTY, the streaming lanes' shape) have
    no build-time baseline; there the FIRST recorded append stands in
    -- the earliest traffic defines "healthy" -- and the recent window
    excludes it. Columns: order_epoch, append_epoch,
    n_appends_recorded, build_cand_density, recent_cand_density,
    drift_ratio (null until both sides are measurable),
    refreeze_recommended."""
    row = simjoin_store_stats_row(spark, store_dir, drift_threshold)
    # one row computed driver-side: one partition, no Python worker
    return driver_frame(
        spark, [tuple(row.values())],
        "order_epoch int, append_epoch int, n_appends_recorded int, "
        "build_cand_density double, recent_cand_density double, "
        "drift_ratio double, refreeze_recommended boolean")


def simjoin_store_stats_row(spark, store_dir: str,
                            drift_threshold: float = 8.0) -> dict:
    """:func:`simjoin_store_stats` as a plain dict -- the report is
    metadata-only (meta.json counters; no data scan), so engine call
    sites that only BRANCH on it (index_stats, the streaming lanes'
    auto-refreeze trigger) read the dict and skip the one-row Spark
    job entirely."""
    from .. import fsio

    def density(n_cand: float, n_delta: int, n_store: int) -> float | None:
        possible = n_delta * n_store + n_delta * (n_delta - 1) / 2
        return n_cand / possible if possible else None

    meta = fsio.read_json(spark, fsio.join(store_dir, "meta.json"))
    bs = meta.get("build_stats") or {}
    n0 = int(bs.get("n_docs") or 0)
    base = (float(bs["n_candidates"]) / (n0 * (n0 - 1) / 2)
            if n0 >= 2 else None)
    # a ZERO build baseline (all-dissimilar corpus) must not disarm
    # the trigger forever -- fall through to the append baseline
    base = base or None
    stats_all = meta.get("append_stats") or []
    ba = meta.get("baseline_append")
    if base is None and ba is not None:
        base = density(float(ba["n_candidates"]), ba["n_delta_docs"],
                       ba.get("n_store_docs", 0)) or None
        stats_all = [a for a in stats_all
                     if a["epoch"] != ba["epoch"]]
    elif base is None and len(stats_all) >= 2:
        # legacy metas recorded before the durable baseline existed
        a0 = stats_all[0]
        base = density(float(a0["n_candidates"]), a0["n_delta_docs"],
                       a0.get("n_store_docs", 0)) or None
        stats_all = stats_all[1:]
    recent = stats_all[-5:]
    possible = sum(
        a["n_delta_docs"] * a.get("n_store_docs", 0)
        + a["n_delta_docs"] * (a["n_delta_docs"] - 1) / 2
        for a in recent)
    rec = (sum(a["n_candidates"] for a in recent) / possible
           if possible else None)
    ratio = (round(rec / base, 6)
             if rec is not None and base else None)
    return {
        "order_epoch": int(meta.get("order_epoch", 0)),
        "append_epoch": int(meta.get("append_epoch", 0)),
        "n_appends_recorded": len(meta.get("append_stats") or []),
        "build_cand_density": round(base, 9) if base is not None else None,
        "recent_cand_density": round(rec, 9) if rec is not None else None,
        "drift_ratio": ratio,
        "refreeze_recommended":
            bool(ratio is not None and ratio > drift_threshold),
    }


def set_similarity_join_rs(left: DataFrame, right: DataFrame,
                           threshold: float = 0.5,
                           text_col: str = "text",
                           l_id: str = "doc_id",
                           r_id: str = "doc_id",
                           k: int = 3) -> DataFrame:
    """Two-table (R-S) exact set-similarity join -- the cross-corpus
    shape of :func:`set_similarity_join`: every (left, right) pair
    whose shingle-set Jaccard >= t, exactly. The canonical use is
    exact eval-set contamination: held-out docs (left) against the
    training corpus (right) at a hard Jaccard bar, where MinHash
    banding's false negatives are unacceptable.

    Same prefix-filter math; the ONE global rare-first order comes
    from the UNION of both sides' token document frequencies (any
    shared total order preserves completeness -- the union-df order
    just keeps candidates minimal for both). Candidates are
    prefix(left) equi-joined to prefix(right) -- never left x right --
    plus the size filter; exact verification on the full arrays.
    Emits (l_id, r_id, n_common, jaccard), threshold on the ROUNDED
    value."""
    def toks_of(df: DataFrame, idc: str, side: str) -> DataFrame:
        return (_spread(df.select(F.col(idc).alias("id"),
                                  F.col(text_col)), "id")
                .withColumn("__toks", shingle_tokens(F.col(text_col)))
                .select(F.lit(side).alias("side"), "id", F.explode(
                    word_shingles_from_tokens(F.col("__toks"), k))
                    .alias("tok")))

    lt = toks_of(left, l_id, "l")
    rt = toks_of(right, r_id, "r")
    both = lt.unionByName(rt)
    # one materialized array table per build, everything else derives
    # from it (same single-tokenize discipline as set_similarity_join:
    # shingles are distinct per doc, so exploding the array reproduces
    # the (side, id, tok) set exactly) -- the tokenize map stage over
    # BOTH corpora used to re-run under df counts, ranking, and the
    # two verify array sides
    arrs = both.groupBy("side", "id").agg(
        F.sort_array(F.collect_list("tok")).alias("toks"),
        F.count(F.lit(1)).alias("sz")).localCheckpoint(eager=True)
    both = arrs.select("side", "id", F.explode("toks").alias("tok"))
    dfreq = both.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w_doc = Window.partitionBy("side", "id").orderBy("df", "tok")
    ranked = (both.join(dfreq, "tok")
              .select("side", "id", "tok", "df")
              .withColumn("pos", F.row_number().over(w_doc)))
    sizes = ranked.groupBy("side", "id").agg(F.max("pos").alias("sz"))
    pref = (ranked.join(sizes, ["side", "id"])
            .where(F.col("pos") <=
                   F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")
                                        - 1e-9)
                   + 1)
            .select("side", "id", "tok", "pos", "sz"))
    lp = pref.where(F.col("side") == "l").drop("side")
    rp = pref.where(F.col("side") == "r").drop("side")
    cand = (_positional_candidates(lp, rp, threshold, self_join=False)
            .select(F.col("a_id").alias("l_doc"),
                    F.col("b_id").alias("r_doc")))
    # same verify-parallelism guard as set_similarity_join: candidate
    # rows are ~16 bytes but each costs an array_intersect over the
    # full shingle arrays, so AQE's byte-based coalescing serializes
    # the verify into 1-4 tasks; spread by candidate key up to the
    # cluster's parallelism before attaching the arrays
    cand = cand.repartition(
        left.sparkSession.sparkContext.defaultParallelism,
        "l_doc", "r_doc")
    la = arrs.where(F.col("side") == "l").select(
        F.col("id").alias("l_doc"), F.col("toks").alias("l_toks"),
        F.col("sz").alias("l_sz"))
    ra = arrs.where(F.col("side") == "r").select(
        F.col("id").alias("r_doc"), F.col("toks").alias("r_toks"),
        F.col("sz").alias("r_sz"))
    verified = (cand.join(la, "l_doc").join(ra, "r_doc")
                .withColumn("n_common", F.size(
                    F.array_intersect("l_toks", "r_toks")).cast("int"))
                .withColumn("jaccard", F.round(
                    F.col("n_common")
                    / (F.col("l_sz") + F.col("r_sz") - F.col("n_common")),
                    6)))
    return (verified.where(F.col("jaccard") >= threshold)
            .select(F.col("l_doc").alias(f"l_{l_id}"),
                    F.col("r_doc").alias(f"r_{r_id}"),
                    "n_common", "jaccard")
            .orderBy(f"l_{l_id}", f"r_{r_id}"))
