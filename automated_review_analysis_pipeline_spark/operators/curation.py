"""Training-data curation operators (SURVEY.md §2B extensions): a
deterministic train/val/test split, PII redaction, test-set
decontamination, and per-language quota sampling.

These are the steps a 100 TB LLM-corpus pipeline runs between raw
documents and training shards. None exist in the reference (a single-file
survey ETL, survey_analysis.py); they extend its text surface per the
BASELINE.json north star.

Design for 100 TB:
* the split key is ``md5(id)`` compared as a HEX-STRING PREFIX, not an
  integer -- portable (Spark and the DuckDB oracle produce identical
  lowercase hex), uniform, stateless, and stable under re-runs,
  repartitioning, and incremental appends. No global sort, no shuffle:
  the split is a narrow per-row projection.
* redaction is pure JVM regexp (whole-stage codegen) -- no Python in the
  hot path. Patterns avoid constructs where Java (backtracking) and RE2
  (leftmost-longest) disagree: simple classes and greedy quantifiers only.
* decontamination never materializes the cross product: explode distinct
  shingles, semi-join the (small) distinct test-shingle set against train
  shingles, aggregate per train doc. One shuffle on the shingle string; at
  cluster scale the test-shingle side is broadcast (or a bloom filter)
  because the held-out set is orders of magnitude smaller than train.
* quota sampling is one window per language partition ordered by the md5
  key -- an unbiased deterministic sample without sampleBy's RNG (whose
  draws differ per engine/seed and would never oracle-match).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from automated_review_analysis_pipeline_spark.plan_cache import plan_cache

from .dedup import word_shingles

# 4-hex-digit md5 prefix thresholds: 0xCCCD/0x10000 ~= 0.80,
# 0xE666/0x10000 ~= 0.90 -> ~80/10/10 train/val/test.
TRAIN_MAX = "cccd"
VAL_MAX = "e666"

# Portable redaction patterns (identical semantics under Java regex and
# RE2): fixed alternation-free shapes only.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"
PHONE_RE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"


def split_key(id_col) -> F.Column:
    """Lowercase 4-hex-char md5 prefix of the stringified id."""
    return F.substring(F.md5(F.col(id_col).cast("string")), 1, 4)


def split_label(id_col) -> F.Column:
    h = split_key(id_col)
    return (
        F.when(h < TRAIN_MAX, F.lit("train"))
        .when(h < VAL_MAX, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def deterministic_split(documents: DataFrame,
                        id_col: str = "doc_id") -> DataFrame:
    """Assign every document to train/val/test by hashed id (~80/10/10).

    Narrow (no shuffle): the assignment is a per-row expression, so it
    composes with any downstream filter without a materialized split
    table, and re-computes identically on every engine and every run.
    """
    return (
        documents.select(id_col, "lang", split_label(id_col).alias("split"))
        .orderBy(id_col)
    )


def leakage_safe_split(embeddings: DataFrame, threshold: float = 0.35,
                       id_col: str = "vec_id") -> DataFrame:
    """Group-aware train/val/test split: near-duplicate CLUSTERS are
    assigned to a split atomically, so no near-dup pair ever straddles
    train and eval -- the contamination a per-document hash split cannot
    prevent (a paraphrase of a training doc landing in the test set
    inflates eval scores even though the doc ids differ).

    Composition, not new machinery: connected components over the
    cosine>=threshold graph (similarity.near_dup_components -- banded
    sign-LSH candidates, min-id components) produce a deterministic
    ``component`` representative per vector, and the standard
    ``split_label`` hash is applied to the COMPONENT id instead of the
    row id. Every member inherits its cluster's draw, split fractions
    stay ~80/10/10 over clusters, and the assignment is deterministic
    for a given input set. Stability under incremental appends holds
    ONLY while each cluster's minimum-id member set is unchanged: the
    component label is the min reachable id, so an appended vector with
    a smaller id than its cluster's current min -- or one bridging two
    previously separate clusters -- relabels the component and re-draws
    the whole cluster's split (possibly moving former eval members into
    train). Pipelines that append must either re-audit eval membership
    after each extension or freeze the eval set once drawn; a
    representative-hash scheme cannot fix this in general, because ANY
    cluster-derived label changes when clusters merge.

    Scale: inherits near_dup_components' bounds (driver union-find up to
    the edge bound, large-star/small-star rounds above it); the split
    itself is a narrow per-row expression on the component column -- no
    extra shuffle.
    """
    from .similarity import near_dup_components

    comps = near_dup_components(embeddings, threshold, id_col)
    return comps.select(
        F.col(id_col), F.col("component"),
        split_label("component").alias("split"),
    ).orderBy(id_col)


def self_line_dedup(documents: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """WITHIN-document repeated-line removal (the self-repetition pass of
    Gopher/RefinedWeb repetition filtering): keep the FIRST occurrence of
    each line inside a document, drop later verbatim repeats -- templated
    pages and scraper glitches repeat their own nav/footer/signature
    blocks many times within one page. Complements ``line_dedup`` (which
    removes lines repeated ACROSS documents) -- run this first so a
    100×-self-repeated line can't dominate a document's shingle set.

    Plan: ENTIRELY narrow -- split, order-preserving ``array_distinct``
    (Spark keeps first-occurrence order), re-join, sizes. One codegen'd
    projection, zero shuffles, zero UDFs: at 100 TB this is a pure
    map-side pass that composes with any downstream filter. The DuckDB
    oracle mirrors it with a min-position group-by (list_distinct's
    order is not guaranteed there).
    """
    ls = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    uniq = F.array_distinct(ls)
    return documents.select(
        F.col(id_col),
        F.concat_ws("\n", uniq).alias("clean_text"),
        F.size(uniq).cast("int").alias("n_lines_kept"),
        (F.size(ls) - F.size(uniq)).cast("int").alias("n_lines_removed"),
    ).orderBy(id_col)


def redact_pii(documents: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Redact emails/URLs/phone numbers; count each kind pre-redaction.

    URL first (emails can appear inside URL paths), then email, then
    phone. All JVM-side regexp -- one codegen stage, no UDF.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, URL_RE, "<URL>"),
            EMAIL_RE, "<EMAIL>"),
        PHONE_RE, "<PHONE>")
    return documents.select(
        id_col,
        redacted.alias("redacted_text"),
        F.regexp_count(t, F.lit(EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(t, F.lit(URL_RE)).cast("int").alias("n_urls"),
        F.regexp_count(t, F.lit(PHONE_RE)).cast("int").alias("n_phones"),
    ).orderBy(id_col)


def _split_shingle_stages(documents: DataFrame, text_col: str,
                          id_col: str, k: int
                          ) -> tuple[DataFrame, DataFrame]:
    """Shared staging for the contamination operators: (test_sh,
    train_sh) where test_sh is the DISTINCT shingle set of the test
    split and train_sh is (id, shingle) for the train split. This is
    the project's SINGLE definition of contamination semantics
    (tokenizer, shingle k, split boundaries) -- decontaminate (the
    boolean rule) and contamination_report (the graded view) both build
    on it, so they can never drift apart.

    Tokens are staged in their own projection and shingles built INSIDE
    the explode: exploding a pre-aliased shingle attribute makes
    InferFiltersFromGenerate add a size()>0 filter whose pushdown
    re-inlines the whole shingle pipeline per row (measured 2.7s vs
    0.75s at sf0.1)."""
    from .dedup import shingle_tokens, word_shingles_from_tokens

    toked = documents.select(
        F.col(id_col), split_key(id_col).alias("__h"),
        shingle_tokens(F.col(text_col)).alias("__toks"))
    sh = toked.select(
        id_col, "__h",
        F.explode(word_shingles_from_tokens(F.col("__toks"), k))
        .alias("shingle"))
    test_sh = (sh.where(F.col("__h") >= VAL_MAX)
               .select("shingle").distinct())
    train_sh = sh.where(F.col("__h") < TRAIN_MAX).select(id_col, "shingle")
    return test_sh, train_sh


def decontaminate(documents: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", k: int = 5) -> DataFrame:
    """Flag train docs sharing any word k-shingle with the test split.

    Standard held-out-set decontamination: a train document whose text
    contains a k-gram that also occurs in any test document is
    contaminated. Returns (doc_id, n_shared_shingles) for contaminated
    train docs only.

    Plan shape: one pass computes per-doc distinct shingles; the test
    side collapses to DISTINCT shingles (small -- held-out sets are tiny
    vs train), then a single hash join on the shingle string + one
    aggregate on doc_id. No pairwise doc x doc comparison ever happens.
    """
    test_sh, train_sh = _split_shingle_stages(
        documents, text_col, id_col, k)
    return (
        train_sh.join(test_sh, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
        .orderBy(id_col)
    )


def _curation_survivors(documents: DataFrame, k: int = 5) -> DataFrame:
    """Stages 1-3 of the curation pipeline, shared by
    :func:`curate_corpus` (doc-count quotas) and
    :func:`curate_corpus_tokens` (token-budget quotas): Gopher quality
    gate -> exact text dedup -> train-split selection -> held-out-set
    decontamination. Returns the clean train-split survivor set with all
    document columns."""
    from .dedup import (
        exact_dedup,
        shingle_tokens,
        word_shingles_from_tokens,
    )

    kept_ids = gopher_quality_flags(documents).where("keep").select("doc_id")
    base = documents.join(kept_ids, "doc_id", "left_semi")
    deduped = exact_dedup(base, ["text"], ["doc_id"])
    train = deduped.where(split_key("doc_id") < TRAIN_MAX)

    toked = documents.select(
        split_key("doc_id").alias("__h"),
        shingle_tokens(F.col("text")).alias("__toks"))
    test_sh = (toked.where(F.col("__h") >= VAL_MAX)
               .select(F.explode(word_shingles_from_tokens(F.col("__toks"), k))
                       .alias("shingle"))
               .distinct())
    tr_toked = train.select(
        "doc_id", shingle_tokens(F.col("text")).alias("__toks"))
    tr_sh = tr_toked.select(
        "doc_id",
        F.explode(word_shingles_from_tokens(F.col("__toks"), k))
        .alias("shingle"))
    contaminated = tr_sh.join(test_sh, "shingle").select("doc_id").distinct()
    return train.join(contaminated, "doc_id", "left_anti")


def curate_corpus(documents: DataFrame, quota: int = 80, budget: int = 512,
                  k: int = 5) -> DataFrame:
    """The full training-corpus curation pipeline as ONE lazy Spark plan:

    1. Gopher quality gate (integer-arithmetic keep rules, semi join)
    2. Exact text dedup (min doc_id survives per distinct text)
    3. Train-split selection + held-out-set decontamination (any train doc
       sharing a word k-shingle with the test split is dropped; the test
       split is drawn from the ORIGINAL corpus -- curation must never
       weaken the contamination definition)
    4. Per-language quota sampling (md5-ordered, deterministic)
    5. Token-budget shard assignment per language (contiguous offsets)

    Output: (lang, doc_id, n_tokens, tokens_before, shard) -- the shard
    manifest a data loader consumes. Single action, no intermediate
    materialization: Catalyst fuses the gates into the scans, and every
    stage is a hash join / window over the SHRINKING survivor set, so at
    100 TB the expensive stages (shingle join, windows) see only what the
    cheap per-row gates let through.
    """
    from .textanalysis import token_count

    clean = _curation_survivors(documents, k)

    w_q = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id")
    sampled = (clean.withColumn("__r", F.row_number().over(w_q))
               .where(F.col("__r") <= quota))

    w_s = (Window.partitionBy("lang").orderBy("doc_id")
           .rowsBetween(Window.unboundedPreceding, -1))
    return (
        sampled.select("lang", "doc_id",
                       token_count(F.col("text")).alias("n_tokens"))
        .select("lang", "doc_id", "n_tokens",
                F.coalesce(F.sum("n_tokens").over(w_s), F.lit(0))
                .alias("tokens_before"))
        .select("lang", "doc_id", "n_tokens", "tokens_before",
                F.floor(F.col("tokens_before") / budget).cast("long")
                .alias("shard"))
        .orderBy("lang", "doc_id")
    )


def curate_corpus_tokens(documents: DataFrame, token_quota: int = 2048,
                         budget: int = 512, k: int = 5,
                         n_merges: int = 3,
                         merges: list[tuple] | None = None) -> DataFrame:
    """:func:`curate_corpus` with TOKEN-budget quotas -- real pretraining
    mixes are budgeted in tokenizer tokens, not document counts. Stages
    1-3 (gate, dedup, decontam) are identical; the quota stage then
    admits documents per language in the same deterministic md5 order
    until ``token_quota`` BPE tokens are reached (greedy prefix: a doc
    is admitted iff the tokens admitted before it are under the quota,
    so the last admitted doc may overflow it -- the standard fill rule),
    and shard offsets accumulate the SAME exact token counts, so the
    shard manifest a data loader consumes carries real tokenizer token
    counts end to end.

    Token counts come from :func:`~.textanalysis.bpe_encode` (trained on
    the full corpus, like the registry's encode query; pass ``merges``
    to reuse a learned table). Documents the encoder emits no row for
    (zero tokens) count 0 toward the quota.

    Output: (lang, doc_id, n_bpe_tokens, tokens_before, shard).
    """
    from .textanalysis import bpe_encode

    clean = _curation_survivors(documents, k)
    enc = bpe_encode(documents, n_merges=n_merges,
                     merges=merges).select("doc_id", "n_bpe_tokens")
    base = (
        clean.select("lang", "doc_id")
        .join(enc, "doc_id", "left")
        .select("lang", "doc_id",
                F.coalesce("n_bpe_tokens", F.lit(0)).cast("long")
                .alias("n_bpe_tokens"))
    )
    w_q = (Window.partitionBy("lang")
           .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
           .rowsBetween(Window.unboundedPreceding, -1))
    admitted = (
        base.select(
            "lang", "doc_id", "n_bpe_tokens",
            F.coalesce(F.sum("n_bpe_tokens").over(w_q), F.lit(0))
            .alias("__quota_before"))
        .where(F.col("__quota_before") < token_quota)
    )
    w_s = (Window.partitionBy("lang").orderBy("doc_id")
           .rowsBetween(Window.unboundedPreceding, -1))
    return (
        admitted.select(
            "lang", "doc_id", "n_bpe_tokens",
            F.coalesce(F.sum("n_bpe_tokens").over(w_s), F.lit(0))
            .cast("long").alias("tokens_before"))
        .select("lang", "doc_id", "n_bpe_tokens", "tokens_before",
                F.floor(F.col("tokens_before") / budget).cast("long")
                .alias("shard"))
        .orderBy("lang", "doc_id")
    )


def bloom_decontaminate(documents: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 5,
                        m_bits: int = 1 << 20,
                        n_hashes: int = 3,
                        min_corpus_docs: int = 1_000_000) -> DataFrame:
    """Decontamination with a Bloom-filter prefilter: byte-identical
    output to :func:`decontaminate` (false positives die in the exact
    verify join; false negatives are impossible), but the train side's
    shuffle into that join shrinks by the Bloom rejection rate, and the
    filter is a FIXED-size broadcast (``m_bits/8`` bytes) regardless of
    test-set size -- the Spark runtime-filter/bloom-join pattern built
    from first principles, and the right shape when the train side is
    100 TB and the verify join would otherwise shuffle every train
    shingle.

    Bit positions are JVM-side xxhash64 double-hashing (h1 + i*h2 mod m);
    the executor-side membership test is a vectorized numpy bitset probe
    over Arrow batches -- no Python hashing, no per-row Python.

    Below ``min_corpus_docs`` the operator auto-flips to the plain exact
    join (:func:`decontaminate`): at small scale the prefilter's fixed
    costs (bitset build action, per-shingle position math, the probe)
    exceed what it saves, exactly like star_connected_components' edge-
    count switch. Output is byte-identical on both paths by contract, so the
    flip can never change an answer; pass ``min_corpus_docs=0`` to force
    the Bloom path (tests do, pinning bloom == exact equality).
    """
    import numpy as np

    from .dedup import shingle_tokens, word_shingles_from_tokens

    if min_corpus_docs and documents.count() < min_corpus_docs:
        return decontaminate(documents, text_col, id_col, k)

    spark = documents.sparkSession
    toked = documents.select(
        F.col(id_col), split_key(id_col).alias("__h"),
        shingle_tokens(F.col(text_col)).alias("__toks"))
    sh = toked.select(
        id_col, "__h",
        F.explode(word_shingles_from_tokens(F.col("__toks"), k))
        .alias("shingle"))
    # reduce each hash mod m BEFORE the double-hash combine: h1 + i*h2
    # overflows int64 under ANSI mode; (h1 mod m) + i*(h2 mod m) is
    # congruent mod m and stays far below 2^63
    h1 = F.pmod(F.xxhash64(F.col("shingle")), F.lit(m_bits))
    h2 = F.pmod(F.xxhash64(F.concat(F.col("shingle"), F.lit("#b2"))),
                F.lit(m_bits))
    pos_exprs = [
        F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)).cast("long").alias(f"__p{i}")
        for i in range(n_hashes)
    ]

    # cached: the distinct test-shingle set (bounded -- held-out sets are
    # tiny vs train) feeds BOTH the bitset build and the exact verify
    # join; without the cache the full-corpus shingle explode runs twice.
    test_sh = plan_cache(sh.where(F.col("__h") >= VAL_MAX)
                         .select("shingle").distinct())
    # Build the bitset: distinct set positions (bounded by m_bits) fold
    # into m_bits/8 bytes on the driver -- the bounded-by-construction
    # collect that makes a Bloom filter a Bloom filter.
    set_pos = (test_sh.select(F.explode(F.array(*pos_exprs)).alias("p"))
               .distinct().collect())
    bits = np.zeros(m_bits // 8, dtype=np.uint8)
    if set_pos:
        p = np.array([r[0] for r in set_pos], dtype=np.int64)
        np.bitwise_or.at(bits, p >> 3, np.uint8(1) << (p & 7).astype(np.uint8))
    bcast = spark.sparkContext.broadcast(bits.tobytes())

    train_sh = (sh.where(F.col("__h") < TRAIN_MAX)
                .select(id_col, "shingle", *pos_exprs))

    def probe(batches):
        b_arr = np.frombuffer(bcast.value, dtype=np.uint8)
        for b in batches:
            if not len(b):
                continue
            mask = np.ones(len(b), dtype=bool)
            for i in range(n_hashes):
                pp = b[f"__p{i}"].to_numpy(dtype=np.int64)
                mask &= (b_arr[pp >> 3] & (np.uint8(1) << (pp & 7).astype(np.uint8))) != 0
            if mask.any():
                yield b.loc[mask, [id_col, "shingle"]]

    survivors = train_sh.mapInPandas(
        probe, f"{id_col} long, shingle string")
    return (
        survivors.join(test_sh, "shingle")      # exact verify: kills FPs
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
        .orderBy(id_col)
    )


def lang_quota_sample(documents: DataFrame, quota: int = 60,
                      id_col: str = "doc_id") -> DataFrame:
    """Deterministic up-to-``quota`` docs per language, md5-ordered.

    Language rebalancing for corpus mixing: the md5 ordering makes the
    per-language pick pseudorandom yet identical across engines and runs.
    One shuffle (the window partition by lang); skewed languages cost
    O(quota) output regardless of input skew.
    """
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col(id_col).cast("string")), id_col)
    return (
        documents.select("lang", id_col,
                         F.row_number().over(w).cast("int").alias("rank"))
        .where(F.col("rank") <= quota)
        .orderBy("lang", "rank")
    )


def _mix_hex(w: float) -> str:
    """5-hex-digit keep threshold for fraction ``w`` (so w=1.0 -> '10000'
    compares above every '0'-prefixed 4-digit key)."""
    return format(max(0, min(65536, round(w * 65536))), "05x")


def mix_corpus(documents: DataFrame, weights: dict[str, float],
               default: float = 1.0, id_col: str = "doc_id") -> DataFrame:
    """Down-sample each source to its mixing weight (keep fraction).

    Corpus mixing for training runs ("2 parts web, 1 part forum, all of
    wiki"): per-row keep decision = salted md5(id) hex key under the
    source's threshold. Deterministic (same docs survive on every engine,
    run, and partitioning -- unlike sampleBy's RNG), stateless, and
    narrow: no shuffle, composes with any downstream stage. The salt
    ('mix:') decorrelates the draw from deterministic_split's, so
    sampling does not bias the split fractions.
    """
    key = F.concat(
        F.lit("0"),
        F.substring(F.md5(F.concat(F.lit("mix:"),
                                   F.col(id_col).cast("string"))), 1, 4))
    thr = F.lit(_mix_hex(default))
    for src, w in sorted(weights.items()):
        thr = F.when(F.col("source") == src, F.lit(_mix_hex(w))).otherwise(thr)
    return (
        documents.select(id_col, "source")
        .where(key < thr)
        .orderBy(id_col)
    )


def temperature_mix(documents: DataFrame, alpha: float = 0.3,
                    group_col: str = "lang",
                    id_col: str = "doc_id",
                    weight_col: str | None = None) -> DataFrame:
    """Temperature-based corpus rebalancing (the XLM-R/mT5 multilingual
    sampling rule): with observed group shares p_g, sample mass q_g is
    proportional to p_g^alpha -- alpha<1 flattens the distribution so
    low-resource groups are up-weighted RELATIVELY without duplicating
    rows. Realized as per-group keep fractions normalized so the
    smallest group keeps everything:  f_g = (n_g / n_min)^(alpha-1),
    which yields exactly the q_g proportions among survivors.

    Unlike :func:`mix_corpus` (explicit per-source weights), the weights
    here are DERIVED from the corpus itself -- one tiny count aggregate,
    broadcast back; the keep decision is the same salted-md5 integer key
    under a per-group threshold (deterministic across engines, runs, and
    partitioning). Scale: one group-by on the (low-cardinality) group
    column + a broadcast join; no row-level shuffle of the corpus.
    Threshold = round(f_g * 65536) compared against the first-4-hex-digit
    md5 key as an INTEGER, mirrored digit-for-digit in the SQL oracle.

    NULL ``group_col`` values coalesce to the sentinel group
    ``__null__`` BEFORE counting and joining, so unlabeled documents
    form their own rebalanced group rather than silently vanishing
    through the equi-join. Two caveats of that representation, by
    design: the emitted group column is ALWAYS a string (non-string
    group columns are cast, so the output carries '3' for 3), and a
    corpus whose group column literally contains the string
    ``'__null__'`` merges that group with the NULL group -- pre-fill
    NULLs upstream with a corpus-safe sentinel if that collision is
    possible.

    ``weight_col`` switches the group-mass measure from row counts to
    the sum of that column -- the token-budget form of the rule (real
    multilingual mixes weight languages by TOKENS, not documents; feed
    it :func:`~.textanalysis.bpe_encode`'s n_bpe_tokens). The keep
    decision stays per-document; only the p_g shares change.
    """
    grp = F.coalesce(F.col(group_col).cast("string"), F.lit("__null__"))
    docs = documents.withColumn("__grp", grp)
    mass = (F.count("*") if weight_col is None
            else F.sum(weight_col))
    counts = docs.groupBy("__grp").agg(mass.alias("__n"))
    nmin = counts.agg(F.min("__n").alias("__nmin"))
    groups = counts.crossJoin(F.broadcast(nmin)).select(
        "__grp",
        F.round(
            F.pow(F.col("__n").cast("double") / F.col("__nmin"),
                  F.lit(alpha - 1.0)) * 65536
        ).cast("long").alias("keep_threshold"),
    )
    key = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("tmix:"), F.col(id_col).cast("string"))),
            1, 4),
        16, 10).cast("long")
    return (
        docs.join(F.broadcast(groups), "__grp")
        .where(key < F.col("keep_threshold"))
        .select(id_col, F.col("__grp").alias(group_col), "keep_threshold")
        .orderBy(id_col)
    )


def mix_case_sql(weights: dict[str, float], default: float = 1.0) -> str:
    """DuckDB twin of mix_corpus's threshold CASE, generated from the
    same dict so the two can never drift."""
    whens = "\n".join(
        f"    WHEN '{src}' THEN '{_mix_hex(w)}'"
        for src, w in sorted(weights.items()))
    return f"CASE source\n{whens}\n    ELSE '{_mix_hex(default)}' END"


# Gopher-style rule bounds (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", §A1.1 heuristics,
# adapted to the available integer signals). One dict drives BOTH the
# Spark expressions and the oracle SQL.
GOPHER_MIN_TOKENS = 50
GOPHER_MAX_TOKENS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3   # inclusive
GOPHER_MAX_MEAN_WORD_LEN = 10  # inclusive
GOPHER_MAX_SYMBOL_PER_10_WORDS = 1  # (hash + ellipsis) * 10 <= tokens
GOPHER_MIN_STOPWORD_HITS = 2


def _all_markers() -> tuple[str, ...]:
    from .textanalysis import LANG_MARKERS

    out: list[str] = []
    for _, words in LANG_MARKERS:
        out.extend(words)
    return tuple(dict.fromkeys(out))


def gopher_quality_flags(documents: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Gopher-style heuristic document filter: per-rule boolean flags plus
    the combined keep decision.

    Every rule is INTEGER arithmetic (mean word length as a cross-
    multiplied bound, never a float division), so the oracle comparison is
    exact. Pure per-row projection: no shuffle, no UDF -- at 100 TB this
    runs at scan parallelism and the flags are free to pushdown-filter on
    when written to a partitioned corpus table.
    """
    from .textanalysis import stopword_hits, token_count

    c = F.col(text_col)
    s = F.trim(F.coalesce(c, F.lit("")))
    nt = token_count(c).cast("long")
    ns = F.length(F.regexp_replace(s, r"\s+", "")).cast("long")
    n_hash = (F.length(s) - F.length(F.regexp_replace(s, r"#", ""))).cast("long")
    n_ell = ((F.length(s) - F.length(F.regexp_replace(s, r"\.\.\.", ""))) / 3).cast("long")
    tokens_ok = (nt >= GOPHER_MIN_TOKENS) & (nt <= GOPHER_MAX_TOKENS)
    word_len_ok = (ns >= GOPHER_MIN_MEAN_WORD_LEN * nt) & \
        (ns <= GOPHER_MAX_MEAN_WORD_LEN * nt)
    symbol_ok = (n_hash + n_ell) * 10 <= GOPHER_MAX_SYMBOL_PER_10_WORDS * nt
    stopword_ok = stopword_hits(c, _all_markers()) >= GOPHER_MIN_STOPWORD_HITS
    return documents.select(
        id_col,
        nt.alias("n_tokens"),
        tokens_ok.alias("tokens_ok"),
        word_len_ok.alias("word_len_ok"),
        symbol_ok.alias("symbol_ok"),
        stopword_ok.alias("stopword_ok"),
        (tokens_ok & word_len_ok & symbol_ok & stopword_ok).alias("keep"),
    ).orderBy(id_col)


def gopher_quality_flags_sql() -> str:
    """DuckDB twin of :func:`gopher_quality_flags`, generated from the
    same rule constants and marker inventory."""
    from .textanalysis import stopword_hits_sql, token_count_sql

    s = "trim(coalesce(text, ''))"
    nt = f"{token_count_sql('text')}::BIGINT"
    ns = f"length(regexp_replace({s}, '\\s+', '', 'g'))::BIGINT"
    n_hash = f"(length({s}) - length(regexp_replace({s}, '#', '', 'g')))::BIGINT"
    n_ell = (f"((length({s}) - length(regexp_replace({s}, '\\.\\.\\.', '', 'g')))"
             f" // 3)::BIGINT")
    hits = stopword_hits_sql("text", _all_markers())
    tokens_ok = (f"({nt} >= {GOPHER_MIN_TOKENS} AND "
                 f"{nt} <= {GOPHER_MAX_TOKENS})")
    word_len_ok = (f"({ns} >= {GOPHER_MIN_MEAN_WORD_LEN} * {nt} AND "
                   f"{ns} <= {GOPHER_MAX_MEAN_WORD_LEN} * {nt})")
    symbol_ok = (f"(({n_hash} + {n_ell}) * 10 <= "
                 f"{GOPHER_MAX_SYMBOL_PER_10_WORDS} * {nt})")
    stopword_ok = f"({hits} >= {GOPHER_MIN_STOPWORD_HITS})"
    return f"""
SELECT doc_id,
       {nt} AS n_tokens,
       {tokens_ok} AS tokens_ok,
       {word_len_ok} AS word_len_ok,
       {symbol_ok} AS symbol_ok,
       {stopword_ok} AS stopword_ok,
       ({tokens_ok} AND {word_len_ok} AND {symbol_ok} AND {stopword_ok})
         AS keep
FROM documents ORDER BY doc_id
"""


def shuffle_shards(documents: DataFrame, n_shards: int = 8,
                   seed: str = "epoch0",
                   id_col: str = "doc_id") -> DataFrame:
    """Deterministic global training shuffle + shard assignment: every
    document gets a pseudo-random position defined ONLY by (seed, id) --
    the step that turns a curated corpus into training shards whose read
    order is decorrelated from the ingestion order (adjacent source
    documents land in different shards at different positions), while
    staying exactly reproducible across engines, runs, and retries.
    Vary ``seed`` per epoch for a fresh permutation.

    Plan: the shuffle key is md5(seed-id) (the portable hash used by the
    split/quota operators); the shard is the key's first 8 hex digits mod
    ``n_shards`` (uniform, no coordination), and the in-shard position is
    a row_number per shard ordered by (key, id). Rows hash-partition on
    the shard into ``n_shards`` partitions and the position window runs
    on that partitioning, so one exchange places each row; the shard
    writer runs the same assignment with the document text carried
    through it. Size n_shards to the cluster (hundreds+ at 100 TB) so
    the per-shard sort stays partition-local.
    """
    return _shard_assign(documents, n_shards, seed, id_col) \
        .orderBy("shard", "pos")


def _shard_assign(documents: DataFrame, n_shards: int, seed: str,
                  id_col: str, *carry: str) -> DataFrame:
    """:func:`shuffle_shards`' (id, *carry*, shard, pos) rows, unordered,
    hash-partitioned on the shard."""
    key = F.md5(F.concat_ws("-", F.lit(seed), F.col(id_col).cast("string")))
    staged = documents.select(
        F.col(id_col), *carry, key.alias("__key"),
    ).withColumn(
        "shard",
        F.pmod(F.conv(F.substring(F.col("__key"), 1, 8), 16, 10)
               .cast("long"), F.lit(n_shards)).cast("int"),
    )
    w = Window.partitionBy("shard").orderBy("__key", id_col)
    return (
        staged.repartition(n_shards, "shard")
        .withColumn("pos", F.row_number().over(w))
        .drop("__key")
    )


def line_dedup(documents: DataFrame, min_doc_freq: int = 10,
               text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Cross-document boilerplate LINE removal (the CCNet/RefinedWeb
    pass): drop every line that occurs in at least ``min_doc_freq``
    distinct documents -- navigation bars, cookie banners, copyright
    footers repeat verbatim across a crawl while real content lines are
    (near-)unique -- then reassemble each document from its surviving
    lines in original order.

    Plan: split -> posexplode to (doc, pos, line); line document-
    frequency is one hash aggregate GROUPED ON md5(line) so only 32-hex
    keys shuffle, never line text; the keep-filter is a join back on the
    same hash; reassembly is collect_list(struct(pos, line)) sorted
    in-array (array_sort on the struct orders by pos) -- one shuffle by
    doc. A document whose every line is boilerplate survives with empty
    ``clean_text`` (and its removal count), so downstream length filters
    can drop it explicitly.
    """
    # the split stage feeds three consumers (line frequency, keep
    # filter, original line counts); plan_cache it so the corpus text is
    # scanned and split once, not three times
    base = plan_cache(documents.select(
        F.col(id_col),
        # null text -> one empty line (not a NULL array, whose size()
        # would poison the removed-count arithmetic downstream)
        F.split(F.coalesce(F.col(text_col), F.lit("")), "\n").alias("__ls"),
    ))
    lines = base.select(
        F.col(id_col),
        F.posexplode("__ls").alias("pos", "line"),
    ).withColumn("__lh", F.md5(F.col("line")))
    freq = (
        lines.groupBy("__lh")
        .agg(F.countDistinct(F.col(id_col)).alias("__df"))
        .where(F.col("__df") >= min_doc_freq)
    )
    kept = lines.join(freq, "__lh", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"])).alias("clean_text"),
        F.count(F.lit(1)).alias("__n_kept"),
    )
    return (
        base.select(F.col(id_col), F.size("__ls").alias("__n_lines"))
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("__n_kept"), F.lit(0)).cast("int")
            .alias("n_lines_kept"),
            (F.col("__n_lines") - F.coalesce(F.col("__n_kept"), F.lit(0)))
            .cast("int").alias("n_lines_removed"),
        )
        .orderBy(id_col)
    )


def weighted_sample(documents: DataFrame, n: int = 100,
                    weight_col: str = "n_chars", seed: str = "ws0",
                    id_col: str = "doc_id") -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis-Spirakis A-ES): every row gets key = ln(u) / w with u a
    seeded md5-uniform in (0, 1] and w its weight; the n largest keys
    are the sample. Inclusion probability is proportional to weight --
    the standard quality- or length-weighted corpus selection -- and the
    whole draw is reproducible from (seed, id) alone: adding documents
    never flips the relative order of existing ones (the property that
    lets a 100 TB sample be recomputed incrementally).

    u comes from the first 12 md5 hex digits ((v+1) / 16^12, never 0);
    keys round to 9dp before ranking (mirrored in the SQL oracle, ties
    -> lowest id) so a last-ulp ln() divergence between engines cannot
    reorder. Rows with weight <= 0 are excluded (zero sampling mass).
    Top-n executes as TakeOrdered (per-partition local top-n, one tiny
    merge) -- no global sort.
    """
    scale = float(16 ** 12)
    u = (F.conv(F.substring(
        F.md5(F.concat_ws("-", F.lit(seed), F.col(id_col).cast("string"))),
        1, 12), 16, 10).cast("double") + F.lit(1.0)) / F.lit(scale)
    # raw positive weights keep inclusion genuinely proportional
    # (fractional quality scores in (0,1] are the common case); rows
    # with weight <= 0 carry no sampling mass and are excluded, same as
    # E-S prescribes -- clamping them to 1 would silently flatten the
    # distribution
    w = F.col(weight_col).cast("double")
    staged = documents.where(w > 0).select(
        F.col(id_col), F.col(weight_col).alias("weight"),
        F.round(F.log(u) / w, 9).alias("sample_key"),
    ).orderBy(F.desc("sample_key"), F.asc(id_col)).limit(n)
    w_rank = Window.orderBy(F.desc("sample_key"), F.asc(id_col))
    return staged.withColumn("rank", F.row_number().over(w_rank)) \
        .orderBy("rank")


def contamination_report(documents: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", k: int = 5) -> DataFrame:
    """Graded benchmark-contamination report: for EVERY train-split
    document, the fraction of its distinct word k-shingles that occur in
    the test split -- the severity view a release review needs
    (:func:`decontaminate` is the boolean drop rule). ``severity`` is
    'clean' (0), 'trace' (< 5%), else 'high'.

    Same single-join shape as decontaminate (per-doc distinct shingles,
    distinct test-shingle set, one hash join + one aggregate; no doc x
    doc comparison); the left join keeps clean documents in the report
    with n_shared = 0.
    """
    test_sh, train_sh = _split_shingle_stages(
        documents, text_col, id_col, k)
    # cached test-shingle set (same convention/cost note as
    # decontaminate) + ONE marked left join per train shingle: totals
    # and shared counts come out of a single aggregation pass, so the
    # full-corpus shingle explode runs twice total (test materialize +
    # train pass), not three times (measured 3.5 s -> decontaminate-
    # class cost at sf0.1)
    test_sh = plan_cache(test_sh)
    marked = train_sh.join(
        test_sh.withColumn("__hit", F.lit(1)), "shingle", "left")
    counts = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("__shared"),
    )
    frac = F.round(F.col("__shared").cast("double")
                   / F.col("n_shingles").cast("double"), 6)
    return (
        counts.select(
            F.col(id_col), "n_shingles",
            F.col("__shared").cast("long").alias("n_shared"),
            frac.alias("contamination_frac"),
        )
        .withColumn(
            "severity",
            F.when(F.col("n_shared") == 0, "clean")
            .when(F.col("contamination_frac") < 0.05, "trace")
            .otherwise("high"))
        .orderBy(id_col)
    )


def quality_filter_observed(documents: DataFrame,
                            id_col: str = "doc_id",
                            text_col: str = "text"):
    """Gopher quality filter with SINGLE-PASS pipeline telemetry via the
    Observation API: total/kept/dropped counts and the mean token count
    accumulate during the same job that produces the filtered output --
    the metrics a production curation DAG exports per stage, without a
    second scan, a cache, or an accumulator race (Observation metrics
    are exactly-once per action, unlike raw accumulators which recount
    on task retries).

    Returns ``(filtered_df, observation)``; read
    ``observation.get`` AFTER an action on the filtered frame. The
    filtered output is ordinary deterministic rows (oracle-checkable);
    the observation is engine telemetry (pytest-checked).
    """
    from pyspark.sql import Observation

    flags = gopher_quality_flags(documents, id_col=id_col,
                                 text_col=text_col)
    joined = documents.join(
        flags.select(id_col, "keep", "n_tokens"), id_col)
    obs = Observation("quality_filter")
    observed = joined.observe(
        obs,
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.round(F.avg("n_tokens"), 2).alias("avg_tokens"),
    )
    out = (
        observed.where(F.col("keep"))
        .drop("keep")
        .orderBy(id_col)
    )
    return out, obs


# Blocklist phrase set for the registry query: fixed literals with shared
# prefixes/overlaps so the automaton's failure links genuinely fire (an
# "and" inside "band", "the" inside "there"). The SAME list feeds the
# DuckDB oracle.
BLOCKLIST_PHRASES = ("the", "there", "and", "band", "data", "at",
                     "cloud model", "error")


def _aho_corasick(phrases: tuple) -> tuple:
    """Build the Aho-Corasick automaton as flat dicts: goto[state][ch],
    fail[state], out[state] = tuple of phrase indexes ending here.
    Driver-side, broadcast by closure -- the automaton is O(sum of
    phrase lengths), independent of corpus size."""
    goto: list = [{}]
    out: list = [()]
    for pi, p in enumerate(phrases):
        s = 0
        for ch in p:
            nxt = goto[s].get(ch)
            if nxt is None:
                nxt = len(goto)
                goto[s][ch] = nxt
                goto.append({})
                out.append(())
            s = nxt
        out[s] = out[s] + (pi,)
    # BFS failure links
    from collections import deque

    fail = [0] * len(goto)
    dq = deque()
    for ch, s in goto[0].items():
        fail[s] = 0
        dq.append(s)
    while dq:
        r = dq.popleft()
        for ch, s in goto[r].items():
            dq.append(s)
            f = fail[r]
            while f and ch not in goto[f]:
                f = fail[f]
            fail[s] = goto[f][ch] if ch in goto[f] and goto[f][ch] != s \
                else 0
            out[s] = out[s] + out[fail[s]]
    return goto, fail, out


def _build_fast_automaton(phrases: tuple):
    """Env-discovered pyahocorasick automaton over ``phrases``, or None
    when the package is absent (the pure-Python automaton then runs).
    Discovery-only, same discipline as the VADER lexicon: the package
    is never vendored; identical results are pinned by pytest against
    a fake module implementing the same add_word/make_automaton/iter
    API."""
    try:
        import ahocorasick  # type: ignore

        fast = ahocorasick.Automaton()
        for pi, p in enumerate(phrases):
            fast.add_word(p, pi)
        fast.make_automaton()
        return fast
    except Exception:
        return None


def _scan_text(text, phrases: tuple, goto, fail, out, fast=None):
    """(per-phrase occurrence counts, total) for one document --
    overlapping occurrences all count. Runs the C automaton when one
    was discovered, else the pure-Python goto/fail tables."""
    per = [0] * len(phrases)
    total = 0
    if fast is not None:
        for _end, pi in fast.iter(text or ""):
            per[pi] += 1
            total += 1
        return per, total
    s = 0
    for ch in (text or ""):
        while s and ch not in goto[s]:
            s = fail[s]
        s = goto[s].get(ch, 0)
        for pi in out[s]:
            per[pi] += 1
            total += 1
    return per, total


def blocklist_matches(documents: DataFrame,
                      phrases: tuple = BLOCKLIST_PHRASES,
                      mode: str = "automaton",
                      text_col: str = "text") -> DataFrame:
    """Multi-phrase blocklist matching -- the contamination/compliance
    scan every corpus pipeline runs before release: per document, the
    total number of phrase occurrences (ALL positions, overlapping
    included), how many distinct phrases hit, and which.

    Two physical strategies with IDENTICAL results:

    * ``mode="automaton"``: one Aho-Corasick pass per document (Arrow
      batches; the automaton is built once on the driver and shipped by
      closure). Cost is O(|text|) per document INDEPENDENT of the
      phrase count -- the shape that survives a 100k-phrase blocklist
      at 100 TB.
    * ``mode="expr"``: pure JVM column expressions, one counting scan
      per phrase. Catalyst-friendly and UDF-free, but cost multiplies
      by |phrases| -- right for small lists, measured against the
      automaton in PERF.md (tools/blocklist_sweep.py).

    Occurrence counting = every starting position where a phrase
    matches (overlapping occurrences all count), case-sensitive; the
    oracle mirrors that with a per-position substring scan."""
    if mode == "expr":
        import re as _re

        t = F.coalesce(F.col(text_col), F.lit(""))
        counts = []
        for pi, p in enumerate(phrases):
            # one JVM regex pass per phrase; the lookahead makes the
            # count OVERLAP-correct (a bare literal pattern consumes its
            # match and misses 'anan' twice in 'ananan')
            counts.append(F.regexp_count(
                t, F.lit("(?=" + _re.escape(p) + ")"))
                .alias(f"__c{pi}"))
        base = documents.select("doc_id", *counts)
        # array-fold instead of a chained sum: 512 phrases would build a
        # 512-deep Add tree and overflow Catalyst's recursion; the array
        # is BREADTH, the fold is one expression
        arr = F.array(*[F.col(f"__c{i}") for i in range(len(phrases))])
        n_hits = F.aggregate(arr, F.lit(0).cast("long"),
                             lambda a, x: a + x)
        n_ph = F.aggregate(arr, F.lit(0),
                           lambda a, x: a + (x > 0).cast("int"))
        csv = F.concat_ws(",", F.array_sort(F.filter(F.array(*[
            F.when(F.col(f"__c{i}") > 0, F.lit(p))
            for i, p in enumerate(phrases)]), lambda x: x.isNotNull())))
        return (base.select(
            "doc_id",
            n_hits.cast("long").alias("n_hits"),
            n_ph.cast("int").alias("n_phrases"),
            csv.alias("phrases_csv"))
            .orderBy("doc_id"))

    if mode != "automaton":
        raise ValueError(f"unknown blocklist mode {mode!r}")
    goto, fail, out = _aho_corasick(phrases)

    def scan_batches(batches):
        import pandas as pd

        # env-discovered C automaton (pyahocorasick), never vendored --
        # same results as the pure-Python automaton (pinned by pytest
        # against a fake module implementing the same API), ~100x the
        # per-character constant; built per task from the tiny phrase
        # tuple, falling back silently when the package is absent
        fast = _build_fast_automaton(phrases)

        for b in batches:
            ids, hits, nph, csvs = [], [], [], []
            for doc_id, text in zip(b["doc_id"], b[text_col]):
                per, total = _scan_text(text, phrases, goto, fail, out,
                                        fast)
                matched = sorted(p for pi, p in enumerate(phrases)
                                 if per[pi])
                ids.append(doc_id)
                hits.append(total)
                nph.append(sum(1 for c in per if c))
                csvs.append(",".join(matched))
            yield pd.DataFrame({
                "doc_id": pd.Series(ids, dtype="int64"),
                "n_hits": pd.Series(hits, dtype="int64"),
                "n_phrases": pd.Series(nph, dtype="int32"),
                "phrases_csv": csvs,
            })

    return (documents.select("doc_id", text_col)
            .mapInPandas(scan_batches,
                         "doc_id long, n_hits long, n_phrases int, "
                         "phrases_csv string")
            .orderBy("doc_id"))


def blocklist_sql(phrases: tuple = BLOCKLIST_PHRASES) -> str:
    """DuckDB twin of :func:`blocklist_matches` (per-position substring
    scan -- overlap-correct, unlike replace()-count)."""
    lits = ", ".join("'" + p.replace("'", "''") + "'" for p in phrases)
    return f"""
WITH ph AS (SELECT unnest([{lits}]) AS p),
d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
hits AS (
  SELECT d.doc_id, ph.p,
         len(list_filter(
             range(1, greatest(0, length(d.t) - length(ph.p) + 1) + 1),
             i -> substr(d.t, i, length(ph.p)) = ph.p)) AS c
  FROM d CROSS JOIN ph
)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_hits,
       CAST(count(CASE WHEN c > 0 THEN 1 END) AS INT) AS n_phrases,
       coalesce(string_agg(CASE WHEN c > 0 THEN p END, ','
                           ORDER BY CASE WHEN c > 0 THEN p END), '')
         AS phrases_csv
FROM hits GROUP BY doc_id ORDER BY doc_id
"""


def stratified_sample(documents: DataFrame, strata_col: str,
                      fraction: float, key_col: str = "doc_id",
                      salt: str = "strat:") -> DataFrame:
    """EXACT deterministic stratified sampling: round(fraction * n)
    rows from EVERY stratum -- unlike ``df.sampleBy`` (per-row
    Bernoulli: the realized per-stratum count is a random variable and
    a re-run resamples), this ranks each stratum by a PORTABLE keyed
    hash (md5, the KMV family's discipline) and keeps exactly the
    target count, so (a) proportions are exact per stratum, (b) the
    sample is a pure function of the data -- reproducible across runs,
    engines, and cluster sizes, and (c) adding a document only ever
    displaces one sample in its own stratum (bounded churn, the
    training-data curation property).

    Half-up rounding of fraction*n (DECIMAL semantics, mirrored in the
    oracle); a non-empty stratum keeps at least one row so small
    strata are represented. One shuffle on the stratum key; the window
    sort spills per stratum -- the standard shape, same as any
    per-group top-k."""
    h = F.conv(F.substring(
        F.md5(F.concat(F.lit(salt),
                       F.col(key_col).cast("string"))), 1, 12),
        16, 10).cast("long")
    w = Window.partitionBy(strata_col).orderBy("__h", key_col)
    wn = Window.partitionBy(strata_col)
    target = F.greatest(
        F.lit(1),
        F.floor(F.lit(fraction) * F.col("__n") + F.lit(0.5))
        .cast("long"))
    return (documents
            .withColumn("__h", h)
            .withColumn("__n", F.count(F.lit(1)).over(wn))
            .withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") <= target)
            .drop("__h", "__n", "__r")
            .orderBy(strata_col, key_col))
