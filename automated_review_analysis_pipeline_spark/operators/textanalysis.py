"""Text-analysis columns for a training-data pipeline (SURVEY.md §2B):
language ID, quality scoring, token counting, fingerprinting.

All pure column expressions (whole-stage codegen; no Python). Each has an
ANSI-SQL twin for the DuckDB oracle, generated from the same constants.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from automated_review_analysis_pipeline_spark.session import driver_frame

# Tiny stopword inventories for the n-gram/stopword language-ID heuristic.
# Deliberately small + deterministic: the point is the operator shape
# (per-language evidence count -> argmax), not lexical completeness.
LANG_MARKERS: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("en", ("the", "and", "of", "to", "is", "was", "for", "with")),
    ("es", ("el", "la", "los", "las", "de", "que", "es", "para", "con")),
    ("de", ("der", "die", "das", "und", "ist", "nicht", "mit", "für")),
    ("fr", ("le", "la", "les", "des", "est", "et", "pour", "avec")),
)

# Character-n-gram profiles (counted as substring occurrences over the
# space-padded, whitespace-normalized lowercase text): common morpheme /
# orthography markers of each language -- '-er'/'-tion'-type endings and
# double-o for English; accented vowels and the '-ción'/'-dad'/'-ísim-'
# morphemes for Spanish. They catch short texts that carry no stopword
# at all (the heuristic's main abstention mode); stopword evidence still
# dominates via LANG_STOPWORD_WEIGHT when both are present.
LANG_TRIGRAMS: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("en", ("er ", "ver", "eel", "ble", "tio", "oo ")),
    ("es", ("ó", " pe", "ció", "dad", "sim", " ju")),
)
LANG_STOPWORD_WEIGHT = 3

# \w+ runs or single non-space symbols -- the BPE-ish pre-tokenizer shape.
BPE_ISH_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def tokens(c: Column) -> Column:
    """Whitespace tokenization of trimmed text; empty text -> empty array."""
    t = F.trim(F.coalesce(c, F.lit("")))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(c: Column) -> Column:
    return F.size(tokens(c))


def bpe_ish_token_count(c: Column) -> Column:
    """Count of BPE-style pre-tokens (letter runs / digit runs / single
    punctuation) -- a deterministic proxy for LLM token counts."""
    return F.size(F.regexp_extract_all(F.coalesce(c, F.lit("")),
                                       F.lit(BPE_ISH_PATTERN), 0))


def punct_ratio(c: Column) -> Column:
    s = F.coalesce(c, F.lit(""))
    n_punct = F.length(s) - F.length(F.regexp_replace(s, r"[^\w\s]", ""))
    return F.when(F.length(s) == 0, F.lit(0.0)).otherwise(
        F.round(n_punct.cast("double") / F.length(s), 6)
    )


def stopword_hits(c: Column, words: tuple[str, ...]) -> Column:
    """How many tokens are in the marker set (token-exact, not substring)."""
    toks = tokens(F.lower(c))
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def trigram_hits(c: Column, pats: tuple[str, ...]) -> Column:
    """Total occurrences of the profile substrings in the space-padded,
    whitespace-normalized lowercase text. Each count is the exact
    replace-length identity (len - len(remove(pat))) / len(pat) -- pure
    string expressions, no UDF, same form in the SQL twin."""
    padded = F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(F.coalesce(c, F.lit(""))), r"\s+", " "),
        F.lit(" "),
    )
    total = F.lit(0)
    for p in pats:
        occ = (F.length(padded)
               - F.length(F.replace(padded, F.lit(p), F.lit("")))) \
            / F.lit(len(p))
        total = total + occ.cast("int")
    return total


def language_id(c: Column) -> Column:
    """Argmax of per-language evidence: LANG_STOPWORD_WEIGHT x stopword
    hits + character-n-gram profile hits (LANG_TRIGRAMS); no evidence ->
    'und'. The n-gram term decides short texts that carry no stopword at
    all -- the heuristic's main abstention mode before; with it, corpus
    agreement vs seeded langdetect on the bundled CSV is 222/277
    (pinned in tests/test_langdetect_parity.py).

    Ties break by LANG_MARKERS order (first language listed wins), which a
    greatest-of chain cannot express -- so build it as a strict when-chain:
    pick the first language whose count equals the overall max and max > 0.
    """
    tri = dict(LANG_TRIGRAMS)
    counts = [
        stopword_hits(c, words) * F.lit(LANG_STOPWORD_WEIGHT)
        + trigram_hits(c, tri.get(lang, ()))
        for lang, words in LANG_MARKERS
    ]
    max_c = F.greatest(*counts)
    expr = None
    for (lang, _), cnt in zip(LANG_MARKERS, counts):
        cond = (max_c > 0) & (cnt == max_c)
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    return expr.otherwise("und")


def quality_score(c: Column) -> Column:
    """Deterministic [0,1] quality heuristic: rewards mid-length docs and
    low punctuation density, penalizes very short text.

    score = 0.5*min(1, tokens/50) + 0.3*(1 - min(1, 4*punct_ratio))
          + 0.2*min(1, avg_token_len/8), quantized to parts-per-million.

    Computed ENTIRELY in integer arithmetic (three integer divisions, one
    final /1e6): summing three float terms is engine-order-sensitive in
    the last ulp, which flipped a round(x, 6) at an exact boundary value
    between Spark and the DuckDB oracle. Identical int64 math -> one
    identical IEEE division -> bit-identical doubles everywhere.
    """
    nt = token_count(c).cast("long")
    s = F.trim(F.coalesce(c, F.lit("")))
    nc = F.length(s).cast("long")
    np_ = nc - F.length(F.regexp_replace(s, r"[^\w\s]", "")).cast("long")
    ns = F.length(F.regexp_replace(s, r"\s+", "")).cast("long")
    # floor(int/int) on doubles is exact here: quotient granularity is
    # 1/denominator (>= 1e-6), orders of magnitude above double error
    t1 = F.floor(F.lit(500_000) * F.least(nt, F.lit(50)) / F.lit(50))
    t2 = F.floor(
        F.lit(300_000) * F.greatest(nc - F.lit(4) * np_, F.lit(0))
        / F.greatest(nc, F.lit(1)))
    t3 = F.floor(
        F.lit(200_000) * F.least(ns, F.lit(8) * nt)
        / F.greatest(F.lit(8) * nt, F.lit(1)))
    return (t1 + t2 + t3).cast("double") / F.lit(1_000_000.0)


def fingerprint(c: Column) -> Column:
    """Content fingerprint: md5 of the whitespace-normalized, lowercased
    text. Portable (md5 is identical everywhere), order-stable."""
    norm = F.lower(F.trim(F.regexp_replace(F.coalesce(c, F.lit("")), r"\s+", " ")))
    return F.md5(norm)


def shingle_fingerprint(c: Column, k: int = 3) -> Column:
    """Order-insensitive near-dup fingerprint: md5 over the sorted distinct
    token set (a set-similarity-friendly canonical form)."""
    toks = F.array_sort(F.array_distinct(tokens(F.lower(c))))
    return F.md5(F.concat_ws(" ", toks))


def text_profile(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """The combined text-analysis projection over a documents table."""
    c = F.col(text_col)
    return documents.select(
        "doc_id",
        token_count(c).alias("n_tokens"),
        bpe_ish_token_count(c).alias("n_bpe_tokens"),
        F.length(F.coalesce(c, F.lit(""))).alias("n_chars_measured"),
        punct_ratio(c).alias("punct_ratio"),
        language_id(c).alias("lang_guess"),
        quality_score(c).alias("quality"),
        fingerprint(c).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# ANSI-SQL twins (DuckDB oracle)
# ---------------------------------------------------------------------------

def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def tokens_sql(expr: str) -> str:
    t = f"trim(coalesce({expr}, ''))"
    return (f"CASE WHEN {t} = '' THEN []::VARCHAR[] "
            f"ELSE regexp_split_to_array({t}, '\\s+') END")


def token_count_sql(expr: str) -> str:
    return f"len({tokens_sql(expr)})"


def bpe_ish_token_count_sql(expr: str) -> str:
    return (f"len(regexp_extract_all(coalesce({expr}, ''), "
            f"{_q(BPE_ISH_PATTERN)}))")


def punct_ratio_sql(expr: str) -> str:
    s = f"coalesce({expr}, '')"
    np = f"(length({s}) - length(regexp_replace({s}, '[^\\w\\s]', '', 'g')))"
    return (f"CASE WHEN length({s}) = 0 THEN 0.0 "
            f"ELSE round({np}::DOUBLE / length({s}), 6) END")


def stopword_hits_sql(expr: str, words: tuple[str, ...]) -> str:
    toks = tokens_sql(f"lower({expr})")
    inlist = ", ".join(_q(w) for w in words)
    return f"len(list_filter({toks}, t -> t IN ({inlist})))"


def trigram_hits_sql(expr: str, pats: tuple[str, ...]) -> str:
    if not pats:
        return "0"
    padded = (f"(' ' || regexp_replace(lower(coalesce({expr}, '')), "
              f"'\\s+', ' ', 'g') || ' ')")
    terms = [
        f"CAST((length({padded}) - length(replace({padded}, {_q(p)}, '')))"
        f" / {len(p)} AS INT)"
        for p in pats
    ]
    return "(" + " + ".join(terms) + ")"


def language_id_sql(expr: str) -> str:
    tri = dict(LANG_TRIGRAMS)
    counts = {
        lang: (f"({LANG_STOPWORD_WEIGHT} * {stopword_hits_sql(expr, words)}"
               f" + {trigram_hits_sql(expr, tri.get(lang, ()))})")
        for lang, words in LANG_MARKERS
    }
    max_c = "greatest(" + ", ".join(counts.values()) + ")"
    whens = " ".join(
        f"WHEN {max_c} > 0 AND {cnt} = {max_c} THEN {_q(lang)}"
        for lang, cnt in counts.items()
    )
    return f"CASE {whens} ELSE 'und' END"


def quality_score_sql(expr: str) -> str:
    """DuckDB twin of quality_score: same int64 arithmetic (// is exact
    integer division), one final double division."""
    nt = f"{token_count_sql(expr)}::BIGINT"
    s = f"trim(coalesce({expr}, ''))"
    nc = f"length({s})::BIGINT"
    np_ = f"({nc} - length(regexp_replace({s}, '[^\\w\\s]', '', 'g'))::BIGINT)"
    ns = f"length(regexp_replace({s}, '\\s+', '', 'g'))::BIGINT"
    t1 = f"((500000 * least({nt}, 50)) // 50)"
    t2 = f"((300000 * greatest({nc} - 4 * {np_}, 0)) // greatest({nc}, 1))"
    t3 = f"((200000 * least({ns}, 8 * {nt})) // greatest(8 * {nt}, 1))"
    return f"(({t1} + {t2} + {t3})::DOUBLE / 1000000.0::DOUBLE)"


def fingerprint_sql(expr: str) -> str:
    norm = f"lower(trim(regexp_replace(coalesce({expr}, ''), '\\s+', ' ', 'g')))"
    return f"md5({norm})"


def tf_idf_top_terms(documents: DataFrame, n: int = 5,
                     text_col: str = "text",
                     group_col: str = "source") -> DataFrame:
    """Top-n terms per group by summed TF-IDF -- the classic corpus-term
    profile (e.g. "what characterizes each crawl source").

    Scale shape: explode(words) -> ONE groupBy((group, word)) shuffle for
    term frequency; document frequency reuses the same exploded frame with
    a (doc, word)-distinct aggregation; idf joins back as a broadcast (the
    vocabulary aggregate is orders of magnitude smaller than the corpus).
    The final per-group top-n is a WindowGroupLimit, not a global sort.

    idf = ln((N+1)/(df+1)) (smoothed); score rounded at 6dp after the one
    double multiply so both engines agree bit-for-bit.
    """
    words = documents.select(
        F.col("doc_id"),
        F.col(group_col).alias("grp"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("word"),
    ).where(F.col("word") != "")
    n_docs = documents.select(
        F.count(F.lit(1)).cast("double").alias("__n_docs"))
    df_ = (
        words.select("doc_id", "word").distinct()
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("double").alias("__df")))
    tf = (
        words.groupBy("grp", "word")
        .agg(F.count(F.lit(1)).cast("double").alias("__tf")))
    from pyspark.sql.functions import broadcast
    from pyspark.sql.window import Window

    scored = (
        tf.join(broadcast(df_), "word")
        .crossJoin(broadcast(n_docs))
        .select(
            "grp", "word",
            F.round(
                F.col("__tf")
                * F.log((F.col("__n_docs") + 1.0) / (F.col("__df") + 1.0)),
                6,
            ).alias("tf_idf"),
        ))
    w = Window.partitionBy("grp").orderBy(
        F.desc("tf_idf"), F.asc("word"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= n)
        .select(F.col("grp").alias("source"), "rank", "word", "tf_idf")
        .orderBy("source", "rank")
    )


def tf_idf_top_terms_sql(n: int = 5) -> str:
    """DuckDB twin of :func:`tf_idf_top_terms` over the `documents` view."""
    return f"""
WITH words AS (
  SELECT doc_id, source AS grp, w AS word
  FROM (SELECT doc_id, source,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
        FROM documents WHERE trim(coalesce(text,'')) <> '')
  WHERE w <> ''
), n_docs AS (
  SELECT count(*)::DOUBLE AS nd FROM documents
), df AS (
  SELECT word, count(*)::DOUBLE AS dfc
  FROM (SELECT DISTINCT doc_id, word FROM words) GROUP BY word
), tf AS (
  SELECT grp, word, count(*)::DOUBLE AS tfc FROM words GROUP BY grp, word
), scored AS (
  SELECT grp, word, round(tfc * ln((nd + 1.0) / (dfc + 1.0)), 6) AS tf_idf
  FROM tf JOIN df USING (word), n_docs
), ranked AS (
  SELECT grp, word, tf_idf,
         row_number() OVER (PARTITION BY grp
                            ORDER BY tf_idf DESC, word ASC) AS rank
  FROM scored
)
SELECT grp AS source, rank, word, tf_idf
FROM ranked WHERE rank <= {n} ORDER BY source, rank
"""


def chunk_documents(documents: DataFrame, chunk_size: int = 64,
                    overlap: int = 16, text_col: str = "text") -> DataFrame:
    """Split each document into overlapping token-window chunks -- the
    standard LLM training/RAG prep step (context-window shaping).

    Pure column expressions: tokenize once, generate chunk start offsets
    with `sequence` (stride = chunk_size - overlap), posexplode, slice.
    Zero shuffles -- the operator is embarrassingly parallel per row, so at
    100 TB it runs entirely map-side at scan parallelism. Docs with no
    tokens yield no chunks.
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    stride = chunk_size - overlap
    toks = tokens(F.col(text_col))
    n = F.size(F.col("__toks"))
    # Start offsets 0, stride, 2*stride, ... strictly below n_tokens.
    starts = F.sequence(
        F.lit(0),
        F.greatest(
            F.floor((n - F.lit(1)) / F.lit(stride)).cast("int") * F.lit(stride),
            F.lit(0),
        ),
        F.lit(stride),
    )
    return (
        documents.select("doc_id", toks.alias("__toks"))
        .where(n > 0)
        .select("doc_id", F.posexplode(starts).alias("chunk_id", "__start"),
                F.col("__toks"))
        .select(
            "doc_id", "chunk_id",
            F.concat_ws(
                " ", F.slice(F.col("__toks"), F.col("__start") + 1,
                             chunk_size)).alias("chunk_text"),
            F.least(F.size(F.col("__toks")) - F.col("__start"),
                    F.lit(chunk_size)).alias("n_tokens"),
        )
        .orderBy("doc_id", "chunk_id")
    )


def chunk_documents_sql(chunk_size: int = 64, overlap: int = 16) -> str:
    """DuckDB twin of :func:`chunk_documents` over the `documents` view."""
    stride = chunk_size - overlap
    return f"""
WITH toked AS (
  SELECT doc_id,
         regexp_split_to_array(trim(text), '\\s+') AS toks,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n
  FROM documents WHERE trim(coalesce(text,'')) <> ''
), starts AS (
  SELECT doc_id, toks, n,
         unnest(range(0, CAST(floor((n - 1) / {stride}) AS BIGINT)
                         * {stride} + 1, {stride})) AS start
  FROM toked WHERE n > 0
)
SELECT doc_id,
       CAST(start / {stride} AS INTEGER) AS chunk_id,
       array_to_string(toks[start + 1 : start + {chunk_size}], ' ')
         AS chunk_text,
       least(n - start, {chunk_size}) AS n_tokens
FROM starts ORDER BY doc_id, chunk_id
"""


def token_budget_shards(documents: DataFrame, budget: int = 512,
                        shard_col: str = "source",
                        text_col: str = "text") -> DataFrame:
    """Assign each document to a token-budget shard: within each shard key
    (ordered by doc_id), shard = floor(tokens_before_this_doc / budget) --
    contiguous token-offset packing for building fixed-budget training
    shards/batches.

    Scale: ONE hash shuffle on the shard key + per-partition running sum
    (window). The running sum is over int64 token counts -- exact, so the
    assignment is deterministic on any cluster. (True greedy bin packing
    that resets at the boundary needs a stateful scan -- at scale the
    offset variant is what a data loader actually uses, since it can seek
    straight to shard k * budget.)
    """
    from pyspark.sql.window import Window

    n = token_count(F.col(text_col))
    w = (
        Window.partitionBy("__grp").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        documents.select(
            "doc_id", F.col(shard_col).alias("__grp"), n.alias("n_tokens"))
        .select(
            "doc_id", "__grp", "n_tokens",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
            .alias("tokens_before"),
        )
        .select(
            F.col("__grp").alias(shard_col), "doc_id", "n_tokens",
            "tokens_before",
            F.floor(F.col("tokens_before") / F.lit(budget)).alias("shard"),
        )
        .orderBy(shard_col, "doc_id")
    )


def length_grouped_batches(documents: DataFrame, batch_size: int = 32,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Sorted (length-grouped) batching -- the loader trick that cuts
    padding waste when sequences are padded to the batch max: rank
    documents by token count DESCENDING and cut consecutive ranks into
    batches of ``batch_size``, so each batch holds near-equal lengths.
    Emits per-batch padding accounting: ``padded_tokens = n_docs *
    max_tokens`` (what the accelerator actually processes) vs
    ``sum_tokens`` (useful work), ``waste_frac`` their gap.

    The global rank comes from :func:`assign_global_ids`
    (operators/partitioning.py) -- the two-pass bucket-offset shape --
    NOT a single-partition window, so the ranking shards like any keyed
    aggregate at 100 TB. Ordering key is (-n_tokens, id): ascending ids
    over the negated length give the descending-length total order with
    a deterministic tiebreak."""
    from automated_review_analysis_pipeline_spark.operators.partitioning import (
        assign_global_ids,
    )

    base = documents.select(
        F.col(id_col),
        token_count(F.col(text_col)).alias("n_tokens"),
    ).withColumn("__neg", -F.col("n_tokens"))
    ranked = assign_global_ids(base, ["__neg", id_col], id_name="__rank")
    return (
        ranked.withColumn(
            "batch", F.expr(f"(__rank - 1) div {batch_size}"))
        .groupBy("batch")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .select(
            "batch", "n_docs", "max_tokens", "sum_tokens",
            (F.col("n_docs") * F.col("max_tokens")).alias("padded_tokens"),
            F.when(F.col("n_docs") * F.col("max_tokens") == 0, F.lit(0.0))
            .otherwise(F.round(
                F.lit(1.0) - F.col("sum_tokens")
                / (F.col("n_docs") * F.col("max_tokens")), 6))
            .alias("waste_frac"),
        )
        .orderBy("batch")
    )


def length_grouped_batches_sql(batch_size: int = 32) -> str:
    """DuckDB twin of :func:`length_grouped_batches` (plain row_number
    rank -- the single-window formulation the Spark side refuses to
    run)."""
    tc = token_count_sql("text")
    return f"""
WITH t AS (
  SELECT doc_id, {tc} AS n_tokens FROM documents
), r AS (
  SELECT doc_id, n_tokens,
         row_number() OVER (ORDER BY -n_tokens, doc_id) AS rank
  FROM t
), b AS (
  SELECT CAST((rank - 1) // {batch_size} AS BIGINT) AS batch,
         n_tokens
  FROM r
)
SELECT batch, count(*) AS n_docs, max(n_tokens) AS max_tokens,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(count(*) * max(n_tokens) AS BIGINT) AS padded_tokens,
       CASE WHEN count(*) * max(n_tokens) = 0 THEN 0.0
            ELSE round(1.0 - CAST(sum(n_tokens) AS DOUBLE)
                       / (count(*) * max(n_tokens)), 6) END AS waste_frac
FROM b GROUP BY batch ORDER BY batch
"""


def pack_sequences(documents: DataFrame, seq_len: int = 128,
                   group_col: str = "source",
                   text_col: str = "text") -> DataFrame:
    """Concat-then-chunk sequence packing: the manifest a pretraining
    data loader consumes. Within each ``group_col`` stream (ordered by
    doc_id), documents are conceptually concatenated and cut into
    fixed-``seq_len``-token training sequences; a document that straddles
    a cut emits ONE ROW PER SEQUENCE it touches, with exact offsets:

        (group, doc_id, seq_id,
         doc_offset  -- first token of the doc used by this sequence,
         seq_offset  -- position of that token inside the sequence,
         n_in_seq)   -- tokens of the doc in this sequence

    This is the standard packing used for LLM pretraining (concat +
    chunk, documents cross boundaries); the companion
    :func:`token_budget_shards` gives the coarser shard assignment.
    Zero-token documents contribute nothing and are omitted.

    Scale: one hash shuffle on the group key, one window running-sum,
    then a pure-arithmetic ``sequence()`` explode whose fan-out per doc
    is ceil(n_tokens/seq_len)+1 at most -- no UDFs, no driver work, and
    each group's packing is independent (the 100 TB layout: one stream
    per shard/worker). Deterministic on any cluster: the running sum is
    exact int64 over the (group, doc_id) order.
    """
    n = token_count(F.col(text_col))
    toked = documents.select(
        "doc_id", F.col(group_col).alias("__grp"), n.alias("n_tokens"))
    return _pack_counted(toked, seq_len, group_col)


def pack_sequences_bpe(documents: DataFrame, seq_len: int = 128,
                       n_merges: int = 3, group_col: str = "source",
                       text_col: str = "text",
                       merges: list[tuple] | None = None) -> DataFrame:
    """Token-EXACT sequence packing: :func:`pack_sequences` driven by
    real BPE token counts from :func:`bpe_encode` (train-then-encode on
    the same corpus) instead of the whitespace proxy -- the manifest now
    cuts exactly where the tokenizer's sequences do. Same output schema
    and reconstruction invariant; zero-BPE-token documents (empty text)
    contribute nothing, exactly as the proxy's ``n_tokens > 0`` filter.

    Plan: encode's vocab join + per-doc agg feeds the identical window
    cumsum + arithmetic explode -- the extra cost over the proxy is
    exactly the encode pass, nothing in the packing changes shape.
    """
    enc = bpe_encode(documents, n_merges=n_merges, text_col=text_col,
                     merges=merges)
    toked = (
        documents.select("doc_id", F.col(group_col).alias("__grp"))
        .join(enc.select(
            "doc_id", F.col("n_bpe_tokens").alias("n_tokens")), "doc_id")
    )
    return _pack_counted(toked, seq_len, group_col)


def _pack_counted(toked: DataFrame, seq_len: int,
                  group_col: str) -> DataFrame:
    """Shared packing tail: (doc_id, __grp, n_tokens) -> the sequence
    manifest (window cumsum + sequence() explode; see
    :func:`pack_sequences` for the offset algebra)."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("__grp").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toked = (
        toked
        .where(F.col("n_tokens") > 0)
        .select(
            "doc_id", "__grp", "n_tokens",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
            .alias("__before"),
        )
    )
    first_seq = F.floor(F.col("__before") / seq_len)
    last_seq = F.floor((F.col("__before") + F.col("n_tokens") - 1) / seq_len)
    seq_start = F.col("seq_id") * seq_len
    doc_off = F.greatest(F.lit(0), seq_start - F.col("__before"))
    seq_off = F.greatest(F.lit(0), F.col("__before") - seq_start)
    n_in = (
        F.least(seq_start + seq_len, F.col("__before") + F.col("n_tokens"))
        - F.greatest(seq_start, F.col("__before"))
    )
    return (
        toked.select(
            "doc_id", "__grp", "n_tokens", "__before",
            F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"))
        .select(
            F.col("__grp").alias(group_col), "doc_id",
            F.col("seq_id").cast("long").alias("seq_id"),
            doc_off.cast("long").alias("doc_offset"),
            seq_off.cast("long").alias("seq_offset"),
            n_in.cast("long").alias("n_in_seq"),
        )
        .orderBy(group_col, "seq_id", "seq_offset", "doc_id")
    )


def pack_sequences_sql(seq_len: int = 128) -> str:
    """DuckDB twin of :func:`pack_sequences` (same token proxy, same
    cumsum order, generate_series explode)."""
    tok = ("CASE WHEN trim(coalesce(text,'')) = '' THEN 0 "
           "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END")
    return f"""
WITH toked AS (
  SELECT source, doc_id, {tok} AS n_tokens FROM documents
), nz AS (
  SELECT * FROM toked WHERE n_tokens > 0
), cum AS (
  SELECT source, doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS before_t
  FROM nz
), seqs AS (
  SELECT source, doc_id, n_tokens, before_t,
         unnest(generate_series(
           CAST(floor(before_t / {seq_len}) AS BIGINT),
           CAST(floor((before_t + n_tokens - 1) / {seq_len}) AS BIGINT)))
           AS seq_id
  FROM cum
)
SELECT source, doc_id, seq_id,
       greatest(0, seq_id * {seq_len} - before_t) AS doc_offset,
       greatest(0, before_t - seq_id * {seq_len}) AS seq_offset,
       least(seq_id * {seq_len} + {seq_len}, before_t + n_tokens)
         - greatest(seq_id * {seq_len}, before_t) AS n_in_seq
FROM seqs
ORDER BY source, seq_id, seq_offset, doc_id
"""


def token_budget_shards_sql(budget: int = 512) -> str:
    """DuckDB twin of :func:`token_budget_shards`."""
    tok = ("CASE WHEN trim(coalesce(text,'')) = '' THEN 0 "
           "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END")
    return f"""
WITH toked AS (
  SELECT source, doc_id, {tok} AS n_tokens FROM documents
), cum AS (
  SELECT source, doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS tokens_before
  FROM toked
)
SELECT source, doc_id, n_tokens, tokens_before,
       CAST(floor(tokens_before / {budget}) AS BIGINT) AS shard
FROM cum ORDER BY source, doc_id
"""


def repetition_profile(documents: DataFrame, k: int = 3,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Intra-document repetition: share of word k-grams that are repeats.

    A standard LLM-corpus quality signal (boilerplate, keyword stuffing,
    and generation loops show up as high repeated-k-gram fractions --
    cf. the repetition filters in public corpus-cleaning pipelines).
    Pure per-row array math: no shuffle, no UDF, linear in tokens.
    """
    from .dedup import shingle_tokens, word_shingles_from_tokens

    staged = documents.select(
        F.col(id_col), shingle_tokens(F.col(text_col)).alias("__toks"))
    n = F.size(F.col("__toks"))
    total = F.when(n >= k, n - F.lit(k) + 1).otherwise(F.lit(1))
    distinct = F.size(word_shingles_from_tokens(F.col("__toks"), k))
    return staged.select(
        id_col,
        total.cast("int").alias("n_shingles_total"),
        distinct.cast("int").alias("n_shingles_distinct"),
        F.round(F.lit(1.0) - distinct.cast("double") / total.cast("double"), 6)
        .alias("repetition_ratio"),
    ).orderBy(id_col)


def ngram_topk(documents: DataFrame, n: int = 3, k: int = 100,
               text_col: str = "text") -> DataFrame:
    """Corpus-level top-k word n-grams with occurrence counts (NOT
    per-doc-distinct): the standard corpus-statistics pass behind
    boilerplate mining and n-gram-overlap decontamination lists.

    Plan: tokens staged once per row, n-grams built INSIDE the explode
    (cf. stage_shingles caution), then one partial+final count agg and a
    global top-k sort of the (bounded) aggregate -- at 100 TB the only
    full-data shuffle carries (ngram, partial_count) pairs, and the
    orderBy+limit collapses to TakeOrderedAndProject.

    Docs shorter than ``n`` tokens contribute nothing (no whole-text
    fallback here, unlike word_shingles -- a count table mixing partial
    grams would be wrong).
    """
    from .dedup import shingle_tokens

    toked = documents.select(shingle_tokens(F.col(text_col)).alias("__toks"))
    nt = F.size(F.col("__toks"))
    grams = F.when(
        nt >= n,
        F.transform(
            F.sequence(F.lit(0), nt - F.lit(n)),
            lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        toked.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "ngram")
        .limit(k)
    )


def ngram_topk_sql(n: int = 3, k: int = 100) -> str:
    """DuckDB twin of :func:`ngram_topk`."""
    toks = tokens_sql("text")
    return f"""
WITH toked AS (SELECT {toks} AS toks FROM documents),
grams AS (
  SELECT unnest(CASE WHEN len(toks) >= {n}
                     THEN list_transform(range(1, len(toks) - {n} + 2),
                                         i -> array_to_string(toks[i:i+{n - 1}], ' '))
                     ELSE []::VARCHAR[] END) AS ngram
  FROM toked
)
SELECT ngram, count(*) AS n_occurrences FROM grams
GROUP BY ngram ORDER BY n_occurrences DESC, ngram LIMIT {k}
"""


# ---- byte-level (GPT-2 form) pretokenizer + byte alphabet ----------------
#
# The word-level lane above is the Sennrich-2016 canon ('</w>' marker,
# \w-ish tokens); this lane is the GPT-2/HF form a loader artifact must
# honor: the GPT-2 regex pretokenizer over RAW text (case-sensitive,
# whitespace attaches to the following word) and symbols that are UTF-8
# BYTES mapped through the standard byte<->unicode table, so punctuation
# and multi-byte UTF-8 are first-class and every character of the corpus
# is representable. Reference: the published GPT-2 encoder.py
# (bytes_to_unicode + the pretokenizer regex), public domain knowledge.

# GPT-2's pretokenizer, minus the `\s+(?!\S)` lookahead alternative: RE2
# (the DuckDB oracle's engine) has no lookahead, so BOTH engines run the
# lookahead-free pattern over segments pre-split at each whitespace-run's
# last character (see pretokenize_gpt2) -- provably the same partition.
GPT2_SPLIT_RE = (
    "'s|'t|'re|'ve|'m|'ll|'d"
    "| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+")
# Private-use sentinel for the whitespace-run split; stripped from input
# first so corpus text can never collide with it.
_WS_MARK = "\ue000"

# Known, documented divergence from the exact HF GPT-2 pretokenizer: the
# Python `regex` module's \s matches Unicode whitespace (NBSP etc.);
# Java regex and RE2 \s are ASCII-only, so non-ASCII whitespace lands in
# the punctuation class here. Both engines agree with each other.


def gpt2_bytes_to_unicode() -> dict[int, str]:
    """The standard GPT-2 byte->unicode bijection: printable latin-1
    bytes map to themselves, the rest to U+0100.. in byte order --
    making every byte a visible, whitespace-free character so merge
    tables serialize safely into merges.txt."""
    bs = (list(range(ord("!"), ord("~") + 1))
          + list(range(ord("\xa1"), ord("\xac") + 1))
          + list(range(ord("\xae"), ord("\xff") + 1)))
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return dict(zip(bs, (chr(c) for c in cs)))


_B2U = gpt2_bytes_to_unicode()
_U2B = {u: b for b, u in _B2U.items()}


def pretokenize_gpt2(c: Column) -> Column:
    """GPT-2 pretokens of raw text as an array<string> -- pure JVM
    (regexp_replace + split + regexp_extract_all), no UDF.

    The lookahead `\\s+(?!\\S)` in the original regex splits every
    whitespace RUN before its last character (so a trailing space
    attaches to the following word). Equivalent lookahead-free form:
    mark that split point with a sentinel (one regexp_replace), split
    into segments, tokenize each segment with the alternation-only
    pattern, flatten. The DuckDB twin runs the identical transform, so
    the oracle compares the same partition."""
    s = F.regexp_replace(F.coalesce(c, F.lit("")), _WS_MARK, "")
    marked = F.regexp_replace(s, r"(\s)(\S)", _WS_MARK + "$1$2")
    segs = F.split(marked, _WS_MARK)
    return F.filter(
        F.flatten(F.transform(
            segs,
            lambda seg: F.regexp_extract_all(
                seg, F.lit(GPT2_SPLIT_RE), F.lit(0)))),
        lambda t: t != "",
    )


def pretokenize_gpt2_sql(expr: str) -> str:
    """DuckDB twin of :func:`pretokenize_gpt2` (same sentinel
    transform; RE2 runs the same lookahead-free pattern)."""
    pat = GPT2_SPLIT_RE.replace("'", "''")
    return (
        "list_filter(flatten(list_transform(string_split("
        f"regexp_replace(regexp_replace(coalesce({expr}, ''), "
        "chr(57344), '', 'g'), "
        "'(\\s)(\\S)', chr(57344) || '\\1\\2', 'g'), chr(57344)), "
        f"seg -> regexp_extract_all(seg, '{pat}'))), t -> t <> '')"
    )


# The 256 mapped characters concatenated in byte order: ONE string
# literal, indexed by byte value -- a CreateMap/CreateArray of 256+
# literal children is NOT constant-folded by Catalyst and would be
# rebuilt per row (measured ~37 ms/row; the string literal is free).
_B2U_STR = "".join(_B2U[b] for b in range(256))


def byte_symbols(c: Column) -> Column:
    """A string's UTF-8 bytes as an array of GPT-2 byte-alphabet
    characters -- the byte-level BPE base symbols. Pure JVM: hex the
    encoded bytes, then index each byte's value (conv base 16) into
    the 256-char mapping string literal (no UDF, no per-row map
    construction)."""
    hx = F.lower(F.hex(F.encode(F.coalesce(c, F.lit("")), "UTF-8")))
    n = (F.length(hx) / 2).cast("int")
    return F.when(n < 1, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.lit(_B2U_STR).substr(
                F.conv(hx.substr(i * 2 - 1, F.lit(2)), 16, 10)
                .cast("int") + 1,
                F.lit(1))))


def byte_symbols_sql(expr: str) -> str:
    """DuckDB twin of :func:`byte_symbols`: hex pair -> byte value via
    strpos arithmetic -> 1-based index into the 256-char literal list
    (chars emitted in byte order, so CHARS[byte + 1] is the mapping)."""
    chars = "[" + ",".join(
        "'" + _B2U[b].replace("'", "''") + "'" for b in range(256)) + "]"
    hx = f"lower(hex(encode(coalesce({expr}, ''))))"
    return (
        f"list_transform(range(1, length({hx}) // 2 + 1), "
        f"i -> {chars}["
        f"16 * (strpos('0123456789abcdef', ({hx})[i*2-1]) - 1)"
        f" + strpos('0123456789abcdef', ({hx})[i*2])])"
    )


def bpe_pair_counts(documents: DataFrame, k: int = 100,
                    text_col: str = "text") -> DataFrame:
    """First iteration of BPE tokenizer training at corpus scale:
    adjacent-symbol-pair frequencies over the corpus, computed on the
    DISTINCT-WORD frequency table (the classic Sennrich 2016 "work on
    the vocabulary, weight by word count" optimization -- |distinct
    words| << |corpus tokens|, which is what makes tokenizer induction
    on a 100 TB corpus a small job after the word count). Each
    lowercased word contributes its corpus frequency to every adjacent
    (symbol, symbol) pair of its character sequence terminated by the
    '</w>' end-of-word marker; the top pair is the first merge BPE would
    learn, and re-running after applying merges iterates the algorithm.

    Plan: one partial+final word-count aggregate (the only full-data
    shuffle), then per-distinct-word pure array arithmetic (substring
    sequence, no UDF) exploded into a second bounded aggregate keyed by
    the pair, finished with TakeOrderedAndProject. Deterministic
    tie-break: (count desc, left asc, right asc).
    """
    return (
        _pair_counts_from_symbols(_bpe_word_symbols(documents, text_col))
        .orderBy(F.desc("n_occurrences"), "left", "right")
        .limit(k)
    )


def bpe_pair_counts_sql(k: int = 100) -> str:
    """DuckDB twin of :func:`bpe_pair_counts` (1-based char slicing +
    list_append end marker)."""
    toks = tokens_sql("lower(text)")
    return f"""
WITH words AS (
  SELECT unnest({toks}) AS word FROM documents
), wc AS (
  SELECT word, count(*) AS freq FROM words WHERE word <> '' GROUP BY word
), symed AS (
  SELECT freq,
         list_append(list_transform(range(1, length(word) + 1),
                                    i -> word[i:i]), '</w>') AS syms
  FROM wc
), pairs AS (
  SELECT freq,
         unnest(list_transform(range(1, len(syms)),
                               i -> {{'left': syms[i],
                                      'right': syms[i + 1]}})) AS p
  FROM symed
)
SELECT p['left'] AS left, p['right'] AS right,
       CAST(sum(freq) AS BIGINT) AS n_occurrences
FROM pairs GROUP BY 1, 2
ORDER BY n_occurrences DESC, "left", "right" LIMIT {k}
"""


def _bpe_pretokens(documents: DataFrame, text_col: str,
                   mode: str) -> DataFrame:
    """The corpus token stream the BPE lane trains/encodes over, one row
    per token occurrence: lowercased \\w-ish words (``mode="word"``, the
    Sennrich canon) or case-sensitive GPT-2 pretokens
    (``mode="byte"``)."""
    if mode == "byte":
        toks = pretokenize_gpt2(F.col(text_col))
    elif mode == "word":
        toks = tokens(F.lower(F.col(text_col)))
    else:
        raise ValueError(f"unknown BPE mode: {mode!r}")
    return documents.select(F.explode(toks).alias("word")).where(
        F.col("word") != "")


def _bpe_word_symbols(documents: DataFrame, text_col: str,
                      mode: str = "word") -> DataFrame:
    """(word, freq, syms) over DISTINCT tokens. ``mode="word"``:
    lowercased words, characters plus the '</w>' end-of-word marker
    (Sennrich). ``mode="byte"``: GPT-2 pretokens, UTF-8 bytes mapped
    through the byte<->unicode table, NO end marker (GPT-2 form).
    ``word`` rides along so the encoder can join symbol sequences back
    onto document token streams."""
    wc = (_bpe_pretokens(documents, text_col, mode)
          .groupBy("word").agg(F.count(F.lit(1)).alias("freq")))
    if mode == "byte":
        syms = byte_symbols(F.col("word"))
    else:
        n = F.length(F.col("word"))
        syms = F.concat(
            F.transform(F.sequence(F.lit(1), n),
                        lambda i: F.col("word").substr(i, F.lit(1))),
            F.array(F.lit("</w>")),
        )
    return wc.select("word", "freq", syms.alias("syms"))


def _pair_counts_from_symbols(symed: DataFrame) -> DataFrame:
    # the >= 2 guard matters: Spark's sequence(1, 0) runs DESCENDING
    # ([1, 0]), so a fully-merged single-symbol word (every 1-char word
    # once enough merges have been learned, e.g. 'k' -> ['k</w>'])
    # would index element_at(syms, 2) out of bounds -- where DuckDB's
    # range(1, 1) is already empty. Found by training 50 merges.
    pairs = F.when(
        F.size(F.col("syms")) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("syms")) - 1),
            lambda i: F.struct(
                F.element_at(F.col("syms"), i).alias("left"),
                F.element_at(F.col("syms"), i + 1).alias("right"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<left:string,right:string>>"))
    return (
        symed.select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.left").alias("left"),
                 F.col("p.right").alias("right"))
        .agg(F.sum("freq").alias("n_occurrences"))
    )


def _apply_merge(syms_col: Column, left: str, right: str) -> Column:
    """Greedy left-to-right application of one BPE merge to a symbol
    sequence: a fold that replaces every adjacent (left, right) with the
    concatenated token; after a replacement the NEW token is the fold's
    last element, so overlapping occurrences ('a a a' under (a,a)) merge
    exactly as the sequential BPE algorithm does."""
    merged = left + right
    return F.aggregate(
        syms_col,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1),
                     F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _apply_merge_batch(syms_col: Column,
                       pairs: list[tuple[str, str]]) -> Column:
    """One greedy left-to-right pass applying a BATCH of symbol-disjoint
    merges simultaneously: the pair lookup is a literal map keyed by a
    length-prefixed ``left`` + ``right`` concatenation (unambiguous even
    if a symbol embeds another), so the fold costs ONE pass per round no
    matter how many merges the round learned.

    Correctness requires the batch to be symbol-disjoint (no symbol of
    one pair equals a component or the merged token of another) -- then
    simultaneous single-pass application is exactly equivalent to
    applying the pairs sequentially in rank order, because no pair's
    merge can create or destroy another pair's adjacency.
    :func:`_select_disjoint` enforces the invariant.
    """
    entries: list[Column] = []
    for left, right in pairs:
        entries.append(F.lit(f"{len(left):04d}{left}{right}"))
        entries.append(F.lit(left + right))
    lut = F.create_map(*entries)

    def step(acc: Column, s: Column) -> Column:
        # try_element_at(acc, -1) is null on the empty accumulator, which
        # nulls the whole key, which nulls the lookup -- the ANSI-safe
        # way to express "no previous symbol, no merge".
        last = F.try_element_at(acc, F.lit(-1))
        key = F.concat(
            F.lpad(F.length(last).cast("string"), 4, "0"), last, s)
        repl = F.try_element_at(lut, key)
        return F.when(
            repl.isNotNull(),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(repl)),
        ).otherwise(F.concat(acc, F.array(s)))

    return F.aggregate(
        syms_col, F.array().cast("array<string>"), step)


def bpe_train(documents: DataFrame, n_merges: int = 3,
              text_col: str = "text", batch: int = 1,
              mode: str = "word") -> DataFrame:
    """The BPE tokenizer TRAINING LOOP in the engine (Sennrich 2016):
    ``n_merges`` rounds of count-adjacent-pairs -> take the most frequent
    -> apply the merge to every word's symbol sequence -> recount.
    Returns the learned merge table (merge_rank, left, right, merged,
    n_occurrences) -- the artifact a tokenizer builder consumes;
    :func:`bpe_pair_counts` is this loop's first half, exposed
    standalone.

    ``batch=1`` (default) is EXACT Sennrich -- one global argmax per
    merge, mirrored by the unrolled-CTE DuckDB oracle. ``batch=m`` is
    the standard practical variant for realistic merge counts (8k-32k):
    each round collects the top 4m pairs, keeps a greedy symbol-disjoint
    prefix (:func:`_select_disjoint` -- disjointness makes the batch's
    occurrence counts exact and its single-pass application equal to
    sequential), and applies them in ONE fold pass -- cutting driver
    round-trips and recount aggregates ~m-fold. The learned table can
    differ from exact Sennrich only in rank interleavings where a
    newly-created pair would out-count the round's remaining picks.

    Distributed shape (the kmeans/GD discipline): the word-frequency
    table is built once (one full-data shuffle) and every round is one
    bounded aggregate over distinct words plus a ONE-ROW collect (the
    winning pair); the merge application is a pure array fold
    (F.aggregate) -- no UDFs, no row data to the driver. Ties break
    (count desc, left asc, right asc), mirrored in the unrolled-CTE
    DuckDB oracle, so the learned merges are engine-exact.
    """
    learned = _train_merges(documents, n_merges, text_col, batch=batch,
                            mode=mode)
    return driver_frame(
        documents.sparkSession, learned,
        "merge_rank int, left string, right string, merged string, "
        "n_occurrences long",
    ).orderBy("merge_rank")


def _select_disjoint(cands: list[tuple], batch: int) -> list[tuple]:
    """Greedy prefix filter for batched training: walk (left, right, n)
    candidates in (count desc, left, right) order and keep a pair only
    if none of {left, right, left+right} collides with any component or
    merged token already kept -- the symbol-disjointness invariant
    :func:`_apply_merge_batch` needs for simultaneous application to
    equal sequential rank-order application. The top-1 candidate always
    survives, so every round makes progress."""
    used: set[str] = set()
    kept: list[tuple] = []
    for left, right, n in cands:
        trio = {left, right, left + right}
        if used & trio:
            continue
        used |= trio
        kept.append((left, right, n))
        if len(kept) >= batch:
            break
    return kept


def _train_merges(documents: DataFrame, n_merges: int,
                  text_col: str, batch: int = 1,
                  mode: str = "word") -> list[tuple]:
    """The :func:`bpe_train` loop, returning the learned
    (rank, left, right, merged, n_occurrences) tuples driver-side --
    shared with :func:`bpe_encode`, which consumes the merge list as a
    broadcast-literal expression rather than a DataFrame.

    Lineage discipline (the kmeans Lloyd-round lesson,
    similarity.py:kmeans_centroids): rounds chain through cheap
    in-memory caches, and every CHECKPOINT_EVERY rounds the chain is cut
    with an eager localCheckpoint -- bounding plan-tree depth at a
    constant while keeping the per-round cost at cache speed. Chaining
    ALL rounds lazily (the original shape) nests an InMemoryRelation +
    AQE subtree per round: fine for 3 merges, but a real tokenizer run
    (hundreds of merges) overflows plan-tree traversal long before any
    data is large; checkpointing EVERY round instead costs a
    vocab-materialization job per merge (~10x slower measured at
    sf0.1). localCheckpoint is non-reliable storage: on a real cluster,
    an executor loss mid-training restarts the job -- the standard
    trade for iterative algorithms whose state (the distinct-word
    table) re-derives cheaply from the source."""
    from automated_review_analysis_pipeline_spark.plan_cache import (
        plan_cache,
    )

    CHECKPOINT_EVERY = 8
    symed = plan_cache(
        _bpe_word_symbols(documents, text_col, mode)
        .select("freq", "syms"))
    learned: list[tuple] = []
    rounds = 0
    while len(learned) < n_merges:
        rounds += 1
        want = min(batch, n_merges - len(learned))
        top = (
            _pair_counts_from_symbols(symed)
            .orderBy(F.desc("n_occurrences"), "left", "right")
            .limit(max(1, 4 * want))
            .collect()
        )
        if not top:
            break
        picked = _select_disjoint(
            [(r["left"], r["right"], r["n_occurrences"]) for r in top],
            want)
        for left, right, n in picked:
            learned.append(
                (len(learned) + 1, left, right, left + right, int(n)))
        if len(picked) == 1:
            left, right, _ = picked[0]
            nxt = symed.select(
                "freq",
                _apply_merge(F.col("syms"), left, right).alias("syms"))
        else:
            nxt = symed.select(
                "freq",
                _apply_merge_batch(
                    F.col("syms"),
                    [(left, right) for left, right, _ in picked]
                ).alias("syms"))
        if rounds % CHECKPOINT_EVERY == 0:
            symed = nxt.localCheckpoint(eager=True)
        else:
            symed = plan_cache(nxt)
    return learned


def bpe_train_sql(n_merges: int = 3, mode: str = "word") -> str:
    """Unrolled-CTE DuckDB twin of :func:`bpe_train` (the quality-
    classifier unrolled-GD convention): each round is a pair-count CTE,
    a 1-row argmax CTE, and a list_reduce merge-application CTE; the
    lambda captures the round's winning pair as correlated columns.
    ``mode="byte"`` swaps the word/symbol header CTEs for the GPT-2
    pretokenizer + byte alphabet; the rounds are identical."""
    if mode == "byte":
        pretoks = pretokenize_gpt2_sql("text")
        header = f"""
WITH words AS (
  SELECT unnest({pretoks}) AS word FROM documents
), wc AS (
  SELECT word, count(*) AS freq FROM words WHERE word <> '' GROUP BY word
), s0 AS (
  SELECT freq, {byte_symbols_sql("word")} AS syms
  FROM wc
)"""
    else:
        toks = tokens_sql("lower(text)")
        header = f"""
WITH words AS (
  SELECT unnest({toks}) AS word FROM documents
), wc AS (
  SELECT word, count(*) AS freq FROM words WHERE word <> '' GROUP BY word
), s0 AS (
  SELECT freq,
         list_append(list_transform(range(1, length(word) + 1),
                                    i -> word[i:i]), '</w>') AS syms
  FROM wc
)"""
    parts = [header]
    for i in range(1, n_merges + 1):
        prev = f"s{i - 1}"
        parts.append(f""",
p{i} AS (
  SELECT p['l'] AS l, p['r'] AS r, CAST(sum(freq) AS BIGINT) AS n
  FROM (SELECT freq,
               unnest(list_transform(range(1, len(syms)),
                                     j -> {{'l': syms[j],
                                            'r': syms[j + 1]}})) AS p
        FROM {prev})
  GROUP BY 1, 2
),
m{i} AS (SELECT l, r, n FROM p{i} ORDER BY n DESC, l, r LIMIT 1),
s{i} AS (
  SELECT freq,
         list_reduce(list_transform(syms, x -> [x]),
           (acc, s) -> CASE WHEN len(acc) > 0 AND acc[-1] = m{i}.l
                                 AND s[1] = m{i}.r
                            THEN list_append(acc[1:-2], m{i}.l || m{i}.r)
                            ELSE list_concat(acc, s) END) AS syms
  FROM {prev}, m{i}
)""")
    selects = "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_rank, l AS \"left\", r AS \"right\", "
        f"l || r AS merged, n AS n_occurrences FROM m{i}"
        for i in range(1, n_merges + 1))
    return "".join(parts) + f"\n{selects}\nORDER BY merge_rank\n"


def _apply_merges(syms_col: Column, merges_col: Column) -> Column:
    """Fold an ORDERED merge table (array<struct<left,right>>) over one
    symbol sequence: the outer F.aggregate walks merges in rank order,
    the inner one is :func:`_apply_merge`'s greedy left-to-right pass.
    One constant-size expression regardless of how many merges were
    learned -- the merge table travels as a broadcast literal, never as
    a join."""
    return F.aggregate(
        merges_col,
        syms_col,
        lambda acc, m: F.aggregate(
            acc,
            F.array().cast("array<string>"),
            lambda a2, s: F.when(
                (F.size(a2) > 0)
                & (F.element_at(a2, -1) == m["left"])
                & (s == m["right"]),
                F.concat(F.slice(a2, 1, F.size(a2) - 1),
                         F.array(F.concat(m["left"], m["right"]))),
            ).otherwise(F.concat(a2, F.array(s))),
        ),
    )


# Past this many merges the literal-expression merge table (one struct
# literal per merge inside a nested F.aggregate) stresses Catalyst's
# expression tree the same way the per-round lineage chain did at 20
# merges; bpe_encode auto-switches to the Arrow kernel above it.
LITERAL_MERGE_LIMIT = 128


def _bpe_kernel_udf(spark, merge_pairs: list[tuple[str, str]],
                    mode: str = "word", rescan: bool = False):
    """Arrow-batched Pandas UDF applying a learned merge table to words
    -- the realistic-merge-count (8k-32k) path where a literal
    expression cannot carry the table. The merges ship once per executor
    as a Spark broadcast (never as an expression or a join side), and
    the UDF runs over the DISTINCT-WORD table only, so the Python cost
    is |vocab| x O(|word|^2) dict lookups, not |corpus|.

    Semantics are EXACTLY the engine's fold (:func:`_apply_merges`):
    merges apply in strictly increasing rank order, one greedy
    left-to-right pass each; a pair adjacency created by a later rank
    never re-triggers an earlier rank (rank-monotone -- note this
    differs from re-visiting encoders like GPT-2's, which re-scan from
    the lowest rank; our canon is the fold + the unrolled DuckDB CTEs).
    The skip-list trick: instead of folding all n ranks per word, jump
    straight to the next applicable rank present among the word's
    current adjacencies -- at most |word| applications per word, so
    per-word cost is flat in merge count.

    ``mode="byte"`` starts each word from its GPT-2 byte-alphabet
    characters (no '</w>'). ``rescan=True`` switches to TRUE
    GPT-2/HF encoder semantics -- after every merge, re-scan from the
    LOWEST rank present -- which is what a Hugging Face tokenizer
    loading our exported merges.txt will do; use it when the encoding
    must be interchange-exact rather than fold-oracle-exact.
    """
    from pyspark.sql.functions import pandas_udf

    bmerges = spark.sparkContext.broadcast(merge_pairs)

    @pandas_udf("array<string>")
    def enc(words):
        import pandas as pd

        pairs = bmerges.value
        ranks = {p: i for i, p in enumerate(pairs)}
        b2u = gpt2_bytes_to_unicode() if mode == "byte" else None

        def start(w: str) -> list[str]:
            if mode == "byte":
                return [b2u[b] for b in w.encode("utf-8")]
            return list(w) + ["</w>"]

        def one_rescan(w: str) -> list[str]:
            # the published GPT-2 bpe() loop: merge the lowest-rank
            # adjacent pair present (all its occurrences, one greedy
            # left-to-right pass), then re-scan from scratch
            syms = start(w)
            while len(syms) >= 2:
                best = min(
                    (ranks.get(p, len(pairs)) for p in zip(syms, syms[1:])),
                    default=len(pairs))
                if best >= len(pairs):
                    break
                left, right = pairs[best]
                out: list[str] = []
                for s in syms:
                    if out and out[-1] == left and s == right:
                        out[-1] = left + right
                    else:
                        out.append(s)
                syms = out
            return syms

        def one(w: str) -> list[str]:
            syms = start(w)
            last = -1
            while len(syms) >= 2:
                best = -1
                for p in zip(syms, syms[1:]):
                    rk = ranks.get(p, -1)
                    if rk > last and (best < 0 or rk < best):
                        best = rk
                if best < 0:
                    break
                left, right = pairs[best]
                out: list[str] = []
                for s in syms:
                    if out and out[-1] == left and s == right:
                        out[-1] = left + right
                    else:
                        out.append(s)
                syms = out
                last = best
            return syms

        fn = one_rescan if rescan else one
        return pd.Series([fn(w) for w in words])

    return enc


def bpe_encode(documents: DataFrame, n_merges: int = 3,
               text_col: str = "text", id_col: str = "doc_id",
               merges: list[tuple] | None = None,
               strategy: str = "auto", mode: str = "word") -> DataFrame:
    """Tokenize the corpus with a learned BPE merge table -- the step a
    pretraining pipeline actually runs at scale, completing
    :func:`bpe_train` (which only produces the table). Per document:

        (doc_id, n_bpe_tokens, bpe_tokens)   -- tokens space-joined

    ``merges`` takes a pre-learned list (the tuples
    :func:`_train_merges` returns / :func:`bpe_train`'s rows); by
    default the table is trained on the same corpus first.

    Distributed shape (the Sennrich discipline again): merges apply to
    the DISTINCT-WORD table -- |vocab| array folds, not |corpus| -- via
    ONE constant-size nested F.aggregate expression carrying the merge
    list as a broadcast literal. Document token streams then join the
    encoded vocabulary on the word key (the classic vocab-lookup join;
    at 100 TB the vocab side is millions of rows -- broadcast it or let
    AQE pick), and per-doc order is restored by an array_sort over
    (pos, syms) structs, so no window and no skew beyond the word key's
    natural zipf (stop words -- salt or broadcast at scale).
    Zero-token documents emit no row (they have no token events), like
    :func:`token_freq_score`.

    ``strategy`` selects how the merge table is applied to the
    distinct-word table: ``"literal"`` (the constant-size nested
    F.aggregate with the merges as a literal -- pure JVM, the oracle
    plan), ``"kernel"`` (Arrow-batched Pandas UDF with the merges as a
    Spark broadcast -- the realistic 8k-32k-merge path, see
    :func:`_bpe_kernel_udf`), or ``"auto"`` (literal up to
    ``LITERAL_MERGE_LIMIT`` merges, kernel past it). Both strategies
    produce identical symbol sequences (pinned by pytest equality at
    overlapping sizes).
    """
    learned = (merges if merges is not None
               else _train_merges(documents, n_merges, text_col, mode=mode))
    if strategy == "auto":
        strategy = ("literal" if len(learned) <= LITERAL_MERGE_LIMIT
                    else "kernel")
    wordtab = _bpe_word_symbols(documents, text_col, mode)
    if not learned:
        wordtab = wordtab.select("word", "syms")
    elif strategy == "kernel":
        enc = _bpe_kernel_udf(
            documents.sparkSession,
            [(lt, rt) for _, lt, rt, _, _ in learned], mode=mode)
        wordtab = wordtab.select("word", enc("word").alias("syms"))
    else:
        merge_arr = F.array(*[
            F.struct(F.lit(lt).alias("left"), F.lit(rt).alias("right"))
            for _, lt, rt, _, _ in learned
        ])
        wordtab = wordtab.select(
            "word", _apply_merges(F.col("syms"), merge_arr).alias("syms"))
    doc_words = documents.select(
        F.col(id_col),
        F.posexplode(
            pretokenize_gpt2(F.col(text_col)) if mode == "byte"
            else tokens(F.lower(F.col(text_col)))).alias("pos", "word"),
    ).where(F.col("word") != "")
    return (
        doc_words.join(wordtab, "word")
        .groupBy(id_col)
        .agg(
            F.sum(F.size("syms")).cast("long").alias("n_bpe_tokens"),
            F.concat_ws(" ", F.flatten(F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "syms"))),
                lambda x: x["syms"]))).alias("bpe_tokens"),
        )
        .orderBy(id_col)
    )


def bpe_encode_ids(documents: DataFrame, n_merges: int = 3,
                   text_col: str = "text", id_col: str = "doc_id",
                   merges: list[tuple] | None = None,
                   strategy: str = "auto",
                   mode: str = "word") -> DataFrame:
    """:func:`bpe_encode` emitting VOCABULARY IDS -- the integer stream
    a training loader actually consumes. Per document:

        (doc_id, n_bpe_tokens, token_ids: array<long>)

    ids are :func:`bpe_vocab`'s vocab_id (lexicographic base alphabet
    from 1, merge tokens appended in rank order).

    Plan: the symbol->id mapping happens at the DISTINCT-WORD level
    (explode each word's post-merge symbols, broadcast-join the
    vocabulary -- it is alphabet+merges sized -- and re-aggregate to an
    id array per word), so the corpus-sized side only pays the same
    word-key lookup join as :func:`bpe_encode`; ids never explode per
    occurrence. The distinct-word symbol table is built ONCE and
    plan-cached: the vocabulary's alphabet collect materializes it, and
    the merge application + id join reuse it, so the whole operator
    costs the same two corpus scans as :func:`bpe_encode` (wordtab
    groupBy + the per-document token stream) instead of four.
    """
    from automated_review_analysis_pipeline_spark.plan_cache import (
        plan_cache,
    )

    learned = (merges if merges is not None
               else _train_merges(documents, n_merges, text_col, mode=mode))
    wordtab = plan_cache(_bpe_word_symbols(documents, text_col, mode))
    vocab = bpe_vocab(documents, n_merges=n_merges, text_col=text_col,
                      merges=learned, symbols=wordtab, mode=mode)
    if learned:
        if strategy == "auto":
            strategy = ("literal" if len(learned) <= LITERAL_MERGE_LIMIT
                        else "kernel")
        if strategy == "kernel":
            enc = _bpe_kernel_udf(
                documents.sparkSession,
                [(lt, rt) for _, lt, rt, _, _ in learned], mode=mode)
            wordtab = wordtab.select("word", enc("word").alias("syms"))
        else:
            merge_arr = F.array(*[
                F.struct(F.lit(lt).alias("left"), F.lit(rt).alias("right"))
                for _, lt, rt, _, _ in learned
            ])
            wordtab = wordtab.select(
                "word",
                _apply_merges(F.col("syms"), merge_arr).alias("syms"))
    else:
        wordtab = wordtab.select("word", "syms")
    wids = (
        wordtab.select("word", F.posexplode("syms").alias("i", "token"))
        .join(F.broadcast(vocab.select("token", "vocab_id")), "token")
        .groupBy("word")
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("i", "vocab_id"))),
            lambda x: x["vocab_id"]).alias("ids"))
    )
    doc_words = documents.select(
        F.col(id_col),
        F.posexplode(
            pretokenize_gpt2(F.col(text_col)) if mode == "byte"
            else tokens(F.lower(F.col(text_col)))).alias("pos", "word"),
    ).where(F.col("word") != "")
    return (
        doc_words.join(wids, "word")
        .groupBy(id_col)
        .agg(
            F.sum(F.size("ids")).cast("long").alias("n_bpe_tokens"),
            F.flatten(F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "ids"))),
                lambda x: x["ids"])).alias("token_ids"),
        )
        .orderBy(id_col)
    )


def bpe_vocab(documents: DataFrame, n_merges: int = 3,
              text_col: str = "text",
              merges: list[tuple] | None = None,
              symbols: DataFrame | None = None,
              mode: str = "word") -> DataFrame:
    """The tokenizer VOCABULARY artifact a runtime consumes: base
    symbols (every distinct character of the corpus's words, plus the
    '</w>' end-of-word marker) enumerated in lexicographic order, then
    the learned merge tokens appended in rank order --

        (vocab_id, token, kind)   kind in ('base', 'merge')

    Together with :func:`bpe_train`'s merge table this is everything a
    BPE tokenizer implementation needs; :func:`bpe_encode` is the
    engine applying it in-plan.

    Scale: the base alphabet is a DISTINCT over exploded symbols --
    bounded by the character set at any corpus size -- collected with
    ONE bounded driver action and enumerated in Python (codepoint order
    == Spark/DuckDB binary string order for valid UTF-8), so the
    returned vocabulary is a LocalRelation: downstream broadcast joins
    against it never re-run the corpus scan, where the previous
    window + count() shape re-derived the alphabet on every reuse.
    ``symbols`` lets a caller that already built the distinct-word
    symbol table (:func:`bpe_encode_ids`) share that scan.
    """
    learned = (merges if merges is not None
               else _train_merges(documents, n_merges, text_col, mode=mode))
    if mode == "byte":
        # the GPT-2 byte alphabet is closed and corpus-independent: all
        # 256 byte characters, enumerated by mapped codepoint (printable
        # latin-1 first, shifted bytes after) -- no corpus scan at all
        base = sorted(_B2U.values())
    else:
        symed = (symbols if symbols is not None
                 else _bpe_word_symbols(documents, text_col))
        base = sorted(
            r["token"]
            for r in symed.select(F.explode("syms").alias("token"))
            .distinct().collect())
    rows = ([(i + 1, tok, "base") for i, tok in enumerate(base)]
            + [(len(base) + rank, merged, "merge")
               for rank, _, _, merged, _ in learned])
    return driver_frame(
        documents.sparkSession, rows,
        "vocab_id long, token string, kind string"
    ).orderBy("vocab_id")


def _byte_alphabet_values_sql() -> str:
    """The closed 256-char GPT-2 byte alphabet as a VALUES list (the
    DuckDB twin of bpe_vocab's corpus-independent byte-mode base)."""
    return ", ".join(
        "('" + _B2U[b].replace("'", "''") + "')" for b in range(256))


def bpe_vocab_sql(n_merges: int = 3, mode: str = "word") -> str:
    """DuckDB twin of :func:`bpe_vocab`: base alphabet from the s0
    symbol table (word mode) or the closed 256-char byte alphabet
    (byte mode), merge tokens from the unrolled training rounds with
    offset ids."""
    # reuse the unrolled-round CTEs (they end after s{n}; dwords unused)
    merge_rows = "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_rank, l || r AS token FROM m{i}"
        for i in range(1, n_merges + 1))
    base_cte = (
        f"base(token) AS (VALUES {_byte_alphabet_values_sql()})"
        if mode == "byte" else
        "base AS (\n  SELECT DISTINCT unnest(syms) AS token FROM s0\n)")
    return _bpe_encode_ctes(n_merges, mode) + f""",
{base_cte},
base_ids AS (
  SELECT row_number() OVER (ORDER BY token) AS vocab_id, token,
         'base' AS kind
  FROM base
),
merge_ids AS (
  SELECT (SELECT count(*) FROM base) + merge_rank AS vocab_id, token,
         'merge' AS kind
  FROM ({merge_rows})
)
SELECT CAST(vocab_id AS BIGINT) AS vocab_id, token, kind FROM base_ids
UNION ALL
SELECT CAST(vocab_id AS BIGINT) AS vocab_id, token, kind FROM merge_ids
ORDER BY vocab_id
"""


def bpe_encode_sql(n_merges: int = 3, mode: str = "word") -> str:
    """DuckDB twin of :func:`bpe_encode` with in-query training:
    :func:`bpe_train_sql`'s unrolled rounds with ``word`` carried
    through each s{i}, then a positional word->syms join per document
    and an ORDER BY pos string_agg."""
    return _bpe_encode_ctes(n_merges, mode) + f"""
SELECT doc_id,
       CAST(sum(len(syms)) AS BIGINT) AS n_bpe_tokens,
       string_agg(array_to_string(syms, ' '), ' ' ORDER BY pos)
         AS bpe_tokens
FROM dwords JOIN s{n_merges} USING (word)
GROUP BY doc_id ORDER BY doc_id
"""


def _bpe_encode_ctes(n_merges: int, mode: str = "word") -> str:
    """The WITH-clause body shared by :func:`bpe_encode_sql` and
    :func:`pack_sequences_bpe_sql`: unrolled training rounds carrying
    ``word``, plus the positional per-document word stream (dwords).
    ``mode="byte"`` swaps the tokenizer/symbol headers for the GPT-2
    pretokenizer + byte alphabet (rounds and dwords shape unchanged)."""
    toks = (pretokenize_gpt2_sql("text") if mode == "byte"
            else tokens_sql("lower(text)"))
    if mode == "byte":
        s0 = f"""s0 AS (
  SELECT word, freq, {byte_symbols_sql("word")} AS syms
  FROM wc
)"""
    else:
        s0 = """s0 AS (
  SELECT word, freq,
         list_append(list_transform(range(1, length(word) + 1),
                                    i -> word[i:i]), '</w>') AS syms
  FROM wc
)"""
    parts = [f"""
WITH words AS (
  SELECT unnest({toks}) AS word FROM documents
), wc AS (
  SELECT word, count(*) AS freq FROM words WHERE word <> '' GROUP BY word
), {s0}"""]
    for i in range(1, n_merges + 1):
        prev = f"s{i - 1}"
        parts.append(f""",
p{i} AS (
  SELECT p['l'] AS l, p['r'] AS r, CAST(sum(freq) AS BIGINT) AS n
  FROM (SELECT freq,
               unnest(list_transform(range(1, len(syms)),
                                     j -> {{'l': syms[j],
                                            'r': syms[j + 1]}})) AS p
        FROM {prev})
  GROUP BY 1, 2
),
m{i} AS (SELECT l, r, n FROM p{i} ORDER BY n DESC, l, r LIMIT 1),
s{i} AS (
  SELECT word, freq,
         list_reduce(list_transform(syms, x -> [x]),
           (acc, s) -> CASE WHEN len(acc) > 0 AND acc[-1] = m{i}.l
                                 AND s[1] = m{i}.r
                            THEN list_append(acc[1:-2], m{i}.l || m{i}.r)
                            ELSE list_concat(acc, s) END) AS syms
  FROM {prev}, m{i}
)""")
    parts.append(f""",
doc_toked AS (SELECT doc_id, {toks} AS toks FROM documents),
dpos AS (
  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, toks
  FROM doc_toked
),
dwords AS (
  SELECT doc_id, pos, toks[pos] AS word FROM dpos WHERE toks[pos] <> ''
)""")
    return "".join(parts)


def bpe_encode_ids_sql(n_merges: int = 3, mode: str = "word") -> str:
    """DuckDB twin of :func:`bpe_encode_ids`: the encode CTEs + the
    vocab enumeration (as in :func:`bpe_vocab_sql`), joined at the
    word-symbol level and re-aggregated; ids emitted space-joined (the
    registry stringifies the Spark array the same way -- array columns
    do not survive the driver's compare canonicalization)."""
    merge_rows = "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_rank, l || r AS token FROM m{i}"
        for i in range(1, n_merges + 1))
    base_cte = (
        f"base(token) AS (VALUES {_byte_alphabet_values_sql()})"
        if mode == "byte" else
        "base AS (SELECT DISTINCT unnest(syms) AS token FROM s0)")
    return _bpe_encode_ctes(n_merges, mode) + f""",
{base_cte},
base_ids AS (
  SELECT row_number() OVER (ORDER BY token) AS vocab_id, token FROM base
),
merge_ids AS (
  SELECT (SELECT count(*) FROM base) + merge_rank AS vocab_id, token
  FROM ({merge_rows})
),
vocab AS (
  SELECT CAST(vocab_id AS BIGINT) AS vocab_id, token FROM base_ids
  UNION ALL
  SELECT CAST(vocab_id AS BIGINT) AS vocab_id, token FROM merge_ids
),
wtok AS (
  SELECT word, i, syms[i] AS token FROM (
    SELECT word, unnest(range(1, len(syms) + 1)) AS i, syms
    FROM s{n_merges})
),
wids AS (
  SELECT word, list(CAST(vocab_id AS VARCHAR) ORDER BY i) AS ids
  FROM wtok JOIN vocab USING (token) GROUP BY word
)
SELECT doc_id,
       CAST(sum(len(ids)) AS BIGINT) AS n_bpe_tokens,
       string_agg(array_to_string(ids, ' '), ' ' ORDER BY pos)
         AS token_ids
FROM dwords JOIN wids USING (word)
GROUP BY doc_id ORDER BY doc_id
"""


def pack_sequences_bpe_sql(seq_len: int = 128, n_merges: int = 3) -> str:
    """DuckDB twin of :func:`pack_sequences_bpe`: the encode CTEs
    produce per-doc BPE token counts, then :func:`pack_sequences_sql`'s
    cumsum + generate_series tail runs on those counts."""
    return _bpe_encode_ctes(n_merges) + f""",
counts AS (
  SELECT doc_id, CAST(sum(len(syms)) AS BIGINT) AS n_tokens
  FROM dwords JOIN s{n_merges} USING (word)
  GROUP BY doc_id
),
nz AS (
  SELECT d.source, c.doc_id, c.n_tokens
  FROM counts c JOIN documents d USING (doc_id)
  WHERE c.n_tokens > 0
),
cum AS (
  SELECT source, doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS before_t
  FROM nz
),
seqs AS (
  SELECT source, doc_id, n_tokens, before_t,
         unnest(generate_series(
           CAST(floor(before_t / {seq_len}) AS BIGINT),
           CAST(floor((before_t + n_tokens - 1) / {seq_len}) AS BIGINT)))
           AS seq_id
  FROM cum
)
SELECT source, doc_id, seq_id,
       greatest(0, seq_id * {seq_len} - before_t) AS doc_offset,
       greatest(0, before_t - seq_id * {seq_len}) AS seq_offset,
       least(seq_id * {seq_len} + {seq_len}, before_t + n_tokens)
         - greatest(seq_id * {seq_len}, before_t) AS n_in_seq
FROM seqs
ORDER BY source, seq_id, seq_offset, doc_id
"""


def word_entropy(documents: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Shannon entropy (bits/token) of each document's word
    distribution -- the cheap repetition signal curation pipelines
    threshold on: keyword-stuffed spam and template boilerplate sit far
    below fluent text, single-word loops hit exactly 0.

    H = log2(n) - (1/n) * sum_w c_w * log2(c_w), computed over lowered
    whitespace tokens. One explode feeds a (doc, word) count aggregate;
    the per-doc rollup shuffles one row per DISTINCT word, not per
    occurrence -- the same two-level shape as token_freq_score, so the
    zipf head combines map-side. Cross-engine exactness follows the
    bigram_lm_score discipline: per-word ln(c) rounds to 9dp, terms sum
    through DECIMAL (order-independent), and only the final two double
    ops + round(6) run in floating point. Docs with no tokens report
    entropy 0 over 0 tokens."""
    toks = tokens(F.lower(F.col(text_col)))
    words = documents.select(F.col(id_col),
                             F.explode(toks).alias("__w"))
    counts = words.groupBy(id_col, "__w").agg(
        F.count(F.lit(1)).alias("__c"))
    # the count multiplies as DECIMAL(12,0), NOT bigint: decimal x
    # bigint is (18,9)x(20,0) -> precision 39 > 38, and Spark silently
    # drops the result scale to 8dp (DuckDB keeps 9) -- a 1-ulp
    # boundary flip at round(.,6) found at sf0.001
    per_doc = counts.groupBy(id_col).agg(
        F.sum("__c").alias("n_tokens"),
        F.sum(F.round(F.log(F.col("__c").cast("double")), 9)
              .cast("decimal(18,9)")
              * F.col("__c").cast("decimal(12,0)")).alias("__clogc"))
    ent = F.round(
        (F.round(F.log(F.col("n_tokens").cast("double")), 9)
         - F.col("__clogc").cast("double") / F.col("n_tokens"))
        / F.lit(0.6931471805599453), 6)
    return (
        documents.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce(ent, F.lit(0.0)).alias("entropy_bits"),
        )
        .orderBy(id_col)
    )


def word_entropy_sql() -> str:
    """DuckDB twin of :func:`word_entropy` (identical 9dp-term decimal
    sums, identical final double arithmetic)."""
    toks = tokens_sql("lower(text)")
    return f"""
WITH w AS (
  SELECT doc_id, unnest({toks}) AS w FROM documents
), c AS (
  SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2
), t AS (
  SELECT doc_id, sum(c) AS n_tokens,
         sum(CAST(round(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(18,9)) * c)
           AS clogc
  FROM c GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(t.n_tokens, 0) AS BIGINT) AS n_tokens,
       coalesce(round((round(ln(CAST(t.n_tokens AS DOUBLE)), 9)
                       - CAST(t.clogc AS DOUBLE) / t.n_tokens)
                      / 0.6931471805599453, 6), 0.0) AS entropy_bits
FROM documents d LEFT JOIN t USING (doc_id)
ORDER BY doc_id
"""


def token_freq_score(documents: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-document mean corpus-frequency of its tokens -- the integer
    skeleton of unigram-LM scoring (docs full of rare/OOV tokens score
    low; boilerplate scores high). A real LM scorer swaps the global
    count for -log p(token); the count variant keeps every value integer,
    so the DuckDB oracle can check it bit-exactly (float log sums are
    engine-order-sensitive).

    Plan: ONE token explode feeds both the global frequency table and the
    per-doc term frequencies; the join back is on the token key with tf
    pre-aggregated per (doc, token), so the shuffle carries one row per
    distinct pair, not per occurrence. At 100 TB, salt the handful of
    stop-token keys or broadcast the top-1k tokens' counts.

    Docs with zero tokens emit no row (they have no token events).
    """
    from .dedup import shingle_tokens

    tok_rows = documents.select(
        F.col(id_col),
        F.explode(shingle_tokens(F.col(text_col))).alias("token"))
    tf = tok_rows.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).alias("__tf"))
    freq = tok_rows.groupBy("token").agg(F.count(F.lit(1)).alias("__gf"))
    return (
        tf.join(freq, "token")
        .groupBy(id_col)
        .agg(
            F.sum("__tf").alias("n_tokens"),
            F.sum(F.col("__tf") * F.col("__gf")).alias("sum_freq"),
        )
        .select(
            id_col, "n_tokens", "sum_freq",
            F.expr("sum_freq div n_tokens").alias("mean_token_freq"),
        )
        .orderBy(id_col)
    )


def token_freq_score_sql() -> str:
    """DuckDB twin of :func:`token_freq_score` (integer-exact)."""
    toks = tokens_sql("text")
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({toks}) AS token FROM documents
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2
), freq AS (
  SELECT token, count(*) AS gf FROM tok GROUP BY 1
)
SELECT doc_id,
       CAST(sum(tf) AS BIGINT) AS n_tokens,
       CAST(sum(tf * gf) AS BIGINT) AS sum_freq,
       CAST(sum(tf * gf) // sum(tf) AS BIGINT) AS mean_token_freq
FROM tf JOIN freq USING (token)
GROUP BY doc_id ORDER BY doc_id
"""


def _bm25_doc_score(term_score: Column) -> Column:
    """Per-doc BM25 score from 6dp term scores: an exact DECIMAL(18,6)
    sum rounded to 4dp -- a double sum rounded to 4dp depends on the
    order the postings arrive in whenever it lands on a rounding
    boundary (0.08355 vs 0.08354999999999999)."""
    return (F.round(F.sum(term_score.cast("decimal(18,6)")), 4)
            .cast("double").alias("bm25"))


def bm25_search(documents: DataFrame, query_terms: tuple[str, ...],
                k: int = 20, k1: float = 1.2, b: float = 0.75,
                id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """BM25-ranked top-k documents for a bag-of-words query -- the
    classic retrieval scorer (Robertson/Sparck Jones; the k1/b form used
    by Lucene) over the corpus. For MANY queries at once, use
    :func:`bm25_topk` (query-table join instead of a literal IN-list).

    idf = ln(1 + (N - df + 0.5)/(df + 0.5)); per-term score
    idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)), summed per doc.

    Scale shape: one token explode; doc lengths and the tiny per-term df
    table aggregate from it; only rows matching query terms survive into
    the tf join (the explode-side filter prunes the shuffle to query-term
    postings). Corpus stats (N, total length) broadcast as one row; the
    final top-k is TakeOrderedAndProject, not a global sort.

    Float discipline: per-term scores rounded at 6dp (one ln + a handful
    of IEEE ops on identical inputs -- engine-stable, as tf_idf proved),
    then summed per doc EXACTLY as DECIMAL(18,6) and rounded at 4dp
    (:func:`_bm25_doc_score`), so summation order cannot flip the value.
    """
    from pyspark.sql.functions import broadcast

    words = documents.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("word"),
    ).where(F.col("word") != "")
    dl = words.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("double").alias("__dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("__n_docs"),
        F.sum("__dl").alias("__total_len"))
    tf = (
        words.where(F.col("word").isin(*query_terms))
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).cast("double").alias("__tf")))
    df_ = tf.groupBy("word").agg(
        F.count(F.lit(1)).cast("double").alias("__df"))
    idf = F.log(
        1.0 + (F.col("__n_docs") - F.col("__df") + 0.5)
        / (F.col("__df") + 0.5))
    denom = (
        F.col("__tf")
        + k1 * (1.0 - b + b * F.col("__dl") * F.col("__n_docs")
                / F.col("__total_len")))
    term_score = F.round(idf * F.col("__tf") * (k1 + 1.0) / denom, 6)
    return (
        tf.join(broadcast(df_), "word")
        .join(dl, id_col)
        .crossJoin(broadcast(stats))
        .select(id_col, term_score.alias("__s"))
        .groupBy(id_col)
        .agg(
            _bm25_doc_score(F.col("__s")),
            F.count(F.lit(1)).alias("n_terms_matched"),
        )
        .orderBy(F.desc("bm25"), id_col)
        .limit(k)
    )


def bm25_search_sql(query_terms: tuple[str, ...], k: int = 20,
                    k1: float = 1.2, b: float = 0.75) -> str:
    """DuckDB twin of :func:`bm25_search` -- identical expression trees
    so every IEEE operation happens in the same order."""
    inlist = ", ".join(_q(t) for t in query_terms)
    return f"""
WITH words AS (
  SELECT doc_id, w AS word
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
        FROM documents WHERE trim(coalesce(text,'')) <> '')
  WHERE w <> ''
), dl AS (
  SELECT doc_id, count(*)::DOUBLE AS dlen FROM words GROUP BY doc_id
), stats AS (
  SELECT count(*)::DOUBLE AS n_docs, sum(dlen) AS total_len FROM dl
), tf AS (
  SELECT doc_id, word, count(*)::DOUBLE AS tfc FROM words
  WHERE word IN ({inlist}) GROUP BY doc_id, word
), dft AS (
  SELECT word, count(*)::DOUBLE AS dfc FROM tf GROUP BY word
), terms AS (
  SELECT tf.doc_id,
         round(ln(1.0 + (n_docs - dfc + 0.5) / (dfc + 0.5))
               * tfc * ({k1} + 1.0)
               / (tfc + {k1} * (1.0 - {b} + {b} * dlen * n_docs / total_len)),
               6) AS s
  FROM tf JOIN dft USING (word) JOIN dl USING (doc_id), stats
)
SELECT doc_id, round(sum(CAST(s AS DECIMAL(18,6))), 4)::DOUBLE AS bm25,
       count(*) AS n_terms_matched
FROM terms GROUP BY doc_id
ORDER BY bm25 DESC, doc_id LIMIT {k}
"""


def _bm25_postings_table_name(store_dir: str) -> str:
    import hashlib

    return ("arap_bm25_postings_"
            + hashlib.md5(store_dir.encode("utf-8")).hexdigest()[:12])


def _bm25_doclen(spark, store_dir: str, postings_cols: str) -> DataFrame:
    """The ``doclen/`` part, read with the schema the postings DDL
    implies (its first column is the doc id): no schema-inference
    job."""
    id_field = postings_cols.split(",")[0]
    return spark.read.schema(f"{id_field}, `dl` bigint") \
        .parquet(store_dir + "/doclen")


def _bm25_words(documents: DataFrame, id_col: str,
                text_col: str) -> DataFrame:
    """The exact tokenization bm25_search scores over (lowercased
    whitespace tokens, empties dropped)."""
    return (documents.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("word"))
        .where(F.col("word") != ""))


def build_bm25_index(documents: DataFrame, store_dir: str,
                     id_col: str = "doc_id", text_col: str = "text",
                     n_buckets: int = 16) -> DataFrame:
    """Persist a BM25 INVERTED INDEX so queries never re-tokenize the
    corpus -- the retrieval sibling of the exact-simjoin store, with
    the same persisted-incremental discipline. Layout:

      postings/  (doc_id, word, tf)  BUCKETED BY word
      doclen/    (doc_id, dl)
      meta.json  (n_docs, total_len, n_buckets, postings schema)

    Bucketing the postings by ``word`` is the query-time scale story:
    a search filters ``word IN (query terms)``, and bucket PRUNING
    restricts the scan to the matching buckets' files alone
    (SelectedBucketsCount in the plan, gated in tests) -- a q-term
    query reads ~q/n_buckets of the postings, never the corpus and
    never even the full index. Corpus stats (document count, total
    token length) persist as exact integer counters in meta.json, so
    :func:`bm25_index_search` recomputes idf/avgdl from the CURRENT
    accumulated state -- scores after any number of appends equal the
    one-shot :func:`bm25_search` over the unioned corpus EXACTLY
    (shared oracle). Documents whose text tokenizes to nothing are
    absent everywhere, matching the one-shot scorer.

    Append deltas with :func:`bm25_index_append` (each document
    appended exactly once -- re-appending double-counts, the standard
    store contract). Returns the postings table."""
    from .partitioning import write_bucketed_path

    from .. import fsio

    spark = documents.sparkSession
    words = _bm25_words(documents, id_col, text_col)
    postings = words.groupBy(id_col, "word").agg(
        F.count(F.lit(1)).alias("tf"))
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                     for f in postings.schema.fields)
    dl = words.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    name = _bm25_postings_table_name(store_dir)
    if documents.isEmpty():
        # stream-start fast path: both parts' schemas are known from
        # the lazy plans, so on a local FS with pyarrow the empty
        # store writes driver-side with zero Spark jobs (same
        # discipline as build_simjoin_index); the counters are zero
        # by definition, no read-back needed
        from .partitioning import register_bucketed_path
        if (fsio.reset_bucketed_dir_fast(spark, store_dir + "/postings",
                                         name)
                and fsio.write_empty_parquet_fast(
                    spark, store_dir + "/doclen", dl.schema)):
            fsio.write_json(spark, fsio.join(store_dir, "meta.json"),
                            {"n_docs": 0, "total_len": 0,
                             "n_buckets": n_buckets,
                             "postings_cols": cols})
            return register_bucketed_path(
                spark, store_dir + "/postings", name, cols,
                ["word"], ["word"], n_buckets)
        # remote FS / no pyarrow: the generic writes below handle the
        # 0-row case via the typed empty
        postings = driver_frame(spark, [], postings.schema)
        dl = driver_frame(spark, [], dl.schema)
    write_bucketed_path(postings, store_dir + "/postings", name, cols,
                        ["word"], ["word"], n_buckets, "overwrite")
    dl.write.mode("overwrite").parquet(store_dir + "/doclen")
    stats = _bm25_doclen(spark, store_dir, cols).agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("t")).first()
    fsio.write_json(spark, fsio.join(store_dir, "meta.json"),
                    {"n_docs": int(stats["n"] or 0),
                     "total_len": int(stats["t"] or 0),
                     "n_buckets": n_buckets,
                     "postings_cols": cols})
    # via the catalog entry: schema-safe even for an EMPTY build (a
    # bare parquet read of a file-less dir cannot infer a schema)
    return spark.table(_bm25_postings_table_name(store_dir))


def bm25_index_delete(spark, store_dir: str, doc_ids,
                      id_col: str = "doc_id",
                      batch_id: int | None = None,
                      fence: dict | None = None) -> dict:
    """Delete documents from a persisted BM25 inverted index by
    TOMBSTONE (round 15): ids append to ``tombstones/`` under the
    staged commit protocol (crash-rollback + ``last_delete_batch_id``
    replay guard), the exact corpus counters decrement by the deleted
    docs' actual presence (n_docs by the matched doclen rows,
    total_len by their summed lengths -- one scan of the tiny doclen
    part, never the postings), and every search path anti-joins the
    tombstones -- so post-delete scores equal the one-shot
    :func:`bm25_search` over the SURVIVING corpus EXACTLY (df
    recomputes from surviving postings at query time; idf/avgdl from
    the decremented counters). ``index_compact`` purges the postings/
    doclen rows physically and drops the tombstones. Deleted ids must
    not be re-appended (appends fail fast until a compaction purge).
    Returns the updated counters."""
    from .. import fsio, store_delete, store_fence
    from .partitioning import heal_interrupted_swap

    store_fence.fence_check(spark, store_dir, fence)
    meta = fsio.read_json(spark, fsio.join(store_dir, "meta.json"))
    for part in ("postings", "doclen"):
        heal_interrupted_swap(spark, store_dir + "/" + part)
    from .. import store_commit
    store_commit.repair(spark, store_dir, meta.get("append_epoch", 0))
    if batch_id is not None \
            and batch_id <= meta.get("last_delete_batch_id", -1):
        return meta
    dl = _bm25_doclen(spark, store_dir, meta["postings_cols"])
    ids = store_delete.exclude_tombstoned(
        store_delete.as_id_frame(spark, doc_ids, dl, id_col),
        spark, store_dir, meta, ("id",))
    new_ts = ids.localCheckpoint(eager=True)
    # one aggregate counts the new tombstones (new_ts is distinct) and
    # the doclen rows they hit, whose lengths the counters drop
    hit = (new_ts.select(F.lit(1).alias("ts"),
                         F.lit(None).cast(dl.schema["dl"].dataType)
                         .alias("dl"))
           .unionByName(dl.join(F.broadcast(new_ts.select(
               F.col("id").alias(id_col))), id_col)
               .select(F.lit(0).alias("ts"), "dl"))
           .agg(F.sum("ts").alias("n_new"), F.count("dl").alias("n"),
                F.sum("dl").alias("t"))
           .first())
    return store_delete.append_tombstones(
        spark, store_dir, new_ts, int(hit["n_new"] or 0), meta,
        extra_meta={
            "n_docs": int(meta["n_docs"]) - int(hit["n"] or 0),
            "total_len": int(meta["total_len"]) - int(hit["t"] or 0)},
        batch_id=batch_id)


def bm25_index_append(spark, store_dir: str, new_docs: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      batch_id: int | None = None,
                      fence: dict | None = None) -> dict:
    """Fold a document DELTA into a persisted BM25 index: tokenize the
    delta only, append its postings (bucketed, <= n_buckets files) and
    doc lengths, and bump the exact corpus counters -- NO part of the
    accumulated index is rescanned or rewritten (df/idf are derived at
    query time from the pruned postings, so there is no |vocab|-sized
    merge state to maintain). ``batch_id`` gives at-least-once replay
    idempotence (meta records the last applied id), and the staged-
    append commit protocol (:mod:`..store_commit`) closes the crash
    window INSIDE the two data appends: a ``pending.json`` intent with
    per-part file snapshots precedes the writes, the meta flip (which
    carries ``append_epoch``) is the atomic commit point, and the next
    append rolls back any files a crashed one left -- without it a
    replay after a mid-append crash would re-append postings rows,
    double-counting both tf and df (kill-mid-append pytest). Returns
    the updated counters."""
    from .partitioning import write_bucketed_path

    from .. import fsio, store_commit, store_delete, store_fence

    from .partitioning import heal_interrupted_swap

    store_fence.fence_check(spark, store_dir, fence)
    meta = fsio.read_json(spark, fsio.join(store_dir, "meta.json"))
    # a compaction that died mid-swap leaves a part renamed aside;
    # appending over the missing dir would silently re-register an
    # EMPTY location and serve truncated scores -- heal first
    for part in ("postings", "doclen"):
        heal_interrupted_swap(spark, store_dir + "/" + part)
    store_commit.repair(spark, store_dir, meta.get("append_epoch", 0))
    if batch_id is not None and batch_id <= meta.get("last_batch_id", -1):
        return meta
    # a tombstoned id must not be re-appended (it would half-resurrect
    # at the next compaction purge) -- fail fast
    store_delete.check_not_tombstoned(
        new_docs.select(F.col(id_col)), spark, store_dir, meta, id_col)
    words = _bm25_words(new_docs, id_col, text_col)
    postings = words.groupBy(id_col, "word").agg(
        F.count(F.lit(1)).alias("tf"))
    epoch = int(meta.get("append_epoch", 0)) + 1
    store_commit.begin_append(spark, store_dir,
                              ["postings", "doclen"], epoch)
    write_bucketed_path(postings, store_dir + "/postings",
                        _bm25_postings_table_name(store_dir),
                        meta["postings_cols"], ["word"], ["word"],
                        int(meta["n_buckets"]), "append")
    dl = words.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    dl = dl.localCheckpoint(eager=True)
    dl.write.mode("append").parquet(store_dir + "/doclen")
    stats = dl.agg(F.count(F.lit(1)).alias("n"),
                   F.sum("dl").alias("t")).first()
    meta["n_docs"] = int(meta["n_docs"]) + int(stats["n"] or 0)
    meta["total_len"] = int(meta["total_len"]) + int(stats["t"] or 0)
    meta["append_epoch"] = epoch
    if batch_id is not None:
        meta["last_batch_id"] = batch_id
    # COMMIT POINT (atomic overwrite-rename); intent cleanup after
    fsio.write_json(spark, fsio.join(store_dir, "meta.json"), meta)
    store_commit.commit_append(spark, store_dir)
    return meta


def bm25_index_search(spark, store_dir: str, query_terms: tuple[str, ...],
                      k: int = 20, k1: float = 1.2, b: float = 0.75,
                      id_col: str = "doc_id") -> DataFrame:
    """Search a persisted BM25 index: the postings scan is BUCKET-
    PRUNED to the query terms' buckets (plan-gated), df/idf and
    avgdl derive from the pruned postings + the exact meta counters,
    and the scoring expression is :func:`bm25_search`'s verbatim -- so
    the result equals the one-shot scorer over the accumulated corpus
    EXACTLY (shared oracle), at the cost of a few bucket files instead
    of a corpus tokenization."""
    from pyspark.sql.functions import broadcast

    from .partitioning import register_bucketed_path

    from .. import fsio

    from .. import store_delete

    meta = fsio.read_json(spark, fsio.join(store_dir, "meta.json"))
    post = register_bucketed_path(
        spark, store_dir + "/postings",
        _bm25_postings_table_name(store_dir), meta["postings_cols"],
        ["word"], ["word"], int(meta["n_buckets"]))
    # tombstoned docs drop here, BEFORE the df groupBy: df then counts
    # surviving docs only, so idf (and everything downstream) equals
    # the one-shot scorer over the surviving corpus; the dl/qterms
    # joins are inner on doc_id, so no second filter is needed
    tf = store_delete.exclude_tombstoned(
        post.where(F.col("word").isin(*query_terms)),
        spark, store_dir, meta, (id_col,)) \
        .select(id_col, "word",
                F.col("tf").cast("double").alias("__tf"))
    df_ = tf.groupBy("word").agg(
        F.count(F.lit(1)).cast("double").alias("__df"))
    dl = _bm25_doclen(spark, store_dir, meta["postings_cols"]).select(
        id_col, F.col("dl").cast("double").alias("__dl"))
    n_docs = float(meta["n_docs"])
    total_len = float(meta["total_len"])
    idf = F.log(1.0 + (F.lit(n_docs) - F.col("__df") + 0.5)
                / (F.col("__df") + 0.5))
    denom = (F.col("__tf")
             + k1 * (1.0 - b + b * F.col("__dl") * F.lit(n_docs)
                     / F.lit(total_len)))
    term_score = F.round(idf * F.col("__tf") * (k1 + 1.0) / denom, 6)
    return (tf.join(broadcast(df_), "word")
            .join(dl, id_col)
            .select(id_col, term_score.alias("__s"))
            .groupBy(id_col)
            .agg(_bm25_doc_score(F.col("__s")),
                 F.count(F.lit(1)).alias("n_terms_matched"))
            .orderBy(F.desc("bm25"), id_col)
            .limit(k))


def bm25_index_topk(spark, store_dir: str, queries: DataFrame,
                    k: int = 5, k1: float = 1.2, b: float = 0.75,
                    q_id: str = "query_id", q_text: str = "query_text",
                    max_pruning_terms: int = 1024,
                    id_col: str = "doc_id") -> DataFrame:
    """BM25 top-k for a QUERY TABLE against a persisted inverted index
    -- the batch (eval-harness) form of :func:`bm25_index_search`,
    equal to :func:`bm25_topk` over the accumulated corpus EXACTLY
    (shared oracle): same tokenization, same per-term 9dp rounding,
    same decimal score sums, same per-query WindowGroupLimit top-k.

    Probe shape: when the query set's DISTINCT term count is at most
    ``max_pruning_terms``, the terms collect to the driver (bounded by
    construction) and the postings scan becomes a STATIC ``word IN
    (...)`` filter -- bucket pruning applies exactly as in the
    single-query path, so the scan reads ~terms/n_buckets of the
    postings. Larger query sets fall back to a broadcast term join
    (full postings scan, still no shuffle of the postings side).
    Either way the corpus is never re-tokenized; df/avgdl derive from
    the pruned postings + the exact meta counters. ``id_col`` names
    the document-id column the store was built with (the build/append/
    search trio already took it; this path hardcoded 'doc_id' until
    round 14)."""
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    from .. import fsio
    from .partitioning import register_bucketed_path

    meta = fsio.read_json(spark, fsio.join(store_dir, "meta.json"))
    post = register_bucketed_path(
        spark, store_dir + "/postings",
        _bm25_postings_table_name(store_dir), meta["postings_cols"],
        ["word"], ["word"], int(meta["n_buckets"]))
    qterms = (queries.select(
        F.col(q_id).alias("query_id"),
        F.explode(tokens(F.lower(F.col(q_text)))).alias("word"))
        .where(F.col("word") != "").distinct()
        .localCheckpoint(eager=True))
    terms = [r["word"] for r in
             qterms.select("word").distinct()
             .limit(max_pruning_terms + 1).collect()]
    if len(terms) <= max_pruning_terms:
        matched = post.where(F.col("word").isin(*terms))
    else:
        matched = post.join(
            broadcast(qterms.select("word").distinct()), "word")
    from .. import store_delete

    # drop tombstoned docs before the df groupBy (surviving-corpus df)
    matched = store_delete.exclude_tombstoned(
        matched, spark, store_dir, meta, (id_col,))
    tf = matched.select(id_col, "word",
                        F.col("tf").cast("double").alias("tf"))
    df_ = tf.groupBy("word").agg(
        F.count(F.lit(1)).cast("double").alias("df"))
    dl = _bm25_doclen(spark, store_dir, meta["postings_cols"]).select(
        id_col, F.col("dl").cast("double").alias("dl"))
    n_docs = float(meta["n_docs"])
    avgdl_expr = (F.lit(float(meta["total_len"])) / F.lit(n_docs))
    idf = F.log(1.0 + (F.lit(n_docs) - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl_expr)
    term_score = F.round(idf * F.col("tf") * (k1 + 1.0) / denom, 9)
    scored = (qterms
              .join(tf, "word")
              .join(dl, id_col)
              .join(broadcast(df_), "word")
              .groupBy("query_id", id_col)
              .agg(F.round(
                  F.sum(term_score.cast("decimal(28,9)"))
                  .cast("double"), 6).alias("bm25")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("bm25"), F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", id_col, "bm25", "rank")
            .orderBy("query_id", "rank"))


def corpus_source_stats(documents: DataFrame,
                        text_col: str = "text") -> DataFrame:
    """Per-source corpus report: docs, token volume, distinct vocabulary,
    type-token ratio, mean doc length -- the summary table a corpus
    datasheet leads with.

    One token explode -> one (source, word) pre-aggregate that feeds both
    the vocabulary count and the volume sums (no second scan), exact
    integer everywhere except the two final ratio divisions (single IEEE
    ops, engine-stable). Type-token ratio in parts-per-million by integer
    division so the value-hash cannot wobble.
    """
    from .dedup import shingle_tokens

    words = documents.select(
        F.col("source"),
        F.col("doc_id"),
        F.explode(shingle_tokens(F.col(text_col))).alias("word"),
    ).where(F.col("word") != "")
    per_word = words.groupBy("source", "word").agg(
        F.count(F.lit(1)).alias("__n"))
    n_docs = documents.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"))
    return (
        per_word.groupBy("source")
        .agg(
            F.sum("__n").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
        )
        .join(n_docs, "source")
        .select(
            "source", "n_docs", "n_tokens", "n_types",
            F.expr("n_types * 1000000 div n_tokens").alias("ttr_ppm"),
            F.expr("n_tokens div n_docs").alias("mean_doc_tokens"),
        )
        .orderBy("source")
    )


def corpus_source_stats_sql() -> str:
    """DuckDB twin of :func:`corpus_source_stats`."""
    toks = tokens_sql("text")
    return f"""
WITH words AS (
  SELECT source, doc_id, w AS word
  FROM (SELECT source, doc_id, unnest({toks}) AS w FROM documents)
  WHERE w <> ''
), per_word AS (
  SELECT source, word, count(*) AS n FROM words GROUP BY 1, 2
), agg AS (
  SELECT source,
         CAST(sum(n) AS BIGINT) AS n_tokens,
         count(*) AS n_types
  FROM per_word GROUP BY source
), nd AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
)
SELECT source, n_docs, n_tokens, n_types,
       CAST(n_types * 1000000 // n_tokens AS BIGINT) AS ttr_ppm,
       CAST(n_tokens // n_docs AS BIGINT) AS mean_doc_tokens
FROM agg JOIN nd USING (source) ORDER BY source
"""


def table_profile(df: DataFrame, columns: tuple[str, ...] | None = None,
                  preview_chars: int = 40) -> DataFrame:
    """Dynamic per-column data-quality audit: null count, blank count
    (strings), lexicographic min/max previews -- the DESCRIBE-style
    profiling pass run before trusting a new table.

    SINGLE PASS: every column's four aggregates run in one global
    aggregation (no per-column scans, no Expand -- exact distinct counts
    are deliberately excluded; approx_count_distinct is the scale path
    for cardinality). The wide 1-row aggregate is then stacked to one row
    per column with a literal-label union, which Catalyst collapses into
    the same stage. The select list derives from df.columns at plan time,
    mirroring the reference's dynamic-schema discipline
    (survey_analysis.py:86-88).
    """
    cols = list(columns) if columns else df.columns
    aggs = []
    for c in cols:
        sc = F.col(c).cast("string")
        aggs += [
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"__nn_{c}"),
            F.sum((F.trim(F.coalesce(sc, F.lit("x"))) == "")
                  .cast("bigint")).alias(f"__nb_{c}"),
            F.substring(F.min(sc), 1, preview_chars).alias(f"__mn_{c}"),
            F.substring(F.max(sc), 1, preview_chars).alias(f"__mx_{c}"),
        ]
    one = df.agg(*aggs, F.count(F.lit(1)).alias("__n"))
    stacked = None
    for c in cols:
        row = one.select(
            F.lit(c).alias("column_name"),
            F.col("__n").alias("n_rows"),
            F.col(f"__nn_{c}").alias("n_nulls"),
            F.col(f"__nb_{c}").alias("n_blank"),
            F.col(f"__mn_{c}").alias("min_preview"),
            F.col(f"__mx_{c}").alias("max_preview"),
        )
        stacked = row if stacked is None else stacked.unionByName(row)
    return stacked.orderBy("column_name")


def table_profile_sql(table: str, columns: tuple[str, ...],
                      preview_chars: int = 40) -> str:
    """DuckDB twin of :func:`table_profile`, generated from the same
    column list."""
    parts = []
    for c in columns:
        sc = f'CAST("{c}" AS VARCHAR)'
        parts.append(f"""
SELECT '{c}' AS column_name,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN "{c}" IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       CAST(sum(CASE WHEN trim(coalesce({sc}, 'x')) = '' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_blank,
       substring(min({sc}), 1, {preview_chars}) AS min_preview,
       substring(max({sc}), 1, {preview_chars}) AS max_preview
FROM {table}""")
    return " UNION ALL ".join(parts) + " ORDER BY column_name"


def hybrid_search_rrf(documents: DataFrame, embeddings: DataFrame,
                      query_terms: tuple[str, ...],
                      query_vec_id: int = 0, k: int = 20,
                      rrf_k: int = 60) -> DataFrame:
    """Hybrid retrieval: fuse the BM25 (sparse) and exact-cosine (dense)
    top-k lists with reciprocal-rank fusion, rrf = sum over lists of
    1/(rrf_k + rank) -- the standard score-free fusion that needs no
    cross-modality calibration (Cormack et al.). ``doc_id == vec_id``
    bridges the two modalities (the testdata embeds document i as vector
    i); a rank of 0 in the output means "absent from that list" and
    contributes nothing.

    Both inputs are k-row frames, so the fusion join and the rank windows
    are driver-trivial; all the heavy lifting happened in the two
    retrievers (each with its own documented scale shape).
    """
    from pyspark.sql import Window

    from automated_review_analysis_pipeline_spark.operators.similarity import (
        cosine_topk,
    )

    sparse = bm25_search(documents, query_terms, k=k)
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    sparse_r = (sparse.select("doc_id", "bm25")
                .withColumn("bm25_rank", F.row_number().over(w).cast("int"))
                .drop("bm25"))
    dense = (
        cosine_topk(embeddings,
                    embeddings.where(F.col("vec_id") == query_vec_id), k=k)
        .select(F.col("neighbor_id").alias("doc_id"),
                F.col("rank").cast("int").alias("dense_rank"))
    )
    fused = sparse_r.join(dense, "doc_id", "full_outer")
    contrib = (
        F.when(F.coalesce(F.col("bm25_rank"), F.lit(0)) > 0,
               1.0 / (rrf_k + F.col("bm25_rank"))).otherwise(0.0)
        + F.when(F.coalesce(F.col("dense_rank"), F.lit(0)) > 0,
                 1.0 / (rrf_k + F.col("dense_rank"))).otherwise(0.0)
    )
    return (
        fused.select(
            "doc_id",
            F.round(contrib, 6).alias("rrf_score"),
            F.coalesce(F.col("bm25_rank"), F.lit(0)).alias("bm25_rank"),
            F.coalesce(F.col("dense_rank"), F.lit(0)).alias("dense_rank"),
        )
        .orderBy(F.desc("rrf_score"), "doc_id")
    )


def hashed_text_vectors(documents: DataFrame, dim: int = 64,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Feature-hashing (hashing-trick) vectorizer: token t contributes
    sign(t) * tf(t) to bucket md5(t) % dim -- a dense fixed-width vector
    per document with NO trained model, no vocabulary table, and no
    broadcast state (Weinberger et al.; the random signs make collisions
    cancel in expectation). The output plugs straight into the ANN /
    embedding-dedup family, closing the documents -> vectors loop inside
    the engine when no upstream embedding model exists.

    All-integer md5 arithmetic (same convention as the MinHash family) so
    the DuckDB oracle reproduces vectors exactly. Plan: one token explode
    -> (doc, bucket) hash aggregate with map-side combine -> map pivot to
    a dense 0-filled array. Emitted as a CSV string of ints (the compare
    harness cannot canonicalize array cells); split(',') to use.
    """
    toks = documents.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("w"),
    ).where(F.col("w") != "")
    h = F.conv(F.substring(F.md5(F.col("w")), 1, 8), 16, 10).cast("long")
    sgn = F.when(
        F.substring(F.md5(F.col("w")), 9, 1)
        .isin(*"01234567"), F.lit(1)).otherwise(F.lit(-1))
    sums = (
        toks.select(F.col(id_col), F.pmod(h, F.lit(dim)).alias("bucket"),
                    sgn.alias("sgn"))
        .groupBy(id_col, "bucket")
        .agg(F.sum("sgn").alias("val"))
    )
    pivoted = (
        sums.groupBy(id_col)
        .agg(F.map_from_entries(
            F.collect_list(F.struct("bucket", "val"))).alias("__m"))
        .select(
            id_col,
            F.concat_ws(",", F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(F.col("__m")[i], F.lit(0))
                .cast("string"))).alias("vec_csv"))
    )
    zeros = ",".join(["0"] * dim)
    return (
        documents.select(id_col)
        .join(pivoted, id_col, "left")
        .select(id_col,
                F.coalesce(F.col("vec_csv"), F.lit(zeros)).alias("vec_csv"))
        .orderBy(id_col)
    )


def train_quality_classifier(documents: DataFrame, dim: int = 16,
                             iterations: int = 3, lr: float = 0.5,
                             target_lang: str = "en",
                             id_col: str = "doc_id",
                             text_col: str = "text",
                             label_col: "str | Column | None" = None
                             ) -> DataFrame:
    """fastText-style linear classifier trained IN the engine (hashing-
    trick features + batch-gradient logistic regression) and applied back
    to the corpus -- the "train a cheap classifier on a trusted slice,
    score everything" curation pattern (CCNet's wiki-reference LM,
    LLaMA's Wikipedia classifier). Default supervision is the ``lang``
    column (y = doc is ``target_lang``), making it a trained language-
    targeting filter; pass ``label_col`` -- a boolean/0-1 column name or
    Column expression -- to retarget it to any binary quality signal
    without touching the training loop (e.g. ``label_col=F.col("score")
    > 0.8`` trains a high-quality-lookalike scorer).

    Features: signed-tf hashing into ``dim`` buckets (same md5 integer
    arithmetic as :func:`hashed_text_vectors`), normalized by token
    count, plus a constant bias feature at index ``dim``. Training:
    ``iterations`` full-batch GD steps, w <- w - lr * grad/n. The long
    (doc, j, x) feature table is built once and plan-cached; each step is
    ONE distributed pass (decimal-summed margins per doc -> sigmoid ->
    error -> decimal-summed gradient per feature) collecting exactly
    ``dim+1`` gradient rows to the driver -- the kmeans bounded-collect
    discipline, never row data. At 100 TB each step is a scan + two hash
    aggregates over hashed keys; the model state is dim+1 doubles.

    Determinism for the unrolled-CTE oracle: margin and gradient terms
    round to 9dp and sum through DECIMAL(18,9) (order-independent, the
    bigram_lm_score convention); sigmoid outputs round to 9dp; the
    driver-side weight update replicates Spark's HALF_UP rounding via
    python Decimal. Zero-token docs carry no evidence and are excluded
    (mirrored in the oracle).
    """
    from decimal import ROUND_HALF_UP, Decimal

    from automated_review_analysis_pipeline_spark.plan_cache import (
        plan_cache,
    )

    if label_col is None:
        label = F.col("lang") == target_lang
    elif isinstance(label_col, str):
        label = F.col(label_col)
    else:
        label = label_col
    toks = documents.select(
        F.col(id_col),
        label.cast("int").alias("y"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("w"),
    ).where(F.col("w") != "")
    labels = plan_cache(
        toks.groupBy(id_col, "y").agg(F.count(F.lit(1)).alias("nt")))
    n = labels.count()
    h = F.conv(F.substring(F.md5(F.col("w")), 1, 8), 16, 10).cast("long")
    sgn = F.when(
        F.substring(F.md5(F.col("w")), 9, 1)
        .isin(*"01234567"), F.lit(1)).otherwise(F.lit(-1))
    sums = (
        toks.select(F.col(id_col), F.pmod(h, F.lit(dim)).alias("j"),
                    sgn.alias("sgn"))
        .groupBy(id_col, "j").agg(F.sum("sgn").alias("val"))
    )
    # size the cached feature table's partitioning by its ROW COUNT
    # (known: <= n docs x dim+1 features), not by the 32+32 union of
    # shuffle defaults it would inherit -- every GD step scans this
    # cache twice, and 64 near-empty cached partitions made each of the
    # ~14 per-step jobs schedule 64 tiny tasks (measured 28 jobs,
    # 0.36-0.57s each at sf0.1). 64k rows/partition, capped at cluster
    # parallelism, keeps the step jobs proportional to the data.
    n_parts = max(1, min(
        documents.sparkSession.sparkContext.defaultParallelism,
        (n * (dim + 1)) // 65536 + 1))
    feats = plan_cache(
        sums.join(labels, id_col)
        .select(id_col, "j",
                (F.col("val").cast("double") / F.col("nt")).alias("x"))
        .unionByName(labels.select(
            id_col, F.lit(dim).cast("long").alias("j"),
            F.lit(1.0).alias("x")))
        .repartition(n_parts)
    )

    def _r9(v: float) -> float:
        # Spark F.round semantics: BigDecimal(double).setScale(9, HALF_UP)
        return float(Decimal(v).quantize(Decimal("1e-9"), ROUND_HALF_UP))

    def _margins(w: list[float]) -> DataFrame:
        warr = F.array(*[F.lit(float(v)) for v in w])
        term = F.round(F.element_at(warr, F.col("j").cast("int") + 1)
                       * F.col("x"), 9).cast("decimal(18,9)")
        return (feats.select(F.col(id_col), term.alias("__t"))
                .groupBy(id_col)
                .agg(F.round(F.sum("__t").cast("double"), 9).alias("mg")))

    sigmoid9 = lambda mg: F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-mg)), 9)
    w = [0.0] * (dim + 1)
    for _ in range(iterations):
        err = (_margins(w).join(labels, id_col)
               .select(F.col(id_col),
                       (sigmoid9(F.col("mg")) - F.col("y")).alias("err")))
        grads = (
            feats.join(err, id_col)
            .select("j", F.round(F.col("err") * F.col("x"), 9)
                    .cast("decimal(18,9)").alias("__t"))
            .groupBy("j").agg(F.sum("__t").cast("double").alias("g"))
            .collect())
        gd = {int(r["j"]): float(r["g"]) for r in grads}
        w = [_r9(w[j] - lr * gd.get(j, 0.0) / n) for j in range(dim + 1)]

    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("mg"))), 6)
    return (
        _margins(w).join(labels, id_col)
        .select(F.col(id_col), F.col("y"), p.alias("p_target"),
                (p >= 0.5).cast("int").alias("pred"))
        .orderBy(id_col)
    )


def bigram_lm_score(documents: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    k_smooth: float = 0.5) -> DataFrame:
    """Language-model quality scoring (the CCNet-style perplexity
    filter, with an add-k bigram model standing in for KenLM's 5-gram):
    train token bigram statistics on the corpus itself, then score every
    document by its average negative log-probability -- low scores read
    like the corpus (fluent), high scores flag gibberish, boilerplate
    soup, or out-of-domain text. A curation pipeline thresholds or
    buckets on this score.

    Two-phase shape, both phases JVM-side over one cached bigram table:
    counts c(a,b) and c(a) are hash aggregates; V is the distinct-token
    scalar; scoring joins each document bigram to its two count rows --
    the LM "model" is just two aggregate tables, shuffled by token key
    exactly like any fact-dim join (bucket it at 100 TB). Per-bigram
    log-probs ln((c_ab + k) / (c_a + k*V)) round to 9dp and sum through
    DECIMAL(18,9) so the per-doc mean is order-independent and the SQL
    oracle reproduces it bit-for-bit; the mean negates and rounds to 6dp.
    Documents with fewer than two tokens carry no bigram evidence and
    are excluded (mirrored in the oracle)."""
    from automated_review_analysis_pipeline_spark.plan_cache import (
        plan_cache,
    )

    toks = tokens(F.lower(F.col(text_col)))
    staged = plan_cache(
        documents.select(F.col(id_col), toks.alias("__t"))
        .where(F.size("__t") >= 2))
    pairs = F.expr(
        "transform(sequence(1, size(__t) - 1),"
        " i -> struct(__t[i-1] AS a, __t[i] AS b))")
    bg = plan_cache(
        staged.select(F.col(id_col), F.explode(pairs).alias("p"))
        .select(F.col(id_col), F.col("p.a").alias("a"),
                F.col("p.b").alias("b")))
    c_ab = plan_cache(
        bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab")))
    # context counts roll up from the (much smaller) bigram-count table
    # instead of re-scanning the full bigram stream
    c_a = c_ab.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    vocab = staged.select(F.explode("__t").alias("tok")) \
        .agg(F.countDistinct("tok").alias("v"))
    lp = F.round(
        F.log((F.col("c_ab") + F.lit(k_smooth))
              / (F.col("c_a") + F.lit(k_smooth) * F.col("v"))), 9)
    scored = (
        bg.join(c_ab, ["a", "b"])
        .join(c_a, ["a"])
        .crossJoin(F.broadcast(vocab))
        .select(F.col(id_col), lp.cast("decimal(18,9)").alias("__lp"))
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-(F.sum("__lp").cast("double"))
                    / F.count(F.lit(1)).cast("double"), 6)
            .alias("avg_neg_logprob"),
        )
        .orderBy(id_col)
    )


def perplexity_filter(documents: DataFrame, quantile: float = 0.9,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Self-calibrating LM-quality cutoff (the CCNet deployment of the
    perplexity score): score every document with the corpus-trained
    bigram LM, take the corpus P{quantile} of ``avg_neg_logprob`` as the
    threshold, and KEEP documents at or below it (``<=``) -- the worst
    (1-quantile) tail is dropped without hand-picking an absolute
    number, so the same pipeline config works on corpora with different
    base perplexities. The inclusive boundary keeps ties WITH the
    cutoff: on low-entropy corpora where many documents share the
    cutoff score the kept fraction can exceed ``quantile`` (never
    collapse below it), and the degenerate all-equal corpus keeps
    every row rather than zero.

    Plan: the scored table is built once (plan_cached -- it feeds both
    the threshold aggregate and the filter); the threshold is a 1-row
    exact-percentile aggregate attached by broadcast crossJoin, so the
    corpus-side filter stays a narrow predicate. The 6dp rounding on
    both score and cutoff makes the <= boundary engine-exact.
    """
    from automated_review_analysis_pipeline_spark.plan_cache import (
        plan_cache,
    )

    scored = plan_cache(
        bigram_lm_score(documents, text_col=text_col, id_col=id_col))
    thr = scored.agg(
        F.round(F.expr(f"percentile(avg_neg_logprob, {quantile})"), 6)
        .alias("cutoff"))
    return (
        scored.crossJoin(F.broadcast(thr))
        .where(F.col("avg_neg_logprob") <= F.col("cutoff"))
        .select(F.col(id_col), "avg_neg_logprob", "cutoff")
        .orderBy(id_col)
    )


# ---------------------------------------------------------------------------
# BM25 retrieval
# ---------------------------------------------------------------------------

def bm25_topk(documents: DataFrame, queries: DataFrame, k: int = 5,
              k1: float = 1.2, b: float = 0.75,
              text_col: str = "text", id_col: str = "doc_id",
              q_id: str = "query_id",
              q_text: str = "query_text") -> DataFrame:
    """BM25 top-k retrieval for a QUERY TABLE -- the batch form of
    :func:`bm25_search` (which serves ONE driver-side bag-of-words
    query via an IN-list posting prune): here thousands of queries
    join the word-keyed tf table at once, the shape of an eval
    harness, a contamination sweep, or dedup candidate mining over a
    query corpus.

    Scale shape: ONE explode of the corpus into words; tf is a
    (doc, word) groupBy; df reuses the same exploded frame distinct'd;
    idf + the corpus stats (N, avgdl) come back as BROADCAST joins
    (vocabulary-sized, orders of magnitude smaller than the corpus);
    the query-term join hits the tf table on its word key -- the
    inverted-index probe, shuffled by word, never a corpus scan per
    query; the final per-query top-k is a WindowGroupLimit. No stage
    touches |corpus| x |queries|.

    Scoring: idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (the Lucene
    non-negative variant), term score
    idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)), rounded 9dp,
    summed EXACTLY as decimal(28,9) per (query, doc) (float summation
    order would diverge between engines), final score rounded 6dp;
    ties rank by doc_id. Repeated query terms count ONCE (distinct
    query terms -- the common simplification; documented so the oracle
    matches by construction). Emits (query_id, doc_id, bm25, rank <= k).
    """
    from pyspark.sql.functions import broadcast
    from pyspark.sql.window import Window

    words = documents.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("word"),
    ).where(F.col("word") != "")
    dl = words.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"))
    tf = words.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).cast("double").alias("tf"))
    df_ = (words.select("doc_id", "word").distinct()
           .groupBy("word")
           .agg(F.count(F.lit(1)).cast("double").alias("df")))
    qterms = queries.select(
        F.col(q_id).alias("query_id"),
        F.explode(tokens(F.lower(F.col(q_text)))).alias("word"),
    ).where(F.col("word") != "").distinct()

    idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl")
                                / F.col("avgdl"))
    term_score = F.round(idf * F.col("tf") * (k1 + 1.0) / denom, 9)

    scored = (qterms
              .join(tf, "word")
              .join(dl, "doc_id")
              .join(broadcast(df_), "word")
              .crossJoin(broadcast(stats))
              .groupBy("query_id", "doc_id")
              .agg(F.round(
                  F.sum(term_score.cast("decimal(28,9)"))
                  .cast("double"), 6).alias("bm25")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("bm25"), F.asc("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "doc_id", "bm25", "rank")
            .orderBy("query_id", "rank"))


def bm25_topk_sql(queries_cte: str, k: int = 5, k1: float = 1.2,
                  b: float = 0.75) -> str:
    """DuckDB twin of :func:`bm25_topk` over the ``documents`` view.
    ``queries_cte`` is a SQL subquery yielding (query_id, query_text)
    -- the same query derivation the Spark side uses."""
    return f"""
WITH words AS (
  SELECT doc_id, w AS word
  FROM (SELECT doc_id,
               unnest({tokens_sql('lower(text)')}) AS w
        FROM documents)
  WHERE w <> ''
), dl AS (
  SELECT doc_id, count(*)::DOUBLE AS dl FROM words GROUP BY doc_id
), stats AS (
  SELECT count(*)::DOUBLE AS n_docs,
         sum(dl) / count(*)::DOUBLE AS avgdl FROM dl
), tf AS (
  SELECT doc_id, word, count(*)::DOUBLE AS tf
  FROM words GROUP BY doc_id, word
), df AS (
  SELECT word, count(*)::DOUBLE AS df
  FROM (SELECT DISTINCT doc_id, word FROM words) GROUP BY word
), qterms AS (
  SELECT DISTINCT query_id, w AS word
  FROM (SELECT query_id,
               unnest({tokens_sql('lower(query_text)')}) AS w
        FROM ({queries_cte}))
  WHERE w <> ''
), scored AS (
  SELECT q.query_id, t.doc_id,
         round(sum(CAST(round(
           ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
           * t.tf * ({k1} + 1.0)
           / (t.tf + {k1} * (1.0 - {b} + {b} * d.dl / s.avgdl)),
           9) AS DECIMAL(28,9)))::DOUBLE, 6) AS bm25
  FROM qterms q
  JOIN tf t USING (word)
  JOIN dl d ON d.doc_id = t.doc_id
  JOIN df f ON f.word = t.word
  CROSS JOIN stats s
  GROUP BY q.query_id, t.doc_id
), ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY bm25 DESC, doc_id ASC) AS INT)
    AS rank
  FROM scored)
SELECT query_id, doc_id, bm25, rank
FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
"""
