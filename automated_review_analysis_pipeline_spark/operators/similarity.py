"""Similarity search over embedding columns (SURVEY.md §2B).

Baseline: brute-force cosine top-k (exact). Scale path: LSH-bucketed ANN
(random-hyperplane signs) and an IVF-style coarse quantizer -- both built
from DataFrame ops only.

Numeric discipline: embeddings are float32 on disk; every fold casts to
double FIRST so Spark's left-to-right aggregate matches the oracle's
float64 math, and similarities are rounded before any comparison so a
last-ulp divergence cannot flip the value-hash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from automated_review_analysis_pipeline_spark.plan_cache import plan_cache
from automated_review_analysis_pipeline_spark.session import driver_frame
from pyspark.sql.functions import broadcast

from automated_review_analysis_pipeline_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    to_double_array,
)


def _prep(embeddings: DataFrame, id_col: str, vec_col: str,
          alias: str) -> DataFrame:
    """Project to (id, double-vector, norm) once -- norms are computed a
    single time per side, not once per pair."""
    v = to_double_array(F.col(vec_col))
    return embeddings.select(
        F.col(id_col).alias(f"{alias}_id"),
        v.alias(f"{alias}_vec"),
        F.sqrt(dot_product(v, v)).alias(f"{alias}_norm"),
    )


def cosine_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact brute-force cosine top-k: for each query vector, the k nearest
    corpus vectors (self-matches excluded).

    Execution: the query set (small by contract) is collected and closed
    over; the corpus streams through mapInPandas where numpy does the
    normalized matmul for a whole Arrow batch at once -- C-speed BLAS
    instead of Spark's interpreted per-element array folds (~30x on 64-dim
    vectors). Each batch emits only its LOCAL top-k per query (selected by
    the same (rounded sim desc, neighbor_id asc) order as the final rank,
    so the merge is exact), then one tiny global window finishes the job.
    At 100 TB the corpus never shuffles: k rows per query per batch is all
    that moves."""
    import numpy as np
    import pandas as pd

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def topk_batches(batches):
        for b in batches:
            if not len(b):
                continue
            C = np.array([list(v) for v in b[vec_col]], dtype=np.float64)
            c_ids = b[id_col].to_numpy(dtype=np.int64)
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            sims = Cn @ Qn.T                      # |batch| x |Q|
            sims_r = np.round(sims, 6)
            out_q, out_c, out_s = [], [], []
            for qi in range(len(q_ids)):
                col = sims_r[:, qi]
                mask = c_ids != q_ids[qi]         # exclude self
                cand_idx = np.nonzero(mask)[0]
                if not len(cand_idx):
                    continue
                order = np.lexsort((c_ids[cand_idx], -col[cand_idx]))
                keep = cand_idx[order[:k]]
                out_q.extend([q_ids[qi]] * len(keep))
                out_c.extend(c_ids[keep])
                out_s.extend(col[keep])
            yield pd.DataFrame({
                "query_id": pd.Series(out_q, dtype="int64"),
                "neighbor_id": pd.Series(out_c, dtype="int64"),
                "cosine_sim": pd.Series(out_s, dtype="float64"),
            })

    local = embeddings.select(id_col, vec_col).mapInPandas(
        topk_batches,
        "query_id long, neighbor_id long, cosine_sim double")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def _banded_signatures(df: DataFrame, id_col: str, vec_col: str, alias: str,
                       planes: list[list[float]], n_bands: int,
                       band_bits: int) -> DataFrame:
    """One row per (vector, band): (id, double-vec, norm, band, sig) where
    sig packs that band's hyperplane sign bits into an int. All bands'
    bits come from ONE numpy matmul per Arrow batch (BLAS speed)."""
    import numpy as np
    import pandas as pd

    P = np.array(planes, dtype=np.float64).T      # dim x (n_bands*band_bits)
    weights = (1 << np.arange(band_bits)).astype(np.int64)

    def sig_batches(batches):
        for b in batches:
            if not len(b):
                continue
            V = np.array([list(v) for v in b[vec_col]], dtype=np.float64)
            ids = b[id_col].to_numpy(dtype=np.int64)
            bits = ((V @ P) >= 0).astype(np.int64)
            norms = np.linalg.norm(V, axis=1)
            for band in range(n_bands):
                sig = bits[:, band * band_bits:(band + 1) * band_bits] @ weights
                yield pd.DataFrame({
                    f"{alias}_id": ids,
                    f"{alias}_vec": list(V),
                    f"{alias}_norm": norms,
                    "band": np.full(len(ids), band, dtype=np.int32),
                    "sig": sig,
                })

    schema = (f"{alias}_id long, {alias}_vec array<double>, "
              f"{alias}_norm double, band int, sig long")
    return df.select(id_col, vec_col).mapInPandas(sig_batches, schema)


MAX_AUTO_BANDS = 4096


def _auto_bands(threshold: float, band_bits: int,
                miss_target: float = 1e-9) -> int:
    """Smallest band count driving the per-pair miss probability at the
    decision boundary below ``miss_target``: a pair at exactly
    ``threshold`` agrees on each sign bit with p = 1 - acos(t)/pi, so
    missing ALL bands has probability (1 - p^bits)^B.

    If reaching ``miss_target`` would take more than ``MAX_AUTO_BANDS``
    bands, the count is clamped WITH a warning stating the achieved
    bound -- the banded path is probabilistic, and oracle-exact equality
    relies on this bound staying astronomically small; a silent clamp
    (pre-round-4 behavior capped at 64) could otherwise surface as an
    inexplicable oracle mismatch after a threshold/data change."""
    import math
    import warnings

    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    p_band = p ** band_bits
    if p_band >= 1.0:
        return 1
    b = math.ceil(math.log(miss_target) / math.log(1.0 - p_band))
    if b > MAX_AUTO_BANDS:
        achieved = (1.0 - p_band) ** MAX_AUTO_BANDS
        warnings.warn(
            f"_auto_bands: {b} bands needed for per-pair miss <"
            f" {miss_target} at threshold {threshold} with {band_bits}-bit"
            f" bands; clamping to {MAX_AUTO_BANDS} degrades the miss bound"
            f" to {achieved:.2e} -- exact-oracle equality is no longer"
            f" near-certain", stacklevel=3)
        b = MAX_AUTO_BANDS
    return max(8, b)


def _auto_band_bits(n_rows: int, target_bucket_rows: int = 2048) -> int:
    """Size band_bits so the MEAN (band, sig) bucket holds about
    ``target_bucket_rows`` vectors: bits = log2(n / target). With the old
    fixed band_bits=2 every band had only 4 possible signatures, so each
    bucket held ~n/4 of the corpus and the in-bucket O(g^2) verify grew
    quadratically with the corpus -- at 1M vectors a single group's
    similarity matrix would not fit an executor. Deriving bits from the
    corpus keeps buckets bounded (and MORE bands of SMALLER buckets is
    also strictly less total verify work). Small corpora keep bits=2,
    preserving the low-threshold exactness sweet spot."""
    import math

    if n_rows <= target_bucket_rows * 4:
        return 2
    return min(16, max(2, math.ceil(math.log2(n_rows / target_bucket_rows))))


def pairwise_cosine_above(embeddings: DataFrame, threshold: float = 0.9,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding", *,
                          exact: bool = False, n_bands: int | None = None,
                          band_bits: int | None = None,
                          n_rows: int | None = None,
                          dim: int = 64) -> DataFrame:
    """Embedding near-duplicate pairs: all (a<b) pairs with cosine >=
    threshold.

    Default path (the 100 TB shape): banded sign-LSH candidate generation
    -- each vector is hashed into ``n_bands`` signatures of ``band_bits``
    hyperplane sign bits; any pair agreeing on ANY band becomes a
    candidate, verified exactly in-bucket. Nothing is ever collected to
    the driver; the grouping on (band, sig) is an ordinary distributed
    shuffle and the pair set is deduped before emission. Per-pair miss
    probability is (1 - p^band_bits)^n_bands with p = 1 - acos(cos) / pi;
    ``n_bands=None`` (default) auto-sizes the band count to push the miss
    probability AT the threshold below 1e-9 (fewer bands at higher
    thresholds -- the banding self-tunes), warning if the cap
    MAX_AUTO_BANDS prevents reaching that bound, so the exact SQL oracle
    still holds (probabilistically, with a stated bound and a fixed
    seed). ``band_bits=None`` (default) derives the bits from the corpus
    size so the mean (band, sig) bucket stays ~2k vectors: more bands of
    smaller buckets is both less total O(g^2) verify work and bounded
    executor memory -- the shape that survives 1M+ vectors. The in-bucket
    matmul is additionally row-chunked so a skewed bucket streams its
    similarity matrix instead of materializing g^2 doubles at once.

    ``exact=True`` keeps the O(n^2) numpy-matmul baseline (collects the
    set once -- only for small, bounded candidate sets)."""
    import numpy as np
    import pandas as pd

    if exact:
        rows = embeddings.select(id_col, vec_col).collect()
        all_ids = np.array([r[0] for r in rows], dtype=np.int64)
        A = np.array([list(r[1]) for r in rows], dtype=np.float64)
        An = A / np.linalg.norm(A, axis=1, keepdims=True)

        def pair_batches(batches):
            for b in batches:
                if not len(b):
                    continue
                C = np.array([list(v) for v in b[vec_col]], dtype=np.float64)
                c_ids = b[id_col].to_numpy(dtype=np.int64)
                Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
                sims = np.round(Cn @ An.T, 6)     # |batch| x |all|
                left, right, vals = [], [], []
                for i in range(len(c_ids)):
                    mask = (all_ids > c_ids[i]) & (sims[i] >= threshold)
                    js = np.nonzero(mask)[0]
                    left.extend([c_ids[i]] * len(js))
                    right.extend(all_ids[js])
                    vals.extend(sims[i][js])
                yield pd.DataFrame({
                    "id_a": pd.Series(left, dtype="int64"),
                    "id_b": pd.Series(right, dtype="int64"),
                    "cosine_sim": pd.Series(vals, dtype="float64"),
                })

        return embeddings.select(id_col, vec_col).mapInPandas(
            pair_batches, "id_a long, id_b long, cosine_sim double"
        ).orderBy("id_a", "id_b")

    if band_bits is None:
        # one bounded sizing count (a scalar, not a data collect); pass
        # n_rows when the caller already knows the corpus size to keep
        # plan construction fully lazy
        band_bits = _auto_band_bits(
            n_rows if n_rows is not None else embeddings.count())
    if n_bands is None:
        n_bands = _auto_bands(threshold, band_bits)
    planes = _hyperplanes(dim, n_bands * band_bits)
    sigs = _banded_signatures(embeddings, id_col, vec_col, "a",
                              planes, n_bands, band_bits)

    # In-bucket verification stays in numpy: normalized matmuls per
    # (band, sig) group replace an interpreted 64-element JVM fold per
    # band collision (collisions >> pairs at low thresholds). Only
    # above-threshold pairs leave the group, so the dedup shuffle carries
    # the result set, not the candidate set. band_bits is sized so a
    # group holds ~n/2^band_bits ~ 2k vectors; the matmul is row-chunked
    # anyway (<=32 MB of sims per block) so even a heavily skewed bucket
    # streams rather than materializing g^2 doubles.
    def verify(pdf):
        g = len(pdf)
        if g < 2:
            return pd.DataFrame({
                "id_a": pd.Series(dtype="int64"),
                "id_b": pd.Series(dtype="int64"),
                "cosine_sim": pd.Series(dtype="float64")})
        order = np.argsort(pdf["a_id"].to_numpy())
        ids = pdf["a_id"].to_numpy(dtype=np.int64)[order]
        V = np.array([list(v) for v in pdf["a_vec"]], dtype=np.float64)[order]
        norms = pdf["a_norm"].to_numpy(dtype=np.float64)[order]
        Vn = V / norms[:, None]
        # ~32 MB of float64 sims per block; floor 1 so a pathological
        # multi-million-row bucket still honors the byte budget (a floor
        # of 32 would make each block 32*g*8 bytes -- the OOM this
        # chunking exists to prevent)
        chunk = max(1, (4 << 20) // g)
        la, lb, lv = [], [], []
        for i0 in range(0, g - 1, chunk):
            i1 = min(i0 + chunk, g)
            sims = np.round(Vn[i0:i1] @ Vn.T, 6)  # (i1-i0) x g block
            bi, bj = np.nonzero(sims >= threshold)
            keep = (bi + i0) < bj                 # ids sorted => id_a < id_b
            la.append(ids[bi[keep] + i0])
            lb.append(ids[bj[keep]])
            lv.append(sims[bi[keep], bj[keep]])
        return pd.DataFrame({
            "id_a": np.concatenate(la) if la else np.array([], dtype=np.int64),
            "id_b": np.concatenate(lb) if lb else np.array([], dtype=np.int64),
            "cosine_sim": (np.concatenate(lv) if lv
                           else np.array([], dtype=np.float64)),
        })

    return (
        sigs.groupBy("band", "sig")
        .applyInPandas(verify, "id_a long, id_b long, cosine_sim double")
        .dropDuplicates(["id_a", "id_b"])
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# scale paths: random-hyperplane LSH and IVF coarse quantization
# ---------------------------------------------------------------------------

def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (fixed seed -> reproducible
    across runs and executors)."""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def sign_lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: concat of sign bits of <v, p_i>.
    Cosine-similar vectors agree on most sign bits."""
    bits = [
        F.when(
            dot_product(vec, F.array(*[F.lit(x) for x in p])) >= 0, "1"
        ).otherwise("0")
        for p in planes
    ]
    return F.concat(*bits)


def sign_lsh_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  n_planes: int = 8, dim: int = 64) -> DataFrame:
    """Approximate cosine top-k: compare only within matching sign-LSH
    buckets. Recall < 1.0 by construction; tests measure it against
    cosine_topk.

    Execution is cosine_topk's single-pass shape restricted to bucket
    matches: the (small-by-contract) query set is collected, its sign
    signatures computed once on the driver, and the corpus streams
    through ONE mapInPandas where a per-batch numpy matmul produces both
    the corpus sign bits and -- for bucket-colliding (query, corpus-row)
    groups only -- the normalized similarities, emitting each batch's
    LOCAL top-k per query in final rank order. A tiny global window
    merges them. vs the previous two-mapInPandas + broadcast-join +
    JVM-fold plan this removes the per-pair interpreted 64-element dot
    (the old hot spot) and a whole Arrow round-trip; the corpus still
    never shuffles (k rows per query per batch move), which is the
    100 TB shape -- bucket collisions bound candidates to
    ~|corpus|/2^planes per query."""
    import numpy as np
    import pandas as pd

    planes = _hyperplanes(dim, n_planes)
    P = np.array(planes, dtype=np.float64).T          # dim x planes
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    if len(q_rows):
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        q_sig = np.packbits((Q @ P) >= 0, axis=1, bitorder="little")
        q_key = q_sig[:, 0].astype(np.int64) if n_planes <= 8 else \
            np.array([bytes(r) for r in q_sig])
    else:
        Qn, q_key = Q, np.array([])

    def topk_batches(batches):
        for b in batches:
            if not len(b) or not len(q_ids):
                continue
            C = np.array([list(v) for v in b[vec_col]], dtype=np.float64)
            c_ids = b[id_col].to_numpy(dtype=np.int64)
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            c_sig = np.packbits((C @ P) >= 0, axis=1, bitorder="little")
            c_key = c_sig[:, 0].astype(np.int64) if n_planes <= 8 else \
                np.array([bytes(r) for r in c_sig])
            out_q, out_c, out_s = [], [], []
            for qi in range(len(q_ids)):
                mask = (c_key == q_key[qi]) & (c_ids != q_ids[qi])
                cand = np.nonzero(mask)[0]
                if not len(cand):
                    continue
                col = np.round(Cn[cand] @ Qn[qi], 6)
                order = np.lexsort((c_ids[cand], -col))
                keep = order[:k]
                out_q.extend([q_ids[qi]] * len(keep))
                out_c.extend(c_ids[cand[keep]])
                out_s.extend(col[keep])
            yield pd.DataFrame({
                "query_id": pd.Series(out_q, dtype="int64"),
                "neighbor_id": pd.Series(out_c, dtype="int64"),
                "cosine_sim": pd.Series(out_s, dtype="float64"),
            })

    local = embeddings.select(id_col, vec_col).mapInPandas(
        topk_batches,
        "query_id long, neighbor_id long, cosine_sim double")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def ann_recall_report(embeddings: DataFrame, queries: DataFrame,
                      k: int = 5, id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      index: str = "lsh",
                      approx: DataFrame | None = None) -> DataFrame:
    """In-engine ANN index evaluation: per-query recall@k of the chosen
    approximate index (``index`` = "lsh" sign-LSH, "ivf" coarse-probe,
    or "pq" product-quantization, each at its registry-default
    parameters) against the exact brute-force ranking -- the report a
    pipeline runs on a SAMPLED query set before trusting an approximate
    index for production dedup/retrieval at scale. Joins the two top-k
    lists on (query, neighbor); recall = |approx ∩ exact| / |exact|.

    Cost model: the exact side is the expensive baseline (one corpus
    scan per evaluation), so this runs over a bounded query sample --
    the corpus-side plans are exactly cosine_topk's (local top-k per
    Arrow batch, corpus never shuffles) plus the chosen index's (bucket
    join / probe join / ADC scan). The report itself adds one
    k·|queries|-row join.
    """
    exact = cosine_topk(embeddings, queries, k, id_col, vec_col)
    if approx is not None:
        pass  # caller-supplied top-k (e.g. a persisted-index probe)
    elif index == "lsh":
        approx = sign_lsh_topk(embeddings, queries, k, id_col, vec_col)
    elif index == "ivf":
        approx = ivf_topk(embeddings, queries, k, id_col, vec_col)
    elif index == "pq":
        approx = pq_topk(embeddings, queries, k, id_col, vec_col)
    else:
        raise ValueError(f"unknown ANN index {index!r}")
    hits = (approx.select("query_id", "neighbor_id")
            .withColumn("__hit", F.lit(1)))
    return (
        exact.select("query_id", "neighbor_id")
        .join(hits, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_exact"),
             F.coalesce(F.sum("__hit"), F.lit(0)).cast("int")
             .alias("n_hits"))
        .withColumn("recall",
                    F.round(F.col("n_hits") / F.col("n_exact"), 4))
        .orderBy("query_id")
    )


def ivf_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             n_centroids: int = 16, n_probe: int = 4,
             train_iterations: int = 0) -> DataFrame:
    """IVF-style ANN: coarse centroids partition the corpus; search only
    the n_probe centroids nearest each query.

    ``train_iterations=0`` (default) takes the n_centroids lowest-id
    corpus vectors as centroids (zero training cost, the registry's
    deterministic baseline); ``>0`` runs that many Lloyd rounds
    (kmeans_centroids) first -- balanced cells raise recall at the same
    probe budget, the classic IVF training step.

    The centroid table is tiny and broadcast twice (assignment + probe);
    the corpus is scanned once for assignment -- in production the
    assignment is precomputed and the probe join prunes partitions
    (:func:`build_ivf_index` / :func:`ivf_probe` are exactly that)."""
    cents = _ivf_centroids(embeddings, n_centroids, train_iterations,
                           id_col, vec_col)
    assigned = _ivf_assign(_prep(embeddings, id_col, vec_col, "c"), cents)
    probes = _ivf_probes(_prep(queries, id_col, vec_col, "q"), cents,
                         n_probe)
    return _ivf_rank(assigned, probes, k)


def _ivf_centroids(embeddings: DataFrame, n_centroids: int,
                   train_iterations: int, id_col: str,
                   vec_col: str) -> DataFrame:
    """(ct_id, ct_vec, ct_norm): trained Lloyd centroids or the lowest-id
    deterministic baseline."""
    if train_iterations > 0:
        # truncate_lineage: the trained table feeds BOTH the corpus
        # assignment and the query probe; the checkpoint materializes
        # the Lloyd rounds once (and linearly) for the two consumers
        trained = kmeans_centroids(
            embeddings, n_centroids, train_iterations, id_col, vec_col,
            truncate_lineage=True)
        return trained.select(
            F.col("cid").alias("ct_id"),
            F.col("c_vec").alias("ct_vec"),
            F.sqrt(dot_product(F.col("c_vec"), F.col("c_vec")))
            .alias("ct_norm"),
        )
    return _prep(embeddings.orderBy(id_col).limit(n_centroids),
                 id_col, vec_col, "ct")


def _ivf_assign(corpus: DataFrame, cents: DataFrame) -> DataFrame:
    """(c_id, c_vec, c_norm, cell): nearest-centroid cell per vector.
    Centroid sims round to 6dp BEFORE ranking (mirrored in the SQL
    oracle) so a last-ulp float divergence cannot flip an assignment.
    (A max_by-aggregate assignment + corpus join-back was A/B'd: the
    aggregate alone is 1.9x faster than this window, but the join-back
    shuffle erases the gain end-to-end at sf0.1 -- net 1.5x SLOWER. At
    cluster scale, where shuffling corpus x n_centroids expanded rows
    with vectors dominates, precompute the assignment once and store
    it with the corpus: build_ivf_index.)"""
    csim = dot_product(F.col("c_vec"), F.col("ct_vec")) / (
        F.col("c_norm") * F.col("ct_norm"))
    assign_w = Window.partitionBy("c_id").orderBy(
        F.desc("__csim"), F.asc("ct_id"))
    return (
        corpus.join(broadcast(cents), F.lit(True))
        .withColumn("__csim", F.round(csim, 6))
        .withColumn("__r", F.row_number().over(assign_w))
        .where(F.col("__r") == 1)
        .select("c_id", "c_vec", "c_norm", F.col("ct_id").alias("cell"))
    )


def _ivf_probes(qs: DataFrame, cents: DataFrame,
                n_probe: int) -> DataFrame:
    """(q_id, q_vec, q_norm, cell): the n_probe nearest cells per
    query."""
    qsim = dot_product(F.col("q_vec"), F.col("ct_vec")) / (
        F.col("q_norm") * F.col("ct_norm"))
    probe_w = Window.partitionBy("q_id").orderBy(
        F.desc("__qsim"), F.asc("ct_id"))
    return (
        qs.join(broadcast(cents), F.lit(True))
        .withColumn("__qsim", F.round(qsim, 6))
        .withColumn("__r", F.row_number().over(probe_w))
        .where(F.col("__r") <= n_probe)
        .select("q_id", "q_vec", "q_norm", F.col("ct_id").alias("cell"))
    )


def _ivf_rank(assigned: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    sim = dot_product(F.col("q_vec"), F.col("c_vec")) / (
        F.col("q_norm") * F.col("c_norm"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        assigned.join(broadcast(probes), ["cell"])
        .where(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            F.round(sim, 6).alias("cosine_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def build_ivf_index(embeddings: DataFrame, store_dir: str,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    n_centroids: int = 16, train_iterations: int = 2,
                    mode: str = "overwrite") -> DataFrame:
    """Build the IVF index ONCE and persist it (the signature-table
    pattern, dedup.py:build_signature_table): production ANN indexes
    are trained and assigned once, then probed many times --
    :func:`ivf_topk` re-runs Lloyd + full-corpus assignment on every
    call, which is the right shape for a one-shot query but not for a
    serving/index workload.

    Layout under ``store_dir``:
      centroids/  (ct_id, ct_vec, ct_norm)          -- tiny, broadcast
      corpus/     (c_id, c_vec, c_norm) PARTITIONED BY cell

    Partitioning the corpus by cell is the scale story: a probe touches
    n_probe cells per query, and Spark's dynamic partition pruning
    (broadcast probe side, equi-join on the partition column) skips
    every unprobed cell's files entirely -- at 100 TB the probe reads
    n_probe/n_centroids of the corpus instead of all of it.

    Staleness contract: the index is a snapshot -- vectors added to the
    source table after the build are invisible until a rebuild (or an
    append-mode re-assignment of the delta against the SAME persisted
    centroids -- never retrain centroids incrementally, or cells shift
    under existing assignments). ``mode`` must be "overwrite" for the
    same reason: an append-mode BUILD would retrain centroids and
    duplicate the centroid table, corrupting every later probe; deltas
    go through :func:`ivf_index_append`. Returns the reloaded corpus
    table."""
    if mode != "overwrite":
        raise ValueError(
            f"build_ivf_index only supports mode='overwrite' (got {mode!r});"
            " append deltas with ivf_index_append, which assigns against"
            " the persisted centroids instead of retraining them")
    spark = embeddings.sparkSession
    cents = _ivf_centroids(embeddings, n_centroids, train_iterations,
                           id_col, vec_col)
    assigned = _ivf_assign(_prep(embeddings, id_col, vec_col, "c"), cents)
    cents.write.mode(mode).parquet(store_dir + "/centroids")
    (assigned.write.mode(mode).partitionBy("cell")
     .parquet(store_dir + "/corpus"))
    return spark.read.parquet(store_dir + "/corpus")


def ivf_index_append(spark, store_dir: str, new_vectors: DataFrame,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Append a DELTA of new vectors to a persisted IVF index: assign
    them against the SAME stored centroids (never retrain -- cells
    would shift under existing assignments, the staleness contract
    build_ivf_index documents) and append the assigned rows into the
    cell-partitioned corpus. This is the incremental path that keeps a
    serving index fresh without the full rebuild: the delta pays one
    |delta| x n_centroids broadcast assignment, existing partitions
    are untouched (parquet append adds files per cell directory).
    Returns the reloaded corpus table."""
    cents = spark.read.parquet(store_dir + "/centroids")
    assigned = _ivf_assign(_prep(new_vectors, id_col, vec_col, "c"),
                           cents)
    (assigned.write.mode("append").partitionBy("cell")
     .parquet(store_dir + "/corpus"))
    return spark.read.parquet(store_dir + "/corpus")


def ivf_probe(spark, store_dir: str, queries: DataFrame, k: int = 5,
              n_probe: int = 4, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Probe a persisted IVF index (:func:`build_ivf_index`): no
    training, no corpus assignment -- read the tiny centroid table,
    pick each query's n_probe cells, and join only those corpus
    partitions. Same result as :func:`ivf_topk` with identical
    parameters (pinned by pytest + the shared registry oracle)."""
    cents = spark.read.parquet(store_dir + "/centroids")
    corpus = spark.read.parquet(store_dir + "/corpus") \
        .select("c_id", "c_vec", "c_norm",
                F.col("cell").cast("long").alias("cell"))
    qs = _prep(queries, id_col, vec_col, "q")
    probes = _ivf_probes(qs, cents, n_probe) \
        .select("q_id", "q_vec", "q_norm",
                F.col("cell").cast("long").alias("cell"))
    return _ivf_rank(corpus, probes, k)


def build_pq_index(embeddings: DataFrame, store_dir: str,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   m: int = 8, ksub: int = 16, train_n: int = 1024,
                   iterations: int = 2, mode: str = "overwrite") -> DataFrame:
    """Build a product-quantization index ONCE and persist it (the
    :func:`build_ivf_index` pattern applied to PQ): :func:`pq_topk`
    retrains codebooks and re-encodes the whole corpus on every call --
    right for a one-shot query, wrong for a serving workload where the
    16-bytes-per-vector code table IS the asset.

    Layout under ``store_dir``:
      codebooks/  (subspace, code, vals array<double>)  -- m*ksub rows, tiny
      codes/      (c_id, codes array<int>)              -- m bytes-ish/vec

    The corpus encode is one mapInPandas pass with the trained books
    broadcast by closure; the persisted code table is what a probe
    scans -- at 100 TB of raw vectors the codes are ~dim*8/m smaller
    (16x at m=32 over 64-dim float64), which is the whole point of PQ
    as a serving format.

    Staleness contract matches the IVF index: a snapshot. Append new
    vectors by encoding the delta against the SAME persisted codebooks;
    never retrain books incrementally (codes shift under existing
    entries) -- which is also why ``mode`` must be "overwrite": an
    append-mode BUILD would retrain books and duplicate (subspace, code)
    rows, silently mixing books from different trainings under the
    probe's last-row-wins load. Deltas go through
    :func:`pq_index_append`. Returns the reloaded codes table."""
    import numpy as np

    if mode != "overwrite":
        raise ValueError(
            f"build_pq_index only supports mode='overwrite' (got {mode!r});"
            " append deltas with pq_index_append, which encodes against"
            " the persisted codebooks instead of retraining them")
    spark = embeddings.sparkSession
    sample_rows = (embeddings.orderBy(id_col).limit(train_n)
                   .select(vec_col).collect())
    S = np.array([list(r[0]) for r in sample_rows], dtype=np.float64)
    Sn = S / np.linalg.norm(S, axis=1, keepdims=True)
    books = _pq_train(Sn, m, ksub, iterations)
    dim = S.shape[1]
    dsub = dim // m

    book_rows = [(j, c, [float(v) for v in books[j, c]])
                 for j in range(m) for c in range(ksub)]
    driver_frame(
        spark, book_rows, "subspace int, code int, vals array<double>"
    ).write.mode("overwrite").parquet(store_dir + "/codebooks")

    (_pq_encode(embeddings.select(id_col, vec_col), books, m, dsub,
                id_col, vec_col)
     .write.mode("overwrite").parquet(store_dir + "/codes"))
    return spark.read.parquet(store_dir + "/codes")


def _load_books(spark, store_dir: str):
    """Load persisted PQ codebooks into the (m, ksub, dsub) numpy array
    the encode/ADC kernels broadcast by closure. m/ksub come from the
    max observed indices, dsub from the value arrays -- one tiny
    collect."""
    import numpy as np

    book_rows = spark.read.parquet(store_dir + "/codebooks").collect()
    m = 1 + max(r["subspace"] for r in book_rows)
    ksub = 1 + max(r["code"] for r in book_rows)
    dsub = len(book_rows[0]["vals"])
    books = np.zeros((m, ksub, dsub))
    for r in book_rows:
        books[r["subspace"], r["code"]] = r["vals"]
    return books, m, ksub, dsub


def _pq_encode(df: DataFrame, books, m: int, dsub: int,
               id_col: str, vec_col: str,
               carry: tuple = (), cents_by_cell=None) -> DataFrame:
    """One Arrow pass encoding L2-normalized vectors to per-subspace
    nearest-codebook codes (round(d2, 9) tie-to-lowest, matching
    _pq_train and the SQL oracles). ``carry`` columns (e.g. the IVF
    cell) pass through unchanged -- they must be long-typed. With
    ``cents_by_cell`` (a {cell: normalized-centroid ndarray} dict,
    shipped by closure -- n_centroids rows, tiny), the encoded quantity
    is the RESIDUAL Vn - centroid[cell] instead of Vn itself -- the
    IVFADC composition (carry must then include the cell column,
    first)."""
    import numpy as np
    import pandas as pd

    carry = tuple(carry)

    def encode_batches(batches):
        for b in batches:
            if not len(b):
                continue
            V = np.array([list(v) for v in b[vec_col]], dtype=np.float64)
            ids = b[id_col].to_numpy(dtype=np.int64)
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            if cents_by_cell is not None:
                cells = b[carry[0]].to_numpy(dtype=np.int64)
                missing = {int(c) for c in cells} - set(cents_by_cell)
                if missing:
                    # an append into a cell that was EMPTY at build
                    # time has no stored shift -- encoding it against
                    # an invented one would silently mis-score; rebuild
                    raise ValueError(
                        f"no stored cell mean for cells "
                        f"{sorted(missing)}; rebuild the index")
                Vn = Vn - np.stack([cents_by_cell[int(c)] for c in cells])
            codes = np.zeros((len(ids), m), dtype=np.int32)
            for j in range(m):
                sub = Vn[:, j * dsub:(j + 1) * dsub]
                d2 = ((sub[:, None, :] - books[j][None, :, :]) ** 2
                      ).sum(axis=2)
                codes[:, j] = np.argmin(np.round(d2, 9), axis=1)
            out = {
                "c_id": pd.Series(ids, dtype="int64"),
                "codes": [list(map(int, row)) for row in codes],
            }
            for c in carry:
                out[c] = b[c]
            yield pd.DataFrame(out)

    schema = ("c_id long, codes array<int>"
              + "".join(f", {c} long" for c in carry))
    return df.mapInPandas(encode_batches, schema)


def pq_index_append(spark, store_dir: str, new_vectors: DataFrame,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Append a DELTA of new vectors to a persisted PQ index: encode
    them against the SAME stored codebooks (never retrain -- codes
    would shift under existing entries, the staleness contract) and
    parquet-append into the code table. The delta pays one Arrow
    encode pass; existing code files are untouched. Returns the
    reloaded codes table."""
    books, m, _ksub, dsub = _load_books(spark, store_dir)
    (_pq_encode(new_vectors.select(id_col, vec_col), books, m, dsub,
                id_col, vec_col)
     .write.mode("append").parquet(store_dir + "/codes"))
    return spark.read.parquet(store_dir + "/codes")


def pq_probe(spark, store_dir: str, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Probe a persisted PQ index (:func:`build_pq_index`): no
    training, no corpus encode -- load the tiny codebook table, build
    per-query ADC lookup tables on the driver, and stream the persisted
    CODE table (never the raw vectors) through Arrow batches where
    scoring is pure table lookups. Same result as :func:`pq_topk` with
    identical parameters (pinned by pytest + the shared registry
    oracle)."""
    import numpy as np
    import pandas as pd

    books, m, ksub, dsub = _load_books(spark, store_dir)

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    tables = np.zeros((len(q_ids), m, ksub))
    for j in range(m):
        qs = Qn[:, j * dsub:(j + 1) * dsub]
        tables[:, j, :] = ((qs[:, None, :] - books[j][None, :, :]) ** 2
                           ).sum(axis=2)

    def topk_batches(batches):
        for b in batches:
            if not len(b):
                continue
            ids = b["c_id"].to_numpy(dtype=np.int64)
            codes = np.array([list(c) for c in b["codes"]], dtype=np.int64)
            d2q = np.zeros((len(ids), len(q_ids)))
            for j in range(m):
                d2q += tables[:, j, codes[:, j]].T
            sims = np.round(1.0 - d2q / 2.0, 6)
            out_q, out_c, out_s = [], [], []
            for qi in range(len(q_ids)):
                cand = np.nonzero(ids != q_ids[qi])[0]
                if not len(cand):
                    continue
                order = np.lexsort((ids[cand], -sims[cand, qi]))
                keep = cand[order[:k]]
                out_q.extend([q_ids[qi]] * len(keep))
                out_c.extend(ids[keep])
                out_s.extend(sims[keep, qi])
            yield pd.DataFrame({
                "query_id": pd.Series(out_q, dtype="int64"),
                "neighbor_id": pd.Series(out_c, dtype="int64"),
                "approx_sim": pd.Series(out_s, dtype="float64"),
            })

    local = spark.read.parquet(store_dir + "/codes").mapInPandas(
        topk_batches, "query_id long, neighbor_id long, approx_sim double")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_sim"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def build_ivfpq_index(embeddings: DataFrame, store_dir: str,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      n_centroids: int = 16, train_iterations: int = 2,
                      m: int = 8, ksub: int = 16, train_n: int = 1024,
                      iterations: int = 2,
                      mode: str = "overwrite",
                      encode: str = "raw") -> DataFrame:
    """Composed IVF-PQ index -- the billion-vector serving shape: coarse
    Lloyd centroids partition the corpus into cells (build_ivf_index's
    training), and within the cells only PQ CODES are stored
    (build_pq_index's encoding), so a probe reads n_probe/n_centroids of
    the corpus AND each read row is m ints instead of a dim-double
    vector. At 100 TB of raw embeddings that multiplies the two
    reductions: partition pruning cuts the scan to the probed cells,
    code compression cuts each cell to ~dim*8/m of its raw bytes.

    Layout under ``store_dir``:
      centroids/  (ct_id, ct_vec, ct_norm)          -- tiny, broadcast
      codebooks/  (subspace, code, vals)            -- m*ksub rows, tiny
      codes/      (c_id, codes) PARTITIONED BY cell -- the only big table

    ``encode`` picks what the codes quantize:

    * ``"raw"`` -- the L2-NORMALIZED original vector: ADC scores are
      then exactly pq_topk's and the cell merely restricts the
      candidate set, which keeps the full value oracle the composition
      of the trained-IVF and PQ oracle CTEs.
    * ``"residual"`` -- IVFADC proper, in the NORMALIZED space: each
      vector's residual vs its assigned cell's MEAN of normalized
      members (Vn - mean(Vn in cell), decimal-exact 6dp means like the
      Lloyd rounds). The mean -- not the unit-normalized centroid --
      is the right shift: the mean of unit vectors lies INSIDE the
      sphere, so subtracting it shrinks every residual
      (E||Vn - mean|| < 1), while subtracting a re-normalized centroid
      INFLATES them (measured 0.94 vs 1.16 mean norm at sf0.01) and
      costs recall instead of buying it. Codebooks train on the
      SAMPLE's residuals; the probe shifts each query by the probed
      cell's mean before the ADC lookup. Still fully
      oracle-composable: the cell means are one GROUP BY over the
      trained-IVF assignment CTEs.

    Same staleness contract as the component indexes: a snapshot;
    append deltas with :func:`ivfpq_index_append` (which reads the
    persisted ``encode`` choice -- the store is self-describing via
    meta.json); ``mode`` must be "overwrite" (an append-mode build
    would retrain centroids AND books under existing codes). Returns
    the reloaded codes table."""
    import json
    import os

    import numpy as np

    if mode != "overwrite":
        raise ValueError(
            f"build_ivfpq_index only supports mode='overwrite' (got "
            f"{mode!r}); append deltas with ivfpq_index_append")
    if encode not in ("raw", "residual"):
        raise ValueError(f"unknown encode {encode!r}")
    spark = embeddings.sparkSession
    cents = _ivf_centroids(embeddings, n_centroids, train_iterations,
                           id_col, vec_col)
    cents.write.mode("overwrite").parquet(store_dir + "/centroids")
    cents = spark.read.parquet(store_dir + "/centroids")

    assigned = _ivf_assign(_prep(embeddings, id_col, vec_col, "c"), cents) \
        .withColumn("cell", F.col("cell").cast("long"))
    shift_by_cell = None
    if encode == "residual":
        _cell_means(assigned).write.mode("overwrite") \
            .parquet(store_dir + "/cellmeans")
        shift_by_cell = _load_cell_means(spark, store_dir)
        # sample residuals: assignment via the SAME _ivf_assign the
        # corpus uses (round-6 sims, ties to lowest cell), so sample
        # and corpus quantize against identical geometry
        sample = embeddings.orderBy(id_col).limit(train_n)
        srows = (_ivf_assign(_prep(sample, id_col, vec_col, "c"), cents)
                 .select("c_id", "c_vec", "cell").collect())
        srows.sort(key=lambda r: r["c_id"])
        S = np.array([list(r["c_vec"]) for r in srows], dtype=np.float64)
        Sn = S / np.linalg.norm(S, axis=1, keepdims=True)
        Sn = Sn - np.stack([shift_by_cell[int(r["cell"])] for r in srows])
    else:
        sample_rows = (embeddings.orderBy(id_col).limit(train_n)
                       .select(vec_col).collect())
        S = np.array([list(r[0]) for r in sample_rows], dtype=np.float64)
        Sn = S / np.linalg.norm(S, axis=1, keepdims=True)
    books = _pq_train(Sn, m, ksub, iterations)
    dsub = S.shape[1] // m
    book_rows = [(j, c, [float(v) for v in books[j, c]])
                 for j in range(m) for c in range(ksub)]
    driver_frame(
        spark, book_rows, "subspace int, code int, vals array<double>"
    ).write.mode("overwrite").parquet(store_dir + "/codebooks")

    coded = _pq_encode(assigned.select("c_id", "c_vec", "cell"), books, m,
                       dsub, "c_id", "c_vec", carry=("cell",),
                       cents_by_cell=shift_by_cell)
    coded.write.mode("overwrite").partitionBy("cell") \
        .parquet(store_dir + "/codes")
    # the TRAINING SNAPSHOT's per-dim stats (raw vectors, d rows):
    # what streaming_embedding_drift compares live batches against --
    # the staleness alarm wired to the thing it guards
    from .quality import embedding_dim_stats
    embedding_dim_stats(embeddings, vec_col).write.mode("overwrite") \
        .parquet(store_dir + "/dimstats")
    # sidecar LAST via the Hadoop FS API -- store_dir may be s3a://.
    # The full build recipe persists (round 15) so ivfpq_rebuild can
    # retrain from a drifted corpus with the SAME geometry knobs --
    # the store is self-describing for its whole maintenance lifecycle
    from .. import fsio
    fsio.write_json(spark, fsio.join(store_dir, "meta.json"),
                    {"encode": encode,
                     "n_centroids": n_centroids,
                     "train_iterations": train_iterations,
                     "m": m, "ksub": ksub, "train_n": train_n,
                     "iterations": iterations})
    return spark.read.parquet(store_dir + "/codes")


def _cell_means(assigned: DataFrame) -> DataFrame:
    """(cell, mean_vec): per-cell mean of the NORMALIZED member vectors
    -- the residual encoding's shift. Decimal-exact 9dp sums then 6dp
    rounding, the same commutative-mean discipline as the Lloyd rounds
    (a plain double avg is summation-order-dependent and would diverge
    from the SQL oracle)."""
    vn = F.transform(F.col("c_vec"), lambda x: x / F.col("c_norm"))
    return (assigned
            .select("cell", F.posexplode(vn).alias("dim", "val"))
            .groupBy("cell", "dim")
            .agg(F.round(
                F.sum(F.col("val").cast("decimal(18,9)")).cast("double")
                / F.count(F.lit(1)), 6).alias("mv"))
            .groupBy("cell")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mv"))),
                lambda s: s["mv"]).alias("mean_vec")))


def _load_cell_means(spark, store_dir: str) -> dict:
    """{cell: mean ndarray} from the tiny persisted cell-mean table
    (n_centroids rows) -- shipped by closure into encode/probe
    kernels."""
    import numpy as np

    return {int(r["cell"]): np.array(list(r["mean_vec"]),
                                     dtype=np.float64)
            for r in spark.read.parquet(store_dir + "/cellmeans")
            .collect()}


def _ivfpq_encode_mode(spark, store_dir: str) -> str:
    from .. import fsio

    p = fsio.join(store_dir, "meta.json")
    if not fsio.exists(spark, p):
        return "raw"  # pre-residual stores carry no meta
    return fsio.read_json(spark, p).get("encode", "raw")


def ivfpq_index_append(spark, store_dir: str, new_vectors: DataFrame,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       batch_id: int | None = None,
                       fence: dict | None = None) -> DataFrame:
    """Append a DELTA to a persisted IVF-PQ index: assign against the
    SAME stored centroids and encode against the SAME stored codebooks
    (never retrain either -- cells and codes would shift under existing
    entries) with the SAME encoding the store was built with (raw vs
    residual, read from its meta.json), then parquet-append into the
    cell-partitioned code table. Round 15 brings the append under the
    same discipline as the simjoin/BM25 stores: the staged commit
    protocol (write-ahead intent + atomic meta flip + rollback-on-open)
    closes the mid-append crash window, ``batch_id`` makes
    at-least-once replays a no-op (the streaming maintenance lane's
    contract), appends fail fast on a tombstoned id, and ``fence`` is
    the writer-lease token. Returns the reloaded codes table."""
    from .. import fsio, store_commit, store_delete, store_fence

    store_fence.fence_check(spark, store_dir, fence)
    meta_p = fsio.join(store_dir, "meta.json")
    meta = fsio.read_json(spark, meta_p) \
        if fsio.exists(spark, meta_p) else {"encode": "raw"}
    from .partitioning import heal_interrupted_swap
    heal_interrupted_swap(spark, store_dir)  # crashed rebuild swap
    store_commit.repair(spark, store_dir, meta.get("append_epoch", 0))
    if batch_id is not None \
            and batch_id <= meta.get("last_batch_id", -1):
        return spark.read.parquet(store_dir + "/codes")
    store_delete.check_not_tombstoned(
        new_vectors.select(F.col(id_col)), spark, store_dir, meta,
        id_col)
    cents = spark.read.parquet(store_dir + "/centroids")
    books, m, _ksub, dsub = _load_books(spark, store_dir)
    shift_by_cell = _load_cell_means(spark, store_dir) \
        if _ivfpq_encode_mode(spark, store_dir) == "residual" else None
    assigned = _ivf_assign(_prep(new_vectors, id_col, vec_col, "c"),
                           cents) \
        .withColumn("cell", F.col("cell").cast("long"))
    coded = _pq_encode(assigned.select("c_id", "c_vec", "cell"), books, m,
                       dsub, "c_id", "c_vec", carry=("cell",),
                       cents_by_cell=shift_by_cell)
    epoch = int(meta.get("append_epoch", 0)) + 1
    store_commit.begin_append(spark, store_dir, ["codes"], epoch)
    coded.write.mode("append").partitionBy("cell") \
        .parquet(store_dir + "/codes")
    meta["append_epoch"] = epoch
    if batch_id is not None:
        meta["last_batch_id"] = batch_id
    fsio.write_json(spark, meta_p, meta)  # COMMIT POINT
    store_commit.commit_append(spark, store_dir)
    return spark.read.parquet(store_dir + "/codes")


def ivfpq_index_delete(spark, store_dir: str, vec_ids,
                       batch_id: int | None = None,
                       fence: dict | None = None) -> dict:
    """Delete vectors from a persisted IVF-PQ index by TOMBSTONE
    (round 15): ids append to ``tombstones/`` under the staged commit
    protocol; :func:`ivfpq_probe` (and so the rerank path) drops
    tombstoned rows from the probed cells' codes before ADC scoring,
    so post-delete neighbors equal a probe over the surviving corpus
    with the SAME trained geometry (centroids/books stay -- training
    is a snapshot, deletion changes the candidate set, exactly the
    FAISS remove_ids semantics); ``index_compact`` purges the code
    rows physically. Deleted ids must not be re-appended until a
    purge. Returns the committed meta."""
    from .. import fsio, store_commit, store_delete, store_fence

    store_fence.fence_check(spark, store_dir, fence)
    meta = fsio.read_json(spark, fsio.join(store_dir, "meta.json"))
    from .partitioning import heal_interrupted_swap
    heal_interrupted_swap(spark, store_dir)
    store_commit.repair(spark, store_dir, meta.get("append_epoch", 0))
    if batch_id is not None \
            and batch_id <= meta.get("last_delete_batch_id", -1):
        return meta
    codes = spark.read.parquet(store_dir + "/codes")
    ids = store_delete.exclude_tombstoned(
        store_delete.as_id_frame(spark, vec_ids, codes, "c_id"),
        spark, store_dir, meta, ("id",))
    new_ts = ids.localCheckpoint(eager=True)
    return store_delete.append_tombstones(
        spark, store_dir, new_ts, new_ts.count(), meta, batch_id=batch_id)


def ivfpq_rebuild(spark, store_dir: str, embeddings: DataFrame,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  fence: dict | None = None) -> DataFrame:
    """Retrain a persisted IVF-PQ index from a (drifted) corpus -- the
    ANN analog of :func:`~.dedup.simjoin_refreeze` (round 15). Appends
    encode against the BUILD-TIME centroids/codebooks, which stays
    EXACT for membership but degrades recall as the corpus drifts away
    from the training snapshot: new-region vectors crowd into the
    nearest old cells and their residuals fall outside the codebooks'
    dynamic range. The rebuild re-runs the full deterministic training
    (``build_ivfpq_index``) over *embeddings* -- the ACCUMULATED raw
    corpus (the store holds codes, not vectors; the caller owns the
    vector lake, exactly as :func:`ivfpq_rerank` already requires) --
    with the SAME recipe the store persists in meta.json, into a tmp
    sibling, then swaps whole-store via rename-aside (crash heals on
    the next probe/append/rebuild: ``heal_interrupted_swap``).

    Tombstoned ids are EXCLUDED from the rebuild corpus, so a rebuild
    doubles as the purge; replay bookkeeping (``last_batch_id`` /
    ``last_delete_batch_id`` / ``append_epoch``) carries over so a
    micro-batch replayed across the rebuild stays a no-op (its vectors
    are already inside the rebuilt corpus). Because the training is
    deterministic, a rebuilt store is BYTE-EQUIVALENT in results to a
    fresh build over the same corpus -- which is what lets the probe
    oracle carry over verbatim (registry: ivfpq_rebuilt_probe)."""
    from .. import fsio, store_delete, store_fence
    from .partitioning import _swap_in, heal_interrupted_swap

    store_fence.fence_check(spark, store_dir, fence)
    heal_interrupted_swap(spark, store_dir)
    meta = fsio.read_json(spark, fsio.join(store_dir, "meta.json"))
    if "n_centroids" not in meta:
        raise ValueError(
            f"{store_dir} predates the round-15 self-describing meta "
            f"(no build recipe recorded); rebuild it once with "
            f"build_ivfpq_index to enable ivfpq_rebuild")
    corpus = store_delete.exclude_tombstoned(
        embeddings, spark, store_dir, meta, (id_col,))
    tmp = store_dir.rstrip("/") + ".__rebuild__"
    fsio.delete(spark, tmp)
    build_ivfpq_index(
        corpus, tmp, id_col=id_col, vec_col=vec_col,
        n_centroids=int(meta["n_centroids"]),
        train_iterations=int(meta["train_iterations"]),
        m=int(meta["m"]), ksub=int(meta["ksub"]),
        train_n=int(meta["train_n"]),
        iterations=int(meta["iterations"]),
        encode=meta.get("encode", "raw"))
    # carry the replay/commit bookkeeping across the swap: a batch
    # replayed after the rebuild must stay a no-op (its vectors are
    # already in the rebuilt corpus)
    new_meta = fsio.read_json(spark, fsio.join(tmp, "meta.json"))
    for k in ("append_epoch", "last_batch_id", "last_delete_batch_id"):
        if k in meta:
            new_meta[k] = meta[k]
    fsio.write_json(spark, fsio.join(tmp, "meta.json"), new_meta)
    _swap_in(spark, store_dir, tmp)
    return spark.read.parquet(store_dir + "/codes")


def ivfpq_probe(spark, store_dir: str, queries: DataFrame, k: int = 5,
                n_probe: int = 4, id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Probe a persisted IVF-PQ index (:func:`build_ivfpq_index`): pick
    each query's n_probe nearest cells from the tiny centroid table,
    build per-query ADC lookup tables on the driver from the tiny
    codebook table, then scan ONLY the probed cells' partitions of the
    code table -- the probe cells are known before the scan is planned
    (the query set is already driver-side for the ADC tables), so the
    pruning is a STATIC partition filter: unprobed cells' files are
    never listed, which is strictly stronger than dynamic partition
    pruning's runtime skip. Each scanned row costs m table lookups; raw
    vectors are never read.

    Scoring is exactly :func:`pq_probe`'s ADC (sims rounded to 6dp,
    ties to the lowest neighbor id) restricted to each query's probed
    cells, so the full value oracle composes the trained-IVF and PQ
    oracle CTEs. On a residual store (IVFADC) the ADC tables are built
    per PROBED CELL -- the query shifts by that cell's stored mean
    before the subspace lookups -- still driver-side (n_query x
    n_probe tiny tables), still codes-only on the executors."""
    import numpy as np
    import pandas as pd

    from .partitioning import heal_interrupted_swap

    # a rebuild (ivfpq_rebuild) that crashed mid whole-store swap
    # leaves the old store renamed aside -- restore it before reading
    heal_interrupted_swap(spark, store_dir)
    cents = spark.read.parquet(store_dir + "/centroids")
    books, m, ksub, dsub = _load_books(spark, store_dir)
    residual = _ivfpq_encode_mode(spark, store_dir) == "residual"
    shift_by_cell = _load_cell_means(spark, store_dir) if residual \
        else None

    qs = _prep(queries, id_col, vec_col, "q")
    probe_rows = (_ivf_probes(qs, cents, n_probe)
                  .select("q_id", F.col("cell").cast("long").alias("cell"))
                  .collect())
    cells_by_q: dict = {}
    for r in probe_rows:
        cells_by_q.setdefault(r["q_id"], set()).add(r["cell"])
    all_cells = sorted({c for cs in cells_by_q.values() for c in cs})

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def adc_tables(Qm: "np.ndarray") -> "np.ndarray":
        t = np.zeros((len(q_ids), m, ksub))
        for j in range(m):
            qsub = Qm[:, j * dsub:(j + 1) * dsub]
            t[:, j, :] = ((qsub[:, None, :] - books[j][None, :, :]) ** 2
                          ).sum(axis=2)
        return t

    if residual:
        # cells with no members have no stored mean -- and no
        # candidates to score, so they simply drop out
        tables_by_cell = {
            int(c): adc_tables(Qn - shift_by_cell[int(c)][None, :])
            for c in all_cells if int(c) in shift_by_cell}
    else:
        shared = adc_tables(Qn)
        tables_by_cell = {int(c): shared for c in all_cells}
    q_cells = [np.array(sorted(cells_by_q.get(int(q), ())), dtype=np.int64)
               for q in q_ids]

    def topk_batches(batches):
        for b in batches:
            if not len(b):
                continue
            ids = b["c_id"].to_numpy(dtype=np.int64)
            cells = b["cell"].to_numpy(dtype=np.int64)
            codes = np.array([list(c) for c in b["codes"]], dtype=np.int64)
            out_q, out_c, out_s = [], [], []
            for qi in range(len(q_ids)):
                cand_parts, d2_parts = [], []
                for cell in q_cells[qi]:
                    mask = (cells == cell) & (ids != q_ids[qi])
                    cand = np.nonzero(mask)[0]
                    if not len(cand):
                        continue
                    t = tables_by_cell[int(cell)]
                    d2 = np.zeros(len(cand))
                    for j in range(m):
                        d2 += t[qi, j, codes[cand, j]]
                    cand_parts.append(cand)
                    d2_parts.append(d2)
                if not cand_parts:
                    continue
                cand = np.concatenate(cand_parts)
                d2 = np.concatenate(d2_parts)
                sims = np.round(1.0 - d2 / 2.0, 6)
                order = np.lexsort((ids[cand], -sims))
                keep = cand[order[:k]]
                out_q.extend([q_ids[qi]] * len(keep))
                out_c.extend(ids[keep])
                out_s.extend(sims[order[:k]])
            yield pd.DataFrame({
                "query_id": pd.Series(out_q, dtype="int64"),
                "neighbor_id": pd.Series(out_c, dtype="int64"),
                "approx_sim": pd.Series(out_s, dtype="float64"),
            })

    codes_df = (spark.read.parquet(store_dir + "/codes")
                .where(F.col("cell").isin([int(c) for c in all_cells])))
    # tombstoned vectors (ivfpq_index_delete) drop before ADC scoring:
    # post-delete neighbors equal a probe over the surviving corpus
    # with the same trained geometry; no-op when the store has none
    from .. import fsio, store_delete

    meta_p = fsio.join(store_dir, "meta.json")
    meta = fsio.read_json(spark, meta_p) \
        if fsio.exists(spark, meta_p) else {}
    codes_df = store_delete.exclude_tombstoned(
        codes_df, spark, store_dir, meta, ("c_id",))
    local = codes_df.mapInPandas(
        topk_batches, "query_id long, neighbor_id long, approx_sim double")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_sim"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def _pq_train(sample: "object", m: int, ksub: int,
              iterations: int) -> "object":
    """Train PQ codebooks on a (bounded) numpy sample: per subspace,
    deterministic Lloyd with first-k init, ties to the lowest code.
    Returns (m, ksub, dsub) float64 codebooks."""
    import numpy as np

    n, dim = sample.shape
    dsub = dim // m
    books = np.zeros((m, ksub, dsub))
    for j in range(m):
        X = sample[:, j * dsub:(j + 1) * dsub]
        # first ksub DISTINCT rows as init (deterministic)
        seen, init = set(), []
        for row in X:
            key = row.tobytes()
            if key not in seen:
                seen.add(key)
                init.append(row)
            if len(init) == ksub:
                break
        C = np.array(init + [init[-1]] * (ksub - len(init)))
        for _ in range(iterations):
            d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(np.round(d2, 9), axis=1)  # ties -> low code
            for c in range(ksub):
                members = X[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books[j] = C
    return books


def pq_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
            id_col: str = "vec_id", vec_col: str = "embedding",
            m: int = 8, ksub: int = 16, train_n: int = 1024,
            iterations: int = 2) -> DataFrame:
    """Product-quantization ANN top-k: codebooks train on a BOUNDED
    sample (``train_n`` lowest-id vectors -- the standard PQ practice;
    the collect is fixed-size by construction), broadcast to executors,
    and the corpus streams through Arrow batches where ADC (asymmetric
    distance computation) scores every vector against every query with
    pure table lookups: m int8-sized codes per vector replace the 64-dim
    float read, the 8x memory-bandwidth saving that makes PQ the serving
    format at billion-vector scale. Each batch emits only its local
    top-k per query (selected in final-rank order), one tiny global
    window finishes -- the corpus never shuffles, same discipline as
    cosine_topk.

    Vectors are L2-normalized before splitting, so squared-L2 ADC ranks
    like cosine; ``approx_sim = 1 - d2/2`` is reported. Deterministic
    end-to-end (first-k init, rounded distances, id tiebreaks), which is
    what makes the FULL pipeline SQL-expressible: the registry carries a
    value-level DuckDB oracle (training + encoding + ADC + rank,
    _pq_oracle_sql) on top of the pytest-pinned recall floors."""
    import numpy as np
    import pandas as pd

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    sample_rows = (embeddings.orderBy(id_col).limit(train_n)
                   .select(vec_col).collect())
    S = np.array([list(r[0]) for r in sample_rows], dtype=np.float64)
    Sn = S / np.linalg.norm(S, axis=1, keepdims=True)
    books = _pq_train(Sn, m, ksub, iterations)
    dim = S.shape[1]
    dsub = dim // m
    # per-query ADC tables: dist2[q, j, c] = ||q_sub_j - book[j,c]||^2
    tables = np.zeros((len(q_ids), m, ksub))
    for j in range(m):
        qs = Qn[:, j * dsub:(j + 1) * dsub]
        tables[:, j, :] = ((qs[:, None, :] - books[j][None, :, :]) ** 2
                           ).sum(axis=2)

    def topk_batches(batches):
        for b in batches:
            if not len(b):
                continue
            V = np.array([list(v) for v in b[vec_col]], dtype=np.float64)
            ids = b[id_col].to_numpy(dtype=np.int64)
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            codes = np.zeros((len(ids), m), dtype=np.int64)
            for j in range(m):
                sub = Vn[:, j * dsub:(j + 1) * dsub]
                d2 = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = np.argmin(np.round(d2, 9), axis=1)
            # ADC: sum table lookups over subspaces -> |batch| x |Q|
            d2q = np.zeros((len(ids), len(q_ids)))
            for j in range(m):
                d2q += tables[:, j, codes[:, j]].T
            sims = np.round(1.0 - d2q / 2.0, 6)
            out_q, out_c, out_s = [], [], []
            for qi in range(len(q_ids)):
                mask = ids != q_ids[qi]
                cand = np.nonzero(mask)[0]
                if not len(cand):
                    continue
                order = np.lexsort((ids[cand], -sims[cand, qi]))
                keep = cand[order[:k]]
                out_q.extend([q_ids[qi]] * len(keep))
                out_c.extend(ids[keep])
                out_s.extend(sims[keep, qi])
            yield pd.DataFrame({
                "query_id": pd.Series(out_q, dtype="int64"),
                "neighbor_id": pd.Series(out_c, dtype="int64"),
                "approx_sim": pd.Series(out_s, dtype="float64"),
            })

    local = embeddings.select(id_col, vec_col).mapInPandas(
        topk_batches, "query_id long, neighbor_id long, approx_sim double")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_sim"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def label_centroids(embeddings: DataFrame, label_col: str = "label",
                    vec_col: str = "embedding") -> DataFrame:
    """Per-label centroid, one row per (label, dimension) -- the classic
    embedding class-profile reduction (and the M-step of IVF training).

    posexplode -> groupBy(label, dim) is a single shuffle with map-side
    combine; component sums go through decimal(18,9) so partial/final
    aggregation is exact and engine-order-independent, then ONE double
    division per output cell."""
    exploded = embeddings.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "val"),
    )
    s = F.sum(F.col("val").cast("decimal(18,9)"))
    n = F.count(F.lit(1))
    return (
        exploded.groupBy("label", "dim")
        .agg(
            F.round(s.cast("double") / n.cast("double"), 6).alias("centroid"),
            n.alias("n_vectors"),
        )
        .orderBy("label", "dim")
    )


def centroid_assign(embeddings: DataFrame, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    label_col: str = "label") -> DataFrame:
    """Nearest-centroid assignment (the E-step of k-means, or a prototype
    classifier evaluating embedding quality): per-label mean centroids
    come from :func:`label_centroids` (decimal-exact, rounded once),
    pivot to arrays, broadcast, and every vector takes the centroid with
    the highest rounded cosine (ties -> lowest label). ``hit`` marks
    vectors whose nearest centroid is their own label -- aggregate it for
    a separability score.

    Scale: |labels| centroids broadcast; the corpus is scanned once at
    map-side parallelism, |labels| fold evaluations per row, one
    partitionBy(id) window over |corpus| x |labels| slim rows. For huge
    label spaces swap the broadcast nested-loop for the IVF probe shape.
    """
    cents = (
        label_centroids(embeddings, label_col, vec_col)
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "centroid"))),
                lambda s: s["centroid"],
            ).alias("c_vec"))
        .select(F.col("label").alias("c_label"), "c_vec")
    )
    v = to_double_array(F.col(vec_col))
    base = embeddings.select(
        F.col(id_col), F.col(label_col).alias("label"), v.alias("__v"))
    sim = dot_product(F.col("__v"), F.col("c_vec")) / (
        F.sqrt(dot_product(F.col("__v"), F.col("__v")))
        * F.sqrt(dot_product(F.col("c_vec"), F.col("c_vec"))))
    # argmax as max_by over struct(sim, -label): lexicographic max =
    # highest sim, ties to LOWEST label -- a partial+final hash aggregate
    # (map-side combine collapses |labels| rows per vector before the
    # shuffle), where a row_number window would sort the whole
    # corpus x labels frame.
    pick = F.max_by(
        "c_label", F.struct(F.col("__sim"), (-F.col("c_label")).alias("nl")))
    return (
        base.join(broadcast(cents), F.lit(True))
        .withColumn("__sim", F.round(sim, 6))
        .groupBy(id_col, "label")
        .agg(pick.alias("assigned_label"))
        .select(
            id_col, "label", "assigned_label",
            (F.col("assigned_label") == F.col("label")).cast("int")
            .alias("hit"),
        )
        .orderBy(id_col)
    )


def quantize_embeddings(embeddings: DataFrame, vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """Symmetric int8 quantization: q_i = round(x_i / max|x| * 127), plus
    the per-vector scale needed to dequantize -- the standard 4x
    storage/bandwidth reduction before ANN serving or shipping training
    shards.

    Pure higher-order functions (transform / aggregate), zero shuffles,
    map-side only -- at 100 TB this runs at scan parallelism and writes
    back columnar. Zero vectors quantize to all-zero with scale 0.
    """
    from automated_review_analysis_pipeline_spark.functions.vectors import (
        to_double_array,
    )

    v = to_double_array(F.col(vec_col))
    amax = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
    return (
        embeddings.select(F.col(id_col), v.alias("__v"), amax.alias("__amax"))
        .select(
            id_col,
            F.round(F.col("__amax"), 6).alias("scale"),
            F.when(F.col("__amax") == 0.0,
                   F.transform(F.col("__v"), lambda x: F.lit(0)))
            .otherwise(
                F.transform(
                    F.col("__v"),
                    lambda x: F.round(x / F.col("__amax") * 127.0, 0)
                    .cast("int")))
            .alias("q8"),
        )
        .orderBy(id_col)
    )


def random_projection(embeddings: DataFrame, out_dim: int = 8,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      dim: int = 64, seed: int = 7) -> DataFrame:
    """Seeded Gaussian random projection (Johnson-Lindenstrauss): project
    each embedding onto ``out_dim`` fixed pseudo-random directions --
    the standard cheap dimensionality reduction before clustering /
    visualization / coarse ANN when PCA's data pass is not worth it (JL:
    pairwise distances are preserved within (1 +- eps) w.h.p.).

    The projection matrix is the deterministic seeded-Gaussian family
    already used for sign-LSH (same generator, different seed), inlined
    as literal arrays, so the whole operator is per-row JVM arithmetic:
    no shuffle, no UDF, runs at scan parallelism -- and the identical
    constants make it exactly reproducible in the SQL oracle. Components
    round to 6dp once.

    Returns ``id_col`` + ``p0..p{out_dim-1}`` double columns (columnar
    output, ready to write back or feed kmeans over the reduced space).
    """
    planes = _hyperplanes(dim, out_dim, seed)
    v = to_double_array(F.col(vec_col))
    staged = embeddings.select(F.col(id_col), v.alias("__v"))
    projs = [
        F.round(dot_product(
            F.col("__v"), F.array(*[F.lit(float(x)) for x in p])), 6)
        .alias(f"p{j}")
        for j, p in enumerate(planes)
    ]
    return staged.select(F.col(id_col), *projs).orderBy(id_col)


def prototype_prune(embeddings: DataFrame, k: int = 8,
                    keep_per_cluster: int = 32, iterations: int = 2,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Prototype-based data pruning (SSL-prototypes style): train k
    coarse centroids (Lloyd, deterministic), assign every vector to its
    nearest centroid, and within each cluster KEEP only the
    ``keep_per_cluster`` vectors FARTHEST from their centroid -- the
    "hard examples first" pruning rule: near-centroid vectors are
    redundant prototypes contributing little training signal, far ones
    carry the cluster's diversity. (Sorscher et al.'s self-supervised
    prototype metric; the complement of SemDeDup's near-dup removal,
    which :func:`semantic_dedup` covers.)

    Plan shape: the centroid table is tiny and broadcast; assignment is
    one corpus scan; the per-cluster ranking shuffles only
    (id, cluster, sim) triples -- vectors never shuffle. Centroid sims
    round to 6dp BEFORE both the assignment argmax and the hardness
    ranking (ties -> lowest centroid id / lowest vec id), so the unrolled
    Lloyd SQL oracle reproduces the decision exactly.
    """
    base = _kmeans_base(embeddings, id_col, vec_col)
    cents = kmeans_centroids(
        embeddings, k, iterations, id_col, vec_col,
        truncate_lineage=True, _base=base)
    # shared assignment helper (with_sim=True keeps the winning rounded
    # cosine): the 6dp rounding + lowest-cid tie-break the oracles
    # mirror lives in exactly one place
    assigned = _kmeans_assign(base, cents, id_col, with_sim=True)
    hard_w = Window.partitionBy("cluster").orderBy(
        F.asc("centroid_sim"), F.asc(id_col))
    return (
        assigned.withColumn("hardness_rank", F.row_number().over(hard_w))
        .where(F.col("hardness_rank") <= keep_per_cluster)
        .orderBy("cluster", "hardness_rank")
    )


def semantic_dedup(embeddings: DataFrame, threshold: float = 0.8,
                   id_col: str = "vec_id") -> DataFrame:
    """Semantic dedup DECISION over an embedding table: drop every vector
    that has a lower-id near-duplicate (cosine >= threshold); return the
    kept rows. The SemDeDup-style pass a training pipeline runs after
    embedding its corpus -- pairwise listing (pairwise_cosine_above) finds
    the evidence, this operator commits the keep/drop rule.

    The min-id rule is deterministic and engine-independent (unlike
    clustering with chained merges, whose membership depends on traversal
    order), so the result has an exact SQL oracle. The pair generator is
    the banded sign-LSH candidate join (no driver collect) -- the same
    anti-join works at any scale; raise band_bits for high-threshold
    production dedup so the banding prunes.
    """
    pairs = pairwise_cosine_above(embeddings, threshold, id_col)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return (
        embeddings.join(losers, id_col, "left_anti")
        .select(id_col, "label")
        .orderBy(id_col)
    )


# Canonical edge sets of at most this many edges are labelled on the
# driver: one collect and a union-find cost a fixed few jobs, where every
# star round costs several however small the graph is.
MAX_COLLECT_EDGES = 1_000_000


def star_connected_components(edges: DataFrame, a_col: str = "a",
                              b_col: str = "b",
                              max_iterations: int = 50,
                              plan_sink: list | None = None,
                              ) -> tuple[DataFrame, int]:
    """Connected components over an arbitrary edge list: every node that
    appears in an edge is labelled with the smallest node id it can
    reach. The package's one connected-components implementation, with
    one size switch.

    The edges are canonicalised (a > b, no self-loops, distinct) and
    localCheckpoint'ed once. One job fetches at most
    :data:`MAX_COLLECT_EDGES` + 1 of them to the driver as Arrow: when
    the fetch holds the whole set, a union-find labels it, the labels
    come back as a driver frame with the edge columns' type (no Python
    worker) and ``rounds`` is 0.
    Above the bound, alternating large-star/small-star rounds run
    (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii: "Connected
    Components in MapReduce and Beyond", SoCC 2014) -- the 100 TB path.

    Every star stage is a keyed groupBy/join that shards across
    executors (no coalesce(1)), and the round count is O(log^2 n) in
    theory and ~log(diameter) in practice, versus O(diameter) for plain
    min-label propagation (a 1M-long near-dup chain needs ~1M min-label
    rounds but ~20 star rounds).

    Per round:
      large-star  -- every node u computes m = min(neighbors + self)
                     and reconnects each LARGER neighbor v > u to m;
      small-star  -- every node u (edges oriented child>parent)
                     reconnects its smaller neighbors + itself to the
                     minimum smaller neighbor.
    Both preserve connectivity; node minima are monotone
    non-increasing, and the fixed points are star forests rooted at
    component minima. Convergence is detected STRUCTURALLY (the edge
    set is a star forest: no child has two parents, no parent is
    itself a child -- one bounded aggregation job per round), so
    correctness never rests on a checksum heuristic. Each round's
    edge set is localCheckpoint'ed (eager) to truncate lineage, and
    the previous round's blocks are released once the new set is
    materialized.

    Skew note: the component-minimum node's degree approaches the
    component size, so the per-round groupBy/join key distribution is
    zipfian by construction. The min() aggregate collapses map-side
    (partial agg), and the u-keyed join is AQE skew-join territory --
    the same mitigation the rest of this module relies on.

    Returns (labels, rounds): labels has columns (node, component)
    covering every node that appears in any edge; isolated nodes are
    the caller's left-join + coalesce. ``plan_sink`` (tests) receives
    each star round's physical plan string so plan gates can assert the
    loop itself -- not just the final join -- is coalesce-free.
    """
    E = (
        edges.select(
            F.greatest(F.col(a_col), F.col(b_col)).alias("a"),
            F.least(F.col(a_col), F.col(b_col)).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # one job both decides the side and fetches a small edge set
    fetched = E.limit(MAX_COLLECT_EDGES + 1).toArrow()
    if fetched.num_rows <= MAX_COLLECT_EDGES:
        schema = _star_labels(E).schema  # both sides return one schema
        E.unpersist()
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in zip(fetched.column("a").to_pylist(),
                        fetched.column("b").to_pylist()):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return driver_frame(edges.sparkSession,
                            [(n, find(n)) for n in parent], schema), 0
    del fetched  # the rounds need none of the fetched edges
    rounds = 0
    for _ in range(max_iterations):
        # structural convergence: star forest reached? BOTH conditions
        # (no child with two parents; no parent that is itself a
        # child) fold into ONE aggregation job: per node, count its
        # distinct parents (rows where it appears as the child a) and
        # flag whether it ever appears as a parent b -- multi-parent
        # is max(np) > 1, a chain is any node with np > 0 that is also
        # a parent. Same answers as the old two-action check (a
        # count + a conditional semi-join count), one driver round-
        # trip per round instead of up to two, and the count_distinct
        # still collapses map-side.
        p_type = E.schema["a"].dataType
        flags = (
            E.select(F.col("a").alias("n"), F.col("b").alias("p"))
            .unionByName(E.select(
                F.col("b").alias("n"),
                F.lit(None).cast(p_type).alias("p")))
            .groupBy("n")
            .agg(F.count_distinct("p").alias("np"),
                 F.max(F.col("p").isNull().cast("int")).alias("isp"))
            .agg(F.max("np").alias("max_np"),
                 F.max(F.when((F.col("np") > 0) & (F.col("isp") == 1),
                              1).otherwise(0)).alias("chained"))
            .first())
        # empty edge set (max_np None) is trivially a star forest
        if flags["max_np"] is None or (flags["max_np"] <= 1
                                       and not flags["chained"]):
            break
        rounds += 1
        # ---- large-star: reconnect larger neighbors to min(N+ self)
        sym = E.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            E.select(F.col("b").alias("u"), F.col("a").alias("v")))
        mins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
                .select("u", F.least("mn", F.col("u")).alias("m")))
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        # large-star output keeps canonical a > b: a = v > u >= m = b.
        # ---- small-star: reconnect smaller neighbors + self to min
        mins2 = large.groupBy("a").agg(F.min("b").alias("m"))
        small = (
            large.join(mins2, "a")
            .select(F.col("b").alias("x"), F.col("m"))
            .union(mins2.select(F.col("a").alias("x"), F.col("m")))
            .where(F.col("x") != F.col("m"))
            .select(F.greatest("x", "m").alias("a"),
                    F.least("x", "m").alias("b"))
            .distinct()
        )
        if plan_sink is not None:
            plan_sink.append(
                small._jdf.queryExecution().executedPlan().toString())
        new_E = small.localCheckpoint(eager=True)
        E.unpersist()
        E = new_E
    else:
        raise RuntimeError(
            f"star_connected_components did not converge within "
            f"{max_iterations} rounds")
    return _star_labels(E), rounds


def _star_labels(E: DataFrame) -> DataFrame:
    """(node, component) of a star forest of canonical (a > b) edges:
    every child labelled with its root, every root with itself."""
    return (
        E.select(F.col("a").alias("node"), F.col("b").alias("component"))
        .union(E.select(F.col("b").alias("node"),
                        F.col("b").alias("component")))
        .distinct()
    )


def build_components_store(edges: DataFrame, store_dir: str,
                           a_col: str = "a", b_col: str = "b",
                           max_iterations: int = 50) -> DataFrame:
    """Persist a connected-components LABEL MAP so future edge deltas
    never re-run star iterations over historical edges -- the last
    full-recompute in the otherwise delta-disciplined dedup lifecycle
    (signatures, simjoin index, and MinHash store all append; the
    clustering used to start over every time).

    Runs :func:`star_connected_components` once over the initial edge
    set and persists the (node, component) labels versioned
    (``labels/v{N}``) with the fsio meta.json sidecar flipped LAST
    (atomic rename) -- the profile-store discipline: an interrupted
    append leaves the previous version intact and current. Returns the
    labels. Append deltas with :func:`components_append`."""
    from .. import fsio

    spark = edges.sparkSession
    labels, _rounds = star_connected_components(
        edges, a_col=a_col, b_col=b_col, max_iterations=max_iterations)
    labels.write.mode("overwrite").parquet(
        fsio.join(store_dir, "labels/v0"))
    fsio.write_json(spark, fsio.join(store_dir, "meta.json"),
                    {"version": 0, "base": 0})
    return spark.read.parquet(fsio.join(store_dir, "labels/v0"))


def components_read(spark, store_dir: str) -> DataFrame:
    """Current (node, component) label map of a persisted components
    store -- the ONE read path for the delta layout (round 14):
    ``labels/v{base}`` is a full snapshot and every later version
    holds ONLY the labels its append touched, so the current map is
    the newest-wins fold over versions ``base..version`` (one window
    pass; the chain length is bounded by appends-since-compact, and
    :func:`components_compact` resets it to 1). Stores written before
    round 14 have no ``base`` key: every version there is full, so
    the fold degenerates to reading the newest -- same code path,
    zero migration."""
    from functools import reduce

    from .. import fsio

    meta = fsio.read_json(spark, fsio.join(store_dir, "meta.json"))
    cur_v = int(meta["version"])
    base = int(meta.get("base", cur_v))
    if base == cur_v:
        return spark.read.parquet(
            fsio.join(store_dir, f"labels/v{cur_v}"))
    parts = [spark.read.parquet(fsio.join(store_dir, f"labels/v{v}"))
             .withColumn("__v", F.lit(v))
             for v in range(base, cur_v + 1)]
    w = Window.partitionBy("node").orderBy(F.desc("__v"))
    # a NULL component is a TOMBSTONE row (components_delete, round
    # 15): newest-wins first, THEN drop -- so a deleted node stays
    # deleted even though older versions still carry its label, and a
    # compaction's base snapshot (written from this read) is
    # physically tombstone-free
    return (reduce(lambda a, b: a.unionByName(b), parts)
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .where(F.col("component").isNotNull())
            .select("node", "component"))


def components_append(spark, store_dir: str, new_edges: DataFrame,
                      a_col: str = "a", b_col: str = "b",
                      max_iterations: int = 50,
                      batch_id: int | None = None,
                      auto_compact_every: int | None = 32,
                      auto_vacuum_keep: int = 2,
                      fence: dict | None = None) -> DataFrame:
    """Fold an edge DELTA into a persisted components store WITHOUT
    touching historical edges: star iterations run only over the
    CONTRACTED delta graph, whose size tracks |new edges| -- never the
    accumulated edge count.

    Correctness rests on contraction: every stored component is
    connected by construction, so collapsing it to its label preserves
    the connectivity that matters for merging. Each delta edge maps
    its endpoints to their current labels (an unseen node is its own
    label); the star rounds then run on that label graph -- at most
    2 x |new edges| nodes -- and emit old_label -> new_label merges.
    Because every label IS the minimum node id of its component (the
    star fixed point) and node ids are unique, a label-graph node can
    never collide with a distinct new node, and the merged minimum of
    minimums equals the global minimum over the unioned edge set --
    so appended labels equal the one-shot recompute EXACTLY
    (pytest-pinned).

    Per-append cost: the star rounds are O(|delta| log) -- the
    expensive part that used to be O(all edges ever) -- plus one
    broadcast-join pass over the stored label table to find the
    TOUCHED labels. Each version then persists ONLY those (changed +
    new) rows -- round 13 rewrote the FULL label map every append,
    an O(|nodes|) write per delta that dominates at billions of
    nodes; now bytes-written tracks |delta| (pytest + PERF.md) and
    :func:`components_read` folds the chain newest-wins (compact with
    :func:`components_compact` to re-base). ``auto_compact_every``
    bounds the fold: once the delta chain reaches that many versions
    the append re-bases inline (amortized O(|nodes|/K) per append;
    None disables for externally-scheduled compaction). ``batch_id``
    gives the same at-least-once replay idempotence as profile_append
    (the version flip is atomic, so the guard makes folding
    exactly-once). Returns the full updated label map."""
    from .. import fsio, store_fence

    store_fence.fence_check(spark, store_dir, fence)
    meta = fsio.read_json(spark, fsio.join(store_dir, "meta.json"))
    cur = components_read(spark, store_dir)
    if batch_id is not None and batch_id <= meta.get("last_batch_id", -1):
        return cur

    e = (new_edges
         .select(F.greatest(F.col(a_col), F.col(b_col)).alias("a"),
                 F.least(F.col(a_col), F.col(b_col)).alias("b"))
         .where(F.col("a") != F.col("b"))
         .distinct())
    la = cur.select(F.col("node").alias("a"),
                    F.col("component").alias("__la"))
    lb = cur.select(F.col("node").alias("b"),
                    F.col("component").alias("__lb"))
    contracted = (
        e.join(la, "a", "left").join(lb, "b", "left")
        .select(F.coalesce("__la", F.col("a")).alias("ca"),
                F.coalesce("__lb", F.col("b")).alias("cb"))
        .where(F.col("ca") != F.col("cb"))
        .select(F.greatest("ca", "cb").alias("a"),
                F.least("ca", "cb").alias("b"))
        .distinct())
    merge_map, _rounds = star_connected_components(
        contracted, max_iterations=max_iterations)
    merge_map = merge_map.localCheckpoint(eager=True)

    # labels the merge actually CHANGES (broadcast: merge map tracks
    # |delta|); unchanged components write nothing this version
    changed = (cur.join(
        broadcast(merge_map.select(
            F.col("node").alias("component"),
            F.col("component").alias("__new"))),
        "component")
        .where(F.col("__new") != F.col("component"))
        .select("node", F.col("__new").alias("component")))
    # endpoints the store has never seen get their merged (or own) label
    new_nodes = (e.select(F.col("a").alias("node"))
                 .unionByName(e.select(F.col("b").alias("node")))
                 .distinct()
                 .join(cur.select("node"), "node", "anti"))
    added = (new_nodes.join(broadcast(merge_map), "node", "left")
             .select("node",
                     F.coalesce("component", F.col("node"))
                     .alias("component")))
    delta_labels = changed.unionByName(added) \
        .localCheckpoint(eager=True)
    if delta_labels.isEmpty():
        # a no-op delta (edges all inside existing components) still
        # commits a version for replay bookkeeping: one schema-bearing
        # empty file for the fold
        delta_labels = driver_frame(spark, [], delta_labels.schema)

    nxt = int(meta["version"]) + 1
    delta_labels.write.mode("overwrite").parquet(
        fsio.join(store_dir, f"labels/v{nxt}"))
    new_meta = dict(meta)
    new_meta["version"] = nxt
    # legacy (pre-round-14) stores wrote FULL versions and carry no
    # base: their newest pre-append version is the snapshot the delta
    # chain now grows from
    new_meta["base"] = int(meta.get("base", meta["version"]))
    if batch_id is not None:
        new_meta["last_batch_id"] = batch_id
    fsio.write_json(spark, fsio.join(store_dir, "meta.json"), new_meta)
    if auto_compact_every is not None \
            and nxt - new_meta["base"] >= int(auto_compact_every):
        components_compact(spark, store_dir)
        # drop the superseded pre-base dirs too: an inline re-base
        # that never vacuums leaves every version ever written on
        # disk over a long append loop. keep=2 (not vacuum's bare
        # keep=1 default) retains ONE pre-base snapshot: the manual-
        # rollback margin, and a grace window for a concurrent reader
        # mid-fold on the old chain -- the single-writer contract
        # fences writers, not readers (round-15 ADVICE);
        # ``auto_vacuum_keep`` parameterizes it for callers that want
        # a different retention.
        components_vacuum(spark, store_dir, keep=int(auto_vacuum_keep))
    return components_read(spark, store_dir)


def components_delete(spark, store_dir: str, nodes, edges: DataFrame,
                      a_col: str = "a", b_col: str = "b",
                      max_iterations: int = 50,
                      batch_id: int | None = None,
                      fence: dict | None = None) -> DataFrame:
    """Delete nodes from a persisted components store EXACTLY --
    including the re-SPLITS a deletion can cause. Removing a cut
    vertex disconnects its component, and the label map alone cannot
    see that (the store holds labels, not edges); naive tombstoning
    would leave the severed halves sharing a label forever. So the
    delete takes the SURVIVING edge source (*edges* -- in the dedup
    lifecycle, :func:`~.dedup.simjoin_pairs` after the matching
    ``simjoin_delete``; tombstone-filtered pair reads already exclude
    deleted docs) and recomputes labels for exactly the AFFECTED
    components:

    1. the deleted nodes' current labels name the affected components
       (a broadcast-sized set -- bounded by |delete|);
    2. their members (cost ~ sizes of affected components, never
       |nodes|) minus the deleted nodes form the recompute scope;
    3. surviving edges among those members re-cluster via the star
       rounds (O(affected subgraph), the components_append
       discipline);
    4. ONE delta version writes: a NULL-component TOMBSTONE row per
       deleted node AND per member left edge-less (one-shot labels
       only cover edge endpoints), plus the re-split members' new
       labels.

    Every edge touching a deleted node lies inside an affected
    component (its endpoint's component is affected by definition),
    so unaffected components and their labels are untouched -- and
    post-delete :func:`components_read` equals the one-shot
    ``star_connected_components`` over the surviving edge set EXACTLY
    (oracle-pinned). Same versioned-store crash discipline as
    :func:`components_append` (delta dir + atomic meta flip;
    ``last_delete_batch_id`` replay guard); :func:`components_compact`
    folds tombstones away physically (the fold read already excludes
    them). Returns the updated label map."""
    from .. import fsio, store_delete, store_fence

    store_fence.fence_check(spark, store_dir, fence)
    meta = fsio.read_json(spark, fsio.join(store_dir, "meta.json"))
    cur = components_read(spark, store_dir)
    if batch_id is not None \
            and batch_id <= meta.get("last_delete_batch_id", -1):
        return cur
    deleted = store_delete.as_id_frame(spark, nodes, cur, "node") \
        .select(F.col("id").alias("node"))
    affected = (cur.join(broadcast(deleted), "node")
                .select("component").distinct())
    members = cur.join(broadcast(affected), "component") \
        .localCheckpoint(eager=True)
    e = (edges
         .select(F.greatest(F.col(a_col), F.col(b_col)).alias("a"),
                 F.least(F.col(a_col), F.col(b_col)).alias("b"))
         .where(F.col("a") != F.col("b"))
         .distinct())
    sub = (e.join(broadcast(members.select(F.col("node").alias("a"))),
                  "a")
           .join(broadcast(members.select(F.col("node").alias("b"))),
                 "b")
           .join(broadcast(deleted.select(F.col("node").alias("a"))),
                 "a", "left_anti")
           .join(broadcast(deleted.select(F.col("node").alias("b"))),
                 "b", "left_anti"))
    relabeled, _rounds = star_connected_components(
        sub, max_iterations=max_iterations)
    # every affected member gets a delta row: its re-split label, or a
    # tombstone when deleted / left edge-less
    delta = (members.select("node")
             .join(relabeled.withColumnRenamed("component", "__new"),
                   "node", "left")
             .select("node", F.col("__new").alias("component")))
    if delta.isEmpty():
        delta = driver_frame(spark, [], cur.schema)
    delta = delta.localCheckpoint(eager=True)
    nxt = int(meta["version"]) + 1
    delta.write.mode("overwrite").parquet(
        fsio.join(store_dir, f"labels/v{nxt}"))
    new_meta = dict(meta)
    new_meta["version"] = nxt
    new_meta["base"] = int(meta.get("base", meta["version"]))
    if batch_id is not None:
        new_meta["last_delete_batch_id"] = batch_id
    fsio.write_json(spark, fsio.join(store_dir, "meta.json"), new_meta)
    return components_read(spark, store_dir)


def components_compact(spark, store_dir: str,
                       fence: dict | None = None) -> DataFrame:
    """Re-base a components store: fold the delta chain into ONE full
    snapshot version and point ``base`` at it -- the OPTIMIZE step of
    the delta layout. The fold read excludes tombstone rows
    (components_delete), so the re-based snapshot is physically
    tombstone-free -- compaction IS the purge here, no extra pass. Appends write |delta|-sized versions, so after
    many appends the read-side fold unions a long chain; compaction
    resets it to a single read. Crash-safe the same way appends are:
    the full snapshot lands under the NEXT version dir and the meta
    flip (version + base together) is last and atomic -- an
    interrupted compact leaves the old chain serving. Run
    :func:`components_vacuum` afterwards to drop the pre-base dirs.
    Returns the compacted label map."""
    from .. import fsio, store_fence

    store_fence.fence_check(spark, store_dir, fence)
    meta = fsio.read_json(spark, fsio.join(store_dir, "meta.json"))
    cur = components_read(spark, store_dir)
    nxt = int(meta["version"]) + 1
    cur.write.mode("overwrite").parquet(
        fsio.join(store_dir, f"labels/v{nxt}"))
    new_meta = dict(meta)
    new_meta["version"] = nxt
    new_meta["base"] = nxt
    fsio.write_json(spark, fsio.join(store_dir, "meta.json"), new_meta)
    return spark.read.parquet(fsio.join(store_dir, f"labels/v{nxt}"))


def components_vacuum(spark, store_dir: str, keep: int = 1) -> list[int]:
    """Drop label-map versions BELOW the store's base snapshot --
    everything the newest-wins fold can no longer reach (pre-compact
    deltas, superseded snapshots). Versions >= base are live state in
    the delta layout and are never touched; ``keep`` additionally
    retains that many versions counting down from base (keep=2 keeps
    one pre-base version for manual rollback). Returns the versions
    removed."""
    from .. import fsio
    from .quality import vacuum_versions

    meta = fsio.read_json(spark, fsio.join(store_dir, "meta.json"))
    base = int(meta.get("base", meta["version"]))
    return vacuum_versions(spark, fsio.join(store_dir, "labels"),
                           base, keep)


def near_dup_components(embeddings: DataFrame, threshold: float = 0.35,
                        id_col: str = "vec_id",
                        max_iterations: int = 25) -> DataFrame:
    """Connected components over the near-duplicate graph: every vector
    labeled with the MIN id reachable through cosine->=threshold edges --
    the cluster assignment that turns pair evidence into dedup groups
    (keep one representative per component, not per pair).

    The banded pair generator feeds :func:`star_connected_components`
    (driver union-find for small edge sets, star rounds above
    :data:`MAX_COLLECT_EDGES`); one left join labels the isolated
    vectors with themselves. The component label is the min id
    reachable, order- and partitioning-independent, so the result has
    an exact recursive-CTE oracle.
    """
    pairs = pairwise_cosine_above(embeddings, threshold, id_col)
    labels, _rounds = star_connected_components(
        pairs, a_col="id_a", b_col="id_b", max_iterations=max_iterations)
    out = embeddings.select(F.col(id_col).alias("node")).join(
        labels, "node", "left")
    return out.select(
        F.col("node").alias(id_col),
        F.coalesce(F.col("component"), F.col("node")).alias("component"),
    ).orderBy(id_col)


def kmeans_embeddings(embeddings: DataFrame, k: int = 8,
                      iterations: int = 3, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Deterministic mini k-means (Lloyd) over the embedding table --
    the iterative-ML-loop shape on DataFrames, fully oracle-comparable:

    * init: the k lowest-id vectors are the starting centroids
    * assign: cosine argmax against broadcast centroids, sims rounded to
      6 decimals BEFORE the argmax, ties to the lowest centroid id
    * update: per-(cluster, dim) mean through DECIMAL(18,9) sums (exact,
      order-independent), rounded once to 6 decimals; a cluster that
      loses all members keeps its previous centroid
    * fixed ``iterations`` -- no data-dependent convergence test, so the
      DuckDB oracle can unroll the identical recurrence

    Per iteration: one broadcast join + max_by aggregate (assignment) and
    one explode + hash aggregate (update) -- the corpus is scanned, never
    shuffled by pair. At cluster scale add localCheckpoint() every few
    rounds to truncate lineage, same convention as near_dup_pagerank.
    Returns the final (vec_id, cluster) assignment.
    """
    base = _kmeans_base(embeddings, id_col, vec_col)
    cents = kmeans_centroids(embeddings, k, iterations, id_col, vec_col,
                             _base=base)
    return _kmeans_assign(base, cents, id_col).orderBy(id_col)


def _kmeans_base(embeddings: DataFrame, id_col: str,
                 vec_col: str) -> DataFrame:
    v = to_double_array(F.col(vec_col))
    return plan_cache(embeddings.select(F.col(id_col), v.alias("__v")))


def _kmeans_assign(base: DataFrame, cents_df: DataFrame,
                   id_col: str, with_sim: bool = False) -> DataFrame:
    """Broadcast rounded-cosine argmax assignment (map-side max_by, ties
    -> lowest cid). The 6dp rounding and tie-break here are the SINGLE
    source of the assignment ordering every kmeans-family SQL oracle
    mirrors. ``with_sim=True`` additionally returns the winning rounded
    cosine as ``centroid_sim`` (prototype_prune's hardness input)."""
    sim = dot_product(F.col("__v"), F.col("c_vec")) / (
        F.sqrt(dot_product(F.col("__v"), F.col("__v")))
        * F.sqrt(dot_product(F.col("c_vec"), F.col("c_vec"))))
    expanded = (
        base.join(broadcast(cents_df), F.lit(True))
        .withColumn("__sim", F.round(sim, 6))
    )
    if not with_sim:
        pick = F.max_by(
            "cid", F.struct(F.col("__sim"), (-F.col("cid")).alias("nc")))
        return expanded.groupBy(id_col).agg(pick.alias("cluster"))
    pick = F.max_by(
        F.struct(F.col("cid"), F.col("__sim")),
        F.struct(F.col("__sim"), (-F.col("cid")).alias("nc")))
    return (
        expanded.groupBy(id_col)
        .agg(pick.alias("__b"))
        .select(F.col(id_col), F.col("__b.cid").alias("cluster"),
                F.col("__b.__sim").alias("centroid_sim"))
    )


def kmeans_centroids(embeddings: DataFrame, k: int = 8,
                     iterations: int = 3, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     truncate_lineage: bool = False,
                     _base: DataFrame | None = None) -> DataFrame:
    """The trained centroid table (cid, c_vec) from the same Lloyd
    recurrence as :func:`kmeans_embeddings` -- reusable as a coarse
    quantizer (see ivf_topk's trained mode).

    ``truncate_lineage=True`` localCheckpoints the k-row centroid frame
    after every round (eager; coalesced to one partition, so the
    checkpointed content is deterministic): the recurrence references
    the previous round twice, so the LAZY plan doubles per round --
    AQE's stage reuse absorbs that when the result feeds one consumer
    (kmeans_embeddings stays lazy and fast), but compositions that
    broadcast the trained table into further joins re-materialize the
    doubled tree (measured 36 vs 7 jobs at sf0.1) and any
    iterations>3 run risks exponential planning at cluster scale.
    Checkpointing makes both linear at the cost of one tiny job per
    round.

    Round 16: the per-round corpus JOIN-BACK is gone -- the assignment
    aggregate carries the vector through (``any_value(__v)``: ids are
    unique, so every value in the group is THE vector, equal to what
    the old ``base.join(assigned, id_col)`` re-attached), and the
    update explodes the aggregate's output directly. That removes one
    full-corpus shuffle join per iteration at any scale; sims (6dp
    round BEFORE argmax, ties -> lowest cid) and the decimal means are
    expression-identical, so the recurrence the SQL oracle unrolls is
    bit-for-bit unchanged. (A driver-side literal-centroid formulation
    -- one fused job per round, k rows collected -- was A/B'd and
    REJECTED: per-round Catalyst planning + codegen of the new plan
    costs 1.8-3.3 s at local scale vs 0.75 s for this whole lazy
    3-round plan; see OPTIMIZATION_r16.md.)

    Trade-offs of the eager checkpoint, stated explicitly: (a) the Lloyd
    training runs at DataFrame-CONSTRUCTION time (building the plan
    costs iterations x 2 small jobs even if the result is never acted
    on); (b) the k-row checkpoint blocks live outside the plan_cache
    lifecycle -- kilobytes per call here, freed on driver GC; (c)
    localCheckpoint is non-reliable storage: on a real cluster an
    executor loss invalidates the blocks and later actions fail rather
    than recompute -- swap in reliable ``checkpoint()`` (HDFS/object
    store) when running with decommissionable executors."""
    base = _base if _base is not None else _kmeans_base(
        embeddings, id_col, vec_col)
    cents = (
        base.orderBy(id_col).limit(k)
        .select(F.col(id_col).alias("cid"), F.col("__v").alias("c_vec"))
    )
    sim = dot_product(F.col("__v"), F.col("c_vec")) / (
        F.sqrt(dot_product(F.col("__v"), F.col("__v")))
        * F.sqrt(dot_product(F.col("c_vec"), F.col("c_vec"))))
    pick = F.max_by(
        "cid", F.struct(F.col("__sim"), (-F.col("cid")).alias("nc")))
    for _ in range(iterations):
        # fused assign+carry: the same broadcast-expand + rounded-sim
        # max_by as _kmeans_assign, but the aggregate also carries the
        # row's vector out (any_value is deterministic here: the group
        # is one id's k expansion rows, all sharing one __v), so the
        # update explodes the aggregate output directly instead of
        # joining the corpus back to a bare (id, cluster) assignment
        winners = (
            base.join(broadcast(cents), F.lit(True))
            .withColumn("__sim", F.round(sim, 6))
            .groupBy(id_col)
            .agg(pick.alias("__w"), F.any_value("__v").alias("__v"))
        )
        members = winners.select(
            F.col("__w").alias("cid"),
            F.posexplode(F.col("__v")).alias("dim", "val"))
        new_cents = (
            members.groupBy("cid", "dim")
            .agg(F.round(
                F.sum(F.col("val").cast("decimal(18,9)")).cast("double")
                / F.count(F.lit(1)), 6).alias("cv"))
            .groupBy("cid")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cv"))),
                lambda s: s["cv"]).alias("c_vec"))
        )
        # empty clusters keep their previous centroid. The recurrence
        # references the previous centroids twice (assignment + this
        # left join); by default it stays LAZY (AQE stage reuse dedupes
        # the doubled subtrees when one consumer executes the plan, and
        # a per-round plan_cache variant measured 2.8x slower), while
        # truncate_lineage=True checkpoints each round for the composed
        # consumers where stage reuse does not reach -- see docstring.
        cents = (
            cents.alias("o")
            .join(new_cents.alias("n"), "cid", "left")
            .select("cid", F.coalesce(F.col("n.c_vec"),
                                      F.col("o.c_vec")).alias("c_vec"))
        )
        if truncate_lineage:
            cents = cents.coalesce(1).localCheckpoint(eager=True)
    return cents


def near_dup_triangles(embeddings: DataFrame, threshold: float = 0.25,
                       id_col: str = "vec_id") -> DataFrame:
    """Per-node triangle counts over the near-duplicate graph: how many
    cosine>=threshold triangles pass through each vector. Triangle density
    separates genuine duplicate CLUSTERS (mutually-similar groups worth
    one representative) from star-shaped false-positive hubs (one template
    weakly matching many unrelated docs) -- the standard graph evidence a
    dedup review adds next to components and pagerank.

    Plan: each triangle a<b<c is found exactly once by the classic
    two-join enumeration (e1(a,b) |x| e2(b,c) on b, then closing edge
    e3(a,c)); nodes explode out of the closed triangles and one hash
    aggregate counts per node. Edge lists are cached once; everything is
    equi-joins -- at cluster scale this is the MapReduce triangle-count
    shape (partition by lowest-degree vertex to bound join fan-out).
    """
    pairs = pairwise_cosine_above(embeddings, threshold, id_col)
    edges = plan_cache(pairs.select(F.col("id_a").alias("a"),
                                    F.col("id_b").alias("b")))
    e2 = edges.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = edges.select(F.col("a").alias("a"), F.col("b").alias("c"))
    tri = (
        edges.join(e2, "b")
        .join(e3, ["a", "c"])           # closing edge => triangle a<b<c
        .select("a", "b", "c")
    )
    node = tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
    return (
        node.groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .select(F.col("node").alias(id_col), "n_triangles")
        .orderBy(id_col)
    )


def near_dup_pagerank(embeddings: DataFrame, threshold: float = 0.35,
                      iterations: int = 5, damping: float = 0.85,
                      id_col: str = "vec_id") -> DataFrame:
    """PageRank over the near-duplicate graph: rank(v) after a FIXED
    number of power iterations of r' = (1-d)/N + d * sum(r(u)/deg(u))
    over cosine>=threshold edges (symmetric). High-rank nodes are the
    "hub" documents duplicated most broadly -- the centrality evidence a
    curation pipeline uses to pick canonical representatives (vs
    components' arbitrary min-id rule).

    The canonical iterative-DataFrame-loop pattern: edges and degrees are
    computed once and cached; each iteration is one join + one partial+
    final aggregate; the fixed iteration count keeps it deterministic and
    oracle-comparable (the DuckDB oracle unrolls the same recurrence).
    Isolated nodes hold (1-d)/N after the first iteration; mass leaking
    through dangling nodes is NOT redistributed (mirrored in the oracle).
    At cluster scale add localCheckpoint() every few rounds to truncate
    lineage; 5 rounds does not need it.
    """
    pairs = pairwise_cosine_above(embeddings, threshold, id_col)
    # coalesce(1): the near-dup subgraph is bounded by construction -- 5
    # rounds of 32-partition shuffles on a 200-row frame is pure
    # scheduling overhead. At cluster scale remove it and the identical
    # plan shards.
    edges = plan_cache((
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"),
                            F.col("id_a").alias("dst")))
    ).coalesce(1))
    nodes = plan_cache(
        embeddings.select(F.col(id_col).alias("node")).coalesce(1))
    n = nodes.count()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    base = (1.0 - damping) / n
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(iterations):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .join(deg, "src")
            .select(F.col("dst").alias("node"),
                    (F.col("rank") / F.col("out_deg")).alias("__c"))
        )
        in_mass = contrib.groupBy("node").agg(F.sum("__c").alias("__m"))
        ranks = nodes.join(in_mass, "node", "left").select(
            "node",
            (F.lit(base)
             + F.lit(damping) * F.coalesce(F.col("__m"), F.lit(0.0)))
            .alias("rank"),
        )
    return (
        ranks.select(F.col("node").alias(id_col),
                     F.round(F.col("rank"), 6).alias("pagerank"))
        .orderBy(F.desc("pagerank"), id_col)
    )


def dedup_representatives(embeddings: DataFrame, scores: DataFrame,
                          threshold: float = 0.8,
                          id_col: str = "vec_id",
                          score_col: str = "score") -> DataFrame:
    """Quality-aware canonical selection over near-duplicate clusters:
    connected components of the cosine>=threshold graph pick ONE
    representative each -- the member with the highest ``score_col``
    (ties -> lowest id). This is the production keep-rule
    (:func:`semantic_dedup`'s min-id rule is the cheap deterministic
    baseline; real pipelines keep the longest / highest-quality / most
    central member, any of which arrives here as the score column, e.g.
    token count, gopher pass count, or negated LM perplexity).

    Plan: components come from :func:`near_dup_components` (banded
    candidate generation, driver/distributed flip); scores join on id
    (at scale both sides are id-partitioned); the per-component argmax
    is one max_by aggregate with map-side partial combine -- no window
    sort, no per-component shuffle of score payloads beyond the struct.
    """
    comp = plan_cache(near_dup_components(embeddings, threshold, id_col))
    # n_members counts EVERY component member; the argmax runs over the
    # scored members only (inner join), so a member missing from
    # ``scores`` can never silently shrink the cluster size -- if a
    # whole component carries no score row, its representative columns
    # come back NULL rather than the component vanishing
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"))
    joined = comp.join(
        scores.select(F.col(id_col), F.col(score_col).alias("__s")),
        id_col)
    pick = F.max_by(
        F.struct(F.col(id_col).alias("rid"), F.col("__s")),
        F.struct(F.col("__s"), (-F.col(id_col)).alias("ni")))
    reps = joined.groupBy("component").agg(pick.alias("__b"))
    return (
        sizes.join(reps, "component", "left")
        .select(
            "component",
            F.col("__b.rid").alias("representative"),
            F.col("__b.__s").alias("rep_score"),
            "n_members",
        )
        .orderBy("component")
    )


def ivfpq_rerank(spark, store_dir: str, queries: DataFrame, k: int = 5,
                 rerank: int = 20, n_probe: int = 4,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 embeddings: DataFrame | None = None) -> DataFrame:
    """Two-stage ANN serving over a persisted IVF-PQ index: the ADC
    probe shortlists ``rerank`` candidates per query from CODES alone
    (partition-pruned, compressed -- :func:`ivfpq_probe`), then the
    shortlist's RAW vectors are point-looked-up and re-scored with
    EXACT cosine, returning the exact-scored top ``k``. This is the
    standard production refinement (FAISS's refine/IndexRefineFlat):
    the expensive exact read touches only queries x rerank rows instead
    of the corpus, and recall at the same k rises toward the shortlist
    ceiling -- measured against the plain probe in PERF.md.

    ``embeddings`` is the raw-vector table to rerank against (the same
    corpus the index was built from); the join to it is a SELECTIVE
    equi-join on the shortlist ids -- broadcastable at serving scale.
    Exactly SQL-expressible: the shortlist CTE is the probe oracle with
    k=rerank, the rerank is a plain cosine over it (same 6dp rounding
    and id tiebreaks as cosine_topk)."""
    if embeddings is None:
        # validate BEFORE the probe -- ivfpq_probe runs eagerly
        # (driver-side collects + ADC scan); a misuse error must not
        # cost a complete probe first
        raise ValueError("ivfpq_rerank needs the raw-vector table")
    shortlist = ivfpq_probe(spark, store_dir, queries, k=rerank,
                            n_probe=n_probe, id_col=id_col,
                            vec_col=vec_col) \
        .select("query_id", "neighbor_id")
    q = _prep(queries, id_col, vec_col, "q") \
        .withColumnRenamed("q_id", "query_id")
    c = _prep(embeddings, id_col, vec_col, "c") \
        .withColumnRenamed("c_id", "neighbor_id")
    sim = dot_product(F.col("q_vec"), F.col("c_vec")) / (
        F.col("q_norm") * F.col("c_norm"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (shortlist.join(c, "neighbor_id").join(broadcast(q),
                                                  "query_id")
            .withColumn("cosine_sim", F.round(sim, 6))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine_sim", "rank")
            .orderBy("query_id", "rank"))
