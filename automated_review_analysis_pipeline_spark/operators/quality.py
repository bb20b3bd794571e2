"""Data-quality expectations: declarative row-level rules evaluated in
ONE pass, plus uniqueness checks -- the contract-enforcement layer a
pipeline runs before publishing a table (the Delta Live Tables /
Great Expectations shape, rebuilt on plain DataFrame ops).

Row rules compile to ``sum(rule violated)`` aggregates inside a single
hash aggregation: one scan, map-side partials, no per-rule jobs.
Uniqueness rules need their own groupBy (a shuffle per distinct key set)
-- that cost is inherent to the check, so they are listed separately and
the single-pass guarantee is kept honest.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from automated_review_analysis_pipeline_spark.session import driver_frame


def expectations_report(df: DataFrame,
                        rules: dict[str, Column],
                        unique: dict[str, list[str]] | None = None
                        ) -> DataFrame:
    """Evaluate named expectations and return one row per rule:
    (rule, n_violations, violation_rate).

    ``rules`` maps rule name -> BOOLEAN Column that is True when the row
    SATISFIES the expectation (NULL counts as a violation -- an
    expectation that cannot be evaluated is not met). ``unique`` maps
    rule name -> key column list; its violation count is the number of
    EXTRA rows beyond one per key (0 = key is unique).
    """
    if not rules and not unique:
        raise ValueError("at least one rule required")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for name, cond in rules.items():
        aggs.append(
            F.sum(F.when(F.coalesce(cond, F.lit(False)), 0).otherwise(1))
            .alias(name))
    base = df.agg(*aggs).collect()[0]
    n_rows = base["__n"]
    out_rows = [(name, int(base[name])) for name in rules]

    for name, keys in (unique or {}).items():
        extra = (
            df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__c"))
            .where(F.col("__c") > 1)
            .agg(F.coalesce(F.sum(F.col("__c") - 1), F.lit(0)).alias("x"))
            .collect()[0]["x"])
        out_rows.append((name, int(extra)))

    spark = df.sparkSession
    res = driver_frame(spark, out_rows, "rule string, n_violations long")
    denom = float(n_rows) if n_rows else 1.0
    return (
        res.select(
            "rule", "n_violations",
            F.round(F.col("n_violations") / F.lit(denom), 6)
            .alias("violation_rate"))
        .orderBy("rule")
    )


def table_fingerprint(df: DataFrame, group_cols: list[str],
                      cols: list[str] | None = None) -> DataFrame:
    """Cross-engine, order-independent content fingerprint per group:
    the backfill/migration validation primitive -- run it on both sides
    of a copy (engines, clusters, formats) and compare (n_rows,
    fingerprint) per partition group instead of shipping either dataset.

    Each row canonicalizes to md5(concat_ws(US, <cols as strings>))
    with NULL -> a sentinel (so NULL and the string 'null' differ);
    the group fingerprint is the BIT_XOR of the first-12-hex-digit
    integers of those hashes -- commutative (row order never matters),
    overflow-free at any row count, and identical arithmetic on any
    engine with md5 + xor (the same portability discipline as the
    split/quota/HLL operators). One hash aggregate with map-side
    partials: at 100 TB this runs at scan parallelism and shuffles one
    (group, 8-byte xor, count) triple per group.
    """
    use_cols = cols if cols is not None else [
        c for c in df.columns if c not in group_cols]
    canon = [F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL\x00"))
             for c in use_cols]
    row_h = F.conv(
        F.substring(F.md5(F.concat_ws("\x1f", *canon)), 1, 12), 16, 10
    ).cast("long")
    return (
        df.select(*group_cols, row_h.alias("__h"))
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(__h)").alias("fingerprint"),
        )
        .orderBy(*group_cols)
    )


def _row_canon_hash(cols: list[str]) -> Column:
    """64-bit row hash over the table_fingerprint canonical form
    (US-joined, NULL-sentineled string casts -- hashing the CANONICAL
    STRING, not the raw columns, keeps ('x', NULL) distinct from
    (NULL, 'x'): Spark's multi-arg xxhash64 skips NULL columns, which
    would collide those). xxhash64 stays JVM-native with no string
    slicing; the diff hash never crosses engines (the oracle compares
    full values), so portability is not a constraint here, unlike
    table_fingerprint's cross-engine md5 fold."""
    canon = [F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL\x00"))
             for c in cols]
    return F.xxhash64(F.concat_ws("\x1f", *canon))


def table_diff(old: DataFrame, new: DataFrame, key_cols: list[str],
               compare_cols: list[str] | None = None) -> DataFrame:
    """Snapshot diff: one row per key that was ADDED, REMOVED, or
    CHANGED between two versions of a table -- the migration/backfill
    validation primitive one step finer than
    :func:`table_fingerprint` (which says WHETHER a group diverged;
    this says WHICH keys and HOW).

    Each side reduces to (key, row_hash) before the full outer join, so
    the shuffle carries two longs per row, never the payload; unchanged
    keys (the overwhelming majority in any real diff) are filtered
    post-join with no further work. At 100 TB bucket both snapshots by
    the key for an exchange-free sort-merge. Output: key columns +
    ``diff_status`` in {'added','removed','changed'}, sorted by key.

    The hash comparison is probabilistic BY DESIGN: a changed key whose
    old/new payloads collide under the 64-bit xxhash64 row hash reports
    as unchanged with probability ~2^-64 per changed key -- the
    standard diff tradeoff (shuffling two longs instead of the payload).
    The DuckDB oracle compares full values, which is strictly stronger;
    any divergence would surface there first."""
    use_cols = compare_cols if compare_cols is not None else [
        c for c in new.columns if c not in key_cols]
    o = old.select(*key_cols, _row_canon_hash(use_cols).alias("__old_h"))
    n = new.select(*key_cols, _row_canon_hash(use_cols).alias("__new_h"))
    joined = o.join(n, key_cols, "full_outer")
    status = (
        F.when(F.col("__old_h").isNull(), F.lit("added"))
        .when(F.col("__new_h").isNull(), F.lit("removed"))
        .when(F.col("__old_h") != F.col("__new_h"), F.lit("changed"))
    )
    return (
        joined.withColumn("diff_status", status)
        .where(F.col("diff_status").isNotNull())
        .select(*key_cols, "diff_status")
        .orderBy(*key_cols)
    )


def psi_drift(documents: DataFrame, value_col: str = "n_chars",
              n_bins: int = 10, bin_width: int = 200) -> DataFrame:
    """Population Stability Index between the train and test splits of a
    corpus -- the standard production drift monitor: bucketize a numeric
    signal into equi-width bins, compare the two bin-share distributions,
    and report each bin's contribution psi = (p - q) * ln(p / q). Total
    PSI (sum of terms) > 0.2 conventionally flags actionable drift; here
    the reference/current populations are the deterministic hash splits
    (so on an UNSHIFTED corpus PSI ~ 0, a self-test of the split's
    uniformity), and retargeting ``documents`` to two time windows or
    snapshot versions monitors real drift with the same plan.

    Add-half smoothing ((n + 0.5) / (N + 0.5 * B)) keeps empty bins
    finite without dropping them, and the output always carries the FULL
    0..n_bins-1 spine (a static n_bins-row frame left-joined with the
    observed counts), so the emitted p/q shares sum to 1 and total PSI
    equals the standard all-bins formula even when some bins are empty
    in both splits. Values below 0 (or NULL) clamp into bin 0, values
    past the last edge into bin n_bins-1. Plan: one narrow projection
    (split hash + bin), one hash aggregate pivoting both sides via
    conditional sums, a broadcast join against the tiny spine, then
    per-bin arithmetic against broadcast totals -- one shuffle on the
    bin key regardless of corpus size. Terms round to 9dp for the
    cross-engine oracle.
    """
    from automated_review_analysis_pipeline_spark.operators.curation import (
        split_label,
    )

    binned = documents.select(
        split_label("doc_id").alias("split"),
        F.greatest(
            F.lit(0),
            F.least(F.lit(n_bins - 1),
                    F.floor(F.coalesce(F.col(value_col), F.lit(0))
                            / bin_width)))
        .cast("int")
        .alias("bin"),
    ).where(F.col("split").isin("train", "test"))
    spine = documents.sparkSession.range(n_bins).select(
        F.col("id").cast("int").alias("bin"))
    counts = (
        spine.join(
            binned.groupBy("bin").agg(
                F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
                .alias("n_ref"),
                F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
                .alias("n_cur"),
            ),
            "bin", "left")
        .na.fill(0, ["n_ref", "n_cur"])
    )
    totals = counts.agg(F.sum("n_ref").alias("__tr"),
                        F.sum("n_cur").alias("__tc"))
    p = ((F.col("n_ref") + 0.5)
         / (F.col("__tr") + 0.5 * n_bins))
    q = ((F.col("n_cur") + 0.5)
         / (F.col("__tc") + 0.5 * n_bins))
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "bin", "n_ref", "n_cur",
            F.round((p - q) * F.log(p / q), 9).alias("psi_term"),
        )
        .orderBy("bin")
    )


def _column_kinds(df: DataFrame) -> dict[str, tuple[str, str]]:
    """{name: (stat_kind, ndv_kind)} per column. stat_kind drives the
    typed min/max slots ("num"/"str"/"other"); ndv_kind drives the
    portable-HLL hash key ("str" = cast-to-string is cross-engine
    stable: integrals, strings, booleans, dates; "micros" = hash the
    unix-micro long of a timestamp; "none" = no portable hash exists
    (floats' string formatting is engine-specific; maps aren't even
    comparable), so hll mode reports NULL ndv and the exact mode is
    the lane for them)."""
    from pyspark.sql.types import (
        BooleanType,
        DateType,
        DoubleType,
        FloatType,
        MapType,
        NumericType,
        StringType,
        TimestampNTZType,
        TimestampType,
    )

    kinds: dict[str, tuple[str, str]] = {}
    for f in df.schema.fields:
        if isinstance(f.dataType, (TimestampType, TimestampNTZType)):
            kinds[f.name] = ("num", "micros")
        elif isinstance(f.dataType, DateType):
            kinds[f.name] = ("num", "str")
        elif isinstance(f.dataType, BooleanType):
            kinds[f.name] = ("num", "str")
        elif isinstance(f.dataType, (DoubleType, FloatType)):
            kinds[f.name] = ("num", "none")
        elif isinstance(f.dataType, NumericType):
            kinds[f.name] = ("num", "str")
        elif isinstance(f.dataType, StringType):
            kinds[f.name] = ("str", "str")
        elif isinstance(f.dataType, MapType):
            kinds[f.name] = ("other", "none")
        else:
            kinds[f.name] = ("other", "none")
    return kinds


def _num_expr(df: DataFrame, name: str) -> Column:
    from pyspark.sql.types import (
        BooleanType,
        DateType,
        TimestampNTZType,
        TimestampType,
    )

    c = F.col(name)
    dt = df.schema[name].dataType
    if isinstance(dt, (TimestampType, TimestampNTZType, DateType)):
        return F.unix_micros(c.cast("timestamp")).cast("double")
    if isinstance(dt, BooleanType):
        return c.cast("int").cast("double")
    return c.cast("double")


def column_stats(df: DataFrame, ndv: str = "hll") -> DataFrame:
    """ANALYZE-style per-column statistics: for every column,
    (n_rows, n_nulls, n_distinct, typed min/max) -- the stats table
    every optimizer, data-quality monitor, and "what is in this 100 TB
    table" first-look needs. min/max land in TYPED slots so no
    engine-specific string formatting can diverge: numerics (and
    timestamps, as unix micros) fill ``min_num/max_num``; strings fill
    ``min_str/max_str``; booleans count as numeric 0/1; other types
    (arrays, structs, binary) report counts only. ``n_distinct`` is a
    DOUBLE in every mode (integer-exact when the mode is exact).

    ``ndv`` picks the distinct-count lane -- and with it the PHYSICAL
    SHAPE of the job, which is the whole point at 100 TB:

    * ``"hll"`` (default): portable-HLL estimate per column. One scan
      melts each row into k tiny (column, bucket, rho, bounds) tuples
      that PARTIALLY AGGREGATE before the shuffle -- at most
      k x 512 register rows (plus k min/max rows) leave each task, a
      CONSTANT independent of data size or cardinality, and the plan
      contains no Expand. The registers use the cross-engine md5 hash
      convention (sketches.py HLL constants), so a DuckDB oracle
      reproduces the ESTIMATE exactly -- approximate but
      deterministically checkable. Float/double and non-comparable
      columns report NULL ndv in this mode (their cast-to-string is
      engine-specific; use exact mode for them).
    * ``"exact"``: count_distinct per column in one wide agg. Catalyst
      compiles multiple distinct aggregates via an Expand node -- every
      row replicated once per column, and every distinct VALUE of every
      column (full text bodies included) survives the map side into the
      shuffle. Correct, and the right tool on small/medium tables; on
      a 100-TB table the shuffle is cardinality-bound, which is why it
      is opt-in rather than the default.
    * ``"approx"``: Spark-native approx_count_distinct in the same
      single wide agg -- no Expand, constant sketch state, fastest;
      engine-private sketch, so cross-engine checks are rows-only.
    """
    if ndv not in ("hll", "exact", "approx"):
        raise ValueError(f"ndv must be hll|exact|approx, got {ndv!r}")
    if ndv == "hll":
        return _column_stats_hll(df)
    return _column_stats_wide(df, exact=(ndv == "exact"))


def _column_stats_wide(df: DataFrame, exact: bool) -> DataFrame:
    """The single-wide-agg lane (exact or Spark-native approx ndv)."""
    from pyspark.sql.types import MapType

    kinds = _column_kinds(df)
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for f in df.schema.fields:
        c = F.col(f.name)
        k = kinds[f.name][0]
        aggs.append(F.count(F.when(c.isNull(), 1))
                    .alias(f"__nulls_{f.name}"))
        # maps are not comparable -- count_distinct would throw; report
        # NULL ndv for them instead of failing the whole profile
        if isinstance(f.dataType, MapType):
            aggs.append(F.lit(None).cast("double")
                        .alias(f"__nd_{f.name}"))
        elif exact:
            aggs.append(F.count_distinct(c).cast("double")
                        .alias(f"__nd_{f.name}"))
        else:
            aggs.append(F.approx_count_distinct(c).cast("double")
                        .alias(f"__nd_{f.name}"))
        if k == "num":
            num = _num_expr(df, f.name)
            aggs.append(F.min(num).alias(f"__min_{f.name}"))
            aggs.append(F.max(num).alias(f"__max_{f.name}"))
        elif k == "str":
            aggs.append(F.min(c).alias(f"__min_{f.name}"))
            aggs.append(F.max(c).alias(f"__max_{f.name}"))
    one = df.agg(*aggs)

    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    structs = []
    for f in df.schema.fields:
        k = kinds[f.name][0]
        structs.append(F.struct(
            F.lit(f.name).alias("column"),
            F.col("__n").cast("long").alias("n_rows"),
            F.col(f"__nulls_{f.name}").cast("long").alias("n_nulls"),
            F.col(f"__nd_{f.name}").alias("n_distinct"),
            (F.round(F.col(f"__min_{f.name}"), 6) if k == "num"
             else null_d).alias("min_num"),
            (F.round(F.col(f"__max_{f.name}"), 6) if k == "num"
             else null_d).alias("max_num"),
            (F.col(f"__min_{f.name}") if k == "str"
             else null_s).alias("min_str"),
            (F.col(f"__max_{f.name}") if k == "str"
             else null_s).alias("max_str"),
        ))
    return (one.select(F.explode(F.array(*structs)).alias("s"))
            .select("s.*").orderBy("column"))


def _profile_stage1(df: DataFrame) -> DataFrame:
    """The melt + partial-aggregate stage of the portable profile: one
    scan melts each row into k (column, num, str, is_null, hll key)
    tuples and groups by (column, bucket) -- max register, partial
    min/max/counts -- so the shuffle carries at most k x (512+1) rows
    PER TASK regardless of table size. The output is the MERGEABLE
    profile state (register max + count/bound merges are associative
    and commutative), which is what the incremental profile store
    persists. NULL hash keys (null values, float/other columns) group
    under a NULL bucket that still merges counts/bounds but is
    excluded from the register math."""
    from ..operators.sketches import HLL_RHO_CLAMP, HLL_W_BITS

    kinds = _column_kinds(df)
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    structs = []
    for f in df.schema.fields:
        c = F.col(f.name)
        k, nk = kinds[f.name]
        if nk == "str":
            key = c.cast("string")
        elif nk == "micros":
            key = F.unix_micros(c.cast("timestamp")).cast("string")
        else:
            key = null_s
        structs.append(F.struct(
            F.lit(f.name).alias("column"),
            (F.round(_num_expr(df, f.name), 6) if k == "num"
             else null_d).alias("num"),
            (c if k == "str" else null_s).alias("str"),
            F.when(c.isNull(), 1).otherwise(0).alias("is_null"),
            key.alias("key"),
            F.lit(nk != "none").alias("has_ndv"),
        ))
    long = (df.select(F.explode(F.array(*structs)).alias("s"))
            .select("s.*"))
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("hll:"), F.col("key"))), 1, 15),
        16, 10).cast("long")
    staged = long.select("column", "num", "str", "is_null", "has_ndv",
                         h.alias("__h"))
    hc = F.col("__h")
    w = hc.bitwiseAND(F.lit((1 << HLL_W_BITS) - 1))
    rho = F.least(
        F.when(w == 0, F.lit(HLL_W_BITS + 1)).otherwise(
            F.lit(HLL_W_BITS + 1) - F.length(F.conv(w, 10, 2))),
        F.lit(HLL_RHO_CLAMP))
    return (staged
            .select("column", "num", "str", "is_null", "has_ndv",
                    F.shiftrightunsigned(hc, HLL_W_BITS)
                    .alias("bucket"), rho.alias("rho"))
            .groupBy("column", "bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("is_null").alias("nulls"),
                 F.max("has_ndv").alias("has_ndv"),
                 F.min("num").alias("mn_num"),
                 F.max("num").alias("mx_num"),
                 F.min("str").alias("mn_str"),
                 F.max("str").alias("mx_str"),
                 F.max("rho").alias("reg")))


def _merge_stage1(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two profile states: per (column, bucket), counts add,
    bounds min/max, registers max -- the HLL/bounds merge law."""
    return (a.unionByName(b)
            .groupBy("column", "bucket")
            .agg(F.sum("n").alias("n"),
                 F.sum("nulls").alias("nulls"),
                 F.max("has_ndv").alias("has_ndv"),
                 F.min("mn_num").alias("mn_num"),
                 F.max("mx_num").alias("mx_num"),
                 F.min("mn_str").alias("mn_str"),
                 F.max("mx_str").alias("mx_str"),
                 F.max("reg").alias("reg")))


def _profile_finalize(spark, stage1: DataFrame,
                      fields: list[tuple[str, bool]]) -> DataFrame:
    """(column, n_rows, n_nulls, n_distinct, typed min/max) from a
    profile state: merge bounds and compute the Flajolet estimate as
    pure column math. ``fields`` is [(column, ndvable)] -- the schema
    anchor that keeps the one-row-per-column contract on empty input."""
    from ..operators.sketches import (
        HLL_ALPHA,
        HLL_M,
        HLL_RHO_CLAMP,
    )

    null_d = F.lit(None).cast("double")
    live = F.col("bucket").isNotNull()
    scale = float(1 << HLL_RHO_CLAMP)
    est = (stage1.groupBy("column")
           .agg(F.sum("n").alias("n_rows"),
                F.sum("nulls").alias("n_nulls"),
                F.max("has_ndv").alias("has_ndv"),
                F.min("mn_num").alias("min_num"),
                F.max("mx_num").alias("max_num"),
                F.min("mn_str").alias("min_str"),
                F.max("mx_str").alias("max_str"),
                F.coalesce(F.sum(F.when(live, F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), "
                    f"CAST({HLL_RHO_CLAMP} - reg AS INT))"))),
                    F.lit(0)).alias("s_int"),
                F.count(F.when(live, 1)).alias("observed"))
           .withColumn("v_zero", F.lit(HLL_M) - F.col("observed"))
           .withColumn("total",
                       F.col("s_int").cast("double") / F.lit(scale)
                       + F.col("v_zero").cast("double"))
           .withColumn("e_raw",
                       F.lit(HLL_ALPHA * HLL_M * HLL_M) / F.col("total"))
           .withColumn("n_distinct", F.when(~F.col("has_ndv"), null_d)
                       .otherwise(F.round(
                           F.when((F.col("e_raw") <= F.lit(2.5 * HLL_M))
                                  & (F.col("v_zero") > 0),
                                  F.lit(float(HLL_M))
                                  * F.log(F.lit(float(HLL_M))
                                          / F.col("v_zero")
                                          .cast("double")))
                           .otherwise(F.col("e_raw")), 4))))
    # empty input produces no groups; re-anchor on the schema so the
    # contract (one row per column, n_rows 0) holds like the wide lane
    names = driver_frame(spark, list(fields),
                         "column string, ndvable boolean")
    return (names.join(est, "column", "left")
            .select("column",
                    F.coalesce("n_rows", F.lit(0)).cast("long")
                    .alias("n_rows"),
                    F.coalesce("n_nulls", F.lit(0)).cast("long")
                    .alias("n_nulls"),
                    F.when(F.col("n_rows").isNull() & F.col("ndvable"),
                           F.lit(0.0))
                    .otherwise(F.col("n_distinct")).alias("n_distinct"),
                    "min_num", "max_num", "min_str", "max_str")
            .orderBy("column"))


def _column_stats_hll(df: DataFrame) -> DataFrame:
    """The default lane: :func:`_profile_stage1` (constant-shuffle
    melt) finalized in one pass -- the single-shot composition of the
    same two stages the incremental profile store persists and
    merges. The melt inflates rows k x BEFORE the partial aggregate
    (the in-memory shape Expand has), but unlike exact count_distinct
    nothing cardinality-bound ever reaches the wire."""
    kinds = _column_kinds(df)
    fields = [(f.name, kinds[f.name][1] != "none")
              for f in df.schema.fields]
    return _profile_finalize(df.sparkSession, _profile_stage1(df), fields)


# ---------------------------------------------------------------------------
# incremental profile store
# ---------------------------------------------------------------------------
#
# The 100-TB ANALYZE problem: a full profile re-scan per corpus refresh
# is the dominant recurring cost of stats maintenance. The profile
# state (_profile_stage1's (column, bucket) register/bound/count table,
# <= k x 513 rows TOTAL) is mergeable by construction, so it persists
# as a tiny parquet table and every append folds ONLY the delta's scan
# into it -- the same persisted-incremental discipline as the simjoin
# and IVF-PQ stores, at ANALYZE's price point: the state is KBs however
# large the profiled corpus. Versioned layout (registers/v{N}) with the
# fsio meta.json sidecar flipped LAST (atomic rename), so readers
# always see a complete version and an interrupted append leaves the
# previous version intact and current.

def build_profile_store(df: DataFrame, store_dir: str) -> DataFrame:
    """Profile ``df`` and persist the mergeable state; returns the
    stats (== column_stats(df) exactly)."""
    from .. import fsio

    spark = df.sparkSession
    kinds = _column_kinds(df)
    fields = [[f.name, kinds[f.name][1] != "none"]
              for f in df.schema.fields]
    stage1 = _profile_stage1(df)
    stage1.write.mode("overwrite").parquet(
        fsio.join(store_dir, "registers/v0"))
    fsio.write_json(spark, fsio.join(store_dir, "meta.json"),
                    {"version": 0, "fields": fields})
    return _profile_finalize(
        spark, spark.read.parquet(fsio.join(store_dir, "registers/v0")),
        [tuple(f) for f in fields])


def profile_append(spark, store_dir: str, delta: DataFrame,
                   batch_id: int | None = None,
                   fence: dict | None = None) -> DataFrame:
    """Fold a DELTA into the persisted profile: scan the delta only,
    merge its state with the stored state, write the next version, and
    flip meta.json atomically. The merged stats equal a one-shot
    profile of (original UNION all deltas) EXACTLY -- registers are
    max-merged, counts summed, bounds min/max-merged; pytest pins
    append == one-shot. Column names must match the store's profiled
    schema (a drifted delta raises instead of silently merging
    mismatched registers). Single-writer discipline, like every
    persisted store here: two concurrent appends would both write
    v(N+1) and the later meta flip would silently drop the earlier
    delta -- serialize appends (the streaming lane's foreachBatch does
    this by construction).

    ``batch_id`` makes the append IDEMPOTENT under at-least-once
    replay (Structured Streaming's foreachBatch contract): the store's
    meta.json records the last applied batch id, and an append whose
    ``batch_id`` <= the recorded one is a NO-OP (counts/null sums are
    not idempotent, so a replayed micro-batch would otherwise fold
    twice). Because the register write lands BEFORE the meta flip and
    the flip is atomic, a crash mid-append replays as if the append
    never happened -- the guard plus the version flip give
    exactly-once folding end to end. Non-streaming callers may omit
    it (no replay source exists there)."""
    from .. import fsio, store_fence

    store_fence.fence_check(spark, store_dir, fence)
    meta = fsio.read_json(spark, fsio.join(store_dir, "meta.json"))
    if batch_id is not None and batch_id <= meta.get("last_batch_id", -1):
        return profile_stats(spark, store_dir)
    want = [f[0] for f in meta["fields"]]
    have = list(delta.columns)
    if have != want:
        raise ValueError(
            f"profile_append: delta columns {have} != profiled schema "
            f"{want}")
    old = spark.read.parquet(
        fsio.join(store_dir, f"registers/v{meta['version']}"))
    merged = _merge_stage1(old, _profile_stage1(delta))
    nxt = meta["version"] + 1
    merged.write.mode("overwrite").parquet(
        fsio.join(store_dir, f"registers/v{nxt}"))
    new_meta = {"version": nxt, "fields": meta["fields"]}
    if batch_id is not None or "last_batch_id" in meta:
        new_meta["last_batch_id"] = (
            batch_id if batch_id is not None
            else meta.get("last_batch_id"))
    fsio.write_json(spark, fsio.join(store_dir, "meta.json"), new_meta)
    return profile_stats(spark, store_dir)


def profile_stats(spark, store_dir: str) -> DataFrame:
    """Finalize the persisted profile state into the column_stats
    shape -- reads the <= k x 513-row state table, never the corpus."""
    from .. import fsio

    meta = fsio.read_json(spark, fsio.join(store_dir, "meta.json"))
    state = spark.read.parquet(
        fsio.join(store_dir, f"registers/v{meta['version']}"))
    return _profile_finalize(spark, state,
                             [tuple(f) for f in meta["fields"]])


def column_stats_hll_sql(table: str,
                         cols: list[tuple[str, str, str]]) -> str:
    """DuckDB twin of :func:`column_stats` (default hll mode),
    generated from the same HLL constants: identical registers,
    identical estimate math, per column. ``cols`` is
    [(name, stat_kind, ndv_kind)] as :func:`_column_kinds` yields
    (dates/bools hash via their VARCHAR cast; timestamps via
    epoch_us; floats/others NULL ndv)."""
    from ..operators.sketches import (
        HLL_ALPHA,
        HLL_M,
        HLL_RHO_CLAMP,
        HLL_W_BITS,
    )

    parts = []
    for name, k, nk in cols:
        if nk == "micros":
            key = f"CAST(epoch_us({name}) AS VARCHAR)"
        else:
            key = f"CAST({name} AS VARCHAR)"
        if nk == "none":
            nd = "CAST(NULL AS DOUBLE)"
        else:
            nd = f"""(
  WITH regs AS (
    SELECT h >> {HLL_W_BITS} AS bucket,
           max(least(CASE WHEN (h & {(1 << HLL_W_BITS) - 1}) = 0
                          THEN {HLL_W_BITS + 1}
                          ELSE {HLL_W_BITS + 1}
                    - length(bin(h & {(1 << HLL_W_BITS) - 1})) END,
                     {HLL_RHO_CLAMP})) AS reg
    FROM (SELECT CAST(('0x' || substr(md5('hll:' || {key}), 1, 15))
                      AS BIGINT) AS h
          FROM src WHERE {name} IS NOT NULL)
    GROUP BY 1),
  pg AS (
    SELECT coalesce(sum(CAST(1 AS BIGINT)
                        << ({HLL_RHO_CLAMP} - reg)), 0)::DOUBLE
             / {float(1 << HLL_RHO_CLAMP)!r}
           + ({HLL_M} - count(*))::DOUBLE AS total,
           {HLL_M} - count(*) AS v_zero
    FROM regs)
  SELECT round(CASE WHEN {HLL_ALPHA * HLL_M * HLL_M!r} / total
                         <= {2.5 * HLL_M!r} AND v_zero > 0
                    THEN {float(HLL_M)!r} * ln({float(HLL_M)!r}
                                               / v_zero::DOUBLE)
                    ELSE {HLL_ALPHA * HLL_M * HLL_M!r} / total END, 4)
  FROM pg)"""
        if k == "num":
            if nk == "micros":
                mn = f"round(epoch_us(min({name}))::DOUBLE, 6)"
                mx = f"round(epoch_us(max({name}))::DOUBLE, 6)"
            else:
                mn = f"round(min({name})::DOUBLE, 6)"
                mx = f"round(max({name})::DOUBLE, 6)"
            ms, xs = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
        elif k == "str":
            mn, mx = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
            ms, xs = f"min({name})", f"max({name})"
        else:
            mn, mx = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
            ms, xs = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
        parts.append(f"""
  SELECT '{name}' AS "column", count(*) AS n_rows,
         count(CASE WHEN {name} IS NULL THEN 1 END) AS n_nulls,
         {nd} AS n_distinct,
         {mn} AS min_num, {mx} AS max_num,
         {ms} AS min_str, {xs} AS max_str
  FROM src""")
    body = "\n  UNION ALL".join(parts)
    return (f'WITH src AS (SELECT * FROM {table})\n'
            f'SELECT * FROM ({body}\n) ORDER BY "column"')


def _paths_df(spark, paths) -> DataFrame:
    """Normalize parquet_footer_stats' input to a one-column ``path``
    DataFrame. A str is a DIRECTORY: Spark's own binaryFile source
    lists it (recursive, *.parquet) and -- because only ``path`` is
    selected -- never reads a content byte; a DataFrame passes through
    (its first column is the path), so a million-file list can come
    straight from a manifest table or a previous listing without ever
    materializing an O(n_files) Python list on the driver. A list[str]
    stays supported for the small/interactive case."""
    if isinstance(paths, DataFrame):
        first = paths.columns[0]
        return paths.select(F.col(first).cast("string").alias("path"))
    if isinstance(paths, str):
        return (spark.read.format("binaryFile")
                .option("pathGlobFilter", "*.parquet")
                .option("recursiveFileLookup", "true")
                .load(paths).select("path"))
    return driver_frame(spark, [(p,) for p in paths], "path string")


def _local_path(path: str) -> str:
    """file:-scheme URI -> plain path for pyarrow (other schemes pass
    through; pyarrow resolves them via its own filesystems)."""
    if path.startswith("file://"):
        return path[7:]
    if path.startswith("file:"):
        return path[5:]
    return path


def parquet_footer_stats(spark, paths) -> DataFrame:
    """Distributed parquet FOOTER introspection -- the manifest-building
    primitive: given a file list (a ``path`` DataFrame, a directory to
    list with Spark's file index, or a small list[str]), executors
    read each footer with pyarrow (metadata-only -- no data pages
    touched) and emit one row per (file, row group, column) with value
    counts, null counts, and compressed/uncompressed byte sizes. At
    100 TB this is how a layout audit or a table-format manifest
    bootstrap runs: millions of footers fan out across the cluster,
    ~KBs read per file, and the file list itself stays distributed
    (never an O(n_files) driver list).

    Cross-engine pinned by pytest against DuckDB's parquet_metadata()
    on the same files (path-bound table functions sit outside the
    registry's view-only oracle harness, so the full-value check lives
    in tests)."""
    import os

    def read_footers(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for b in batches:
            rows = []
            for path in b["path"]:
                md = pq.ParquetFile(_local_path(path)).metadata
                fname = os.path.basename(path)
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    for c in range(rg.num_columns):
                        col = rg.column(c)
                        st = col.statistics
                        rows.append((
                            fname, g, rg.num_rows, col.path_in_schema,
                            col.num_values,
                            None if st is None or not st.has_null_count
                            else st.null_count,
                            col.total_compressed_size,
                            col.total_uncompressed_size,
                            str(col.compression),
                        ))
            yield pd.DataFrame(rows, columns=[
                "file_name", "row_group_id", "n_rows", "column",
                "n_values", "n_nulls", "compressed_bytes",
                "uncompressed_bytes", "compression"])

    files = _paths_df(spark, paths).repartition(
        spark.sparkContext.defaultParallelism)
    return files.mapInPandas(
        read_footers,
        "file_name string, row_group_id int, n_rows long, column string, "
        "n_values long, n_nulls long, compressed_bytes long, "
        "uncompressed_bytes long, compression string"
    ).orderBy("file_name", "row_group_id", "column")


# ---------------------------------------------------------------------------
# snapshot drift (PSI)
# ---------------------------------------------------------------------------

def drift_report(old: DataFrame, new: DataFrame,
                 numeric_cols: list[str] | None = None,
                 categorical_cols: list[str] | None = None,
                 n_bins: int = 10, eps: float = 1e-6,
                 binning: str = "width") -> DataFrame:
    """Population-stability drift between two snapshots of a table --
    the monitor a pipeline runs before retraining on a refreshed
    corpus. Generalizes :func:`psi_drift` (one table, one numeric
    signal, hash-split populations, add-half smoothing) to TWO
    SNAPSHOTS, many columns at once, and categorical columns, with
    bin edges frozen from the old snapshot -- the "did last month's
    corpus move" monitor rather than the split-uniformity self-test:
    per column, PSI = sum_bins (p_new - p_old) *
    ln(p_new / p_old) over numeric bins or per-category proportions
    (categoricals). The standard reading: < 0.1 stable, 0.1-0.25
    moderate shift, > 0.25 investigate.

    ``binning`` picks the numeric bin rule, always frozen from the OLD
    snapshot:

    * ``"width"``: equi-width over [min, max]; out-of-range new values
      clamp to the edge bins -- drift INTO new territory lands in the
      boundary bin, which is what moves the score. Simple, but a
      heavy-tailed column parks most mass in one bin and PSI goes
      numb.
    * ``"depth"``: equi-depth -- boundaries are the old snapshot's
      exact interpolated quantiles at i/n_bins, bin(x) = #boundaries
      below x. Every bin holds ~1/n_bins of the OLD mass by
      construction, so the score stays sensitive under any marginal
      shape -- the production-scorecard standard (decile PSI at
      n_bins=10).

    Scale shape: ONE scan over the side-tagged UNION of the snapshots
    melts the analyzed columns to (column, bin, side) rows that
    partially aggregate to <= k x (n_bins+1) counts per task; the
    per-snapshot totals are window sums over those same counts (every
    row lands in exactly one bin per column), and the old side's
    boundary statistics (min/max or the quantile array) compute
    IN-PLAN in one aggregate and broadcast-join back -- no driver
    collect or count anywhere. Proportions
    smooth at ``eps`` (zero-count bins would give infinite
    log-ratios); per-bin terms round 9dp and sum EXACTLY as
    decimal(28,9) per column (float summation order would diverge
    cross-engine), PSI rounds 6dp. NULLs bin separately.
    Emits (column, kind, psi) per analyzed column."""
    numeric_cols = list(numeric_cols or [])
    categorical_cols = list(categorical_cols or [])
    if not numeric_cols and not categorical_cols:
        raise ValueError("drift_report needs at least one column")
    if binning not in ("width", "depth"):
        raise ValueError(f"binning must be width|depth, got {binning!r}")

    bexprs = []
    for c in numeric_cols:
        x = F.col(c).cast("double")
        if binning == "width":
            bexprs += [F.min(x).alias(f"__mn_{c}"),
                       F.max(x).alias(f"__mx_{c}")]
        else:
            qs = ", ".join(f"{i / n_bins!r}D" for i in range(1, n_bins))
            bexprs.append(F.expr(
                f"percentile(CAST({c} AS DOUBLE), array({qs}))")
                .alias(f"__qs_{c}"))
    bounds_row = old.agg(*bexprs) if bexprs else None

    def melt(df: DataFrame) -> DataFrame:
        if bounds_row is not None:
            df = df.crossJoin(F.broadcast(bounds_row))
        structs = []
        for c in numeric_cols:
            x = F.col(c).cast("double")
            if binning == "width":
                mn, mx = F.col(f"__mn_{c}"), F.col(f"__mx_{c}")
                width = (mx - mn) / n_bins
                binc = (F.when(x.isNull(), F.lit(None).cast("int"))
                        .when(mn.isNull() | (mx <= mn), F.lit(0))
                        .otherwise(F.least(
                            F.greatest(F.floor((x - mn) / width)
                                       .cast("int"), F.lit(0)),
                            F.lit(n_bins - 1))))
            else:
                binc = (F.when(x.isNull() | F.col(f"__qs_{c}").isNull(),
                               F.lit(None).cast("int"))
                        .otherwise(F.aggregate(
                            F.col(f"__qs_{c}"), F.lit(0),
                            lambda acc, b: acc
                            + F.when(x > b, 1).otherwise(0))))
            structs.append(F.struct(
                F.lit(c).alias("column"), F.lit("numeric").alias("kind"),
                F.coalesce(binc.cast("string"), F.lit("__null__"))
                .alias("bin")))
        for c in categorical_cols:
            structs.append(F.struct(
                F.lit(c).alias("column"),
                F.lit("categorical").alias("kind"),
                F.coalesce(F.col(c).cast("string"), F.lit("__null__"))
                .alias("bin")))
        return (df.select(F.col("__new_side").alias("side"),
                          F.explode(F.array(*structs)).alias("s"))
                .select("s.*", "side"))

    # One melt over the UNION of the two snapshots (side-tagged),
    # instead of one per snapshot: halves the scans/broadcast builds,
    # and the per-snapshot totals fall out of the same aggregate as a
    # window sum (every row lands in exactly one bin per column,
    # including __null__, so sum-over-bins == the snapshot's count --
    # the two driver-side count() actions are gone). Same bins, same
    # counts, same float division: results identical (guide §2.3/§2.4).
    cols = list(dict.fromkeys(numeric_cols + categorical_cols))
    tagged = (old.select(*cols).withColumn("__new_side", F.lit(0))
              .unionByName(new.select(*cols)
                           .withColumn("__new_side", F.lit(1))))
    joined = (melt(tagged).groupBy("column", "kind", "bin")
              .agg(F.count(F.when(F.col("side") == 0, 1)).alias("n_old"),
                   F.count(F.when(F.col("side") == 1, 1)).alias("n_new")))
    w = Window.partitionBy("column", "kind")
    p_old = F.greatest(F.col("n_old").cast("double")
                       / F.sum("n_old").over(w).cast("double"), F.lit(eps))
    p_new = F.greatest(F.col("n_new").cast("double")
                       / F.sum("n_new").over(w).cast("double"), F.lit(eps))
    term = F.round((p_new - p_old) * F.log(p_new / p_old), 9)
    return (joined
            .select("column", "kind", term.cast("decimal(28,9)")
                    .alias("__term"))
            .groupBy("column", "kind")
            .agg(F.round(F.sum("__term").cast("double"), 6).alias("psi"))
            .orderBy("column"))


def drift_report_sql(old_cte: str, new_cte: str,
                     numeric_cols: list[str],
                     categorical_cols: list[str],
                     n_bins: int = 10, eps: float = 1e-6,
                     binning: str = "width") -> str:
    """DuckDB twin of :func:`drift_report`; ``old_cte``/``new_cte``
    are subqueries yielding the two snapshots. ``binning`` mirrors the
    operator (equi-width bounds or quantile_cont boundaries -- DuckDB's
    quantile_cont and Spark's percentile share the exact interpolated
    definition, so the boundary doubles agree)."""
    melts = []
    for side, cte in (("o", old_cte), ("n", new_cte)):
        parts = []
        for c in numeric_cols:
            if binning == "width":
                bin_expr = f"""
           CASE WHEN {c} IS NULL THEN NULL
                WHEN (SELECT mn_{c} FROM b) IS NULL
                  OR (SELECT mx_{c} FROM b) <= (SELECT mn_{c} FROM b)
                  THEN 0
                ELSE least(greatest(CAST(floor(
                  ({c}::DOUBLE - (SELECT mn_{c} FROM b))
                  / (((SELECT mx_{c} FROM b) - (SELECT mn_{c} FROM b))
                     / {n_bins})) AS INT), 0), {n_bins - 1})
           END"""
            else:
                bin_expr = f"""
           CASE WHEN {c} IS NULL OR (SELECT qs_{c} FROM b) IS NULL
                  THEN NULL
                ELSE len(list_filter((SELECT qs_{c} FROM b),
                                     q -> {c}::DOUBLE > q))
           END"""
            parts.append(f"""
  SELECT '{c}' AS "column", 'numeric' AS kind,
         coalesce(CAST({bin_expr} AS VARCHAR), '__null__') AS bin
  FROM ({cte})""")
        for c in categorical_cols:
            parts.append(f"""
  SELECT '{c}', 'categorical',
         coalesce(CAST({c} AS VARCHAR), '__null__')
  FROM ({cte})""")
        melts.append((side, "\n  UNION ALL".join(parts)))
    if binning == "width":
        mn_mx = ", ".join(
            f"min({c}::DOUBLE) AS mn_{c}, max({c}::DOUBLE) AS mx_{c}"
            for c in numeric_cols) or "1 AS dummy"
    else:
        qlist = ", ".join(repr(i / n_bins) for i in range(1, n_bins))
        mn_mx = ", ".join(
            f"quantile_cont({c}::DOUBLE, [{qlist}]) AS qs_{c}"
            for c in numeric_cols) or "1 AS dummy"
    return f"""
WITH b AS (SELECT {mn_mx} FROM ({old_cte})),
mo AS ({melts[0][1]}),
mn_ AS ({melts[1][1]}),
co AS (SELECT "column", kind, bin, count(*) AS n_old
       FROM mo GROUP BY 1, 2, 3),
cn AS (SELECT "column", kind, bin, count(*) AS n_new
       FROM mn_ GROUP BY 1, 2, 3),
tot AS (SELECT (SELECT count(*) FROM ({old_cte}))::DOUBLE AS t_old,
               (SELECT count(*) FROM ({new_cte}))::DOUBLE AS t_new),
j AS (SELECT coalesce(co."column", cn."column") AS "column",
             coalesce(co.kind, cn.kind) AS kind,
             coalesce(co.n_old, 0) AS n_old,
             coalesce(cn.n_new, 0) AS n_new
      FROM co FULL JOIN cn
        ON co."column" = cn."column" AND co.kind = cn.kind
       AND co.bin = cn.bin),
terms AS (
  SELECT "column", kind,
         round((greatest(n_new / t_new, {eps})
                - greatest(n_old / t_old, {eps}))
               * ln(greatest(n_new / t_new, {eps})
                    / greatest(n_old / t_old, {eps})), 9) AS term
  FROM j, tot)
SELECT "column", kind,
       round(sum(CAST(term AS DECIMAL(28,9)))::DOUBLE, 6) AS psi
FROM terms GROUP BY 1, 2 ORDER BY "column"
"""


def vacuum_versions(spark, versions_dir: str, current: int,
                    keep: int = 2) -> list[int]:
    """Delete all but the newest ``keep`` committed ``v{N}`` dirs under
    ``versions_dir`` (any versioned store: profile registers,
    components labels, drift state). Never touches the current version
    or anything newer; runs through the Hadoop FS API like every other
    store byte. Returns the version numbers removed."""
    from .. import fsio

    keep = max(int(keep), 1)
    fs, reg_path, _ = fsio._new_fs(spark, versions_dir)
    removed = []
    if not fs.exists(reg_path):
        return removed
    for st in fs.listStatus(reg_path):
        name = st.getPath().getName()
        if not name.startswith("v"):
            continue
        try:
            v = int(name[1:])
        except ValueError:
            continue
        if v <= int(current) - keep:
            fs.delete(st.getPath(), True)
            removed.append(v)
    return sorted(removed)


def profile_vacuum(spark, store_dir: str, keep: int = 2) -> list[int]:
    """Delete all but the newest ``keep`` committed profile versions
    (a long-running append loop otherwise accumulates one tiny dir per
    append). See :func:`vacuum_versions`."""
    from .. import fsio

    meta = fsio.read_json(spark, fsio.join(store_dir, "meta.json"))
    return vacuum_versions(spark, fsio.join(store_dir, "registers"),
                           int(meta["version"]), keep)


def embedding_drift(old: DataFrame, new: DataFrame,
                    vec_col: str = "embedding") -> DataFrame:
    """Embedding-space drift between two snapshots of a vector corpus
    -- the monitor that catches a changed encoder, a re-normalization,
    or a population shift BEFORE a stale ANN index silently degrades:
    per dimension, the decimal-exact means of both snapshots and their
    absolute shift, plus (constant on every row) the cosine between
    the two mean vectors -- cos ~ 1 with small shifts means benign
    drift; a dropped cosine means the space itself moved and every
    persisted centroid/codebook is suspect.

    Shape: one posexplode + (dim) groupBy per snapshot -- d rows out
    of each scan, merged on dim; the cosine is one aggregate over the
    d-row joined table, broadcast back. Means use the house
    decimal(18,9)-sum / 6dp-round discipline (summation order would
    otherwise diverge cross-engine); products round 9dp and sum as
    decimal before the 6dp cosine.

    Composition: the per-snapshot state is :func:`embedding_dim_stats`
    (dim, decimal sum, count) -- MERGEABLE (decimal addition is exact,
    so batch boundaries cannot change the finalized means), which is
    what the streaming lane folds incrementally; this one-shot is
    finalize(stats(old), stats(new))."""
    return drift_from_stats(embedding_dim_stats(old, vec_col),
                            embedding_dim_stats(new, vec_col))


def embedding_dim_stats(df: DataFrame,
                        vec_col: str = "embedding") -> DataFrame:
    """(dim, s, n): the mergeable per-dimension state behind
    :func:`embedding_drift` -- decimal(38,9)-exact value sums and
    counts, d rows per corpus however large. Merge by summing (exact:
    no rounding happens until finalize), finalize with
    :func:`drift_from_stats`."""
    return (df.select(F.posexplode(F.col(vec_col)).alias("dim", "val"))
            .groupBy("dim")
            .agg(F.sum(F.col("val").cast("double").cast("decimal(18,9)"))
                 .cast("decimal(38,9)").alias("s"),
                 F.count(F.lit(1)).alias("n")))


def merge_dim_stats(a: DataFrame, b: DataFrame) -> DataFrame:
    """Fold two embedding_dim_stats states: decimal sums add exactly,
    so merge(stats(A), stats(B)) == stats(A UNION B) to the last
    digit."""
    return (a.unionByName(b).groupBy("dim")
            .agg(F.sum("s").cast("decimal(38,9)").alias("s"),
                 F.sum("n").alias("n")))


def drift_from_stats(old_stats: DataFrame,
                     new_stats: DataFrame) -> DataFrame:
    """Finalize two per-dim states into the :func:`embedding_drift`
    report (identical math: decimal-exact sums cast to double, 6dp
    means, 9dp products, 6dp cosine)."""
    def means(stats: DataFrame, name: str) -> DataFrame:
        return stats.select(
            "dim",
            F.round(F.col("s").cast("double") / F.col("n"), 6)
            .alias(name))

    joined = (means(old_stats, "mean_old")
              .join(means(new_stats, "mean_new"), "dim", "full")
              .select("dim",
                      F.coalesce("mean_old", F.lit(0.0)).alias("mean_old"),
                      F.coalesce("mean_new", F.lit(0.0)).alias("mean_new")))
    prod = (joined.agg(
        F.sum(F.round(F.col("mean_old") * F.col("mean_new"), 9)
              .cast("decimal(28,9)")).cast("double").alias("dot"),
        F.sum(F.round(F.col("mean_old") * F.col("mean_old"), 9)
              .cast("decimal(28,9)")).cast("double").alias("no"),
        F.sum(F.round(F.col("mean_new") * F.col("mean_new"), 9)
              .cast("decimal(28,9)")).cast("double").alias("nn")))
    cos = F.round(F.col("dot") / F.sqrt(F.col("no") * F.col("nn")), 6)
    return (joined.crossJoin(F.broadcast(prod))
            .select("dim", "mean_old", "mean_new",
                    F.round(F.abs(F.col("mean_new") - F.col("mean_old")),
                            6).alias("shift"),
                    cos.alias("cos_means"))
            .orderBy("dim"))


def embedding_drift_sql(old_cte: str, new_cte: str) -> str:
    """DuckDB twin of :func:`embedding_drift` over the ``embeddings``
    view shape (a list column named ``embedding``)."""
    def means(cte: str, name: str) -> str:
        return f"""
  SELECT dim, round(sum(CAST(val AS DECIMAL(18,9)))::DOUBLE
                    / count(*), 6) AS {name}
  FROM (SELECT unnest(embedding::DOUBLE[]) AS val,
               generate_subscripts(embedding::DOUBLE[], 1) - 1 AS dim
        FROM ({cte}))
  GROUP BY dim"""
    return f"""
WITH mo AS ({means(old_cte, 'mean_old')}),
mn_ AS ({means(new_cte, 'mean_new')}),
j AS (
  SELECT coalesce(mo.dim, mn_.dim) AS dim,
         coalesce(mean_old, 0.0) AS mean_old,
         coalesce(mean_new, 0.0) AS mean_new
  FROM mo FULL JOIN mn_ ON mo.dim = mn_.dim
), p AS (
  SELECT sum(CAST(round(mean_old * mean_new, 9)
                  AS DECIMAL(28,9)))::DOUBLE AS dot,
         sum(CAST(round(mean_old * mean_old, 9)
                  AS DECIMAL(28,9)))::DOUBLE AS no,
         sum(CAST(round(mean_new * mean_new, 9)
                  AS DECIMAL(28,9)))::DOUBLE AS nn
  FROM j)
SELECT dim, mean_old, mean_new,
       round(abs(mean_new - mean_old), 6) AS shift,
       round(dot / sqrt(no * nn), 6) AS cos_means
FROM j CROSS JOIN p ORDER BY dim
"""
