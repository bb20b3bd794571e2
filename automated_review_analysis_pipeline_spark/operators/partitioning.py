"""Physical-layout operators for 100 TB operation: bucketed tables for
co-located (exchange-free) joins, and key salting for skewed aggregations
and joins.

These are the two levers that matter most when the fact tables stop
fitting the shuffle tier:

* bucketing: write both join sides bucketed+sorted by the join key; every
  subsequent join on that key is a zero-shuffle sort-merge (the Exchange
  disappears from the plan -- test_partitioning proves it on the actual
  executed plan).
* salting: a hot key (the reference's own data is product-skewed 224 vs
  73 rows, SURVEY.md §4) floods one reducer; salting fans each hot key
  over N sub-keys, aggregates partially per sub-key, then merges. AQE's
  skew-join handles the JOIN case at runtime; salting remains the tool
  for skewed AGGREGATIONS and for deterministic layouts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from automated_review_analysis_pipeline_spark.session import driver_frame


def write_bucketed(df: DataFrame, table: str, keys: list[str],
                   n_buckets: int = 8,
                   sort_by: list[str] | None = None) -> None:
    """Persist as a bucketed (and optionally sorted) managed table. Joins
    and aggregations on ``keys`` against other tables bucketed the same
    way run without any Exchange."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *keys)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)


def bucketed_join(spark: SparkSession, left_table: str, right_table: str,
                  on: list[str], how: str = "inner") -> DataFrame:
    """Join two same-bucketed tables on their bucket keys -- the physical
    plan contains no shuffle for either side."""
    return spark.table(left_table).join(spark.table(right_table), on, how)


def register_bucketed_path(spark: SparkSession, path: str, name: str,
                           cols_ddl: str, bucket_cols: list[str],
                           sort_cols: list[str],
                           n_buckets: int) -> DataFrame:
    """A bucketed parquet DIRECTORY as a catalog table, re-issuing the
    CREATE TABLE DDL when this session has not seen it yet (the
    catalog is per-session; the files and their bucket spec are the
    durable part). The bucketing is what persisted stores buy their
    scale properties with: joins on the bucket key read the store side
    pre-hash-partitioned (no Exchange), and equality/IN filters on the
    bucket column prune to the matching buckets' files alone
    (SelectedBucketsCount in the scan)."""
    if not spark.catalog.tableExists(name):
        spark.sql(
            f"CREATE TABLE {name} ({cols_ddl}) USING parquet "
            f"CLUSTERED BY ({', '.join(bucket_cols)}) "
            f"SORTED BY ({', '.join(sort_cols)}) "
            f"INTO {n_buckets} BUCKETS "
            f"LOCATION '{path}'")
    else:
        # appends may have come through ANOTHER session over the same
        # shared catalog (foreachBatch hands its function a CLONED
        # session, so every streaming store append does): this
        # session's cached relation would otherwise keep serving the
        # stale file listing
        spark.catalog.refreshTable(name)
    return spark.table(name)


def write_bucketed_path(df: DataFrame, path: str, name: str,
                        cols_ddl: str, bucket_cols: list[str],
                        sort_cols: list[str], n_buckets: int,
                        mode: str) -> None:
    """Write ``df`` bucketed into ``path`` under catalog entry
    ``name``. Pre-shuffles onto the bucket hash (repartition's Murmur3
    pmod == the bucket id function) so every write emits at most
    ``n_buckets`` files instead of tasks x buckets -- the small-file
    budget that keeps a year of micro-batch appends livable.
    ``n_buckets`` is therefore also the write-parallelism knob: size
    it to the corpus (thousands at 100 TB), not the default."""
    from .. import fsio

    spark = df.sparkSession
    df = df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
    if mode == "overwrite":
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        fsio.delete(spark, path)
        (df.write.mode("overwrite")
         .bucketBy(n_buckets, *bucket_cols).sortBy(*sort_cols)
         .option("path", path)
         .saveAsTable(name))
        return
    # append: the catalog entry must exist first (a fresh session
    # appending to a persisted store re-registers here); the location
    # then comes from the catalog
    register_bucketed_path(spark, path, name, cols_ddl, bucket_cols,
                           sort_cols, n_buckets)
    (df.write.mode("append")
     .bucketBy(n_buckets, *bucket_cols).sortBy(*sort_cols)
     .saveAsTable(name))


def salted_aggregate(df: DataFrame, keys: list[str], aggs: list[Column],
                     merge_aggs: list[Column], n_salts: int = 16) -> DataFrame:
    """Two-phase aggregation for skewed keys.

    Phase 1 groups by (keys + random salt) so a hot key's rows spread over
    ``n_salts`` reducers; phase 2 merges the partials. ``aggs`` are the
    phase-1 aggregates (aliased), ``merge_aggs`` re-aggregate those
    aliases (e.g. sum of partial counts). For algebraic aggregates this
    is semantically identical to a direct groupBy.
    """
    salted = df.withColumn(
        "__salt", (F.rand(seed=42) * n_salts).cast("int"))
    partial = salted.groupBy(*keys, "__salt").agg(*aggs)
    return partial.groupBy(*keys).agg(*merge_aggs)


def salted_join(big: DataFrame, small: DataFrame, on: str, salt_col: str,
                n_salts: int = 8, how: str = "inner") -> DataFrame:
    """Skew-handling equi-join for when the small side is too large to
    broadcast and the big side has hot keys: replicate the small side
    ``n_salts`` times, spread each big-side key's rows across the salts
    (deterministically, by hashing the unique ``salt_col``), and join on
    (key, salt). A hot key's rows land on ``n_salts`` reducers instead of
    one; the price is an ``n_salts``x blow-up of the SMALL side only.

    Semantically identical to ``big.join(small, on, how)`` for inner/left
    joins (every big row still meets every matching small row exactly
    once, in exactly one salt bucket). AQE's skew-join split is the
    runtime alternative; explicit salting remains the deterministic-layout
    tool and works for aggregation-free pipelines AQE won't rewrite.
    """
    salts = F.explode(
        F.array(*[F.lit(i) for i in range(n_salts)])).alias("__salt")
    small_rep = small.select("*", salts)
    big_s = big.withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.col(salt_col)), F.lit(n_salts)).cast("int"))
    return big_s.join(small_rep, [on, "__salt"], how).drop("__salt")


def assign_global_ids(df: DataFrame, order_cols: list[str],
                      n_buckets: int = 64, start: int = 1,
                      id_name: str = "global_id") -> DataFrame:
    """Contiguous global ids ``start..start+N-1`` in ``ORDER BY
    order_cols`` order WITHOUT funnelling the table through one task.

    Both naive formulations collapse at 100 TB: ``row_number()`` over an
    un-partitioned window is a single-task global sort (one executor
    sorts -- and spills -- the whole table), and
    ``monotonically_increasing_id()`` is neither contiguous nor
    order-respecting. This is the standard two-pass shape instead:

    1. range-partition every row on the FULL order tuple
       (``repartitionByRange``: sampled boundaries, order-preserving
       across partitions);
    2. count rows per bucket (tiny: ``n_buckets`` rows), cumulative-sum
       on the driver into per-bucket start offsets, broadcast back;
    3. ``gid = bucket_offset + row_number() OVER (PARTITION BY bucket
       ORDER BY order_cols)`` -- every window group is one bucket,
       sharded across executors like any keyed window.

    Bucket boundaries affect BALANCE only, never correctness: equal full
    tuples always share a bucket, and cross-bucket order follows the
    tuple order, so concatenating per-bucket ranks in bucket order
    reproduces the total order exactly. ``order_cols`` must form a total
    order (append a unique key last) for the ids to be deterministic.

    The eager ``localCheckpoint`` between the range exchange and the two
    jobs that read it is the determinism pin. The count pass and the
    numbering pass are separate jobs, and ``repartitionByRange`` samples
    boundaries with an RDD-id-derived seed, so two separately-planned
    jobs would draw DIFFERENT boundaries and the counts would disagree
    with the numbering. Checkpointing materializes the partition map
    once (MEMORY_AND_DISK blocks -- one extra pass over data the
    operator already shuffles) and both jobs read the same blocks. The
    pin is the price of not numbering in one task, which is the point
    of this operator at table scale.

    Partitioning on the FULL tuple (not value-width buckets of the
    leading column) is what kills tie skew: a constant leading key or
    the modal token length of a real corpus still spreads over all
    buckets via the tiebreak columns instead of collapsing the rank
    window into one partition. NULLs in order columns sort FIRST
    (Spark's ``ASC NULLS FIRST``), consistently in both the partitioner
    and the window, so null keys get valid leading ids rather than
    crashing or dropping.

    The classic loader use: stamp shuffled training samples with
    contiguous ids by ordering on a hash column -- a deterministic
    global shuffle with resumable offsets."""
    cols = [F.col(c) for c in order_cols]
    withb = (df.repartitionByRange(n_buckets, *cols)
             .withColumn("__gid_bucket", F.spark_partition_id())
             .localCheckpoint(eager=True))

    sizes = {r[0]: r[1]
             for r in withb.groupBy("__gid_bucket").count().collect()}
    if not sizes:  # empty input: schema only
        return df.withColumn(id_name, F.lit(None).cast("long"))
    offsets, acc = [], start - 1
    for b in sorted(sizes):
        offsets.append((b, acc))
        acc += sizes[b]
    spark = df.sparkSession
    off_df = driver_frame(
        spark, offsets, "__gid_bucket int, __gid_offset long")

    w = Window.partitionBy("__gid_bucket").orderBy(*cols)
    return (
        withb.join(F.broadcast(off_df), "__gid_bucket")
        .withColumn(id_name,
                    F.col("__gid_offset") + F.row_number().over(w))
        .drop("__gid_bucket", "__gid_offset")
    )


def exclusive_prefix_sum(df: DataFrame, order_cols: list[str],
                         value_col: str, n_buckets: int = 64,
                         out_name: str = "offset") -> DataFrame:
    """Distributed EXCLUSIVE running total of ``value_col`` in ``ORDER
    BY order_cols`` order (each row gets the sum of all STRICTLY
    PRIOR rows) -- the generalization of :func:`assign_global_ids` from
    rank to prefix sum, same two-pass shape, same scale contract: no
    single-partition window ever.

    1. range-partition on the full order tuple (eager localCheckpoint
       pins the sampled boundaries across the two jobs, see
       assign_global_ids);
    2. per-bucket sums (``n_buckets`` rows) cumulative-sum on the
       driver into bucket start offsets, broadcast back;
    3. offset = bucket_offset + windowed sum over the strictly-prior
       rows within the bucket.

    The loader primitive behind sequence packing: token offsets in
    corpus order ARE an exclusive prefix sum. ``order_cols`` must form
    a total order for determinism; NULL values in ``value_col`` count
    as 0."""
    cols = [F.col(c) for c in order_cols]
    withb = (df.repartitionByRange(n_buckets, *cols)
             .withColumn("__ps_bucket", F.spark_partition_id())
             .localCheckpoint(eager=True))

    sums = {r[0]: r[1] or 0
            for r in withb.groupBy("__ps_bucket")
            .agg(F.sum(F.coalesce(F.col(value_col), F.lit(0)))).collect()}
    if not sums:  # empty input: schema only
        return df.withColumn(out_name, F.lit(None).cast("long"))
    offsets, acc = [], 0
    for b in sorted(sums):
        offsets.append((b, acc))
        acc += int(sums[b])
    spark = df.sparkSession
    off_df = driver_frame(
        spark, offsets, "__ps_bucket int, __ps_offset long")

    w = (Window.partitionBy("__ps_bucket").orderBy(*cols)
         .rowsBetween(Window.unboundedPreceding, -1))
    running = F.coalesce(
        F.sum(F.coalesce(F.col(value_col), F.lit(0))).over(w), F.lit(0))
    return (
        withb.join(F.broadcast(off_df), "__ps_bucket")
        .withColumn(out_name,
                    (F.col("__ps_offset") + running).cast("long"))
        .drop("__ps_bucket", "__ps_offset")
    )


def morton_code(x: Column, y: Column, bits: int = 16) -> Column:
    """Two-dimensional Morton (Z-order) code: interleave the low ``bits``
    bits of two non-negative int columns (x in even positions, y in odd).
    Pure JVM bit math -- the locality-preserving key behind Z-ordered
    layouts: sorting by this code keeps rows that are close in BOTH
    dimensions in the same files, so parquet min/max row-group stats
    prune reads filtered on EITHER column (a 1-D sort only prunes its own
    column). The standard lakehouse OPTIMIZE ZORDER BY primitive, built
    from shifts and masks."""
    xs = x.cast("long")
    ys = y.cast("long")
    code: Column | None = None
    for i in range(bits):
        xb = F.shiftleft(F.shiftrightunsigned(xs, i).bitwiseAND(F.lit(1)),
                         2 * i)
        yb = F.shiftleft(F.shiftrightunsigned(ys, i).bitwiseAND(F.lit(1)),
                         2 * i + 1)
        term = xb.bitwiseOR(yb)
        code = term if code is None else code.bitwiseOR(term)
    return code


def morton_code_sql(x: str, y: str, bits: int = 16) -> str:
    """DuckDB twin of :func:`morton_code` (same shifts, same masks)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"


def normalize_to_bits(col: Column, min_col: Column, max_col: Column,
                      bits: int = 16) -> Column:
    """Min/max-scale a column onto [0, 2^bits): raw values rarely fill
    their bit field (custkey 0..1500 leaves the top 5 of 16 bits dead),
    and dead high bits make the interleave degenerate to a 1-D sort on
    whichever dimension has the higher top bit. Scaling both dimensions
    to the full field is what every production Z-order implementation
    does before interleaving."""
    span = (max_col - min_col).cast("double")
    scaled = F.floor(
        (col - min_col).cast("double") * F.lit(float((1 << bits) - 1))
        / span).cast("long")
    return F.when(span == 0, F.lit(0)).otherwise(scaled)


def zorder_write(df: DataFrame, path: str, x_col: str, y_col: str,
                 n_files: int = 8, bits: int = 16) -> None:
    """Write ``df`` as ``n_files`` parquet files clustered by the Morton
    code of min/max-normalized (x_col, y_col): range-partition on the
    code (sampled range boundaries, balanced files), sort within each
    partition so row-group min/max stats are tight in both dimensions.
    The bounds come from one 1-row aggregate broadcast onto the scan."""
    from pyspark.sql.functions import broadcast

    bounds = df.agg(
        F.min(x_col).alias("__minx"), F.max(x_col).alias("__maxx"),
        F.min(y_col).alias("__miny"), F.max(y_col).alias("__maxy"))
    coded = (
        df.crossJoin(broadcast(bounds))
        .withColumn("__z", morton_code(
            normalize_to_bits(F.col(x_col), F.col("__minx"),
                              F.col("__maxx"), bits),
            normalize_to_bits(F.col(y_col), F.col("__miny"),
                              F.col("__maxy"), bits),
            bits))
        .drop("__minx", "__maxx", "__miny", "__maxy")
    )
    (coded.repartitionByRange(n_files, "__z")
     .sortWithinPartitions("__z")
     .drop("__z")
     .write.mode("overwrite").parquet(path))


def compact_files(spark: SparkSession, path: str, out_path: str,
                  target_file_bytes: int = 128 << 20) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ceil(total_bytes / target) files. The small-files problem is the #1
    operational tax of long-running ingestion (every micro-batch appends
    a file; a year of 1-minute batches is 500k files whose footer reads
    alone dominate planning), and periodic compaction is the fix every
    table format schedules. File count derives from the ACTUAL on-disk
    bytes (filesystem metadata, no data scan); the rewrite is one
    coalesce -- no shuffle, each output task concatenates whole input
    partitions. Returns the output file count."""
    import glob
    import os

    total = sum(os.path.getsize(f)
                for f in glob.glob(os.path.join(path, "*.parquet")))
    n_files = max(1, -(-total // target_file_bytes))
    (spark.read.parquet(path)
     .coalesce(int(n_files))
     .write.mode("overwrite").parquet(out_path))
    return int(n_files)


def heal_interrupted_swap(spark: SparkSession, part_dir: str) -> bool:
    """Restore a part dir a crashed compaction/refreeze left renamed
    aside: the swap discipline is rename(live -> .__old__), rename(tmp
    -> live), delete(.__old__) -- a death between the first two leaves
    the live dir MISSING with ``.__old__`` holding the previous bytes.
    Every appender and every compaction heals this on open; without
    it, a later append would silently re-register over the empty
    location and serve a truncated store (round-14 review finding).
    Returns True iff a restore happened."""
    from .. import fsio

    old = part_dir + ".__old__"
    if not fsio.exists(spark, old):
        return False
    if not fsio.exists(spark, part_dir):
        fsio.rename(spark, old, part_dir)
        return True
    fsio.delete(spark, old)
    return False


def _swap_in(spark: SparkSession, part_dir: str, tmp: str) -> None:
    """Replace ``part_dir`` with ``tmp`` via rename-aside (never a
    window with the live dir deleted and nothing to restore):
    heal_interrupted_swap undoes a death between the renames."""
    from .. import fsio

    fsio.rename(spark, part_dir, part_dir + ".__old__")
    fsio.rename(spark, tmp, part_dir)
    fsio.delete(spark, part_dir + ".__old__")


def bucket_file_counts(spark: SparkSession, part_dir: str) -> dict:
    """Files per bucket id for a bucketed parquet dir (from Spark's
    ``..._NNNNN.c000...parquet`` file naming): each append writes at
    most one file per bucket, so max(counts) == appends since the last
    compaction -- the OPTIMIZE trigger metric."""
    import re

    from .. import fsio

    counts: dict[str, int] = {}
    for f in fsio.list_files(spark, part_dir):
        m = re.search(r"_(\d{5})(?:\.c\d+)?\.[a-z0-9.]*parquet$", f)
        if m:
            counts[m.group(1)] = counts.get(m.group(1), 0) + 1
    return counts


def _compact_plain_dir(spark: SparkSession, part_dir: str,
                       target_file_bytes: int,
                       transform=None) -> None:
    """Rewrite one plain parquet dir into ceil(bytes/target) files via
    a tmp-dir + rename-aside swap (no shuffle: coalesce concatenates
    partitions; heal_interrupted_swap covers the swap window).
    ``transform`` (row filter -- the tombstone purge hook) applies
    before the rewrite; the file-count estimate stays pre-filter,
    which only ever errs toward more, smaller files."""
    from .. import fsio

    heal_interrupted_swap(spark, part_dir)
    total = fsio.dir_bytes(spark, part_dir)
    n = max(1, -(-total // target_file_bytes))
    tmp = part_dir + ".__compact__"
    fsio.delete(spark, tmp)
    df = spark.read.parquet(part_dir)
    if transform is not None:
        df = transform(df)
    (df.coalesce(int(n))
     .write.mode("overwrite").parquet(tmp))
    _swap_in(spark, part_dir, tmp)


def _compact_cell_dir(spark: SparkSession, part_dir: str,
                      transform=None) -> None:
    """Rewrite a cell-partitioned parquet dir to ONE file per cell:
    hash-repartitioning on the partition column puts each cell wholly
    in one task, and partitionBy splits by value -- so every cell
    directory ends up with a single file, the densest layout that
    keeps the cell as the pruning/parallelism unit. ``transform`` is
    the tombstone-purge row filter."""
    from .. import fsio

    heal_interrupted_swap(spark, part_dir)
    tmp = part_dir + ".__compact__"
    fsio.delete(spark, tmp)
    df = spark.read.parquet(part_dir)
    if transform is not None:
        df = transform(df)
    (df.repartition(F.col("cell"))
     .write.mode("overwrite").partitionBy("cell").parquet(tmp))
    _swap_in(spark, part_dir, tmp)


def _compact_bucketed_dir(spark: SparkSession, path: str, name: str,
                          cols_ddl: str, bucket_cols: list[str],
                          sort_cols: list[str], n_buckets: int,
                          transform=None) -> None:
    """Rewrite a bucketed table dir to ONE file per bucket with zero
    shuffle: force the BUCKETED scan for the rewrite (each task reads
    exactly one bucket's files; the auto-bucketed-scan planner would
    otherwise disable the bucketed read -- a plain rewrite has no join
    to justify it -- while still eliding any explicit repartition
    because the relation advertises the bucketing, yielding
    task/bucket-mixed output), write through the bucket writer to a
    tmp sibling, swap, re-register."""
    from .. import fsio

    tmp_name = name + "_compact"
    heal_interrupted_swap(spark, path)
    cur = register_bucketed_path(spark, path, name, cols_ddl,
                                 bucket_cols, sort_cols, n_buckets)
    if transform is not None:
        # the purge filter (a broadcast anti-join against the small
        # tombstone set) preserves the forced bucketed scan's
        # partitioning, so the rewrite below stays shuffle-free
        cur = transform(cur)
    spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")
    fsio.delete(spark, path + ".__compact__")
    auto_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev_auto = spark.conf.get(auto_key, "true")
    spark.conf.set(auto_key, "false")
    try:
        (cur.write.mode("overwrite")
         .bucketBy(n_buckets, *bucket_cols).sortBy(*sort_cols)
         .option("path", path + ".__compact__")
         .saveAsTable(tmp_name))
    finally:
        spark.conf.set(auto_key, prev_auto)
    spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    _swap_in(spark, path, path + ".__compact__")
    register_bucketed_path(spark, path, name, cols_ddl, bucket_cols,
                           sort_cols, n_buckets)


def index_compact(spark: SparkSession, store_dir: str,
                  target_file_bytes: int = 128 << 20,
                  fence: dict | None = None) -> dict:
    """Small-file compaction for the PERSISTED STORES (simjoin, IVF,
    PQ, IVF-PQ): every ``*_append`` and every streaming micro-batch
    parquet-appends a few files, so a year of appends accumulates
    thousands of small files per part -- footer reads start to
    dominate probe planning long before data volume does. This is the
    OPTIMIZE step every table format schedules, specialized to each
    store's layout so compaction NEVER changes results (equality
    pytest-pinned). Round 15: compaction is also the tombstone PURGE
    -- stores with a ``tombstones/`` part have their deleted rows
    physically dropped during the rewrite (each part's filter is a
    broadcast anti-join that preserves the shuffle-free rewrite
    shapes), then the tombstones are removed and the read-side
    anti-join returns to a no-op. The purge is idempotent at every
    crash point: parts are filtered before the tombstone drop, and a
    re-run re-filters already-clean parts harmlessly. Purge-and-
    compact equals the results over the surviving rows byte-for-byte
    (the same equality contract as plain compaction):

    * plain parts (pairs/docs/dfreq, PQ codes) -- coalesce to
      ceil(bytes/target) files, no shuffle;
    * cell-partitioned parts (IVF corpus, IVF-PQ codes) -- one file
      per cell, keeping the cell as the partition-pruning unit;
    * the simjoin's BUCKETED prefix (and, round 14, its bucketed
      /docs) -- rewritten through the same bucketBy writer (one file
      per bucket), preserving the bucket spec that keeps append
      candidate AND verify joins exchange-free;
    * components stores (round 14) -- fold the delta-label chain into
      one full snapshot (components_compact) and vacuum the dropped
      pre-base versions;
    * profile stores (round 14) -- versions are full snapshots, so
      OPTIMIZE is vacuuming superseded ones (current + 1 kept).

    Single-writer maintenance op (like every store append here): run
    it when no reader or appender is active. A crash mid-swap leaves
    either the old part or a complete ``.__compact__`` sibling --
    nothing is lost, but the swap window is not atomic on object
    stores. Sidecars (meta.json) are untouched. Returns
    {part: (files_before, files_after)}."""
    from .. import fsio, store_delete, store_fence

    store_fence.fence_check(spark, store_dir, fence)
    report: dict = {}

    def files(p: str) -> int:
        return fsio.count_files(spark, p)

    meta_p = fsio.join(store_dir, "meta.json")
    meta = fsio.read_json(spark, meta_p) if fsio.exists(spark, meta_p) \
        else {}
    if "threshold" in meta or "postings_cols" in meta:
        # append-in-place stores: a crashed append's partial files
        # must not get compacted into the live parts
        from .. import store_commit

        store_commit.repair(spark, store_dir,
                            meta.get("append_epoch", 0))

    # tombstone purge hook: gate on the counter OR a leftover dir (a
    # prior purge that crashed between its meta flip and the dir
    # delete leaves exactly that); drop_ids(...) builds the per-part
    # row filter, None when there is nothing to purge
    ts_dir = fsio.join(store_dir, store_delete.TOMBSTONE_PART)
    purging = (store_delete.has_tombstones(meta)
               or fsio.exists(spark, ts_dir))
    has_ts = purging and fsio.exists(spark, ts_dir)

    def drop_ids(*cols: str):
        if not has_ts:
            return None

        def t(df):
            ts = store_delete.read_tombstones(
                spark, store_dir, df.schema[cols[0]].dataType.simpleString())
            for c in cols:
                df = df.join(
                    F.broadcast(ts.select(F.col("id").alias(c))),
                    c, "left_anti")
            return df
        return t

    def finish_purge() -> None:
        """Meta flip FIRST (readers stop anti-joining), dir drop
        second -- a crash between leaves a dead tombstones dir the
        `purging` gate above cleans on the next compaction."""
        if not purging:
            return
        meta["n_tombstoned"] = 0
        fsio.write_json(spark, meta_p, meta)
        fsio.delete(spark, ts_dir)
        report["tombstones"] = "purged"
    if "threshold" in meta:  # simjoin store
        from .dedup import (
            _part_order_epoch,
            _simjoin_docs_table_name,
            _simjoin_prefix_table_name,
        )

        # the refreeze epoch stamps live INSIDE prefix/ and dfreq/
        # (underscore-hidden); the dir rewrites below would drop them.
        # Each part is restamped IMMEDIATELY after its own swap -- a
        # single restamp pass at the end left a crash window in which
        # one part's stamp was gone while the other still carried the
        # old epoch, a mismatch only a full refreeze could clear even
        # though the order never changed (round-15 ADVICE); the
        # remaining swap-to-restamp instants are healed by
        # _check_order_epoch's meta fallback
        epochs = {part: _part_order_epoch(
            spark, fsio.join(store_dir, part))
            for part in ("prefix", "dfreq")}

        def restamp(part: str) -> None:
            if epochs.get(part):
                fsio.write_json(
                    spark,
                    fsio.join(fsio.join(store_dir, part),
                              "_order_epoch.json"),
                    {"order_epoch": epochs[part]})

        # per-part purge filters: pairs reference deleted ids on
        # either side; docs/prefix carry their rows; dfreq stays (the
        # frozen order is an order, not a census -- refreeze recounts)
        part_filter = {"pairs": drop_ids("a_id", "b_id"),
                       "docs": drop_ids("id")}
        plain = ["pairs", "dfreq"]
        db = int(meta.get("docs_buckets", 0))
        if not db:
            plain.append("docs")  # pre-round-14 plain /docs layout
        for part in plain:
            p = fsio.join(store_dir, part)
            before = files(p)
            _compact_plain_dir(spark, p, target_file_bytes,
                               transform=part_filter.get(part))
            restamp(part)
            report[part] = (before, files(p))
        if db:
            p = fsio.join(store_dir, "docs")
            before = files(p)
            _compact_bucketed_dir(
                spark, p, _simjoin_docs_table_name(store_dir),
                meta["docs_cols"], ["id"], ["id"], db,
                transform=drop_ids("id"))
            report["docs"] = (before, files(p))
        # bucketed prefix: rewrite through the bucket writer, swap,
        # re-register the catalog entry at the same location
        nb = int(meta.get("n_buckets", 0))
        if nb:
            p = fsio.join(store_dir, "prefix")
            before = files(p)
            _compact_bucketed_dir(
                spark, p, _simjoin_prefix_table_name(store_dir),
                meta["prefix_cols"], ["tok"], ["tok"], nb,
                transform=drop_ids("id"))
            restamp("prefix")
            report["prefix"] = (before, files(p))
        finish_purge()
        return report

    if "postings_cols" in meta:  # BM25 inverted-index store
        from .textanalysis import _bm25_postings_table_name

        # the id column is whatever the builder used (first column of
        # the recorded postings schema)
        doc_col = meta["postings_cols"].split(",")[0].strip() \
            .split(" ")[0].strip("`")
        p = fsio.join(store_dir, "postings")
        before = files(p)
        _compact_bucketed_dir(
            spark, p, _bm25_postings_table_name(store_dir),
            meta["postings_cols"], ["word"], ["word"],
            int(meta["n_buckets"]), transform=drop_ids(doc_col))
        report["postings"] = (before, files(p))
        d = fsio.join(store_dir, "doclen")
        before = files(d)
        _compact_plain_dir(spark, d, target_file_bytes,
                           transform=drop_ids(doc_col))
        report["doclen"] = (before, files(d))
        finish_purge()
        return report

    if "version" in meta and fsio.exists(
            spark, fsio.join(store_dir, "labels")):
        # components store: OPTIMIZE = fold the delta chain into one
        # full snapshot (re-base); the dropped pre-base versions then
        # fall to components_vacuum
        from .similarity import components_compact

        labels_p = fsio.join(store_dir, "labels")
        before = files(labels_p)
        components_compact(spark, store_dir)
        from .similarity import components_vacuum

        components_vacuum(spark, store_dir)
        report["labels"] = (before, files(labels_p))
        return report
    if "version" in meta and fsio.exists(
            spark, fsio.join(store_dir, "registers")):
        # profile store: versions are full snapshots already; OPTIMIZE
        # = drop superseded versions (keep current + 1 rollback)
        from .quality import profile_vacuum

        reg_p = fsio.join(store_dir, "registers")
        before = files(reg_p)
        profile_vacuum(spark, store_dir, keep=2)
        report["registers"] = (before, files(reg_p))
        return report
    codes_p = fsio.join(store_dir, "codes")
    corpus_p = fsio.join(store_dir, "corpus")
    if fsio.exists(spark, codes_p):  # PQ or IVF-PQ store
        before = files(codes_p)
        if "cell" in spark.read.parquet(codes_p).columns:
            _compact_cell_dir(spark, codes_p,
                              transform=drop_ids("c_id"))
        else:
            _compact_plain_dir(spark, codes_p, target_file_bytes,
                               transform=drop_ids("c_id"))
        report["codes"] = (before, files(codes_p))
        finish_purge()
        return report
    if fsio.exists(spark, corpus_p):  # IVF store
        before = files(corpus_p)
        _compact_cell_dir(spark, corpus_p)
        report["corpus"] = (before, files(corpus_p))
        return report
    if any("/" not in f and f.endswith(".parquet")
           for f in fsio.list_files(spark, store_dir)):
        # bare parquet dataset -- the MinHash signature store's layout
        # (build_signature_table appends straight into the dir)
        before = files(store_dir)
        _compact_plain_dir(spark, store_dir, target_file_bytes)
        report["data"] = (before, files(store_dir))
        return report
    raise ValueError(
        f"{store_dir} is not a recognized persisted store layout "
        f"(expected a simjoin meta.json, codes/, or corpus/)")


def _report_df(spark: SparkSession, rows: list) -> DataFrame:
    """The (part, metric, value) report frame as ONE partition: spread
    over defaultParallelism slices, any take()/first() walks them
    through several sequential mini-jobs (measured 0.7-0.9 s per
    first() at local[32]). The report is a few dozen driver-side rows
    -- one partition is its real shape at any scale."""
    return driver_frame(
        spark, rows, "part string, metric string, value string") \
        .coalesce(1).orderBy("part", "metric")


def index_stats(spark: SparkSession, store_dir: str) -> DataFrame:
    """Unified OPERATIONAL introspection for every persisted store
    family (simjoin, BM25 inverted index, IVF / PQ / IVF-PQ,
    components labels, profile registers, generic versioned state) --
    the read-side complement of index_compact / vacuum / refreeze:
    one long-form (part, metric, value) report saying what the store
    is, how healthy its physical layout is, and which maintenance op
    it needs next. Metadata-only: file listings and sidecars, never a
    data scan.

    Rows emitted:

    * ``store/family`` + ``store/pending_intent`` (an unresolved
      staged-append intent means the last append crashed and the next
      touch will roll it back);
    * every scalar from meta.json (versions, counters, epochs, batch
      ids -- whatever the family records);
    * per part dir: ``n_files`` / ``bytes``, plus
      ``max_files_per_bucket`` for bucketed parts (bucket health: the
      compaction trigger -- each append adds <= 1 file per bucket, so
      this counts appends since the last index_compact);
    * versioned stores: ``versions_live`` (delta-chain length -- the
      components_compact / vacuum trigger);
    * simjoin: the drift report columns from
      :func:`~.dedup.simjoin_store_stats` (the refreeze trigger).

    Values are strings (the report mixes kinds); rows-only registry
    check by design -- a filesystem report has no relational oracle.
    """
    from .. import fsio, store_delete

    meta_p = fsio.join(store_dir, "meta.json")
    meta = fsio.read_json(spark, meta_p) \
        if fsio.exists(spark, meta_p) else {}
    parts = fsio.list_dirs(spark, store_dir)
    if "threshold" in meta:
        family = "simjoin"
    elif "postings_cols" in meta:
        family = "bm25_index"
    elif "encode" in meta or "codebooks" in parts:
        family = "ivfpq"
    elif "version" in meta:
        family = ("components" if "labels" in parts
                  else "profile" if "registers" in parts
                  else "versioned")
    elif "codes" in parts:
        family = "pq"
    elif "corpus" in parts:
        family = "ivf"
    elif any("/" not in f and f.endswith(".parquet")
             for f in fsio.list_files(spark, store_dir)):
        family = "parquet"  # bare dataset (MinHash signature store)
        rows = [("store", "family", family),
                ("data", "n_files",
                 str(fsio.count_files(spark, store_dir))),
                ("data", "bytes",
                 str(fsio.dir_bytes(spark, store_dir)))]
        return _report_df(spark, rows)
    else:
        raise ValueError(
            f"{store_dir} is not a recognized persisted store layout")

    rows = [("store", "family", family),
            ("store", "pending_intent",
             str(fsio.exists(
                 spark, fsio.join(store_dir, "pending.json"))).lower())]
    for k in sorted(meta):
        if isinstance(meta[k], (int, float, str, bool)):
            rows.append(("meta", k, str(meta[k])))
    for part in parts:
        if part.endswith((".__new__", ".__old__", ".__compact__")):
            rows.append((part, "leftover_tmp", "true"))
            continue
        p = fsio.join(store_dir, part)
        rows.append((part, "n_files",
                     str(fsio.count_files(spark, p))))
        rows.append((part, "bytes", str(fsio.dir_bytes(spark, p))))
        buckets = bucket_file_counts(spark, p)
        if buckets:
            rows.append((part, "max_files_per_bucket",
                         str(max(buckets.values()))))
    if family in ("components", "profile", "versioned"):
        vdir = {"components": "labels", "profile": "registers",
                "versioned": "stats"}[family]
        if vdir not in parts and parts:
            vdir = parts[0]
        base = int(meta.get("base", -1))
        live = 0
        for d in fsio.list_dirs(spark, fsio.join(store_dir, vdir)):
            try:
                v = int(d[1:]) if d.startswith("v") else -1
            except ValueError:
                continue
            if v >= base:
                live += 1
        rows.append(("store", "versions_live", str(live)))
    if family == "simjoin":
        from .dedup import simjoin_store_stats_row

        # metadata-only dict: skips the one-row Spark job (and its
        # take-over-empty-partitions overhead) the DataFrame wrapper
        # used to pay per report
        drift = simjoin_store_stats_row(spark, store_dir)
        for c in ("order_epoch", "drift_ratio", "refreeze_recommended"):
            rows.append(("store", c, str(drift[c]).lower()))
    # delete health (round 15): live tombstone count, the surviving
    # fraction, and the reclaimable-bytes estimate a purge
    # (index_compact) would free -- deleted_fraction x data bytes,
    # from meta counters alone (never a data scan). n_files/bytes for
    # the tombstones part itself already come from the parts loop.
    n_ts = int(meta.get("n_tombstoned", 0) or 0)
    if n_ts:
        live = {"simjoin": "n_docs_total",
                "bm25_index": "n_docs"}.get(family)
        n_live = int(meta.get(live, 0) or 0) if live else None
        if n_live is not None and (n_live + n_ts):
            frac = n_ts / (n_live + n_ts)
            data_bytes = sum(
                fsio.dir_bytes(spark, fsio.join(store_dir, p))
                for p in parts
                if p != store_delete.TOMBSTONE_PART
                and not p.endswith(
                    (".__new__", ".__old__", ".__compact__")))
            rows.append(("store", "deleted_fraction",
                         str(round(frac, 6))))
            rows.append(("store", "reclaimable_bytes_est",
                         str(int(frac * data_bytes))))
    return _report_df(spark, rows)


def partitioned_write(df: DataFrame, path: str, partition_cols: list[str],
                      max_records_per_file: int | None = None) -> None:
    """Hive-style partitioned parquet layout: downstream reads with a
    filter on ``partition_cols`` prune whole directories (partition
    pruning shows as PartitionFilters in the scan)."""
    writer = df.write.mode("overwrite")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy(*partition_cols).parquet(path)


# Per-file manifest entries are also dumped to a convenience JSON up to
# this many files; above it only the parquet manifest TABLE is written
# (a 10^10-row corpus at the default rows_per_file would mean millions
# of entries -- a driver-memory JSON is exactly the wrong shape there).
JSON_MANIFEST_MAX_FILES = 100_000


def sorted_export(df: DataFrame, out_dir: str, order_cols: list[str],
                  rows_per_file: int = 4096,
                  n_buckets: int = 64) -> DataFrame:
    """Globally-sorted export as fixed-size sorted runs + a RANGE
    MANIFEST -- the sorted-run/data-skipping primitive of every table
    format: file K holds exactly rows (K*rows_per_file, (K+1)*...] of
    the total order, rows sorted within, and ``manifest`` records each
    file's key range so a range read opens only the overlapping files.

    Determinism is the point: file boundaries come from
    :func:`assign_global_ids` (contiguous ranks, two-pass bucket-offset,
    no single-task sort), NOT from repartitionByRange's sampled
    boundaries -- so the same corpus always exports byte-identical file
    contents and an ORACLE can recompute the manifest row-for-row.

    Layout: ``out_dir/data/file_id=K/*.parquet`` +
    ``out_dir/manifest/`` (the manifest as a PARQUET TABLE -- the
    scale-path index the readers prune against, so the driver never
    holds an O(n_files) list) + ``out_dir/meta.json`` (order_cols,
    rows_per_file, the exported schema -- a few hundred bytes however
    large the corpus) + ``out_dir/manifest.json`` (per-file entries, a
    small-corpus convenience, skipped above JSON_MANIFEST_MAX_FILES).
    min_key/max_key take the LEADING order column's own type (long,
    string, date... -- not hardcoded int). An empty input produces an
    empty manifest (and no data dir); the readers handle it. Returns
    the manifest as a DataFrame ordered by file_id."""
    import json

    from .. import fsio

    lead = order_cols[0]
    spark = df.sparkSession
    ids = assign_global_ids(df, order_cols, n_buckets=n_buckets)
    files = ids.withColumn(
        "file_id", F.floor((F.col("global_id") - 1) / rows_per_file)
        .cast("int"))

    def manifest_of(src: DataFrame) -> DataFrame:
        return (src.groupBy("file_id")
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.min(lead).alias("min_key"),
                     F.max(lead).alias("max_key"),
                     F.min("global_id").alias("min_gid"),
                     F.max("global_id").alias("max_gid"))
                .orderBy("file_id"))

    meta = {"order_cols": order_cols, "rows_per_file": rows_per_file,
            "schema": files.schema.jsonValue()}
    max_fid = files.agg(F.max("file_id")).first()[0]
    if max_fid is None:
        # empty corpus: no data dir (partitionBy would emit a null
        # file_id partition), just the typed empty manifest + meta
        manifest = manifest_of(files)
        manifest.coalesce(1).write.mode("overwrite") \
            .parquet(out_dir + "/manifest")
        meta["n_files"] = 0
        fsio.write_text(spark, fsio.join(out_dir, "meta.json"),
                        json.dumps(meta, indent=1, sort_keys=True))
        return spark.read.parquet(out_dir + "/manifest")

    n_files = int(max_fid) + 1
    # range-partition on file_id so each task writes one (occasionally
    # two boundary) file directories; plain repartition(col) would hash
    # several file_ids onto some tasks and leave others empty, and no
    # repartition at all would fan every shuffle partition across every
    # directory (n_partitions x n_files tiny files). Correctness never
    # depends on the placement -- sortWithinPartitions + partitionBy fix
    # the contents either way.
    (files.repartitionByRange(n_files, "file_id")
     .sortWithinPartitions("file_id", *order_cols)
     .write.mode("overwrite").partitionBy("file_id")
     .parquet(out_dir + "/data"))
    # manifest from the SAME `files` frame the write consumed (whose
    # global ids sit on assign_global_ids' determinism checkpoint), not
    # a read-back of the freshly written tree: identical rows by
    # construction, and it skips listing + re-scanning n_files tiny
    # directories -- at a million files that read-back is exactly the
    # O(n_files) driver listing this operator exists to avoid.
    manifest = manifest_of(files)
    manifest.coalesce(1).write.mode("overwrite") \
        .parquet(out_dir + "/manifest")
    meta["n_files"] = n_files
    fsio.write_text(spark, fsio.join(out_dir, "meta.json"),
                    json.dumps(meta, indent=1, sort_keys=True))
    manifest = spark.read.parquet(out_dir + "/manifest")
    if n_files <= JSON_MANIFEST_MAX_FILES:
        rows = [r.asDict() for r in manifest.orderBy("file_id").collect()]
        fsio.write_text(
            spark, fsio.join(out_dir, "manifest.json"),
            json.dumps({"order_cols": order_cols,
                        "rows_per_file": rows_per_file, "files": rows},
                       indent=1, sort_keys=True, default=str))
    return manifest.orderBy("file_id")


def _sorted_export_meta(spark: SparkSession, out_dir: str) -> dict:
    """Load a sorted_export's meta sidecar through the Hadoop FS API
    (out_dir may be s3a://, hdfs://, ...). Layouts written by the
    pre-round-11 format carried only manifest.json; fall back to it,
    recovering the schema from the data dir (an old EMPTY export has
    neither data nor schema -- that one genuinely needs re-export and
    says so)."""
    from .. import fsio

    meta_p = fsio.join(out_dir, "meta.json")
    if fsio.exists(spark, meta_p):
        return fsio.read_json(spark, meta_p)
    legacy_p = fsio.join(out_dir, "manifest.json")
    if not fsio.exists(spark, legacy_p):
        raise FileNotFoundError(
            f"{out_dir} has neither meta.json nor manifest.json -- not "
            f"a sorted_export layout (or an interrupted export; "
            f"re-export)")
    legacy = fsio.read_json(spark, legacy_p)
    data_dir = fsio.join(out_dir, "data")
    if not fsio.exists(spark, data_dir):
        raise FileNotFoundError(
            f"{out_dir} is an older sorted_export layout (manifest.json "
            f"only) with no data dir; its schema is unrecoverable -- "
            f"re-export with the current sorted_export")
    return {"order_cols": legacy["order_cols"],
            "rows_per_file": legacy["rows_per_file"],
            "n_files": len(legacy["files"]),
            "schema": spark.read.parquet(data_dir).schema.jsonValue()}


def _read_pruned(spark: SparkSession, out_dir: str, meta: dict,
                 keep: list[int]) -> DataFrame:
    """basePath read of the surviving file_id partitions; typed empty
    frame (from the schema persisted in meta.json) when nothing
    survives -- which is also the only path an EMPTY export takes, so
    no data dir is ever required for it."""
    from pyspark.sql.types import StructType

    if not keep:
        schema = StructType.fromJson(meta["schema"])
        return driver_frame(spark, [], schema)
    paths = [f"{out_dir}/data/file_id={k}" for k in sorted(keep)]
    return (spark.read.option("basePath", out_dir + "/data")
            .parquet(*paths))


def read_sorted_range(spark: SparkSession, out_dir: str,
                      lo, hi) -> DataFrame:
    """Range read over a :func:`sorted_export` layout: the manifest
    TABLE prunes to the files whose [min_key, max_key] overlaps
    [lo, hi] BEFORE any data listing or scan -- driver-side file
    skipping, the same contract as partition pruning but on VALUE
    ranges. The pruning predicate runs on the manifest parquet (never a
    monolithic driver JSON), and only the SURVIVORS' file_ids are
    collected -- bounded by the result size, not the corpus size. The
    residual predicate still applies inside the survivors, so the
    result equals the unpruned filter exactly."""
    meta = _sorted_export_meta(spark, out_dir)
    lead = meta["order_cols"][0]
    man = spark.read.parquet(out_dir + "/manifest")
    keep = [r["file_id"] for r in
            man.where(~((F.lit(hi) < F.col("min_key"))
                        | (F.lit(lo) > F.col("max_key"))))
            .select("file_id").collect()]
    return _read_pruned(spark, out_dir, meta, keep) \
        .where(F.col(lead).between(lo, hi))


def read_sorted_slice(spark: SparkSession, out_dir: str,
                      gid_lo: int, gid_hi: int) -> DataFrame:
    """Positional read over a :func:`sorted_export` layout: rows with
    global_id in [gid_lo, gid_hi] -- the resuming-loader path ("give me
    samples 3,200,001..3,300,000 of the shuffled epoch"). Because file K
    holds EXACTLY rows (K*rows_per_file, (K+1)*rows_per_file] of the
    total order, the overlapping files are pure ARITHMETIC on
    rows_per_file -- no manifest scan at all, and the slice opens
    ceil(slice/rows_per_file)+1 files no matter how large the corpus
    is."""
    meta = _sorted_export_meta(spark, out_dir)
    rpf = int(meta["rows_per_file"])
    n_files = int(meta["n_files"])
    if gid_hi < gid_lo or n_files == 0 or gid_hi < 1 \
            or gid_lo > n_files * rpf:
        keep: list[int] = []
    else:
        keep = list(range(max(0, (max(gid_lo, 1) - 1) // rpf),
                          min(n_files - 1, (gid_hi - 1) // rpf) + 1))
    return _read_pruned(spark, out_dir, meta, keep) \
        .where(F.col("global_id").between(gid_lo, gid_hi))


def manifest_from_footers(spark: SparkSession, out_dir: str) -> DataFrame:
    """Rebuild a :func:`sorted_export` manifest from PARQUET FOOTER
    STATISTICS alone -- no data page is ever read. Spark's binaryFile
    file index lists ``out_dir/data`` (distributed, path column only),
    executors open each footer with pyarrow and fold the row-group
    min/max statistics of the LEADING order column and ``global_id``
    into per-file (n_rows, min_key, max_key, min_gid, max_gid) -- the
    exact manifest :func:`sorted_export` builds by aggregating the
    data. Row-for-row equality with the groupBy-built manifest is
    pinned by pytest; at 100 TB this is the manifest-repair /
    layout-audit path: KBs per file instead of a full table scan.

    Honesty note: parquet writers may TRUNCATE string statistics for
    very long values; numeric and timestamp keys (and ordinary short
    strings, which every testdata key is) are exact."""
    from pyspark.sql.types import StructType

    from .quality import _local_path

    meta = _sorted_export_meta(spark, out_dir)
    lead = meta["order_cols"][0]
    schema = StructType.fromJson(meta["schema"])
    key_ddl = schema[lead].dataType.simpleString()

    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.parquet")
             .option("recursiveFileLookup", "true")
             .load(out_dir + "/data")
             .select("path")
             .withColumn("file_id", F.regexp_extract(
                 "path", r"file_id=(\d+)", 1).cast("int")))

    def fold(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for b in batches:
            rows = []
            for path, fid in zip(b["path"], b["file_id"]):
                md = pq.ParquetFile(_local_path(path)).metadata
                names = {md.schema.column(i).path: i
                         for i in range(md.num_columns)}
                n = 0
                mins: dict[str, list] = {lead: [], "global_id": []}
                maxs: dict[str, list] = {lead: [], "global_id": []}
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    n += rg.num_rows
                    for colname in (lead, "global_id"):
                        st = rg.column(names[colname]).statistics
                        if st is not None and st.has_min_max:
                            mins[colname].append(st.min)
                            maxs[colname].append(st.max)
                rows.append((
                    int(fid), n,
                    min(mins[lead]) if mins[lead] else None,
                    max(maxs[lead]) if maxs[lead] else None,
                    min(mins["global_id"]) if mins["global_id"] else None,
                    max(maxs["global_id"]) if maxs["global_id"] else None,
                ))
            yield pd.DataFrame(rows, columns=[
                "file_id", "n_rows", "min_key", "max_key",
                "min_gid", "max_gid"])

    return (files.repartition(spark.sparkContext.defaultParallelism)
            .mapInPandas(
                fold,
                f"file_id int, n_rows long, min_key {key_ddl}, "
                f"max_key {key_ddl}, min_gid long, max_gid long")
            .groupBy("file_id")
            .agg(F.sum("n_rows").alias("n_rows"),
                 F.min("min_key").alias("min_key"),
                 F.max("max_key").alias("max_key"),
                 F.min("min_gid").alias("min_gid"),
                 F.max("max_gid").alias("max_gid"))
            .orderBy("file_id"))


def key_skew_report(df: DataFrame, keys: list[str],
                    top_n: int = 5,
                    percentiles: str = "exact",
                    accuracy: int = 10000) -> DataFrame:
    """Join-key pre-flight: BEFORE shuffling 100 TB on a key, answer
    "is this key safe" with one aggregate -- the diagnostic that
    decides between a plain hash join, :func:`salted_join`, AQE skew
    handling, or a broadcast. Emits the ``top_n`` hottest key tuples
    (rank, canonical key string, rows, share, cumulative share) with
    corpus-level skew stats on every row: total distinct keys, p50/p99
    group sizes (exact interpolated percentiles), the max group, and
    skew_ratio = max/avg -- a skew_ratio near 1 means uniform; 100+
    means the hot key floods one reducer and needs salting.

    Shape: ONE groupBy on the key (the same shuffle the join would do,
    but carrying only counts), then a topk (TakeOrderedAndProject --
    distributed partial top-k, never a global sort of the key table)
    and one percentile aggregate over the per-key count table --
    |keys| rows, not |rows|.

    ``percentiles``: ``"exact"`` (default, what the oracle checks)
    uses Spark's exact interpolated percentile -- which buffers every
    per-key count in ONE aggregation buffer, fine up to millions of
    distinct keys but not billions; ``"approx"`` swaps in
    approx_percentile (Greenwald-Khanna: bounded memory, rank error
    <= n/``accuracy``, returns an ELEMENT of the count table rather
    than an interpolated value) with the report shape unchanged --
    the billion-key lane. Everything else in the report (top-N,
    shares, max, skew_ratio) is exact in both modes. NULL key parts
    render as 'NULL' in the canonical string (a hot NULL is the most
    common real-world skew)."""
    if percentiles not in ("exact", "approx"):
        raise ValueError(f"percentiles must be 'exact' or 'approx' "
                         f"(got {percentiles!r})")
    key_str = F.concat_ws(
        "|", *[F.coalesce(F.col(k).cast("string"), F.lit("NULL"))
               for k in keys])
    counts = (df.groupBy(key_str.alias("key"))
              .agg(F.count(F.lit(1)).alias("n_rows")))
    if percentiles == "exact":
        p50 = F.expr("percentile(n_rows, 0.5)")
        p99 = F.expr("percentile(n_rows, 0.99)")
    else:
        p50 = F.expr(f"approx_percentile(n_rows, 0.5, {int(accuracy)})") \
            .cast("double")
        p99 = F.expr(f"approx_percentile(n_rows, 0.99, {int(accuracy)})") \
            .cast("double")
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n_rows").alias("n_total"),
        F.round(p50, 6).alias("p50_rows"),
        F.round(p99, 6).alias("p99_rows"),
        F.max("n_rows").alias("max_rows"))
    top = counts.orderBy(F.desc("n_rows"), F.asc("key")).limit(top_n)
    # rank/cum_share windows run over the already-limited top_n rows
    w = Window.orderBy(F.desc("n_rows"), F.asc("key"))
    top = top.withColumn("key_rank", F.row_number().over(w))
    return (top.crossJoin(F.broadcast(stats))
            .select("key_rank", "key", "n_rows",
                    F.round(F.col("n_rows") / F.col("n_total"), 6)
                    .alias("share"),
                    F.round(F.sum("n_rows").over(
                        w.rowsBetween(Window.unboundedPreceding, 0))
                        / F.col("n_total"), 6).alias("cum_share"),
                    "n_keys", "p50_rows", "p99_rows", "max_rows",
                    F.round(F.col("max_rows")
                            / (F.col("n_total") / F.col("n_keys")), 6)
                    .alias("skew_ratio"))
            .orderBy("key_rank"))


def join_size_estimate(left: DataFrame, right: DataFrame,
                       on: list[str], top_n: int = 5) -> DataFrame:
    """EXACT inner-equi-join output size WITHOUT running the join --
    the second half of the pre-flight :func:`key_skew_report` starts:
    |A join B| = sum over keys of cnt_A(k) * cnt_B(k), computed from
    the two COUNT tables (each one count-only groupBy, |keys| rows)
    joined on the key -- never the payload join itself. The answer a
    planner wants before committing a 100-TB shuffle: will this join
    emit 10^9 rows or 10^14?

    Emits one row per ``top_n`` largest-contribution key plus totals
    on every row: (key_rank, key, left_rows, right_rows, pair_rows,
    share of output, total output rows, matching key count) --
    the hot OUTPUT keys, which are what blow up a join, are not
    necessarily the hot INPUT keys of either side. NULL key parts
    render as 'NULL' (though an equi-join drops NULL keys, so they
    are excluded here, matching join semantics)."""
    def counts(df: DataFrame) -> DataFrame:
        key_str = F.concat_ws(
            "|", *[F.coalesce(F.col(k).cast("string"), F.lit("NULL"))
                   for k in on])
        notnull = F.lit(True)
        for k in on:
            notnull = notnull & F.col(k).isNotNull()
        return (df.where(notnull)
                .groupBy(key_str.alias("key"))
                .agg(F.count(F.lit(1)).alias("n")))
    lc = counts(left).withColumnRenamed("n", "left_rows")
    rc = counts(right).withColumnRenamed("n", "right_rows")
    pairs = (lc.join(rc, "key")
             .withColumn("pair_rows",
                         F.col("left_rows") * F.col("right_rows")))
    totals = pairs.agg(
        F.coalesce(F.sum("pair_rows"), F.lit(0)).alias("total_rows"),
        F.count(F.lit(1)).alias("n_matching_keys"))
    top = pairs.orderBy(F.desc("pair_rows"), F.asc("key")).limit(top_n)
    w = Window.orderBy(F.desc("pair_rows"), F.asc("key"))
    return (top.withColumn("key_rank", F.row_number().over(w))
            .crossJoin(F.broadcast(totals))
            .select("key_rank", "key", "left_rows", "right_rows",
                    "pair_rows",
                    F.round(F.col("pair_rows") / F.col("total_rows"), 6)
                    .alias("share"),
                    "total_rows", "n_matching_keys")
            .orderBy("key_rank"))
