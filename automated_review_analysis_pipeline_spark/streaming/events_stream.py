"""Structured Streaming event pipeline (SURVEY.md §2B event/time ops).

The reference is strictly batch; this is the mandated streaming surface:
file-source stream -> watermark -> tumbling/session window aggregation ->
sink. The batch twins in operators/events.py carry the SQL oracles; these
run the SAME aggregation logic through the streaming engine, verified by
trigger(availableNow) runs into a memory sink (batch/stream parity tests).

Scale notes: watermark bounds state; session_window state is per (user,
open-session); file source at 100 TB becomes Kafka with identical plan
shape -- only `readStream.format(...)` changes.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automated_review_analysis_pipeline_spark.session import driver_frame


def read_events_stream(spark: SparkSession, path: str,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """Parquet-directory stream of events. Streaming requires a pinned
    schema, but `events.ts` has shipped in two physical forms across
    testdata generations (TIMESTAMP(NANOS) read as raw longs vs plain
    TIMESTAMP(MICROS) -- see sources/tables.py). Probe the footer with a
    batch read (metadata-only, no data scan) and pin the stream schema to
    whatever is actually on disk, then normalize to TimestampType exactly
    like the batch loader so the stream and batch twins agree."""
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    ts_type = schema["ts"].dataType.simpleString()
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # The file stream source wants a DIRECTORY; a single-file path becomes
    # its parent dir + a glob filter on the file name.
    if path.endswith(".parquet") and os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    df = reader.parquet(path)
    if ts_type == "bigint":  # nanos-as-long generation
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    elif ts_type != "timestamp":
        raise ValueError(f"unexpected events.ts physical type: {ts_type}")
    return df


def streaming_tumbling_counts(events: DataFrame, duration: str = "1 hour",
                              watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window count/sum per event_type. Late rows
    beyond the watermark are dropped and their window state reclaimed."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4)
            .alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type", "n_events", "sum_value",
        )
    )


def streaming_session_stats(events: DataFrame, gap: str = "30 minutes",
                            watermark: str = "2 hours") -> DataFrame:
    """Native session windows (session_window groups rows whose gaps are
    below ``gap``) -- the streaming twin of operators.events.session_stats."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4)
            .alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events", "sum_value",
        )
    )


def streaming_dedup_keys(events: DataFrame,
                         keys: tuple[str, ...] = ("user_id", "event_type"),
                         watermark: str = "30 days") -> DataFrame:
    """Streaming exact dedup: emit each key combination once (first
    arrival wins; only the key columns are returned, so the result is
    arrival-order independent and equals batch SELECT DISTINCT).

    Scale: dropDuplicatesWithinWatermark keeps per-key state ONLY until
    the watermark passes the key's first-seen event time -- bounded state,
    unlike plain dropDuplicates which retains every key forever. This is
    the streaming twin of exact dedup for continuous ingestion (e.g.
    dedup-before-classify on a document firehose). The default watermark
    exceeds the test dataset's time span, so no eviction can re-admit a
    key and the emitted key set EQUALS batch SELECT DISTINCT (the exact
    oracle + the multi-batch exactly-once test rely on this); production
    sets it to the dedup SLA (e.g. 24h)."""
    return (
        events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark([*keys])
        .select(*keys)
    )


def run_available_now(stream_df: DataFrame, table_suffix: str = "",
                      output_mode: str = "complete") -> DataFrame:
    """Drain a streaming frame with trigger(availableNow) into an
    in-memory table and return it as a batch DataFrame -- how the driver
    harness and tests observe streaming output. Aggregations use
    outputMode 'complete'; dedup/row streams use 'append'."""
    spark = stream_df.sparkSession
    name = f"stream_out_{table_suffix or uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def streaming_incremental_rollup(spark: SparkSession, events_path: str,
                                 state_dir: str,
                                 max_files_per_trigger: int | None = None
                                 ) -> DataFrame:
    """foreachBatch incremental view maintenance: every micro-batch's
    day-grain partials (count + exact decimal sum) merge into a persisted
    state table; the final state equals the full batch recompute -- the
    streaming twin of operators.events.merge_rollups, and the pattern
    that replaces nightly full-table rollup jobs at 100 TB (state is
    |days| rows; each batch touches only its own partials).

    State versioning: each batch writes ``{state_dir}/v{n}`` and readers
    take the highest complete version -- overwrite-in-place would race
    the read of the previous state inside the same batch. A real
    deployment uses a transactional table format for this; the versioned
    directory is the dependency-free equivalent.
    """
    import os

    from automated_review_analysis_pipeline_spark.operators.events import (
        daily_rollup_partials,
        finalize_rollup,
        merge_partials,
    )

    def latest_version(path: str) -> int:
        if not os.path.isdir(path):
            return -1
        versions = [int(d[1:]) for d in os.listdir(path)
                    if d.startswith("v") and d[1:].isdigit()]
        return max(versions, default=-1)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        delta = daily_rollup_partials(batch_df)
        v = latest_version(state_dir)
        if v >= 0:
            state = spark.read.parquet(os.path.join(state_dir, f"v{v}"))
            merged = merge_partials(state, delta)
        else:
            merged = merge_partials(delta.limit(0), delta)
        merged.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v{v + 1}"))
        vacuum_state_versions(state_dir, keep=2)

    stream = read_events_stream(spark, events_path, max_files_per_trigger)
    q = (
        stream.writeStream.foreachBatch(upsert)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(state_dir, "_chk"))
        .start()
    )
    q.awaitTermination()
    v = latest_version(state_dir)
    if v < 0:
        return finalize_rollup(
            driver_frame(
                spark, [], "day_us long, n_events long, __sum decimal(38,6)"))
    return finalize_rollup(
        spark.read.parquet(os.path.join(state_dir, f"v{v}")))


def streaming_static_enrich(events: DataFrame, dim: DataFrame,
                            duration: str = "1 hour",
                            watermark: str = "2 hours") -> DataFrame:
    """Stream-static enrichment: a streaming fact joined to a BATCH
    dimension, then watermark + tumbling aggregation per (segment,
    window). The static side is broadcast and the join runs map-side
    inside every micro-batch -- no join state at all (vs stream-stream
    joins, which must buffer both sides); this is the canonical shape for
    decorating an event stream with slowly-changing reference data at
    100 TB. ``dim`` must carry (user_id, segment).

    Inner join + deterministic agg => exact batch SQL oracle.
    """
    from pyspark.sql.functions import broadcast

    return (
        events.join(broadcast(dim), "user_id")
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration).alias("w"), F.col("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4)
            .alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "segment", "n_events", "sum_value",
        )
    )


def streaming_sliding_counts(events: DataFrame, window_minutes: int = 60,
                             slide_minutes: int = 30,
                             watermark: str = "2 hours") -> DataFrame:
    """Hopping (sliding) windows through the streaming engine: each event
    lands in window/slide overlapping windows; watermark bounds how long
    each open window's state lives. Streaming twin of
    operators.events.sliding_window_agg (same oracle)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", f"{window_minutes} minutes",
                     f"{slide_minutes} minutes").alias("w"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type", "n_events",
        )
    )


def streaming_click_attribution(events: DataFrame,
                                max_gap_minutes: int = 30,
                                watermark: str = "2 hours") -> DataFrame:
    """Stream-stream INTERVAL JOIN: each purchase joined to every click by
    the same user in the preceding ``max_gap_minutes`` -- the classic
    streaming attribution shape.

    Both sides carry watermarks and the join has an event-time range
    constraint, so Spark can evict click state once the watermark passes
    click_ts + gap: state is bounded by (users active within the gap), not
    by history. Inner join + deterministic pairing -> the result equals
    the batch interval join exactly, which gives this stream a full
    value-level SQL oracle (rare for streaming operators).
    """
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"),
                F.col("ts").alias("click_ts"),
                F.col("event_id").alias("click_id"))
        .withWatermark("click_ts", watermark))
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("purchase_ts"),
                F.col("event_id").alias("purchase_id"))
        .withWatermark("purchase_ts", watermark))
    return (
        purchases.join(
            clicks,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts")
               >= F.col("purchase_ts")
               - F.expr(f"INTERVAL {max_gap_minutes} MINUTES")),
        )
        .select(
            "purchase_id", "user_id",
            F.unix_micros(F.col("purchase_ts")).alias("purchase_us"),
            "click_id",
            F.unix_micros(F.col("click_ts")).alias("click_us"),
            (F.unix_micros(F.col("purchase_ts"))
             - F.unix_micros(F.col("click_ts"))).alias("gap_us"),
        )
    )


def streaming_kmv_distinct(spark: SparkSession, events_path: str,
                           state_dir: str,
                           group_col: str = "event_type",
                           key_col: str = "user_id", k: int = 64,
                           max_files_per_trigger: int | None = None
                           ) -> DataFrame:
    """foreachBatch-merged KMV distinct sketches: every micro-batch
    contributes its OWN bottom-k registers and merging two sketches is
    just the bottom-k of their union -- the mergeability property that
    makes KMV (like the rollup partials above) an incremental-view
    state, exercised through the real streaming engine. State is the
    register table (group, h): k rows per group regardless of stream
    length, the whole point of sketch state at 100 TB (billions of keys
    never persist, only k hashes per group do).

    The final estimates equal the one-shot batch
    ``kmv_distinct_report`` over the full corpus BY CONSTRUCTION
    (bottom-k of unions of bottom-ks == global bottom-k), so the exact
    SQL oracle carries over; the multi-batch equality is pinned by
    pytest with maxFilesPerTrigger=1."""
    import os

    from automated_review_analysis_pipeline_spark.operators.sketches import (
        kmv_estimate_from_registers,
        kmv_registers,
    )

    def latest_version(path: str) -> int:
        if not os.path.isdir(path):
            return -1
        versions = [int(d[1:]) for d in os.listdir(path)
                    if d.startswith("v") and d[1:].isdigit()]
        return max(versions, default=-1)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window as W

        delta = kmv_registers(batch_df, group_col, key_col, k)
        v = latest_version(state_dir)
        if v >= 0:
            state = spark.read.parquet(os.path.join(state_dir, f"v{v}"))
            merged = state.unionByName(delta).distinct()
        else:
            merged = delta
        w = W.partitionBy("g").orderBy("h")
        topk = (merged.withColumn("__r", F.row_number().over(w))
                .where(F.col("__r") <= k).select("g", "h"))
        topk.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v{v + 1}"))
        vacuum_state_versions(state_dir, keep=2)

    stream = read_events_stream(spark, events_path, max_files_per_trigger)
    q = (
        stream.writeStream.foreachBatch(upsert)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(state_dir, "_chk"))
        .start()
    )
    q.awaitTermination()
    v = latest_version(state_dir)
    if v < 0:
        # empty-source fallback: derive the register schema from the
        # SOURCE (group_col may be any type, not just string) by running
        # the register builder over a zero-row batch read of the path
        regs = kmv_registers(
            spark.read.parquet(events_path).limit(0),
            group_col, key_col, k)
    else:
        regs = spark.read.parquet(os.path.join(state_dir, f"v{v}"))
    return kmv_estimate_from_registers(regs, k, group_col)


def vacuum_state_versions(state_dir: str, keep: int = 2) -> list:
    """Retention for the versioned-state-directory pattern
    (streaming_incremental_rollup / streaming_kmv_distinct write
    ``{state_dir}/v{n}`` per micro-batch): drop every version older
    than the newest ``keep``. Without this a long-running incremental
    job accumulates one full state copy PER BATCH -- a year of 1-minute
    batches is half a million state snapshots; retention is the
    operational other half of the versioning trick (the kept window
    still protects the read-previous/write-next overlap inside a
    batch). Returns the removed version numbers."""
    import os
    import shutil

    if keep < 1:
        raise ValueError("vacuum must keep at least 1 version")
    if not os.path.isdir(state_dir):
        return []
    versions = sorted(int(d[1:]) for d in os.listdir(state_dir)
                      if d.startswith("v") and d[1:].isdigit())
    drop = versions[:-keep]
    for v in drop:
        shutil.rmtree(os.path.join(state_dir, f"v{v}"),
                      ignore_errors=True)
    return drop
