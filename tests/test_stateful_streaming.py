"""applyInPandasWithState: per-user running profiles must accumulate
across MULTIPLE micro-batches (state store round-trips), converging to the
batch-mode totals."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from automated_review_analysis_pipeline_spark.sources.tables import load_table
from automated_review_analysis_pipeline_spark.streaming.events_stream import (
    read_events_stream,
)
from automated_review_analysis_pipeline_spark.streaming.stateful import (
    running_user_profiles,
)


def test_running_profiles_across_batches(spark, sf_dir, tmp_path):
    # split events into 3 files so availableNow + maxFilesPerTrigger=1
    # processes 3 micro-batches -> state must survive batch boundaries
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "events_parts")
    # write WITHOUT the ts conversion: the stream reader applies it
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    raw.repartition(3).write.parquet(src)

    stream = read_events_stream(spark, src, max_files_per_trigger=1)
    out = running_user_profiles(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("profiles")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    updates = spark.table("profiles").collect()
    # more update rows than users => at least one user updated in >1 batch
    n_users = events.select("user_id").distinct().count()
    assert len(updates) > n_users

    # last update per user == batch-mode totals
    final = {}
    for r in updates:
        final[r["user_id"]] = r  # memory sink appends in batch order
    batch = {
        r["user_id"]: r
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 4).alias("s"),
             F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("last"))
        .collect()
    }
    assert set(final) == set(batch)
    for uid, b in batch.items():
        f = final[uid]
        assert f["n_events"] == b["n"], uid
        assert abs(f["sum_value"] - b["s"]) < 1e-6, uid
        assert f["last_event_us"] == b["last"], uid


def test_finalized_sessions_timeout_eviction(spark, tmp_path):
    """Hand-built two-batch stream pins all three finalization paths:
    (1) a session closed IN-DATA by a later event > gap after it,
    (2) a session finalized by the event-time TIMEOUT once the second
        batch's watermark passes last + gap (idle-key eviction),
    (3) the still-open trailing session is withheld (never emitted)."""
    import glob
    import os
    import shutil
    import time

    from automated_review_analysis_pipeline_spark.streaming.stateful import (
        finalized_sessions,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    MIN = 60 * 1_000_000  # one minute in micros
    t0 = 1_700_000_000_000_000

    def mk(rows, name):
        df = spark.createDataFrame(
            [(u, t) for u, t in rows], "user_id long, ts_raw long"
        ).select("user_id",
                 F.timestamp_micros(F.col("ts_raw")).alias("ts"))
        p = str(tmp_path / name)
        df.coalesce(1).write.parquet(p)
        return glob.glob(f"{p}/*.parquet")[0]

    # batch 1: user 1 has two sessions split in-data (gap > 30min);
    # user 2 has one session that will finalize by TIMEOUT in batch 2
    f1 = mk([(1, t0), (1, t0 + 5 * MIN),
             (1, t0 + 60 * MIN),               # >30min after -> new session
             (2, t0 + 10 * MIN)], "b1")
    # batch 2 advances the watermark far past user 2's last+gap; its own
    # rows form user 3's trailing (withheld) session
    f2 = mk([(3, t0 + 300 * MIN), (3, t0 + 310 * MIN)], "b2")

    src = str(tmp_path / "src")
    os.makedirs(src)
    shutil.copy(f1, os.path.join(src, "a.parquet"))
    shutil.copy(f2, os.path.join(src, "b.parquet"))
    now = time.time()
    os.utime(os.path.join(src, "a.parquet"), (now - 100, now - 100))
    os.utime(os.path.join(src, "b.parquet"), (now, now))

    stream = read_events_stream(spark, src, max_files_per_trigger=1)
    out = (
        finalized_sessions(stream, gap_minutes=30)
        .writeStream.format("memory").queryName("fsess_unit")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt2")).start()
    )
    out.awaitTermination()
    got = sorted(tuple(r) for r in spark.table("fsess_unit").collect())
    assert got == [
        (1, t0, t0 + 5 * MIN, 2),              # closed in-data
        (1, t0 + 60 * MIN, t0 + 60 * MIN, 1),  # finalized by timeout
        (2, t0 + 10 * MIN, t0 + 10 * MIN, 1),  # finalized by timeout
        # user 3's trailing session correctly withheld
    ]


def test_streaming_asof_matches_batch_asof_across_batches(spark, sf_dir,
                                                          tmp_path):
    """The stateful streaming as-of over REAL time-split micro-batches
    equals the batch asof_join: clicks in batch 2 must match purchases
    carried in state from batch 1 (asserted to actually occur), ties
    match inclusively, and pre-first-purchase clicks stay NULL."""
    import glob
    import os
    import time

    from pyspark.sql import functions as F

    from automated_review_analysis_pipeline_spark.operators.events import (
        asof_join,
    )
    from automated_review_analysis_pipeline_spark.sources.tables import (
        load_table,
    )
    from automated_review_analysis_pipeline_spark.streaming.events_stream import (
        run_available_now,
    )
    from automated_review_analysis_pipeline_spark.streaming.stateful import (
        streaming_asof_enrich,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value")
    mn, mx = events.agg(F.unix_micros(F.min("ts")),
                        F.unix_micros(F.max("ts"))).first()
    split = (mn + mx) // 2
    src = str(tmp_path / "src")
    os.makedirs(src)
    for name, pred, age in (("a_first", F.unix_micros(F.col("ts")) < split,
                             100),
                            ("b_second",
                             F.unix_micros(F.col("ts")) >= split, 0)):
        d = str(tmp_path / name)
        events.where(pred).coalesce(1).write.parquet(d)
        f = glob.glob(d + "/*.parquet")[0]
        dst = os.path.join(src, name + ".parquet")
        os.rename(f, dst)
        os.utime(dst, (time.time() - age,) * 2)

    stream = (spark.readStream.schema(
        "event_id long, user_id long, ts timestamp, event_type string, "
        "value double").option("maxFilesPerTrigger", 1).parquet(src))
    got = {r["event_id"]: (r["p_us"], r["p_value"])
           for r in run_available_now(streaming_asof_enrich(stream),
                                      "sasof_t",
                                      output_mode="append").collect()}

    us = F.unix_micros(F.col("ts"))
    clicks = events.where(F.col("event_type") == "click").select(
        "event_id", "user_id", us.alias("t"), "value")
    purch = (events.where(F.col("event_type") == "purchase")
             .groupBy("user_id", us.alias("t"))
             .agg(F.max("value").alias("pv")))
    want = {r["event_id"]: (r["p_t"], r["p_pv"])
            for r in asof_join(clicks, purch, on="t", by="user_id",
                               prefix="p_").collect()}
    assert got == want

    # cross-batch matches genuinely occurred: some click AFTER the split
    # matched a purchase BEFORE it
    crossed = [e for e, (pus, _v) in got.items()
               if pus is not None and pus < split]
    late_clicks = {r["event_id"]
                   for r in clicks.where(F.col("t") >= split).collect()}
    assert any(e in late_clicks for e in crossed)
    # and some clicks have no purchase yet
    assert any(p[0] is None for p in got.values())


def test_streaming_asof_pre1970_and_null_value_state(spark, tmp_path):
    """Regression for the -1-sentinel / 0.0-coercion state encoding: a
    pre-1970 purchase (negative unix_micros) carried in state must still
    enrich a click in a LATER batch, and a NULL purchase value must be
    carried as NULL, never 0.0 -- the batch asof_join / DuckDB ASOF
    semantics."""
    import glob
    import os
    import time

    from automated_review_analysis_pipeline_spark.streaming.events_stream import (
        run_available_now,
    )
    from automated_review_analysis_pipeline_spark.streaming.stateful import (
        streaming_asof_enrich,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # batch 1: purchases only -- user 1 pre-1970, user 2 NULL value
    b1 = spark.createDataFrame(
        [(101, 1, "1969-06-01 00:00:00", "purchase", 7.5),
         (102, 2, "2024-01-01 00:00:00", "purchase", None)],
        "event_id long, user_id long, ts string, event_type string, "
        "value double").withColumn("ts", F.col("ts").cast("timestamp"))
    # batch 2: clicks that must match the state carried from batch 1
    b2 = spark.createDataFrame(
        [(201, 1, "2024-02-01 00:00:00", "click", 1.0),
         (202, 2, "2024-02-01 00:00:00", "click", 2.0),
         (203, 3, "2024-02-01 00:00:00", "click", 3.0)],
        "event_id long, user_id long, ts string, event_type string, "
        "value double").withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "src")
    os.makedirs(src)
    for name, df, age in (("a_first", b1, 100), ("b_second", b2, 0)):
        d = str(tmp_path / name)
        df.coalesce(1).write.parquet(d)
        dst = os.path.join(src, name + ".parquet")
        os.rename(glob.glob(d + "/*.parquet")[0], dst)
        os.utime(dst, (time.time() - age,) * 2)

    stream = (spark.readStream.schema(
        "event_id long, user_id long, ts timestamp, event_type string, "
        "value double").option("maxFilesPerTrigger", 1).parquet(src))
    got = {r["event_id"]: (r["p_us"], r["p_value"])
           for r in run_available_now(streaming_asof_enrich(stream),
                                      "sasof_n",
                                      output_mode="append").collect()}
    pre1970_us = int(b1.where("event_id = 101")
                     .select(F.unix_micros("ts")).first()[0])
    assert pre1970_us < 0
    null_us = int(b1.where("event_id = 102")
                  .select(F.unix_micros("ts")).first()[0])
    assert got == {201: (pre1970_us, 7.5),   # negative ts carried
                   202: (null_us, None),     # NULL value carried as NULL
                   203: (None, None)}        # genuinely no purchase


def _drain_files(spark, tmp_path, batches, name="src"):
    """Write each batch DataFrame as one parquet file with increasing
    mtimes so availableNow + maxFilesPerTrigger=1 replays them in
    order."""
    import glob
    import os
    import time

    src = str(tmp_path / name)
    os.makedirs(src)
    for i, df in enumerate(batches):
        d = str(tmp_path / f"{name}_part{i}")
        df.coalesce(1).write.parquet(d)
        dst = os.path.join(src, f"{chr(97 + i)}_{i}.parquet")
        os.rename(glob.glob(d + "/*.parquet")[0], dst)
        os.utime(dst, (time.time() - 100 + i,) * 2)
    return src


def test_streaming_asof_ooo_corrects_cross_batch_disorder(spark, tmp_path):
    """The watermark-buffered as-of lane must equal the batch asof_join
    on a fixture whose files deliver purchases AFTER the clicks they
    must enrich (the documented failure shape of the in-order lane),
    and the in-order lane must genuinely diverge on it -- proving the
    buffering does real work."""
    from automated_review_analysis_pipeline_spark.operators.events import (
        asof_join,
    )
    from automated_review_analysis_pipeline_spark.streaming.events_stream import (
        run_available_now,
    )
    from automated_review_analysis_pipeline_spark.streaming.stateful import (
        streaming_asof_enrich,
        streaming_asof_enrich_ooo,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ddl = ("event_id long, user_id long, ts string, event_type string, "
           "value double")

    def df(rows):
        return spark.createDataFrame(rows, ddl).withColumn(
            "ts", F.col("ts").cast("timestamp"))

    # batch 1: clicks FIRST (their matching purchases come later)
    b1 = df([(1, 1, "2024-01-01 10:05:00", "click", 1.0),
             (2, 1, "2024-01-01 10:07:00", "click", None),
             (3, 2, "2024-01-01 10:06:00", "click", 2.0)])
    # batch 2: the out-of-order purchases (event-time BEFORE the clicks)
    b2 = df([(10, 1, "2024-01-01 10:04:00", "purchase", 7.0),
             (11, 1, "2024-01-01 10:06:00", "purchase", None),
             (12, 2, "2024-01-01 10:00:00", "purchase", 3.5),
             (13, 2, "2024-01-01 10:00:00", "purchase", 9.0)])
    # batch 3: punctuation advancing the watermark past every click
    b3 = df([(99, 0, "2024-01-01 11:00:00", "heartbeat", None)])
    src = _drain_files(spark, tmp_path, [b1, b2, b3])

    schema = ("event_id long, user_id long, ts timestamp, "
              "event_type string, value double")

    def got(fn, suffix, **kw):
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        return {r["event_id"]: (r["p_us"], r["p_value"])
                for r in run_available_now(fn(stream, **kw), suffix,
                                           output_mode="append")
                .collect()}

    ooo = got(streaming_asof_enrich_ooo, "sasof_ooo", delay="10 minutes")

    events = b1.unionByName(b2)
    us = F.unix_micros(F.col("ts"))
    clicks = events.where(F.col("event_type") == "click").select(
        "event_id", "user_id", us.alias("t"), "value")
    purch = (events.where(F.col("event_type") == "purchase")
             .groupBy("user_id", us.alias("t"))
             .agg(F.max("value").alias("pv")))
    want = {r["event_id"]: (r["p_t"], r["p_pv"])
            for r in asof_join(clicks, purch, on="t", by="user_id",
                               prefix="p_").collect()}
    assert ooo == want
    # the disorder was real: every click's purchase arrived later
    assert all(p[0] is not None for p in ooo.values())

    # the in-order lane mis-enriches this fixture (documented contract)
    inorder = got(streaming_asof_enrich, "sasof_io")
    assert inorder != want


def test_streaming_asof_ooo_matches_inorder_fixture(spark, sf_dir,
                                                    tmp_path):
    """On the time-ordered fixture (plus a trailing heartbeat so the
    watermark passes the last click) the OOO lane equals the batch
    as-of too -- buffering costs no correctness when delivery is
    in-order."""
    from automated_review_analysis_pipeline_spark.operators.events import (
        asof_join,
    )
    from automated_review_analysis_pipeline_spark.sources.tables import (
        load_table,
    )
    from automated_review_analysis_pipeline_spark.streaming.events_stream import (
        run_available_now,
    )
    from automated_review_analysis_pipeline_spark.streaming.stateful import (
        streaming_asof_enrich_ooo,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value")
    mn, mx = events.agg(F.unix_micros(F.min("ts")),
                        F.unix_micros(F.max("ts"))).first()
    split = (mn + mx) // 2
    hb = spark.createDataFrame(
        [(-1, 0, "heartbeat", None)],
        "event_id long, user_id long, event_type string, value double"
    ).withColumn("ts", F.timestamp_micros(F.lit(mx + 10**9)))
    src = _drain_files(
        spark, tmp_path,
        [events.where(F.unix_micros(F.col("ts")) < split),
         events.where(F.unix_micros(F.col("ts")) >= split),
         hb.select("event_id", "user_id", "ts", "event_type", "value")])

    stream = (spark.readStream.schema(
        "event_id long, user_id long, ts timestamp, event_type string, "
        "value double").option("maxFilesPerTrigger", 1).parquet(src))
    got = {r["event_id"]: (r["p_us"], r["p_value"])
           for r in run_available_now(
               streaming_asof_enrich_ooo(stream, delay="0 seconds"),
               "sasof_ooo_io", output_mode="append").collect()}

    us = F.unix_micros(F.col("ts"))
    clicks = events.where(F.col("event_type") == "click").select(
        "event_id", "user_id", us.alias("t"), "value")
    purch = (events.where(F.col("event_type") == "purchase")
             .groupBy("user_id", us.alias("t"))
             .agg(F.max("value").alias("pv")))
    want = {r["event_id"]: (r["p_t"], r["p_pv"])
            for r in asof_join(clicks, purch, on="t", by="user_id",
                               prefix="p_").collect()}
    assert got == want


def test_streaming_asof_ooo_purchase_only_state_bounded(spark, tmp_path):
    """A user whose batches contain PURCHASES BUT NO CLICKS must still
    shed finalized purchases: pruning and the prune-timeout may not be
    gated on pending clicks, or a long-running stream accumulates every
    purchase in state forever. After the watermark passes every
    purchase, the surviving state is exactly the latest-<=-wm group
    (one entry here), and the output is unaffected (clicks from another
    user still enrich)."""
    from automated_review_analysis_pipeline_spark.streaming.stateful import (
        streaming_asof_enrich_ooo,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ddl = ("event_id long, user_id long, ts string, event_type string, "
           "value double")

    def df(rows):
        return spark.createDataFrame(rows, ddl).withColumn(
            "ts", F.col("ts").cast("timestamp"))

    # user 1: purchases only, one per batch; user 2: one click (so the
    # output side is exercised); user 0: heartbeat driving the watermark
    b1 = df([(10, 1, "2024-01-01 10:00:00", "purchase", 1.0),
             (30, 2, "2024-01-01 10:00:30", "click", 5.0)])
    b2 = df([(11, 1, "2024-01-01 10:01:00", "purchase", 2.0),
             (31, 2, "2024-01-01 10:00:45", "purchase", 6.0)])
    b3 = df([(12, 1, "2024-01-01 10:02:00", "purchase", 3.0)])
    b4 = df([(99, 0, "2024-01-01 11:00:00", "heartbeat", None)])
    src = _drain_files(spark, tmp_path, [b1, b2, b3, b4])

    chk = str(tmp_path / "chk_po")
    stream = (spark.readStream.schema(
        "event_id long, user_id long, ts timestamp, event_type string, "
        "value double").option("maxFilesPerTrigger", 1).parquet(src))
    q = (streaming_asof_enrich_ooo(stream, delay="1 minute")
         .writeStream.format("memory").queryName("sasof_po")
         .outputMode("append").option("checkpointLocation", chk)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    out = {r["event_id"]: r["p_value"]
           for r in spark.table("sasof_po").collect()}
    assert out == {30: None}  # click precedes user 2's only purchase

    state = (spark.read.format("statestore").load(chk)
             .selectExpr("key.user_id AS user_id",
                         "size(value.groupState.p_ts) AS n_p",
                         "size(value.groupState.c_ids) AS n_c").collect())
    by_user = {r["user_id"]: (r["n_p"], r["n_c"]) for r in state}
    # user 1 held 3 purchases across batches; after the watermark passed
    # them all, only the latest group (one entry) survives, no clicks
    assert by_user[1] == (1, 0)
    assert by_user.get(2, (1, 0))[0] <= 1
