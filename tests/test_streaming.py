"""Streaming parity: replaying the events log through the Structured
Streaming hourly rollup must equal the batch pv_hourly operator."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR
from tests.oracle_compare import assert_frames_match


def test_stream_pv_hourly_equals_batch(spark):
    from hedera_spark.operators.timeseries import pv_hourly
    from hedera_spark.streaming.pageviews import stream_pv_hourly

    stream_df = stream_pv_hourly(spark, SF_DIR)
    assert stream_df.isStreaming
    q = (
        stream_df.writeStream.format("memory")
        .queryName("pv_hourly_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from pv_hourly_stream").toPandas()
    want = pv_hourly(spark, SF_DIR).toPandas()
    assert_frames_match(got, want, "stream_pv_hourly")


def test_stream_user_totals_equals_batch(spark):
    """The stateful running-total op after consuming the whole file must
    equal the batch aggregate."""
    from pyspark.sql import functions as F

    from hedera_spark.sources.tables import load_table
    from hedera_spark.streaming.stateful import stream_user_totals

    out = stream_user_totals(spark, SF_DIR)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("user_totals_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: r
        for r in spark.sql(
            "select * from user_totals_stream"
        ).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    want = {
        r["user_id"]: r
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.max(F.unix_timestamp("ts")).alias("last_unix"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for uid, w in want.items():
        g = got[uid]
        assert g["n_events"] == w["n_events"]
        assert abs(g["sum_value"] - w["sum_value"]) < 0.05
        assert g["last_unix"] == w["last_unix"]


@pytest.mark.slow
def test_stream_append_mode_closes_windows_by_watermark(spark, tmp_path):
    """Append-mode semantics: stream the events log as one file per day
    (chronological batches); the watermark must close and emit exactly the
    hourly windows whose end precedes (max event time - watermark), and
    every emitted row must equal the batch aggregate."""
    import pandas as pd
    from pyspark.sql import functions as F

    from hedera_spark.operators.timeseries import pv_hourly
    from hedera_spark.sources.tables import load_table
    from hedera_spark.streaming.pageviews import _hourly_agg
    from hedera_spark.streaming.source import stream_events_dir

    # lay the log out as one parquet file per day, lexicographic = time order
    ev = load_table(spark, SF_DIR, "events")
    days = [r["d"] for r in ev.select(F.to_date("ts").alias("d")).distinct().collect()]
    src = tmp_path / "stream_src"
    src.mkdir()
    for d in sorted(days):
        part = ev.where(F.to_date("ts") == F.lit(d))
        part.coalesce(1).write.mode("overwrite").parquet(str(src / f"day={d}"))

    stream = stream_events_dir(spark, str(src), recursive=True)
    q = (
        _hourly_agg(stream)
        .writeStream.format("memory")
        .queryName("pv_append_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    got = spark.sql("select * from pv_append_stream").toPandas()
    want = pv_hourly(spark, SF_DIR).toPandas()

    max_ts = ev.agg(F.max("ts")).first()[0]
    horizon = (pd.Timestamp(max_ts) - pd.Timedelta(hours=2)).floor("h")

    # 1. emitted rows are exactly the closed windows of the batch result
    closed = want[want["hour"] < horizon]
    key = ["user_id", "hour"]
    merged = closed.merge(got, on=key, how="left", suffixes=("_b", "_s"))
    assert merged["n_events_s"].notna().all(), "closed window missing from append output"
    assert (merged["n_events_b"] == merged["n_events_s"]).all()
    assert (abs(merged["sum_value_b"] - merged["sum_value_s"]) < 1e-6).all()
    # 2. nothing beyond the watermark horizon was emitted
    assert (pd.to_datetime(got["hour"]) < horizon + pd.Timedelta(hours=3)).all()


def test_stream_dedup_equals_batch_distinct(spark):
    """Append-mode dropDuplicates over the replayed log == batch DISTINCT."""
    from hedera_spark.sources.tables import load_table
    from hedera_spark.streaming.dedup import stream_dedup

    stream_df = stream_dedup(spark, SF_DIR)
    assert stream_df.isStreaming
    q = (
        stream_df.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from dedup_stream").toPandas()
    want = (
        load_table(spark, SF_DIR, "events")
        .select("user_id", "event_type")
        .distinct()
        .toPandas()
    )
    assert_frames_match(got, want, "stream_dedup")


def test_stream_dedup_within_watermark_bounds(spark):
    """The watermarked variant emits at least every distinct key (a key can
    re-emit after state eviction) and no more rows than the raw stream."""
    from hedera_spark.sources.tables import load_table
    from hedera_spark.streaming.dedup import stream_dedup_within_watermark

    q = (
        stream_dedup_within_watermark(spark, SF_DIR)
        .writeStream.format("memory")
        .queryName("dedup_wm_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from dedup_wm_stream")
    events = load_table(spark, SF_DIR, "events")
    n_distinct = events.select("user_id", "event_type").distinct().count()
    assert got.count() >= n_distinct > 0
    assert got.count() <= events.count()


def test_stream_sessionize_matches_batch_for_closed_sessions(spark):
    """Every session the watermark closed must match batch session_stats
    exactly on (user, start, count, sum); near the end of the replayed
    log sessions stay open (watermark), so the stream emits a prefix —
    assert it is a large, value-exact subset."""
    from pyspark.sql import functions as F

    from hedera_spark.operators.timeseries import session_stats
    from hedera_spark.streaming.sessionize import stream_sessionize

    q = (
        stream_sessionize(spark, SF_DIR)
        .writeStream.format("memory")
        .queryName("sessionize_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from sessionize_stream").toPandas()
    want = (
        session_stats(spark, SF_DIR)
        .select("user_id", "start_ts", "n_events", F.round("sum_value", 2).alias("sum_value"))
        .toPandas()
    )
    assert len(got) > 0.5 * len(want), (len(got), len(want))
    merged = got.merge(
        want, on=["user_id", "start_ts"], how="left", suffixes=("_s", "_b")
    )
    # every emitted session exists in batch with identical aggregates
    assert merged["n_events_b"].notna().all()
    assert (merged["n_events_s"] == merged["n_events_b"]).all()
    assert (abs(merged["sum_value_s"] - merged["sum_value_b"]) < 1e-6).all()


def test_stream_enrich_equals_batch_join(spark):
    """Stream-static enrichment replayed over the whole log == the batch
    join, row for row (stateless join: no watermark caveats at all)."""
    from pyspark.sql import functions as F

    from hedera_spark.sources.tables import load_table
    from hedera_spark.streaming.enrich import stream_enrich, user_profiles

    q = (
        stream_enrich(spark, SF_DIR)
        .writeStream.format("memory")
        .queryName("enrich_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from enrich_stream").toPandas()
    want = (
        load_table(spark, SF_DIR, "events")
        .select("event_id", "user_id", "ts", "event_type", "value")
        .join(F.broadcast(user_profiles(spark, SF_DIR)), "user_id", "left")
        .withColumn(
            "above_hist_avg", (F.col("value") > F.col("hist_avg_value")).cast("int")
        )
        .toPandas()
    )
    assert_frames_match(got, want, "stream_enrich")


def test_stream_checkpoint_resume_is_exactly_once(spark, tmp_path):
    """Restartability: a file-sink stream with a checkpoint, stopped and
    restarted after new files arrive, must process every input row
    exactly once (no re-emission of the first batch, no gaps) — the
    property the reference's re-seekable split readers exist to provide,
    delivered by Structured Streaming's offset log + idempotent sink."""
    from pyspark.sql import functions as F

    from hedera_spark.sources.tables import load_table
    from hedera_spark.streaming.source import stream_events_dir

    ev = load_table(spark, SF_DIR, "events")
    cut = "2024-01-15"
    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    day = F.to_date("ts")
    ev.where(day < F.lit(cut)).coalesce(1).write.parquet(str(src / "a"))

    def run_once():
        q = (
            stream_events_dir(
                spark, str(src), recursive=True, max_files_per_trigger=None
            )
            .select("event_id", "user_id", "value")
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n_first = spark.read.parquet(str(out)).count()
    assert 0 < n_first < ev.count()

    # new files land; the restarted stream must pick up ONLY those
    ev.where(day >= F.lit(cut)).coalesce(1).write.parquet(str(src / "b"))
    run_once()

    got = spark.read.parquet(str(out))
    assert got.count() == ev.count()  # no gaps
    assert got.select("event_id").distinct().count() == ev.count()  # no dupes


def test_stream_stream_join_equals_batch_within_window(spark):
    """Inner stream-stream join replayed over the whole log == the batch
    join with the identical time-range predicate (inner joins emit
    matches as both sides arrive; the watermark only bounds state)."""
    from pyspark.sql import functions as F

    from hedera_spark.sources.tables import load_table
    from hedera_spark.streaming.joins import (
        ATTRIBUTION_WINDOW,
        stream_view_purchase_join,
    )

    q = (
        stream_view_purchase_join(spark, SF_DIR)
        .writeStream.format("memory")
        .queryName("vp_join_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("select * from vp_join_stream").toPandas()

    ev = load_table(spark, SF_DIR, "events")
    views = ev.where("event_type = 'view'").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("v_id"),
        F.col("ts").alias("v_ts"),
    )
    purchases = ev.where("event_type = 'purchase'").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    want = (
        views.join(
            purchases,
            (F.col("v_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("v_ts"))
            & (
                F.col("p_ts")
                <= F.col("v_ts") + F.expr(f"INTERVAL {ATTRIBUTION_WINDOW}")
            ),
        )
        .select(
            "v_user",
            "v_id",
            "p_id",
            "v_ts",
            "p_ts",
            "p_value",
            (F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts")).alias(
                "lag_seconds"
            ),
        )
        .toPandas()
    )
    assert len(want) > 0
    assert_frames_match(got, want, "stream_view_purchase_join")


def test_event_stream_adapts_to_both_ts_encodings(spark, tmp_path):
    """The streaming source must yield identical real timestamps whether
    the events parquet stores `ts` as nanos-as-long or as timestamp[us]
    — so a testdata regeneration that flips the encoding cannot silently
    break the streaming family again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hedera_spark.streaming.source import event_stream

    rows = {
        "event_id": [1, 2, 3],
        "user_id": [10, 20, 30],
        "event_type": ["view", "view", "purchase"],
        "value": [1.0, 2.0, 3.0],
        "props": ["{}", "{}", "{}"],
    }
    micros = [1704067200_000000, 1704070800_000000, 1704074400_000000]

    ts_us = pa.array(micros, type=pa.timestamp("us"))
    ts_ns = pa.array([m * 1000 for m in micros], type=pa.timestamp("ns"))

    got = {}
    for name, ts_arr in [("us", ts_us), ("ns", ts_ns)]:
        d = tmp_path / name
        d.mkdir()
        table = pa.table(
            {
                "event_id": pa.array(rows["event_id"], pa.int64()),
                "ts": ts_arr,
                "user_id": pa.array(rows["user_id"], pa.int64()),
                "event_type": pa.array(rows["event_type"]),
                "value": pa.array(rows["value"], pa.float64()),
                "props": pa.array(rows["props"]),
            }
        )
        pq.write_table(table, str(d / "events.parquet"))
        q = (
            event_stream(spark, str(d))
            .select("event_id", "ts")
            .writeStream.format("memory")
            .queryName(f"ts_adapt_{name}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        got[name] = {
            r["event_id"]: r["ts"]
            for r in spark.sql(f"select * from ts_adapt_{name}").collect()
        }

    assert got["us"] == got["ns"]
    assert all(t.year == 2024 for t in got["us"].values())


def test_rate_source_pv_hourly_equals_batch_reconstruction(spark):
    """The hourly rollup over the rate-micro-batch source (message-bus-
    shaped, not file-replay) must equal the batch aggregate over the
    deterministically reconstructed input — proving the streaming
    operators are source-agnostic."""
    import time

    from pyspark.sql import functions as F

    from hedera_spark.streaming.rate_source import (
        rate_events_batch,
        stream_pv_hourly_rate,
    )

    q = (
        stream_pv_hourly_rate(spark)
        .writeStream.format("memory")
        .queryName("pv_rate_stream")
        .outputMode("complete")
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline:
        p = q.lastProgress
        if p is not None and p["batchId"] >= 3:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(30)
    n_batches = q.lastProgress["batchId"] + 1
    assert n_batches >= 3

    got = spark.sql("select * from pv_rate_stream").toPandas()
    want = (
        rate_events_batch(spark, n_batches)
        .groupBy("user_id", F.window("ts", "1 hour").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id", F.col("win.start").alias("hour"), "n_events", "sum_value"
        )
        .toPandas()
    )
    assert len(want) > 0
    assert_frames_match(got, want, "stream_pv_hourly_rate")


def test_stream_dedup_vs_history_equals_batch_anti_join(spark):
    """The stream-static anti join replayed over the whole log must equal
    the batch anti join row for row."""
    from pyspark.sql import functions as F

    from hedera_spark.sources.tables import load_table
    from hedera_spark.streaming.dedup import stream_dedup_vs_history

    q = (
        stream_dedup_vs_history(spark, SF_DIR)
        .writeStream.format("memory")
        .queryName("dedup_hist_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from dedup_hist_stream").toPandas()

    ev = load_table(spark, SF_DIR, "events")
    cutoff = "2024-01-15"
    hist = (
        ev.where(F.to_date("ts") < F.lit(cutoff))
        .select("user_id", "event_type", F.hour("ts").alias("hr"))
        .distinct()
    )
    want = (
        ev.where(F.to_date("ts") >= F.lit(cutoff))
        .withColumn("hr", F.hour("ts"))
        .join(hist, ["user_id", "event_type", "hr"], "left_anti")
        .select("event_id", "user_id", "event_type", "ts", "value")
        .toPandas()
    )
    assert len(want) > 0
    assert_frames_match(got, want, "stream_dedup_vs_history")


@pytest.mark.slow
def test_stream_write_partitioned_is_idempotent(spark, tmp_path):
    """The foreachBatch dynamic-partition-overwrite sink must (1) land the
    replayed log row-exact into the date-partitioned lake and (2) be
    IDEMPOTENT: re-running the whole ingest from scratch (lost
    checkpoint / backfill) leaves the lake identical, no duplicates."""
    from pyspark.sql import functions as F

    from hedera_spark.sources.tables import load_table
    from hedera_spark.streaming.sink import stream_write_partitioned

    ev = load_table(spark, SF_DIR, "events")
    # daily-file layout: one micro-batch per day = batch aligns with the
    # output partition (the compaction alignment the sink requires)
    src = tmp_path / "src"
    src.mkdir()
    days = [r["d"] for r in ev.select(F.to_date("ts").alias("d")).distinct().collect()]
    for d in sorted(days):
        ev.where(F.to_date("ts") == F.lit(d)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"day={d}"))

    out = tmp_path / "lake"

    def run(ckpt: str) -> None:
        q = stream_write_partitioned(spark, str(src), str(out), ckpt)
        q.awaitTermination(180)

    run(str(tmp_path / "ckpt1"))
    lake = spark.read.parquet(str(out))
    assert lake.count() == ev.count()
    assert lake.select("event_id").distinct().count() == ev.count()
    # partition layout: one directory per event date
    got_days = {
        r["event_date"] for r in lake.select("event_date").distinct().collect()
    }
    assert got_days == set(days)

    # replay from scratch (fresh checkpoint): identical lake, no dupes
    run(str(tmp_path / "ckpt2"))
    lake2 = spark.read.parquet(str(out))
    assert lake2.count() == ev.count()
    assert lake2.select("event_id").distinct().count() == ev.count()


@pytest.mark.slow
def test_stream_write_compacted_bounds_file_count(spark, tmp_path):
    """The compaction sink must land the same rows as the plain
    partitioned sink while writing a BOUNDED number of parquet files per
    date partition: with a large target, one file per partition (not one
    per shuffle partition); with a small target, ~rows/target files."""
    import glob as globmod

    from pyspark.sql import functions as F

    from hedera_spark.sources.tables import load_table
    from hedera_spark.streaming.sink import stream_write_compacted

    ev = load_table(spark, SF_DIR, "events")
    src = tmp_path / "src"
    src.mkdir()
    days = sorted(
        r["d"] for r in ev.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    for d in days:
        ev.where(F.to_date("ts") == F.lit(d)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"day={d}"))

    # large target: every date partition compacts to exactly ONE file
    out = tmp_path / "lake"
    q = stream_write_compacted(
        spark, str(src), str(out), str(tmp_path / "ck1"),
        target_rows_per_file=10_000_000,
    )
    q.awaitTermination(180)
    lake = spark.read.parquet(str(out))
    assert lake.count() == ev.count()
    assert lake.select("event_id").distinct().count() == ev.count()
    for d in days:
        files = globmod.glob(str(out / f"event_date={d}" / "*.parquet"))
        assert len(files) == 1, f"{d}: {len(files)} files, want 1"

    # small target: file count grows with batch size but stays bounded
    # by ceil(batch_rows / target)
    out2 = tmp_path / "lake2"
    rows_per_day = ev.count() // len(days)
    target = max(1, rows_per_day // 3)
    q = stream_write_compacted(
        spark, str(src), str(out2), str(tmp_path / "ck2"),
        target_rows_per_file=target,
    )
    q.awaitTermination(180)
    lake2 = spark.read.parquet(str(out2))
    assert lake2.count() == ev.count()
    import math

    for d in days:
        n_day = ev.where(F.to_date("ts") == F.lit(d)).count()
        files = globmod.glob(str(out2 / f"event_date={d}" / "*.parquet"))
        assert 1 <= len(files) <= math.ceil(n_day / target)


@pytest.mark.slow
def test_stream_pv_anomaly_equals_batch(spark, tmp_path):
    """The stateful online anomaly scorer, replayed over day-files in
    order, must reproduce batch pv_anomaly's scores for every (user,
    day): same flags, same mean/z to rounding tolerance (stream emits
    NaN where batch emits NULL z)."""
    import math

    from pyspark.sql import functions as F

    from hedera_spark.operators.timeseries import pv_anomaly
    from hedera_spark.sources.tables import load_table
    from hedera_spark.streaming.stateful import stream_pv_anomaly

    ev = load_table(spark, SF_DIR, "events")
    src = tmp_path / "src"
    src.mkdir()
    days = sorted(
        r["d"] for r in ev.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    for d in days:
        ev.where(F.to_date("ts") == F.lit(d)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"day={d}"))

    out = stream_pv_anomaly(spark, str(src), recursive=True)
    q = (
        out.writeStream.format("memory")
        .queryName("pv_anomaly_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # update-mode re-emissions: keep the LAST row per (user, day)
    got = {}
    for r in spark.sql("select * from pv_anomaly_stream").collect():
        got[(r["user_id"], r["day_num"])] = r

    want = {
        (
            r["user_id"],
            (r["day"] - __import__("datetime").date(1970, 1, 1)).days,
        ): r
        for r in pv_anomaly(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert g["cnt"] == w["cnt"], k
        assert abs(g["mean_7"] - w["mean_7"]) < 1e-6, k
        assert g["is_anomaly"] == w["is_anomaly"], k
        if w["z_score"] is None:
            assert math.isnan(g["z_score"]), k
        else:
            assert abs(g["z_score"] - w["z_score"]) < 1e-6, k


@pytest.mark.slow
def test_stream_pv_anomaly_state_survives_restart(spark, tmp_path):
    """Keyed state must survive a stream restart: replay the first half
    of the days, stop, add the rest, restart with the SAME checkpoint —
    the later days' scores must be computed against state accumulated
    before the restart, matching the batch operator exactly."""
    import math

    from pyspark.sql import functions as F

    from hedera_spark.operators.timeseries import pv_anomaly
    from hedera_spark.sources.tables import load_table
    from hedera_spark.streaming.stateful import stream_pv_anomaly

    ev = load_table(spark, SF_DIR, "events")
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    days = sorted(
        r["d"] for r in ev.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    half = len(days) // 2

    def write_days(day_list):
        for d in day_list:
            ev.where(F.to_date("ts") == F.lit(d)).coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(src / f"day={d}"))

    out_dir = str(tmp_path / "scores")

    def run_once():
        # memory sink cannot recover from a checkpoint; foreachBatch can
        def _sink(batch_df, batch_id):
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(out_dir)

        q = (
            stream_pv_anomaly(spark, str(src), recursive=True)
            .writeStream.foreachBatch(_sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    write_days(days[:half])
    run_once()
    n_first = spark.read.parquet(out_dir).count()

    write_days(days[half:])
    run_once()

    # the restarted run must NOT have reprocessed the first half: new
    # rows only for the new days (exactly-once at the source)
    all_rows = spark.read.parquet(out_dir).collect()
    got = {}
    for r in sorted(all_rows, key=lambda r: r["batch_id"]):
        got[(r["user_id"], r["day_num"])] = r
    assert 0 < n_first < len(all_rows)

    epoch = __import__("datetime").date(1970, 1, 1)
    want = {
        (r["user_id"], (r["day"] - epoch).days): r
        for r in pv_anomaly(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    # the decisive rows: days at/after the restart boundary depend on
    # pre-restart state
    boundary = (days[half] - epoch).days
    post = [k for k in want if k[1] >= boundary]
    assert post, "restart boundary must leave scored days after it"
    for k in post:
        g, w = got[k], want[k]
        assert g["cnt"] == w["cnt"], k
        assert g["is_anomaly"] == w["is_anomaly"], k
        if w["z_score"] is None:
            assert math.isnan(g["z_score"]), k
        else:
            assert abs(g["z_score"] - w["z_score"]) < 1e-6, k


def test_stream_funnel_equals_batch(spark):
    """The stateful online funnel after consuming the whole log must
    reproduce the batch ordered-funnel exactly (same users, same gated
    stage timestamps, NaT where batch has NULL)."""
    import pandas as pd

    from hedera_spark.operators.timeseries import funnel
    from hedera_spark.streaming.stateful import stream_funnel

    out = stream_funnel(spark, SF_DIR)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from funnel_stream").collect()
    got = {}
    for r in rows:  # keep the most-evolved emission per user
        if r["user_id"] not in got or r["n_seen"] > got[r["user_id"]]["n_seen"]:
            got[r["user_id"]] = r
    want = {r["user_id"]: r for r in funnel(spark, SF_DIR).collect()}
    assert set(got) == set(want)
    for uid, w in want.items():
        g = got[uid]
        for col in ("t_view", "t_click_after_view", "t_purchase_after_click"):
            wv, gv = w[col], g[col]
            if wv is None:
                assert gv is None or pd.isna(gv), (uid, col, gv)
            else:
                assert gv == wv, (uid, col, gv, wv)


@pytest.mark.slow
def test_stream_funnel_state_survives_restart(spark, tmp_path):
    """Funnel state must survive a stream restart: replay the first half
    of the days, stop, add the rest, restart with the SAME checkpoint —
    final per-user funnels must still equal the batch operator (late
    stages gated against minima accumulated before the restart)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from hedera_spark.operators.timeseries import funnel
    from hedera_spark.sources.tables import load_table
    from hedera_spark.streaming.stateful import stream_funnel

    ev = load_table(spark, SF_DIR, "events")
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    days = sorted(
        r["d"] for r in ev.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    half = len(days) // 2

    def write_days(day_list):
        for d in day_list:
            ev.where(F.to_date("ts") == F.lit(d)).coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(src / f"day={d}"))

    out_dir = str(tmp_path / "funnels")

    def run_once():
        def _sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            stream_funnel(spark, str(src), recursive=True)
            .writeStream.foreachBatch(_sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    write_days(days[:half])
    run_once()
    n_first = spark.read.parquet(out_dir).count()
    write_days(days[half:])
    run_once()

    rows = spark.read.parquet(out_dir).collect()
    assert 0 < n_first < len(rows)
    got = {}
    for r in rows:  # most-evolved emission per user
        if r["user_id"] not in got or r["n_seen"] > got[r["user_id"]]["n_seen"]:
            got[r["user_id"]] = r
    want = {r["user_id"]: r for r in funnel(spark, SF_DIR).collect()}
    assert set(got) == set(want)
    for uid, w in want.items():
        g = got[uid]
        for col in ("t_view", "t_click_after_view", "t_purchase_after_click"):
            wv, gv = w[col], g[col]
            if wv is None:
                assert gv is None or pd.isna(gv), (uid, col, gv)
            else:
                assert gv == wv, (uid, col, gv, wv)


def test_stream_multimodal_meta_equals_batch(spark):
    """The streaming decode (mapInPandas per micro-batch) must produce
    exactly the batch multimodal_meta rows after full replay — the
    multimodal plumbing is source-agnostic."""
    from hedera_spark.operators.multimodal import multimodal_meta
    from hedera_spark.streaming.multimodal import stream_multimodal_meta

    out = stream_multimodal_meta(spark, SF_DIR)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("mm_meta_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: tuple(r) for r in spark.sql("select * from mm_meta_stream").collect()
    }
    want = {r["doc_id"]: tuple(r) for r in multimodal_meta(spark, SF_DIR).collect()}
    assert got == want


def test_stream_hot_keys_equals_batch_thresholds(spark):
    """The stateful hot-key detector's emitted (user, threshold) set
    after consuming the whole log equals the batch power-of-two
    crossings — independent of micro-batch slicing by construction."""
    from hedera_spark.operators.timeseries import user_thresholds
    from hedera_spark.streaming.stateful import stream_hot_keys

    out = stream_hot_keys(spark, SF_DIR)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("hot_keys_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["threshold"])
        for r in spark.sql("select * from hot_keys_stream").collect()
    }
    want = {
        (r["user_id"], r["threshold"])
        for r in user_thresholds(spark, SF_DIR).collect()
    }
    assert got == want and len(want) > 0


@pytest.mark.slow
def test_stream_hot_keys_state_survives_restart(spark, tmp_path):
    """Keyed totals must survive a restart: replay half the days, stop,
    add the rest, restart with the SAME checkpoint — the final emitted
    (user, threshold) set equals the batch crossings, and thresholds
    crossed only by the COMBINED halves prove post-restart batches saw
    pre-restart state."""
    from pyspark.sql import functions as F

    from hedera_spark.operators.timeseries import user_thresholds
    from hedera_spark.sources.tables import load_table
    from hedera_spark.streaming.stateful import stream_hot_keys

    ev = load_table(spark, SF_DIR, "events")
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    days = sorted(
        r["d"] for r in ev.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    half = len(days) // 2

    def write_days(day_list):
        for d in day_list:
            ev.where(F.to_date("ts") == F.lit(d)).coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(src / f"day={d}"))

    out_dir = str(tmp_path / "alerts")

    def run_once():
        def _sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            stream_hot_keys(spark, str(src), recursive=True)
            .writeStream.foreachBatch(_sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    write_days(days[:half])
    run_once()
    first = {
        (r["user_id"], r["threshold"])
        for r in spark.read.parquet(out_dir).collect()
    }
    write_days(days[half:])
    run_once()

    got = {
        (r["user_id"], r["threshold"])
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r["user_id"], r["threshold"])
        for r in user_thresholds(spark, SF_DIR).collect()
    }
    assert got == want
    # restart must have added crossings on top of pre-restart state
    assert first and first < got


def test_stream_late_events_equals_batch(spark):
    """The stateful lateness counter's final cumulative per-user bucket
    counts equal the batch arrival-order window computation — the
    update-mode emits are monotone in n_events, so the max-n_events row
    per user is the final state."""
    from pyspark.sql import functions as F

    from hedera_spark.operators.timeseries import _late_events_per_user
    from hedera_spark.streaming.stateful import stream_late_events

    out = stream_late_events(spark, SF_DIR)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("late_events_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emits = spark.sql("select * from late_events_stream")
    final = emits.groupBy("user_id").agg(
        F.max(
            F.struct(
                "n_events",
                "c_in_order",
                "c_lt_1s",
                "c_lt_1m",
                "c_lt_10m",
                "c_lt_1h",
                "c_ge_1h",
            )
        ).alias("s")
    )
    got = {
        r["user_id"]: (
            r["s"]["c_in_order"],
            r["s"]["c_lt_1s"],
            r["s"]["c_lt_1m"],
            r["s"]["c_lt_10m"],
            r["s"]["c_lt_1h"],
            r["s"]["c_ge_1h"],
        )
        for r in final.collect()
    }
    labels = [
        "0_in_order",
        "1_lt_1s",
        "2_lt_1m",
        "3_lt_10m",
        "4_lt_1h",
        "5_ge_1h",
    ]
    want = {}
    for r in _late_events_per_user(spark, SF_DIR).collect():
        want.setdefault(r["user_id"], [0] * 6)[labels.index(r["bucket"])] = r["n"]
    want = {u: tuple(v) for u, v in want.items()}
    assert got == want and len(want) > 0


def test_stream_blocklist_gate_equals_batch(spark):
    """The stateless blocklist projection over the replayed document
    stream is row-exact vs the batch gate."""
    from hedera_spark.operators.corpus_clean import blocklist_gate
    from hedera_spark.streaming.clean import stream_blocklist_gate

    out = stream_blocklist_gate(spark, SF_DIR)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("blocklist_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: tuple(r)
        for r in spark.sql("select * from blocklist_stream").collect()
    }
    want = {r["doc_id"]: tuple(r) for r in blocklist_gate(spark, SF_DIR).collect()}
    assert got == want and len(want) > 0


def test_stream_decontaminate_equals_batch(spark):
    """The ingest-edge contamination gate (stream-static broadcast of
    the eval-shingle set, row-local intersect) replays exactly the
    batch decontaminate rollup."""
    from hedera_spark.operators.dedup import decontaminate
    from hedera_spark.streaming.clean import stream_decontaminate

    out = stream_decontaminate(spark, SF_DIR)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("decon_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: r["n_contaminated"]
        for r in spark.sql("select * from decon_stream").collect()
    }
    want = {
        r["doc_id"]: r["n_contaminated"]
        for r in decontaminate(spark, SF_DIR).collect()
    }
    assert got == want and len(want) > 0


def test_stream_attribution_equals_batch(spark):
    """Per-purchase online attribution, rolled up per campaign, must
    equal the batch attribution_last_touch rollup on the ordered
    replay (the synthetic log is written in event-time order)."""
    from hedera_spark.operators.temporal_join import attribution_last_touch
    from hedera_spark.streaming.stateful import stream_attribution

    out = stream_attribution(spark, SF_DIR)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("attr_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["campaign"],): (r["n"], round(float(r["rev"]), 2))
        for r in spark.sql(
            "select campaign, count(*) as n, sum(cents) / 100.0 as rev "
            "from attr_stream group by campaign"
        ).collect()
    }
    want = {
        (r["campaign"],): (r["n_purchases"], round(r["attributed_revenue"], 2))
        for r in attribution_last_touch(spark, SF_DIR).collect()
    }
    assert got == want and len(want) > 0


def test_stream_drift_equals_batch_twin(spark):
    """The windowed drift-bucket counts over the replayed log must equal
    the batch reconstruction hour-for-hour, bucket-for-bucket — and the
    full-log replay against its own baseline fences must spread across
    all 10 buckets."""
    from hedera_spark.streaming.drift import (
        baseline_fences,
        batch_drift_twin,
        stream_drift,
    )

    fences = baseline_fences(spark, SF_DIR)
    assert len(fences) == 9 and fences == sorted(fences)

    q = (
        stream_drift(spark, SF_DIR, fences=fences)
        .writeStream.format("memory")
        .queryName("drift_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from drift_stream").toPandas()
    want = batch_drift_twin(spark, SF_DIR, fences=fences).toPandas()
    assert_frames_match(got, want, "stream_drift")
    assert set(got["bucket"]) == set(range(1, 11))


def test_stream_checksum_equals_batch(spark):
    """The streaming XOR checksum after consuming the whole file must
    equal checksum_by_type — arrival order cannot matter (XOR is
    commutative), so replay == batch exactly, per key."""
    from hedera_spark.operators.profile import checksum_by_type
    from hedera_spark.streaming.integrity import stream_checksum

    out = stream_checksum(spark, SF_DIR)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("checksum_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from checksum_stream").toPandas()
    want = checksum_by_type(spark, SF_DIR).toPandas()
    assert_frames_match(got, want, "stream_checksum")


def test_stream_cms_equals_batch(spark):
    """The streaming Count-Min counter grid after consuming the whole
    log must equal the batch grid cell-for-cell — cell increments are
    commutative partial sums, so replay == batch exactly."""
    from hedera_spark.operators.sketches import _cms_counters
    from hedera_spark.sources.tables import load_table
    from hedera_spark.streaming.integrity import stream_cms

    out = stream_cms(spark, SF_DIR)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("cms_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from cms_stream").toPandas()
    want = _cms_counters(load_table(spark, SF_DIR, "events")).toPandas()
    assert_frames_match(got, want, "stream_cms")


def test_stream_hll_equals_batch_registers(spark):
    """The streaming HLL register table after consuming the whole log
    must equal the batch merged sketch register-for-register — max is
    commutative/idempotent, so replay == batch exactly."""
    from pyspark.sql import functions as F

    from hedera_spark.operators.sketches import hll_rho_rows
    from hedera_spark.sources.tables import load_table
    from hedera_spark.streaming.integrity import stream_hll

    out = stream_hll(spark, SF_DIR)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("hll_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from hll_stream").toPandas()
    want = (
        hll_rho_rows(load_table(spark, SF_DIR, "events").select("user_id"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("r"))
        .toPandas()
    )
    assert_frames_match(got, want, "stream_hll")


@pytest.mark.slow
def test_stream_upsert_maintains_latest_per_key(spark, tmp_path):
    """The foreachBatch CDC upsert must (1) end the replay with exactly
    the batch latest-per-key state, (2) rewrite only the key buckets a
    batch touches (bucket-partitioned layout), and (3) be idempotent
    under a full re-run with a lost checkpoint."""
    import os

    from pyspark.sql import functions as F

    from hedera_spark.sources.tables import load_table
    from hedera_spark.streaming.upsert import (
        _latest_per_key,
        read_upsert_state,
        stream_upsert,
    )

    ev = load_table(spark, SF_DIR, "events")
    # daily-file replay layout -> one micro-batch per day
    src = tmp_path / "src"
    src.mkdir()
    days = [r["d"] for r in ev.select(F.to_date("ts").alias("d")).distinct().collect()]
    for d in sorted(days):
        ev.where(F.to_date("ts") == F.lit(d)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"day={d}"))

    state = str(tmp_path / "state")

    def run(ckpt: str) -> None:
        q = stream_upsert(spark, str(src), state, ckpt)
        q.awaitTermination(180)

    run(str(tmp_path / "ckpt1"))
    expect = (
        _latest_per_key(ev)
        .select("user_id", "event_type", "value", "ts", "event_id")
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    got = (
        read_upsert_state(spark, state)
        .select("user_id", "event_type", "value", "ts", "event_id")
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert got.equals(expect)
    # bucket-partitioned layout (the partial-rewrite economics)
    assert any(e.startswith("bucket=") for e in os.listdir(state))

    # lost checkpoint -> full replay over existing state: identical state
    run(str(tmp_path / "ckpt2"))
    got2 = (
        read_upsert_state(spark, state)
        .select("user_id", "event_type", "value", "ts", "event_id")
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert got2.equals(expect)


def test_stream_upsert_aborts_on_unreadable_prior_state(spark, tmp_path):
    """Only PATH_NOT_FOUND may be treated as 'first batch': a prior-state
    read that fails for any OTHER reason (here: a state table missing the
    bucket partition column) must abort the batch instead of silently
    dynamic-overwriting the touched buckets without merging — that path
    drops prior rows with no error."""
    import pytest

    from pyspark.sql import functions as F
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from hedera_spark.sources.tables import load_table
    from hedera_spark.streaming.upsert import stream_upsert

    ev = load_table(spark, SF_DIR, "events")
    src = tmp_path / "src"
    src.mkdir()
    ev.limit(50).coalesce(1).write.parquet(str(src / "day=0"))

    # seed a CORRUPT prior state: right path, wrong layout (no bucket
    # column/partition) -> the .where(bucket) probe raises an
    # AnalysisException that is NOT PATH_NOT_FOUND
    state = str(tmp_path / "state")
    ev.limit(5).select("user_id", "ts").write.parquet(state)

    q = stream_upsert(spark, str(src), state, str(tmp_path / "ckpt"))
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(180)
        q.processAllAvailable()


def test_stream_scd2_resolve_equals_batch(spark):
    """Temporal stream-static lookup replayed over the whole log == batch
    scd2_resolve row-for-row (stateless broadcast join against the SCD2
    dimension; every event resolves to exactly one version)."""
    from hedera_spark.operators.scd import scd2_resolve
    from hedera_spark.streaming.enrich import stream_scd2_resolve

    q = (
        stream_scd2_resolve(spark, SF_DIR)
        .writeStream.format("memory")
        .queryName("scd2_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from scd2_stream").toPandas()
    want = scd2_resolve(spark, SF_DIR).toPandas()
    assert len(want) > 0
    assert_frames_match(got, want, "stream_scd2_resolve")


@pytest.mark.slow
def test_stream_left_outer_join_emits_matches_and_expired_nulls(spark, tmp_path):
    """LEFT OUTER stream-stream join on a daily-file replay: matched rows
    equal the batch inner join; a view with no purchase in its window is
    emitted null-padded once the purchase watermark passes it; no
    spurious null rows; recent-tail views may legitimately still be held
    in state at shutdown."""
    import pandas as pd
    from pyspark.sql import functions as F

    from hedera_spark.sources.tables import load_table
    from hedera_spark.streaming.joins import (
        ATTRIBUTION_WINDOW,
        stream_view_purchase_left_join,
    )
    from hedera_spark.streaming.source import stream_events_dir

    ev = load_table(spark, SF_DIR, "events")
    src = tmp_path / "src"
    src.mkdir()
    days = [r["d"] for r in ev.select(F.to_date("ts").alias("d")).distinct().collect()]
    for d in sorted(days):
        ev.where(F.to_date("ts") == F.lit(d)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"day={d}"))

    base = stream_events_dir(spark, str(src), recursive=True)
    q = (
        stream_view_purchase_left_join(spark, SF_DIR, base=base)
        .writeStream.format("memory")
        .queryName("vp_left_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("select * from vp_left_stream").toPandas()

    views = ev.where("event_type = 'view'").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("v_id"),
        F.col("ts").alias("v_ts"),
    )
    purchases = ev.where("event_type = 'purchase'").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    cond = (
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {ATTRIBUTION_WINDOW}"))
    )
    want_inner = (
        views.join(purchases, cond)
        .select("v_user", "v_id", "v_ts", "p_id", "p_ts", "p_value")
        .withColumn("converted", F.lit(1))
        .toPandas()
    )
    got_matched = got[got["p_id"].notna()].copy()
    got_matched["p_id"] = got_matched["p_id"].astype("int64")
    got_matched["converted"] = got_matched["converted"].astype("int64")
    assert len(want_inner) > 0
    assert_frames_match(got_matched, want_inner, "left_join_matched")

    # unmatched views: emitted nulls must be exactly the batch anti set,
    # restricted to views old enough that the final watermark passed them
    anti_ids = {
        r["v_id"]
        for r in views.join(purchases, cond, "left_anti").collect()
    }
    got_null_ids = set(got[got["p_id"].isna()]["v_id"])
    assert got_null_ids <= anti_ids  # no spurious null rows
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - pd.Timedelta(hours=3)  # 2h window + 1h watermark
    old_anti = {
        r["v_id"]
        for r in views.join(purchases, cond, "left_anti")
        .where(F.col("v_ts") < F.lit(horizon))
        .collect()
    }
    assert old_anti <= got_null_ids  # every expired unmatched view emitted


def test_stream_upsert_checkpoint_resume_incremental(spark, tmp_path):
    """Stop-and-resume with the SAME checkpoint: the resumed stream must
    fold in ONLY the newly-arrived files (exactly-once), ending with the
    same state as one uninterrupted replay."""
    from pyspark.sql import functions as F

    from hedera_spark.sources.tables import load_table
    from hedera_spark.streaming.upsert import (
        _latest_per_key,
        read_upsert_state,
        stream_upsert,
    )

    ev = load_table(spark, SF_DIR, "events")
    cut = "2024-01-15"
    src = tmp_path / "src"
    src.mkdir()
    day = F.to_date("ts")
    ev.where(day < F.lit(cut)).coalesce(1).write.parquet(str(src / "a"))

    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = stream_upsert(spark, str(src), state, ckpt)
        q.awaitTermination(180)

    run()
    n_first = read_upsert_state(spark, state).count()
    assert n_first > 0

    ev.where(day >= F.lit(cut)).coalesce(1).write.parquet(str(src / "b"))
    run()

    got = (
        read_upsert_state(spark, state)
        .select("user_id", "event_type", "value", "ts", "event_id")
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    want = (
        _latest_per_key(ev)
        .select("user_id", "event_type", "value", "ts", "event_id")
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert got.equals(want)


def test_stream_moments_equals_batch_sums(spark):
    """The streaming moments-sketch state after consuming the whole log
    must equal the batch power sums exactly — addition is commutative,
    so replay == batch with no tolerance."""
    from hedera_spark.operators.sketches import moment_sums
    from hedera_spark.sources.tables import load_table
    from hedera_spark.streaming.integrity import stream_moments

    out = stream_moments(spark, SF_DIR)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("moments_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from moments_stream").toPandas()
    want = moment_sums(load_table(spark, SF_DIR, "events")).toPandas()
    assert_frames_match(got, want, "stream_moments")


def test_stream_constraint_audit_equals_batch(spark):
    """The streaming violation counters after consuming the whole log
    must equal the batch constraint sums exactly — addition commutes,
    so replay == batch with no tolerance."""
    from hedera_spark.operators.profile import event_violation_sums
    from hedera_spark.sources.tables import load_table
    from hedera_spark.streaming.clean import stream_constraint_audit

    out = stream_constraint_audit(spark, SF_DIR)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("constraint_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from constraint_stream").toPandas()
    want = event_violation_sums(load_table(spark, SF_DIR, "events")).toPandas()
    assert_frames_match(got, want, "stream_constraint_audit")


def test_stream_linreg_equals_batch_sums(spark):
    """The streaming regression sufficient statistics after consuming
    the whole log must equal the batch linreg_sums exactly — integer
    sums merge by addition."""
    from hedera_spark.operators.timeseries import linreg_sums
    from hedera_spark.sources.tables import load_table
    from hedera_spark.streaming.integrity import stream_linreg

    out = stream_linreg(spark, SF_DIR)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("linreg_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from linreg_stream").toPandas()
    want = linreg_sums(load_table(spark, SF_DIR, "events")).toPandas()
    assert_frames_match(got, want, "stream_linreg")


def test_stream_benford_equals_batch_counts(spark):
    """The streaming digit counters after consuming the whole log must
    equal the batch benford_counts exactly."""
    from hedera_spark.operators.profile import benford_counts
    from hedera_spark.sources.tables import load_table
    from hedera_spark.streaming.integrity import stream_benford

    out = stream_benford(spark, SF_DIR)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("benford_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from benford_stream").toPandas()
    want = benford_counts(load_table(spark, SF_DIR, "events")).toPandas()
    assert_frames_match(got, want, "stream_benford")


def test_stream_sample_equals_batch_bottomk(spark):
    """The final streaming sample (max n_seen row per type) must equal
    the batch bottom-K-hash sample exactly — bottom-K of a hash is
    mergeable and order-free."""
    from hedera_spark.operators.timeseries import events_sample_k
    from hedera_spark.streaming.stateful import stream_sample

    out = stream_sample(spark, SF_DIR)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("sample_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql("select * from sample_stream").collect()
    final = {}
    for r in emitted:
        cur = final.get(r["event_type"])
        if cur is None or r["n_seen"] > cur["n_seen"]:
            final[r["event_type"]] = r
    want = {}
    for r in events_sample_k(spark, SF_DIR).collect():
        want.setdefault(r["event_type"], set()).add(r["event_id"])
    assert set(final) == set(want)
    for etype, row in final.items():
        assert set(row["sample_ids"]) == want[etype], etype


def test_stream_dp_counts_equals_batch_release(spark):
    """The streaming DP release after consuming the whole log must
    equal the batch dp_counts exactly — the noise draw depends only on
    the released key."""
    from hedera_spark.registry import QUERIES
    from hedera_spark.streaming.integrity import stream_dp_counts

    out = stream_dp_counts(spark, SF_DIR)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("dp_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from dp_stream").toPandas()
    want = QUERIES["dp_counts"](spark, SF_DIR).toPandas()
    assert_frames_match(got, want, "stream_dp_counts")


def test_stream_ams_equals_batch_sums(spark):
    """The streaming AMS sign sums after consuming the whole log must
    equal the batch ams_sign_sums exactly."""
    from hedera_spark.operators.sketches import ams_sign_sums
    from hedera_spark.sources.tables import load_table
    from hedera_spark.streaming.integrity import stream_ams

    out = stream_ams(spark, SF_DIR)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("ams_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from ams_stream").toPandas()
    want = ams_sign_sums(
        load_table(spark, SF_DIR, "events").select("user_id")
    ).toPandas()
    assert_frames_match(got, want, "stream_ams")


def test_stream_common_log_equals_batch(spark, tmp_path):
    """The streamed Common Log parse must produce exactly the batch
    reader's rows after full replay, and the complete-mode status-count
    agg must equal the batch groupBy — the parse transform is shared, so
    any drift is a harness bug."""
    raw1 = "\n".join(
        [
            '127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] '
            '"GET /a.gif HTTP/1.0" 200 2326',
            "garbage line",
            '10.0.0.5 - - [10/Oct/2000:13:55:37 -0700] "POST /f HTTP/1.1" 404 -',
        ]
    )
    raw2 = '10.0.0.5 - - [10/Oct/2000:14:00:00 -0700] "POST /f HTTP/1.1" 404 10'
    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "access.log.1").write_text(raw1)
    (logs / "access.log.2").write_text(raw2)

    from hedera_spark.sources.formats import read_common_log
    from hedera_spark.streaming.logs import stream_common_log, stream_status_counts

    out = stream_common_log(spark, str(logs))
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("clog_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.sql("select * from clog_stream").collect())
    want = sorted(tuple(r) for r in read_common_log(spark, str(logs)).collect())
    assert got == want and len(got) == 3

    agg = stream_status_counts(spark, str(logs))
    q2 = (
        agg.writeStream.format("memory")
        .queryName("clog_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    counts = {
        (r["status_code"], r["method"]): r["n_requests"]
        for r in spark.sql("select * from clog_counts").collect()
    }
    assert counts == {(200, "GET"): 1, (404, "POST"): 2}


def _chunked_src(spark, tmp_path, n_chunks: int = 6):
    """events split into `n_chunks` parquet files of consecutive FULL
    days (one micro-batch per chunk under maxFilesPerTrigger=1 — each
    batch still aligns with the date partitions it carries, just
    carries several of them). Returns (src_dir, [[days of chunk i]],
    events_df)."""
    from pyspark.sql import functions as F

    from hedera_spark.sources.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    src = tmp_path / "src"
    src.mkdir()
    days = sorted(
        r["d"] for r in ev.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    step = max(1, (len(days) + n_chunks - 1) // n_chunks)
    chunks = [days[i : i + step] for i in range(0, len(days), step)]
    for i, ch in enumerate(chunks):
        ev.where(F.to_date("ts").isin([str(d) for d in ch])).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"chunk={i}"))
    return src, chunks, ev


def _epoch_files(ckpt: str, batch_id: int) -> list[str]:
    """File paths the file-stream source recorded for one epoch
    (checkpoint sources/0/<batch>[.compact] log — the replay manifest;
    every 10th batch the source compacts the whole history into one
    file, so filter entries by their recorded batchId)."""
    import json
    import os

    p = os.path.join(ckpt, "sources", "0", str(batch_id))
    if not os.path.exists(p):
        p += ".compact"
    out = []
    with open(p) as fh:
        for line in fh:
            line = line.strip()
            if line.startswith("{"):
                rec = json.loads(line)
                if rec.get("batchId") == batch_id:
                    out.append(rec["path"])
    return out


def test_stream_write_partitioned_recovers_from_partial_epoch(spark, tmp_path):
    """Failure injection (r5 VERDICT #6): crash epoch N in the exact
    window where its offsets are logged and its output partition is
    PARTIALLY promoted but the commit is not — then restart from the
    checkpoint and prove the lake converges to the content-identical
    state of the clean run. The crash state is constructed by
    checkpoint surgery on a real run (delete commits/N, replace the
    partition epoch N carried with a half-written file); the restart,
    offset replay, and dynamic-overwrite rewrite are real Structured
    Streaming recovery."""
    import os
    import re
    import shutil

    import pyarrow.parquet as pq

    from hedera_spark.streaming.sink import stream_write_partitioned

    src, chunks, ev = _chunked_src(spark, tmp_path)
    out = tmp_path / "lake"
    ckpt = str(tmp_path / "ckpt")

    q = stream_write_partitioned(spark, str(src), str(out), ckpt)
    assert q.awaitTermination(540), "clean ingest did not drain in time"
    expect = (
        spark.read.parquet(str(out))
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    expect = expect[sorted(expect.columns)]

    # epoch N = the last committed batch; find the chunk it carried from
    # the source's replay manifest, then one of that chunk's date
    # partitions
    commits = [f for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit()]
    n = max(int(f) for f in commits)
    files_n = _epoch_files(ckpt, n)
    m = re.search(r"chunk=(\d+)", files_n[0])
    assert m, files_n
    day_n = chunks[int(m.group(1))][0]
    part_dir = out / f"event_date={day_n}"
    assert part_dir.is_dir()

    # surgery: drop the commit record, leave offsets -> epoch N replays.
    os.remove(os.path.join(ckpt, "commits", str(n)))
    crc = os.path.join(ckpt, "commits", f".{n}.crc")  # hadoop checksum twin
    if os.path.exists(crc):
        os.remove(crc)
    # partial promotion: one of epoch N's partitions holds HALF its rows
    full = pq.read_table(str(part_dir))
    half = full.slice(0, max(1, full.num_rows // 2))
    shutil.rmtree(part_dir)
    part_dir.mkdir()
    pq.write_table(half, str(part_dir / "part-partial.parquet"))
    lame = spark.read.parquet(str(out))
    assert lame.count() < len(expect)  # the lake really is torn

    # real recovery: restart from the same checkpoint
    q = stream_write_partitioned(spark, str(src), str(out), ckpt)
    assert q.awaitTermination(540), "recovery replay did not drain in time"
    got = (
        spark.read.parquet(str(out))
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    got = got[sorted(got.columns)]
    assert got.equals(expect)


@pytest.mark.slow
def test_stream_upsert_recovers_from_partial_epoch_state(spark, tmp_path):
    """Failure injection for the CDC upsert (r5 VERDICT #6): epoch N's
    dynamic partition overwrite crashed after promoting only ONE of the
    state buckets it touched (the others still hold pre-epoch content)
    and before the commit was logged. Restarting from the checkpoint
    must replay the epoch over the torn state and converge to the
    content-identical state table of the clean run — the
    last-writer-wins merge is idempotent over partially-applied
    epochs."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from hedera_spark.streaming.upsert import (
        _bucketed,
        _latest_per_key,
        _STATE_COLS,
        read_upsert_state,
        stream_upsert,
    )

    src, chunks, ev = _chunked_src(spark, tmp_path)
    last_days = [str(d) for d in chunks[-1]]
    last_file = src / f"chunk={len(chunks) - 1}"
    held = tmp_path / "held"
    shutil.move(str(last_file), str(held))

    state = tmp_path / "state"
    ckpt = str(tmp_path / "ckpt")

    q = stream_upsert(spark, str(src), str(state), ckpt)
    assert q.awaitTermination(540), "initial ingest did not drain in time"
    pre = tmp_path / "state_pre"
    shutil.copytree(state, pre)

    # final chunk arrives; clean run to capture the converged state
    shutil.move(str(held), str(last_file))
    q = stream_upsert(spark, str(src), str(state), ckpt)
    assert q.awaitTermination(540), "final-chunk ingest did not drain in time"
    expect = (
        read_upsert_state(spark, str(state))
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    expect = expect[sorted(expect.columns)]

    # buckets epoch N touched
    delta = _bucketed(
        _latest_per_key(
            ev.where(F.to_date("ts").isin(last_days)).select(*_STATE_COLS)
        )
    )
    touched = sorted(r["bucket"] for r in delta.select("bucket").distinct().collect())
    assert len(touched) >= 2, "fixture too small to tear a multi-bucket epoch"

    # surgery: epoch N promoted ONLY its first touched bucket; every
    # other touched bucket reverts to the pre-epoch content
    commits = [f for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit()]
    n = max(int(f) for f in commits)
    os.remove(os.path.join(ckpt, "commits", str(n)))
    crc = os.path.join(ckpt, "commits", f".{n}.crc")  # hadoop checksum twin
    if os.path.exists(crc):
        os.remove(crc)
    for b in touched[1:]:
        cur = state / f"bucket={b}"
        old = pre / f"bucket={b}"
        if cur.is_dir():
            shutil.rmtree(cur)
        if old.is_dir():
            shutil.copytree(old, cur)
    torn = (
        read_upsert_state(spark, str(state))
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert not torn[sorted(torn.columns)].equals(expect)  # really torn

    # real recovery: restart replays epoch N over the torn state
    q = stream_upsert(spark, str(src), str(state), ckpt)
    assert q.awaitTermination(540), "recovery replay did not drain in time"
    got = (
        read_upsert_state(spark, str(state))
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    got = got[sorted(got.columns)]
    assert got.equals(expect)


def test_stream_lang_mix_equals_batch(spark):
    """The stateless code-switch projection over the replayed document
    stream is row-exact vs the batch lang_mix."""
    from hedera_spark.operators.text_analysis import lang_mix
    from hedera_spark.streaming.clean import stream_lang_mix

    out = stream_lang_mix(spark, SF_DIR)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("lang_mix_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: tuple(r)
        for r in spark.sql("select * from lang_mix_stream").collect()
    }
    want = {r["doc_id"]: tuple(r) for r in lang_mix(spark, SF_DIR).collect()}
    assert got == want and len(want) > 0


def test_stream_gopher_gate_equals_batch(spark):
    """The stateless Gopher rule projection over the replayed document
    stream is row-exact vs the batch gate."""
    from hedera_spark.operators.text_analysis import gopher_quality_gate
    from hedera_spark.streaming.clean import stream_gopher_gate

    out = stream_gopher_gate(spark, SF_DIR)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("gopher_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: tuple(r)
        for r in spark.sql("select * from gopher_stream").collect()
    }
    want = {
        r["doc_id"]: tuple(r)
        for r in gopher_quality_gate(spark, SF_DIR).collect()
    }
    assert got == want and len(want) > 0


# --- lake path overhead: one scan per micro-batch, no sidecars ---------


def test_stream_write_compacted_reads_each_event_once(spark, tmp_path):
    """The compacted sink sizes its files without a per-batch count, so
    the source reads every event exactly once: the rows the progress
    reports sum to the events landed (a count-then-write sink reads
    each micro-batch twice and reports 2x)."""
    from hedera_spark.streaming.sink import stream_write_compacted

    src, chunks, ev = _chunked_src(spark, tmp_path, n_chunks=3)
    out = tmp_path / "lake"
    q = stream_write_compacted(spark, str(src), str(out), str(tmp_path / "ck"))
    assert q.awaitTermination(180)
    n = ev.count()
    assert len(q.recentProgress) == len(chunks)
    assert sum(p.numInputRows for p in q.recentProgress) == n
    lake = spark.read.parquet(str(out))
    assert lake.count() == n
    assert lake.select("event_id").distinct().count() == n


def test_session_checkpoints_through_filesystem_manager(spark):
    """get_spark pins the FileSystem-based checkpoint manager, whose
    rename forks no `readlink` shell on the local file system."""
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )


def test_lake_and_checkpoint_hold_no_crc_files(spark, tmp_path):
    """A session from get_spark writes no Hadoop `.crc` sidecars on
    local paths: not beside the lake's parquet files and `_SUCCESS`,
    not beside the checkpoint's offsets, commits and source log."""
    from hedera_spark.streaming.sink import stream_write_partitioned

    src, chunks, ev = _chunked_src(spark, tmp_path, n_chunks=2)
    out, ckpt = tmp_path / "lake", tmp_path / "ckpt"
    q = stream_write_partitioned(spark, str(src), str(out), str(ckpt))
    assert q.awaitTermination(180)
    assert spark.read.parquet(str(out)).count() == ev.count()
    assert (ckpt / "offsets" / "0").is_file() and (ckpt / "commits" / "0").is_file()
    assert [str(p) for d in (out, ckpt) for p in d.rglob("*.crc")] == []


def test_local_filesystem_is_still_a_localfilesystem(spark, tmp_path):
    """The sidecars are switched off on the local FileSystem, not by
    swapping in RawLocalFileSystem: FileSystem.getLocal, which
    sc.textFile calls, casts to LocalFileSystem."""
    (tmp_path / "a.txt").write_text("x\ny\n")
    assert spark.sparkContext.textFile(str(tmp_path / "a.txt")).count() == 2


def test_stream_write_compacted_resumes_from_checkpoint(spark, tmp_path):
    """Stop after the first chunks, land the last one, restart on the SAME
    checkpoint: the restart reads only the new file, and the lake holds
    every event exactly once."""
    import shutil

    from hedera_spark.streaming.sink import stream_write_compacted

    src, chunks, ev = _chunked_src(spark, tmp_path, n_chunks=3)
    held = tmp_path / "held"
    shutil.move(str(src / f"chunk={len(chunks) - 1}"), str(held))
    out, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")
    q = stream_write_compacted(spark, str(src), out, ckpt)
    assert q.awaitTermination(180)
    n_first = spark.read.parquet(out).count()
    assert 0 < n_first < ev.count()

    shutil.move(str(held), str(src / f"chunk={len(chunks) - 1}"))
    q = stream_write_compacted(spark, str(src), out, ckpt)
    assert q.awaitTermination(180)
    assert sum(p.numInputRows for p in q.recentProgress) == ev.count() - n_first
    lake = spark.read.parquet(out)
    assert lake.count() == ev.count()
    assert lake.select("event_id").distinct().count() == ev.count()
