"""Streaming-mode tests: streaming plans must equal their batch
counterparts on the reference-parity fixtures (the batch plan is the
semantic spec -- SURVEY.md §7.4), plus watermark late-data behavior
and the two-stage (job1 -> bus -> job2) topology.

Technique: a far-future "sentinel" event appended after the real data
pushes the watermark past every window + join band, so append-mode
output is COMPLETE and can be compared 1:1 with batch."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from flink_ad_analytics_spark.fixtures import VIRTUAL_START_MS, generate
from flink_ad_analytics_spark.operators.anomaly import detect_anomalies
from flink_ad_analytics_spark.operators.ctr import ctr_windows
from flink_ad_analytics_spark.streaming.jobs import streaming_ctr_windows
from flink_ad_analytics_spark.streaming.sinks import dual_sink, to_parquet_dir
from flink_ad_analytics_spark.streaming.sources import file_event_stream
from flink_ad_analytics_spark.streaming.stateful import streaming_anomaly_alerts

SENTINEL_MS = VIRTUAL_START_MS + 3 * 3600 * 1000  # +3h: past every band


def _write_halves(df: pd.DataFrame, directory: str, time_col: str = "event_timestamp"):
    """Two time-ordered halves -> two incremental micro-batches with
    no cross-batch late data."""
    os.makedirs(directory, exist_ok=True)
    d = df.sort_values(time_col, kind="stable").reset_index(drop=True)
    half = len(d) // 2
    d.iloc[:half].to_parquet(f"{directory}/part-0.parquet", index=False)
    return d.iloc[half:]


def _sentinel_imp() -> pd.DataFrame:
    return pd.DataFrame(
        [
            {
                "impression_id": "imp-sentinel",
                "user_id": "user-0",
                "campaign_id": "camp-sentinel",
                "ad_id": "ad-0",
                "device_type": "mobile",
                "browser": "chrome",
                "event_timestamp": SENTINEL_MS,
                "cost": 0.01,
            }
        ]
    )


def _sentinel_clk() -> pd.DataFrame:
    return pd.DataFrame(
        [
            {
                "click_id": "clk-sentinel",
                "impression_id": "imp-sentinel",
                "user_id": "user-0",
                "event_timestamp": SENTINEL_MS,
            }
        ]
    )


@pytest.fixture(scope="module")
def stream_fixture(tmp_path_factory):
    base = tmp_path_factory.mktemp("stream_fx")
    fx = generate(duration_sec=1200, seed=42)
    imp_dir, clk_dir = str(base / "imp"), str(base / "clk")
    imp_rest = _write_halves(fx.impressions, imp_dir)
    clk_rest = _write_halves(fx.clicks, clk_dir)
    return {
        "imp_dir": imp_dir,
        "clk_dir": clk_dir,
        "imp_rest": imp_rest,
        "clk_rest": clk_rest,
        "fx": fx,
        "base": str(base),
    }


def _drive(q, sf, imp_dir, clk_dir):
    """Feed remaining half, then the sentinel, processing each round."""
    q.processAllAvailable()
    sf["imp_rest"].to_parquet(f"{imp_dir}/part-1.parquet", index=False)
    sf["clk_rest"].to_parquet(f"{clk_dir}/part-1.parquet", index=False)
    q.processAllAvailable()
    _sentinel_imp().to_parquet(f"{imp_dir}/part-2-sentinel.parquet", index=False)
    _sentinel_clk().to_parquet(f"{clk_dir}/part-2-sentinel.parquet", index=False)
    q.processAllAvailable()
    q.stop()


def _streams(spark, sf):
    imp_schema = spark.read.parquet(sf["imp_dir"]).schema
    clk_schema = spark.read.parquet(sf["clk_dir"]).schema
    imp = file_event_stream(
        spark, sf["imp_dir"], imp_schema, watermark="5 seconds",
        max_files_per_trigger=None,
    )
    clk_raw = file_event_stream(
        spark, sf["clk_dir"], clk_schema, watermark=None,
        max_files_per_trigger=None, event_time_col="click_time",
    )
    clk = clk_raw.drop("event_timestamp").withWatermark("click_time", "5 seconds")
    return imp, clk


def test_streaming_ctr_equals_batch(spark, stream_fixture):
    """The core dual-mode guarantee: streaming CTR (dedup-decomposed
    plan) == batch CTR (countDistinct spec), window for window."""
    sf = stream_fixture
    imp, clk = _streams(spark, sf)
    result = streaming_ctr_windows(imp, clk, window="1 minute", band="10 minutes")
    q = (
        result.writeStream.format("memory")
        .queryName("ctr_stream")
        .outputMode("append")
        .option("checkpointLocation", f"{sf['base']}/ckpt_ctr")
        .start()
    )
    _drive(q, sf, sf["imp_dir"], sf["clk_dir"])
    streamed = (
        spark.table("ctr_stream")
        .filter(F.col("campaign_id") != "camp-sentinel")
        .toPandas()
        .sort_values(["window_start", "campaign_id"])
        .reset_index(drop=True)
    )

    fx = sf["fx"]
    imp_b = spark.createDataFrame(fx.impressions).withColumn(
        "event_time", F.timestamp_millis(F.col("event_timestamp"))
    )
    clk_b = spark.createDataFrame(fx.clicks).withColumn(
        "click_time", F.timestamp_millis(F.col("event_timestamp"))
    ).drop("event_timestamp")
    batch = (
        ctr_windows(imp_b, clk_b, window="1 minute", band="10 minutes")
        .toPandas()
        .sort_values(["window_start", "campaign_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(streamed, batch, check_dtype=False)


def test_streaming_ctr_nonfk_key_equals_batch(spark, stream_fixture):
    """Non-FK join key (user_id): a click can match many impressions of
    the same user, so the join fans out. The batch spec counts each
    click once per (window, group) via countDistinct; the streaming
    plan must insert the fan-out dedup to match (ADVICE r1 item 4)."""
    sf = stream_fixture
    imp, clk = _streams(spark, sf)
    result = streaming_ctr_windows(
        imp, clk, key="user_id", window="1 minute", band="10 minutes"
    )
    q = (
        result.writeStream.format("memory")
        .queryName("ctr_stream_nonfk")
        .outputMode("append")
        .option("checkpointLocation", f"{sf['base']}/ckpt_ctr_nonfk")
        .start()
    )
    _drive(q, sf, sf["imp_dir"], sf["clk_dir"])
    streamed = (
        spark.table("ctr_stream_nonfk")
        .filter(F.col("campaign_id") != "camp-sentinel")
        .toPandas()
        .sort_values(["window_start", "campaign_id"])
        .reset_index(drop=True)
    )

    fx = sf["fx"]
    imp_b = spark.createDataFrame(fx.impressions).withColumn(
        "event_time", F.timestamp_millis(F.col("event_timestamp"))
    )
    clk_b = spark.createDataFrame(fx.clicks).withColumn(
        "click_time", F.timestamp_millis(F.col("event_timestamp"))
    ).drop("event_timestamp")
    batch = (
        ctr_windows(imp_b, clk_b, key="user_id", window="1 minute",
                    band="10 minutes")
        .toPandas()
        .sort_values(["window_start", "campaign_id"])
        .reset_index(drop=True)
    )
    # sanity: with ~10k users and 50 imp/s the fan-out is real -- if the
    # dedup were dropped, click_count would exceed the distinct count
    assert batch["click_count"].sum() > 0
    pd.testing.assert_frame_equal(streamed, batch, check_dtype=False)


def test_late_data_watermark(spark, tmp_path):
    """A click 4s later than the watermark-advancing batch counts; a
    click older than the watermark is dropped (T2/T6 semantics)."""
    imp_dir, clk_dir = str(tmp_path / "imp"), str(tmp_path / "clk")
    os.makedirs(imp_dir)
    os.makedirs(clk_dir)
    t0 = VIRTUAL_START_MS
    pd.DataFrame(
        [
            # two impressions in one window
            {"impression_id": "i1", "user_id": "u1", "campaign_id": "c1",
             "ad_id": "a", "device_type": "d", "browser": "b",
             "event_timestamp": t0, "cost": 0.1},
            {"impression_id": "i2", "user_id": "u1", "campaign_id": "c1",
             "ad_id": "a", "device_type": "d", "browser": "b",
             "event_timestamp": t0 + 1000, "cost": 0.1},
            # watermark advancer: global watermark is the MIN across
            # inputs, so the impression side must advance too
            {"impression_id": "i-adv", "user_id": "u9", "campaign_id": "c-adv",
             "ad_id": "a", "device_type": "d", "browser": "b",
             "event_timestamp": t0 + 120_000, "cost": 0.1},
        ]
    ).to_parquet(f"{imp_dir}/part-0.parquet", index=False)
    # batch 1 clicks: advance click watermark to t0+120s-5s=t0+115s
    pd.DataFrame(
        [{"click_id": "k0", "impression_id": "none", "user_id": "u9",
          "event_timestamp": t0 + 120_000}]
    ).to_parquet(f"{clk_dir}/part-0.parquet", index=False)

    imp_schema = spark.read.parquet(imp_dir).schema
    clk_schema = spark.read.parquet(clk_dir).schema
    imp = file_event_stream(spark, imp_dir, imp_schema, watermark="5 seconds",
                            max_files_per_trigger=None)
    clk = (
        file_event_stream(spark, clk_dir, clk_schema, watermark=None,
                          max_files_per_trigger=None,
                          event_time_col="click_time")
        .drop("event_timestamp")
        .withWatermark("click_time", "5 seconds")
    )
    result = streaming_ctr_windows(imp, clk, window="1 minute", band="10 minutes")
    q = (
        result.writeStream.format("memory")
        .queryName("late_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    # batch 2 (out-of-order arrivals): k1 at t0+117s is above the
    # t0+115s watermark -> counts toward i1 (in band); k2 at t0+30s is
    # below the watermark -> dropped, so i2 stays clickless.
    pd.DataFrame(
        [
            {"click_id": "k1", "impression_id": "i1", "user_id": "u1",
             "event_timestamp": t0 + 117_000},
            {"click_id": "k2", "impression_id": "i2", "user_id": "u1",
             "event_timestamp": t0 + 30_000},
        ]
    ).to_parquet(f"{clk_dir}/part-1.parquet", index=False)
    q.processAllAvailable()
    # sentinel to flush
    pd.DataFrame(
        [{"impression_id": "s", "user_id": "u", "campaign_id": "cs",
          "ad_id": "a", "device_type": "d", "browser": "b",
          "event_timestamp": SENTINEL_MS, "cost": 0.1}]
    ).to_parquet(f"{imp_dir}/part-2.parquet", index=False)
    pd.DataFrame(
        [{"click_id": "ks", "impression_id": "s", "user_id": "u",
          "event_timestamp": SENTINEL_MS}]
    ).to_parquet(f"{clk_dir}/part-2.parquet", index=False)
    q.processAllAvailable()
    q.stop()

    rows = {
        r.campaign_id: r
        for r in spark.table("late_stream").collect()
    }
    c1 = rows["c1"]
    assert c1.impression_count == 2
    # k1 counted (within watermark), k2 dropped (too late)
    assert c1.click_count == 1


@pytest.fixture(scope="module")
def ctr_results_stream_dir(tmp_path_factory):
    """Scripted stage-2 input (FIXTURES.md §3): camp-1 CTR sequence
    0.10,0.10,0.10,0.01,0.01,0.40,0.40,0.10 -> DROP@w3, SPIKE@w5,
    DROP@w7; camp-2 flat."""
    d = tmp_path_factory.mktemp("ctr_results")
    seq = [0.10, 0.10, 0.10, 0.01, 0.01, 0.40, 0.40, 0.10]
    rows = []
    for i, ctr in enumerate(seq):
        start = pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=i)
        rows.append(
            {"window_start": start, "window_end": start + pd.Timedelta(minutes=1),
             "campaign_id": "camp-1", "impression_count": 100,
             "click_count": int(ctr * 100), "ctr": ctr}
        )
        rows.append(
            {"window_start": start, "window_end": start + pd.Timedelta(minutes=1),
             "campaign_id": "camp-2", "impression_count": 100,
             "click_count": 10, "ctr": 0.10}
        )
    # watermark-flushing sentinel (final buffered windows only emit
    # once the watermark passes them)
    s_start = pd.Timestamp("2024-01-01") + pd.Timedelta(hours=3)
    rows.append(
        {"window_start": s_start, "window_end": s_start + pd.Timedelta(minutes=1),
         "campaign_id": "camp-sentinel", "impression_count": 1,
         "click_count": 0, "ctr": 0.0}
    )
    df = pd.DataFrame(rows)
    # microsecond timestamps (pyarrow would otherwise write nanos,
    # which plain Spark sessions refuse)
    for c in ("window_start", "window_end"):
        df[c] = df[c].astype("datetime64[us]")
    # three files -> state must survive across micro-batches; the
    # middle file arrives out of order relative to file 1 windows
    df.iloc[:8].to_parquet(f"{d}/part-0.parquet", index=False)
    df.iloc[8:16].to_parquet(f"{d}/part-1.parquet", index=False)
    df.iloc[16:].to_parquet(f"{d}/part-2.parquet", index=False)
    return str(d)


def test_streaming_lag_equals_batch(spark, ctr_results_stream_dir, tmp_path):
    """applyInPandasWithState LAG == batch lag() on ordered input."""
    schema = spark.read.parquet(ctr_results_stream_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(ctr_results_stream_dir)
    )
    alerts = streaming_anomaly_alerts(stream)
    q = (
        alerts.writeStream.format("memory")
        .queryName("lag_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_lag"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    streamed = (
        spark.table("lag_stream")
        .filter(F.col("campaign_id") != "camp-sentinel")
        .toPandas()
        .sort_values(["alert_time", "campaign_id"])
        .reset_index(drop=True)
    )

    batch_df = spark.read.parquet(ctr_results_stream_dir).filter(
        F.col("campaign_id") != "camp-sentinel"
    )
    batch = (
        detect_anomalies(batch_df)
        .toPandas()
        .sort_values(["alert_time", "campaign_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        streamed[batch.columns], batch, check_dtype=False
    )
    kinds = list(
        streamed[streamed.campaign_id == "camp-1"]
        .sort_values("alert_time")["alert_type"]
    )
    assert kinds == ["DROP", "SPIKE", "DROP"]


def test_two_stage_pipeline(spark, stream_fixture, tmp_path):
    """Full reference topology: job1 (CTR windows) -> parquet bus ->
    job2 (stateful LAG alerts), the file analogue of
    flink_job.sql -> ctr_results topic -> anomaly_job.sql."""
    sf = stream_fixture
    imp, clk = _streams(spark, sf)
    stage1 = streaming_ctr_windows(imp, clk, window="1 minute", band="10 minutes")
    bus = str(tmp_path / "ctr_bus")
    q1 = to_parquet_dir(stage1, path=bus, checkpoint=str(tmp_path / "ckpt1"))
    _drive(q1, sf, sf["imp_dir"], sf["clk_dir"])

    schema = spark.read.parquet(bus).schema
    # One batch for the replay: chunked replay of a historical bus can
    # deliver the sentinel's far-future watermark before real windows,
    # and Spark's late-data filter (correctly) drops them before any
    # operator sees them. Out-of-order robustness across batches is
    # covered by test_streaming_lag_equals_batch with controlled file
    # ordering; this test asserts the topology.
    stage2_in = spark.readStream.schema(schema).parquet(bus)
    alerts = streaming_anomaly_alerts(stage2_in)
    q2 = (
        alerts.writeStream.format("memory")
        .queryName("two_stage_alerts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    q2.processAllAvailable()
    q2.stop()
    got = {
        (r.alert_time.minute, r.alert_type)
        for r in spark.table("two_stage_alerts")
        .filter(F.col("campaign_id") == "camp-1")
        .collect()
    }
    # phase boundaries (generate_events.py:108-121): DROP after 300s,
    # SPIKE after 600s, recovery DROP after 900s (window ends).
    assert (6, "DROP") in got
    assert (11, "SPIKE") in got
    assert (16, "DROP") in got


def test_rocksdb_state_store(spark, ctr_results_stream_dir, tmp_path):
    """The stateful LAG must produce identical alerts on the RocksDB
    state store provider (T9: the reference's RocksDB backend)."""
    from flink_ad_analytics_spark.streaming.state import (
        use_default_store,
        use_rocksdb,
    )

    schema = spark.read.parquet(ctr_results_stream_dir).schema
    use_rocksdb(spark)
    try:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(ctr_results_stream_dir)
        )
        alerts = streaming_anomaly_alerts(stream)
        q = (
            alerts.writeStream.format("memory")
            .queryName("rocksdb_lag")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_rocks"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
    finally:
        use_default_store(spark)
    got = (
        spark.table("rocksdb_lag")
        .filter(F.col("campaign_id") == "camp-1")
        .orderBy("alert_time")
        .collect()
    )
    assert [r.alert_type for r in got] == ["DROP", "SPIKE", "DROP"]


def test_dual_sink(spark, stream_fixture, tmp_path):
    """Statement-set analogue: one upstream, two sinks, one pass."""
    sf = stream_fixture
    imp_schema = spark.read.parquet(sf["imp_dir"]).schema
    imp = file_event_stream(
        spark, sf["imp_dir"], imp_schema, watermark="5 seconds",
        max_files_per_trigger=None,
    )
    counts = imp.groupBy(
        F.window("event_time", "1 minute").alias("w"), "campaign_id"
    ).agg(F.count(F.lit(1)).alias("n"))
    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    q = dual_sink(
        counts,
        lambda b: b.write.mode("append").parquet(out_a),
        lambda b: b.select("campaign_id", "n").write.mode("append").parquet(out_b),
        checkpoint=str(tmp_path / "ckpt_dual"),
    )
    q.processAllAvailable()
    q.stop()
    a = spark.read.parquet(out_a)
    b = spark.read.parquet(out_b)
    assert a.count() == b.count() > 0
    assert set(b.columns) == {"campaign_id", "n"}


def test_latest_offset_skips_backlog(spark, tmp_path):
    """T10/S3: a latest-position subscriber must skip the pre-existing
    backlog and emit only post-subscription data -- the file-source
    analogue of the anomaly job's `scan.startup.mode = latest-offset`
    (/root/reference/flink/anomaly_job.sql:27)."""
    import time

    src = str(tmp_path / "src")
    os.makedirs(src)

    def imp_rows(prefix, n, t0):
        return pd.DataFrame(
            [
                {"impression_id": f"{prefix}-{i}", "user_id": "u1",
                 "campaign_id": prefix, "ad_id": "a", "device_type": "d",
                 "browser": "b", "event_timestamp": t0 + i * 1000,
                 "cost": 0.1}
                for i in range(n)
            ]
        )

    backlog_path = f"{src}/part-backlog.parquet"
    imp_rows("old", 5, VIRTUAL_START_MS).to_parquet(backlog_path, index=False)
    # Backdate the backlog so its mtime is unambiguously before the
    # subscription cutoff even on coarse-mtime filesystems.
    past = time.time() - 3600
    os.utime(backlog_path, (past, past))

    schema = spark.read.parquet(src).schema
    stream = file_event_stream(
        spark, src, schema, watermark=None, max_files_per_trigger=None,
        starting_position="latest",
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("latest_sub")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_latest"))
        .start()
    )
    q.processAllAvailable()
    # new data lands after subscription
    imp_rows("new", 3, VIRTUAL_START_MS + 10_000_000).to_parquet(
        f"{src}/part-new.parquet", index=False
    )
    q.processAllAvailable()
    q.stop()
    got = spark.table("latest_sub").select("campaign_id").distinct().collect()
    assert {r.campaign_id for r in got} == {"new"}, (
        "latest-offset subscriber must see only post-subscription files"
    )

    # control: an earliest subscriber on the same directory sees both
    stream_e = file_event_stream(
        spark, src, schema, watermark=None, max_files_per_trigger=None,
        starting_position="earliest",
    )
    qe = (
        stream_e.writeStream.format("memory")
        .queryName("earliest_sub")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_earliest"))
        .start()
    )
    qe.processAllAvailable()
    qe.stop()
    got_e = spark.table("earliest_sub").select("campaign_id").distinct().collect()
    assert {r.campaign_id for r in got_e} == {"old", "new"}


def test_stream_static_enrichment_join(spark, stream_fixture):
    """Stream-static join (beyond the reference, standard Spark
    surface): the impression stream enriched with a static campaign
    dimension must equal the batch join. The static side re-plans per
    micro-batch, no watermark needed on it."""
    sf = stream_fixture
    dim = spark.createDataFrame(
        [(f"camp-{i}", f"advertiser-{i % 3}", i % 2 == 0) for i in range(1, 11)]
        + [("camp-sentinel", "advertiser-x", False)],
        "campaign_id string, advertiser string, premium boolean",
    )
    imp, _clk = _streams(spark, sf)
    enriched = (
        imp.join(F.broadcast(dim), "campaign_id", "left")
        .groupBy(
            F.window("event_time", "1 minute").alias("w"),
            "advertiser",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "advertiser", "n")
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched_stream")
        .outputMode("append")
        .option("checkpointLocation", f"{sf['base']}/ckpt_enrich")
        .start()
    )
    _drive(q, sf, sf["imp_dir"], sf["clk_dir"])
    streamed = (
        spark.table("enriched_stream")
        .filter(F.col("advertiser") != "advertiser-x")
        .toPandas()
        .sort_values(["window_start", "advertiser"])
        .reset_index(drop=True)
    )
    imp_b = spark.createDataFrame(sf["fx"].impressions).withColumn(
        "event_time", F.timestamp_millis(F.col("event_timestamp"))
    )
    batch = (
        imp_b.join(F.broadcast(dim), "campaign_id", "left")
        .groupBy(F.window("event_time", "1 minute").alias("w"), "advertiser")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "advertiser", "n")
        .toPandas()
        .sort_values(["window_start", "advertiser"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(streamed, batch, check_dtype=False)


def test_streaming_session_windows_equal_batch(spark, stream_fixture, tmp_path):
    """Session windows (T4 family) in streaming mode: 2-minute-gap
    sessions per user over the impression stream must equal the batch
    session_window aggregation."""
    sf = stream_fixture
    imp, _clk = _streams(spark, sf)
    sess = (
        imp.groupBy(F.col("user_id"), F.session_window("event_time", "2 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )
    q = (
        sess.writeStream.format("memory")
        .queryName("session_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .start()
    )
    _drive(q, sf, sf["imp_dir"], sf["clk_dir"])
    streamed = (
        spark.table("session_stream")
        .filter(F.col("user_id") != "user-0")  # sentinel user
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    imp_b = spark.createDataFrame(sf["fx"].impressions).withColumn(
        "event_time", F.timestamp_millis(F.col("event_timestamp"))
    )
    batch = (
        imp_b.filter(F.col("user_id") != "user-0")
        .groupBy(F.col("user_id"), F.session_window("event_time", "2 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(streamed, batch, check_dtype=False)


def test_streaming_sliding_windows_equal_batch(spark, stream_fixture, tmp_path):
    """Sliding (hopping) windows in streaming mode: 2-minute windows
    hopping every 30s over the impression stream must equal the batch
    window() aggregation -- each event lands in 4 overlapping windows."""
    sf = stream_fixture
    imp, _clk = _streams(spark, sf)

    def slide_agg(df):
        return (
            df.groupBy(
                F.window("event_time", "2 minutes", "30 seconds").alias("w"),
                "campaign_id",
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("w.start").alias("window_start"),
                "campaign_id",
                "n",
            )
        )

    q = (
        slide_agg(imp).writeStream.format("memory")
        .queryName("sliding_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_slide"))
        .start()
    )
    _drive(q, sf, sf["imp_dir"], sf["clk_dir"])
    streamed = (
        spark.table("sliding_stream")
        .filter(F.col("campaign_id") != "camp-sentinel")
        .toPandas()
        .sort_values(["window_start", "campaign_id"])
        .reset_index(drop=True)
    )
    imp_b = spark.createDataFrame(sf["fx"].impressions).withColumn(
        "event_time", F.timestamp_millis(F.col("event_timestamp"))
    )
    batch = (
        slide_agg(imp_b)
        .toPandas()
        .sort_values(["window_start", "campaign_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(streamed, batch, check_dtype=False)


def test_streaming_exact_dedup_equals_batch(spark, stream_fixture, tmp_path):
    """At-least-once delivery repair: every impression arrives TWICE
    (duplicated bus), dropDuplicatesWithinWatermark restores
    exactly-once per-campaign counts == batch COUNT(DISTINCT) over the
    deduped feed. This is the streaming face of exact_dedup: state is
    one id per watermark span, evicted as the watermark passes."""
    sf = stream_fixture
    dup_dir = str(tmp_path / "dup_imp")
    os.makedirs(dup_dir)
    full = pd.concat(
        [sf["fx"].impressions, sf["fx"].impressions], ignore_index=True
    ).sort_values("event_timestamp", kind="stable")
    half = len(full) // 2
    full.iloc[:half].to_parquet(f"{dup_dir}/part-0.parquet", index=False)
    schema = spark.read.parquet(dup_dir).schema
    imp = file_event_stream(
        spark, dup_dir, schema, watermark="5 seconds",
        max_files_per_trigger=None,
    )
    deduped = imp.dropDuplicatesWithinWatermark(["impression_id"])
    counts = deduped.groupBy(
        F.window("event_time", "1 minute"), "campaign_id"
    ).agg(F.count(F.lit(1)).alias("n"))
    out = str(tmp_path / "out")
    q = to_parquet_dir(counts, path=out, checkpoint=str(tmp_path / "ckpt"))
    q.processAllAvailable()
    full.iloc[half:].to_parquet(f"{dup_dir}/part-1.parquet", index=False)
    q.processAllAvailable()
    _sentinel_imp().to_parquet(f"{dup_dir}/part-2-sentinel.parquet", index=False)
    q.processAllAvailable()
    q.stop()

    got = {
        (r["window"]["start"], r.campaign_id): r.n
        for r in spark.read.parquet(out).collect()
        if r.campaign_id != "camp-sentinel"
    }
    batch = spark.createDataFrame(sf["fx"].impressions)
    expect = {
        ((r["wstart"]), r.campaign_id): r.n
        for r in batch.select(
            F.timestamp_millis(F.col("event_timestamp")).alias("event_time"),
            "campaign_id",
            "impression_id",
        )
        .groupBy(
            F.window("event_time", "1 minute").start.alias("wstart"),
            "campaign_id",
        )
        .agg(F.countDistinct("impression_id").alias("n"))
        .collect()
    }
    assert got == expect


def test_streaming_asof_attribution_equals_batch(spark, stream_fixture, tmp_path):
    """Streaming as-of join (last-touch attribution) must equal the
    batch asof_join window-for-window: per click, the latest
    at-or-before impression by the same user, max-id on timestamp
    ties, NULLs for unmatched -- proven on the reference fixture with
    out-of-order micro-batches and a watermark."""
    from flink_ad_analytics_spark.operators.asof import asof_join
    from flink_ad_analytics_spark.streaming.asof import (
        streaming_click_attribution,
    )
    from flink_ad_analytics_spark.streaming.sources import file_event_stream

    sf = stream_fixture
    imp_schema = spark.read.parquet(sf["imp_dir"]).schema
    clk_schema = spark.read.parquet(sf["clk_dir"]).schema
    # un-watermarked inputs: the operator applies ONE watermark on the
    # unioned event time
    imp = file_event_stream(
        spark, sf["imp_dir"], imp_schema, watermark=None,
        max_files_per_trigger=None,
    )
    clk = file_event_stream(
        spark, sf["clk_dir"], clk_schema, watermark=None,
        max_files_per_trigger=None, event_time_col="click_time",
    )
    att = streaming_click_attribution(imp, clk)
    q = (
        att.writeStream.format("memory")
        .queryName("asof_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_asof"))
        .start()
    )
    _drive(q, sf, sf["imp_dir"], sf["clk_dir"])

    cols = ["click_id", "user_id", "click_time", "impression_id",
            "impression_time", "latency_ms"]

    def norm(pdf):
        pdf = pdf[cols].sort_values(cols[:3]).reset_index(drop=True)
        pdf["latency_ms"] = pdf["latency_ms"].astype("float64")
        return pdf

    streamed = norm(
        spark.table("asof_stream").filter(F.col("user_id") != "user-0").toPandas()
    )

    imp_b = spark.createDataFrame(sf["fx"].impressions).withColumn(
        "event_time", F.timestamp_millis(F.col("event_timestamp"))
    )
    clk_b = spark.createDataFrame(sf["fx"].clicks).withColumn(
        "click_time", F.timestamp_millis(F.col("event_timestamp"))
    )
    imp_u = imp_b.groupBy(
        "user_id", F.col("event_time").alias("impression_time")
    ).agg(F.max("impression_id").alias("impression_id"))
    batch = norm(
        asof_join(
            clk_b.select("click_id", "user_id", "click_time"),
            imp_u,
            on=["user_id"],
            left_time="click_time",
            right_time="impression_time",
        )
        .withColumn(
            "latency_ms",
            F.unix_millis("click_time") - F.unix_millis("impression_time"),
        )
        .filter(F.col("user_id") != "user-0")
        .toPandas()
    )
    assert len(streamed) == len(batch) > 0
    pd.testing.assert_frame_equal(streamed, batch, check_dtype=False)


def test_observed_quality_metrics(spark, stream_fixture):
    """Inline observe() counters: totals across micro-batches must
    equal the fixture's ground truth, with no extra action/scan."""
    from flink_ad_analytics_spark.streaming.metrics import (
        last_quality,
        with_quality_metrics,
    )

    sf = stream_fixture
    imp, _clk = _streams(spark, sf)
    observed = with_quality_metrics(
        imp,
        event_time_col="event_time",
        malformed_predicate=F.col("cost") <= 0,
    )
    agg = observed.groupBy("campaign_id").count()
    q = (
        agg.writeStream.format("memory")
        .queryName("obs_stream")
        .outputMode("complete")
        .option("checkpointLocation", f"{sf['base']}/ckpt_obs")
        .start()
    )
    _drive(q, sf, sf["imp_dir"], sf["clk_dir"])

    totals = {"n_rows": 0, "n_malformed": 0}
    max_et = None
    for p in q.recentProgress:
        m = last_quality(p)
        if not m:
            continue
        totals["n_rows"] += m["n_rows"]
        totals["n_malformed"] += m["n_malformed"]
        if m["max_event_time"] is not None:
            max_et = max(max_et or m["max_event_time"], m["max_event_time"])

    n_expected = len(sf["fx"].impressions) + 1  # + sentinel
    assert totals["n_rows"] == n_expected
    # fixture costs are positive; only nonpositive-cost rows counted: 0
    assert totals["n_malformed"] == 0
    assert max_et is not None  # event-time bound observed for lag math


def test_streaming_windowed_reach_matches_batch(spark, stream_fixture):
    """Windowed approx distinct (HLL reach) on the stream == the same
    sketch computed in batch: HLL register merges are order-independent,
    so incremental micro-batches cannot change the estimate."""
    sf = stream_fixture
    imp, _clk = _streams(spark, sf)
    windowed = (
        imp.groupBy(F.window("event_time", "5 minutes"), "campaign_id")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("reach"))
    )
    q = (
        windowed.writeStream.format("memory")
        .queryName("reach_stream")
        .outputMode("complete")
        .option("checkpointLocation", f"{sf['base']}/ckpt_reach")
        .start()
    )
    _drive(q, sf, sf["imp_dir"], sf["clk_dir"])
    streamed = (
        spark.table("reach_stream")
        .filter(F.col("campaign_id") != "camp-sentinel")
        .select(
            F.col("window.start").alias("ws"), "campaign_id", "reach"
        )
        .toPandas()
        .sort_values(["ws", "campaign_id"])
        .reset_index(drop=True)
    )
    imp_b = spark.createDataFrame(sf["fx"].impressions).withColumn(
        "event_time", F.timestamp_millis(F.col("event_timestamp"))
    )
    batch = (
        imp_b.groupBy(F.window("event_time", "5 minutes"), "campaign_id")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("reach"))
        .select(F.col("window.start").alias("ws"), "campaign_id", "reach")
        .toPandas()
        .sort_values(["ws", "campaign_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(streamed, batch)


def test_streaming_capped_sessions_equal_batch(spark, tmp_path):
    """Stateful gap+cap sessionization == batch q_capped_sessions on
    the same rows, including out-of-order delivery across files; a
    sentinel user's far-future event advances the watermark so every
    real session flushes."""
    import datetime as dt

    from flink_ad_analytics_spark.queries import q_capped_sessions
    from flink_ad_analytics_spark.streaming.sessions import (
        streaming_capped_sessions,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    # user 1: marathon (never idle) -> cap slices
    for i in range(31):
        rows.append((i, t0 + dt.timedelta(minutes=10 * i), 1, "view", 1.0, "{}"))
    # user 2: two gap-separated sessions
    for j, m in enumerate((0, 5, 36, 40)):
        rows.append((100 + j, t0 + dt.timedelta(minutes=m), 2, "view", 1.0, "{}"))
    data_dir = tmp_path / "events_src"
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    # file 1: the EVEN rows; file 2: the ODD rows (out-of-order across
    # trigger batches); file 3: the sentinel watermark advancer
    df_all = spark.createDataFrame(rows, schema)
    spark.createDataFrame(rows[::2], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(data_dir / "events.parquet"))
    spark.createDataFrame(rows[1::2], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(data_dir / "events.parquet"))
    sentinel = [(999, t0 + dt.timedelta(days=2), 99, "view", 1.0, "{}")]
    spark.createDataFrame(sentinel, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(data_dir / "events.parquet"))

    src_schema = spark.read.parquet(str(data_dir / "events.parquet")).schema
    stream = (
        spark.readStream.schema(src_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(data_dir / "events.parquet"))
        .select("user_id", F.col("ts").alias("event_time"))
    )
    out = streaming_capped_sessions(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("capped_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_capped"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    streamed = (
        spark.table("capped_stream")
        .filter(F.col("user_id") != 99)
        .toPandas()
        .sort_values(["user_id", "session_start", "slice_idx"])
        .reset_index(drop=True)
    )
    batch = (
        q_capped_sessions(spark, str(data_dir))
        .filter(F.col("user_id") != 99)
        .toPandas()
        .sort_values(["user_id", "session_start", "slice_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        streamed[batch.columns], batch, check_dtype=False
    )
    assert len(batch) == 5  # 3 marathon slices + 2 gapped sessions


def test_streaming_trending_topk_equals_batch(spark, tmp_path):
    """Append-mode windowed counts + per-batch rank == batch top-k per
    window; windows emit only once closed by the watermark."""
    import datetime as dt

    from flink_ad_analytics_spark.streaming.jobs import (
        rank_topk,
        streaming_trending_topk,
    )

    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = []
    eid = 0
    # hour 0: view-heavy; hour 1: click-heavy; hour 2: purchase-only
    for h, mix in enumerate(
        (
            {"view": 5, "click": 2, "purchase": 1},
            {"click": 6, "view": 1},
            {"purchase": 3},
        )
    ):
        for et, cnt in mix.items():
            for i in range(cnt):
                rows.append(
                    (eid, t0 + dt.timedelta(hours=h, minutes=i), 1, et, 1.0, "{}")
                )
                eid += 1
    rows.append((eid, t0 + dt.timedelta(days=2), 99, "sentinel", 1.0, "{}"))
    data_dir = tmp_path / "trend_src"
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    spark.createDataFrame(rows[: len(rows) // 2], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(data_dir))
    spark.createDataFrame(rows[len(rows) // 2 :], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(data_dir))

    src_schema = spark.read.parquet(str(data_dir)).schema
    stream = (
        spark.readStream.schema(src_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(data_dir))
        .select("event_type", F.col("ts").alias("event_time"))
        .withWatermark("event_time", "10 seconds")
    )
    closed = streaming_trending_topk(stream, window="1 hour")
    sink: list = []

    def to_sink(batch_df, _bid):
        sink.extend(rank_topk(batch_df, k=2).collect())

    q = (
        closed.writeStream.outputMode("append")
        .foreachBatch(to_sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_trend"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = sorted(
        [
            (r.window_start, r.event_type, r.n_events, r.rank)
            for r in sink
            if r.event_type != "sentinel"
        ]
    )
    batch_src = (
        spark.read.parquet(str(data_dir))
        .filter(F.col("event_type") != "sentinel")
        .select("event_type", F.col("ts").alias("event_time"))
    )
    from flink_ad_analytics_spark.streaming.jobs import streaming_trending_topk as agg
    batch = sorted(
        (r.window_start, r.event_type, r.n_events, r.rank)
        for r in rank_topk(agg(batch_src, window="1 hour"), k=2).collect()
    )
    assert got == batch
    # hour-0 leader is view(5), hour-1 leader click(6), hour-2 purchase(3)
    leaders = [(et, n) for (_w, et, n, rk) in got if rk == 1]
    assert leaders == [("view", 5), ("click", 6), ("purchase", 3)]


def test_streaming_hll_reach_equals_batch(spark, stream_fixture, tmp_path):
    """DataSketches-HLL windowed reach (streaming/jobs.py::
    streaming_hourly_reach) in APPEND mode: the bounded-state
    (2^lg_k bytes per open window) distinct-reach job. HLL registers
    keep per-slot maxima, so micro-batch boundaries and arrival order
    cannot change the merged sketch -- streaming must equal batch
    BIT-EXACTLY, not within-error."""
    from flink_ad_analytics_spark.streaming.jobs import streaming_hourly_reach

    sf = stream_fixture
    imp, _clk = _streams(spark, sf)
    # the sentinel watermark-driver rows are real stream input here
    # (no campaign grouping keeps them out of a group of their own),
    # so drop them before the sketch on BOTH sides
    reach = streaming_hourly_reach(
        imp.filter(F.col("campaign_id") != "camp-sentinel"),
        window="5 minutes",
    )
    q = (
        reach.writeStream.format("memory")
        .queryName("hll_reach_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_hll"))
        .start()
    )
    _drive(q, sf, sf["imp_dir"], sf["clk_dir"])
    streamed = (
        spark.table("hll_reach_stream")
        .toPandas()
        .sort_values("window_start")
        .reset_index(drop=True)
    )
    assert len(streamed) > 0, "no windows closed -- watermark never advanced"
    imp_b = spark.createDataFrame(sf["fx"].impressions).withColumn(
        "event_time", F.timestamp_millis(F.col("event_timestamp"))
    )
    batch = (
        streaming_hourly_reach(
            imp_b.filter(F.col("campaign_id") != "camp-sentinel"),
            window="5 minutes",
        )
        .toPandas()
        .sort_values("window_start")
        .reset_index(drop=True)
    )
    # append mode emits only watermark-closed windows; every emitted
    # window must match its batch twin exactly, sketch included
    merged = streamed.merge(
        batch, on=["window_start", "window_end"], suffixes=("_s", "_b")
    )
    assert len(merged) == len(streamed)
    assert (merged["reach_s"] == merged["reach_b"]).all()
    # sanity: the estimate tracks the true distinct count within HLL
    # error on at least one closed window
    truth = (
        imp_b.groupBy(F.window("event_time", "5 minutes"))
        .agg(F.countDistinct("user_id").alias("n"))
        .select(F.col("window.start").alias("window_start"), "n")
        .toPandas()
    )
    m2 = streamed.merge(truth, on="window_start")
    assert ((m2["reach"] - m2["n"]).abs() <= 0.05 * m2["n"] + 3).all()


def test_latest_marker_preserves_cutoff_across_restart(spark, tmp_path):
    """Kafka latest-offset applies only on FIRST start; a restart must
    resume from the checkpoint without re-cutting. Without the marker,
    a stream redefined after downtime recomputes cutoff=now() and
    silently drops every file written while it was down (listed by the
    source, marked processed, filtered to zero rows)."""
    import time

    src = str(tmp_path / "src")
    os.makedirs(src)
    marker = str(tmp_path / "ckpt" / "latest.marker")
    ckpt = str(tmp_path / "ckpt" / "cp")

    def rows(prefix, n):
        return pd.DataFrame(
            [{"impression_id": f"{prefix}-{i}", "user_id": "u1",
              "campaign_id": prefix, "ad_id": "a", "device_type": "d",
              "browser": "b",
              "event_timestamp": VIRTUAL_START_MS + i * 1000, "cost": 0.1}
             for i in range(n)]
        )

    backlog = f"{src}/part-backlog.parquet"
    rows("old", 4).to_parquet(backlog, index=False)
    past = time.time() - 3600
    os.utime(backlog, (past, past))
    schema = spark.read.parquet(src).schema

    out_dir = str(tmp_path / "out")

    def subscribe():
        return (
            file_event_stream(
                spark, src, schema, watermark=None,
                max_files_per_trigger=None,
                starting_position="latest", latest_marker=marker,
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = subscribe()
    q.processAllAvailable()
    q.stop()
    cut1 = open(marker).read()

    # downtime: a file arrives while no query is running
    rows("downtime", 3).to_parquet(f"{src}/part-downtime.parquet", index=False)
    time.sleep(0.05)

    # restart from the same checkpoint + marker
    q2 = subscribe()
    q2.processAllAvailable()
    q2.stop()
    assert open(marker).read() == cut1, "restart must not re-cut"
    got = {r.campaign_id for r in
           spark.read.parquet(out_dir).select("campaign_id").distinct().collect()}
    assert "downtime" in got, "files written during downtime must survive restart"
    assert "old" not in got, "pre-subscription backlog stays skipped"


def test_streaming_semantic_decontamination_equals_batch(spark, tmp_path):
    """The embedding-decontamination ingest gate is stateless, so the
    streaming flag set must equal the batch operator's EXACTLY on real
    data -- same ids, same best-match eval ids, same exact dots --
    regardless of how arrivals split across micro-batches."""

    from flink_ad_analytics_spark.operators.similarity import (
        semantic_decontaminate,
    )
    from flink_ad_analytics_spark.streaming.jobs import (
        streaming_semantic_decontamination,
    )

    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    is_eval = F.col("vec_id") % 50 == 7
    thr = 300_000

    batch = {
        (r.vec_id, r.eval_id, r.dot)
        for r in semantic_decontaminate(
            emb, is_eval, threshold=thr
        ).collect()
    }
    assert batch  # non-vacuous: the calibrated threshold flags rows

    # train side arrives as a stream in several files
    feed = tmp_path / "train_feed"
    emb.filter(~is_eval).repartition(4).write.parquet(str(feed))
    train_stream = spark.readStream.schema(
        spark.read.parquet(str(feed)).schema
    ).option("maxFilesPerTrigger", "1").parquet(str(feed))
    flagged = streaming_semantic_decontamination(
        train_stream, emb.filter(is_eval), threshold=thr
    )
    q = (
        flagged.writeStream.format("memory")
        .queryName("semdecon_gate")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {
        (r.vec_id, r.eval_id, r.dot)
        for r in spark.table("semdecon_gate").collect()
    }
    assert streamed == batch
