"""Structured Streaming ingest: file source + watermarked hourly counts,
exactly-once via Spark's own checkpoint (replaces the reference's JSON
file-checkpoint, ingestion.py:143-201)."""

from datetime import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from satsure_agri_datapipeline_spark.config import PipelineConfig
from satsure_agri_datapipeline_spark.streaming.ingest import run_streaming_ingest


def _write_raw(raw_dir, day, n_hours=24):
    raw_dir.mkdir(parents=True, exist_ok=True)
    df = pd.DataFrame(
        {
            "sensor_id": ["s1"] * n_hours,
            "timestamp": [datetime(2023, 6, day, h) for h in range(n_hours)],
            "reading_type": ["temperature"] * n_hours,
            "value": [20.0 + h for h in range(n_hours)],
            "battery_level": [80.0] * n_hours,
        }
    )
    df.to_parquet(raw_dir / f"2023-06-0{day}.parquet", coerce_timestamps="us")


def test_streaming_ingest_nanos_parquet(spark, tmp_path):
    """pandas-default TIMESTAMP(NANOS) parquet must stream without the
    PARQUET_TYPE_ILLEGAL error (nanosAsLong + div-1000, like the batch
    reader)."""
    cfg = PipelineConfig().resolve_paths(tmp_path)
    raw = tmp_path / "data" / "raw"
    raw.mkdir(parents=True, exist_ok=True)
    df = pd.DataFrame(
        {
            "sensor_id": ["s1"] * 24,
            "timestamp": [datetime(2023, 6, 1, h) for h in range(24)],
            "reading_type": ["temperature"] * 24,
            "value": [20.0 + h for h in range(24)],
            "battery_level": [80.0] * 24,
        }
    )
    df.to_parquet(raw / "2023-06-01.parquet")  # no coerce: ns unit

    q = run_streaming_ingest(
        spark, cfg, tmp_path / "ns_out", tmp_path / "ns_ckpt", once=True
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "ns_out"))
    # watermark-closed windows only (see exactly-once test): 21 of 24
    assert out.count() == 21
    assert dict(out.dtypes)["hour_start"] == "timestamp"


def test_streaming_ingest_exactly_once(spark, tmp_path):
    cfg = PipelineConfig().resolve_paths(tmp_path)
    raw = tmp_path / "data" / "raw"
    out = tmp_path / "stream_out"
    ckpt = tmp_path / "stream_ckpt"
    _write_raw(raw, day=1)

    q = run_streaming_ingest(spark, cfg, out, ckpt, once=True)
    q.awaitTermination(120)
    first = spark.read.parquet(str(out))
    # append mode emits only watermark-CLOSED windows: max ts 23:00 −2h
    # watermark ⇒ windows ending ≤21:00 ⇒ starts 00..20 = 21 of 24; the last
    # 3 stay open as state until later data advances the watermark.
    assert first.count() == 21

    # new file arrives; restart processes ONLY the new file (checkpoint):
    # day-1's open windows close (24 total) + day-2 closed windows (21).
    _write_raw(raw, day=2)
    q2 = run_streaming_ingest(spark, cfg, out, ckpt, once=True)
    q2.awaitTermination(120)
    both = spark.read.parquet(str(out))
    assert both.count() == 24 + 21
    # re-running with no new files adds nothing (exactly-once)
    q3 = run_streaming_ingest(spark, cfg, out, ckpt, once=True)
    q3.awaitTermination(120)
    assert spark.read.parquet(str(out)).count() == 24 + 21


def _start_stream(spark, cfg, transform, out, ckpt):
    from satsure_agri_datapipeline_spark.streaming.ingest import (
        stream_sensor_readings,
    )

    readings = stream_sensor_readings(spark, cfg)
    q = (
        transform(readings)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_session_bursts_batch_semantics(spark):
    """session_window merges readings closer than the gap; batch-mode check
    of the streaming query shape."""
    from datetime import datetime

    from satsure_agri_datapipeline_spark.streaming.ingest import session_bursts

    rows = [
        ("s1", datetime(2023, 6, 1, 10, 0), "temperature", 20.0, 80.0),
        ("s1", datetime(2023, 6, 1, 10, 20), "temperature", 21.0, 80.0),
        ("s1", datetime(2023, 6, 1, 12, 0), "temperature", 22.0, 80.0),  # new session
        ("s2", datetime(2023, 6, 1, 10, 5), "temperature", 23.0, 80.0),
    ]
    df = spark.createDataFrame(
        rows, "sensor_id string, timestamp timestamp, reading_type string, value double, battery_level double"
    )
    sessions = session_bursts(df, gap="30 minutes").collect()
    by_sensor = {}
    for r in sessions:
        by_sensor.setdefault(r.sensor_id, []).append(r)
    assert len(by_sensor["s1"]) == 2
    assert sorted(s.n_readings for s in by_sensor["s1"]) == [1, 2]
    assert len(by_sensor["s2"]) == 1


def test_dedup_stream_drops_in_watermark_dups(spark, tmp_path):
    import pandas as pd
    from datetime import datetime

    from satsure_agri_datapipeline_spark.streaming.ingest import dedup_stream

    cfg = PipelineConfig().resolve_paths(tmp_path)
    raw = tmp_path / "data" / "raw"
    raw.mkdir(parents=True, exist_ok=True)
    df = pd.DataFrame(
        {
            "sensor_id": ["s1", "s1", "s1"],
            "timestamp": [datetime(2023, 6, 1, 10)] * 2 + [datetime(2023, 6, 1, 11)],
            "reading_type": ["temperature"] * 3,
            "value": [20.0, 20.0, 21.0],
            "battery_level": [80.0] * 3,
        }
    )
    df.to_parquet(raw / "2023-06-01.parquet", coerce_timestamps="us")

    _start_stream(
        spark, cfg, dedup_stream, tmp_path / "dd_out", tmp_path / "dd_ckpt"
    )
    out = spark.read.parquet(str(tmp_path / "dd_out"))
    assert out.count() == 2  # exact dup collapsed


def test_gap_alerts_stateful_across_restarts(spark, tmp_path):
    """applyInPandasWithState custom operator: last-seen timestamp survives in
    the state store, so a gap spanning two micro-batches (separate runs,
    same checkpoint) is still alerted."""
    import pandas as pd
    from datetime import datetime

    from satsure_agri_datapipeline_spark.streaming.ingest import gap_alerts_stateful

    cfg = PipelineConfig().resolve_paths(tmp_path)
    raw = tmp_path / "data" / "raw"
    raw.mkdir(parents=True, exist_ok=True)
    out, ckpt = tmp_path / "gap_out", tmp_path / "gap_ckpt"

    # batch 1: hours 0-5 then 10-12 — one in-batch gap of 5h
    hours = list(range(6)) + [10, 11, 12]
    pd.DataFrame(
        {
            "sensor_id": ["s1"] * len(hours),
            "timestamp": [datetime(2023, 6, 1, h) for h in hours],
            "reading_type": ["temperature"] * len(hours),
            "value": [20.0] * len(hours),
            "battery_level": [80.0] * len(hours),
        }
    ).to_parquet(raw / "2023-06-01.parquet", coerce_timestamps="us")

    fn = lambda readings: gap_alerts_stateful(readings, gap_hours=2.0)
    _start_stream(spark, cfg, fn, out, ckpt)
    alerts = spark.read.parquet(str(out))
    assert alerts.count() == 1
    a = alerts.first()
    assert a.gap_hours == 5.0 and a.prev_reading == datetime(2023, 6, 1, 5)

    # batch 2 (restart, same checkpoint): next day 09:00 — 20h cross-batch gap
    pd.DataFrame(
        {
            "sensor_id": ["s1"],
            "timestamp": [datetime(2023, 6, 2, 9)],
            "reading_type": ["temperature"],
            "value": [20.0],
            "battery_level": [80.0],
        }
    ).to_parquet(raw / "2023-06-02.parquet", coerce_timestamps="us")
    _start_stream(spark, cfg, fn, out, ckpt)
    alerts = spark.read.parquet(str(out)).orderBy("next_reading").collect()
    assert len(alerts) == 2
    assert alerts[-1].prev_reading == datetime(2023, 6, 1, 12)
    assert alerts[-1].gap_hours == 21.0


def test_streaming_pipeline_foreachbatch(spark, tmp_path):
    """Full transform chain per micro-batch with exactly-once file tracking:
    second run with no new files adds nothing; a new file appends only its
    own (transformed) rows."""
    from satsure_agri_datapipeline_spark.streaming.ingest import (
        run_streaming_pipeline,
    )

    cfg = PipelineConfig().resolve_paths(tmp_path)
    raw = tmp_path / "data" / "raw"
    ckpt = tmp_path / "pipe_ckpt"
    _write_raw(raw, day=1)

    q = run_streaming_pipeline(spark, cfg, ckpt, once=True)
    q.awaitTermination(120)
    out = spark.read.parquet(cfg.paths.data_processed)
    assert out.count() == 24
    assert "anomalous_reading" in out.columns  # transform chain ran
    # Hive layout by (date, sensor_id)
    assert any(p.name.startswith("date=") for p in
               __import__("pathlib").Path(cfg.paths.data_processed).iterdir())

    q2 = run_streaming_pipeline(spark, cfg, ckpt, once=True)
    q2.awaitTermination(120)
    assert spark.read.parquet(cfg.paths.data_processed).count() == 24  # no dupes

    _write_raw(raw, day=2)
    q3 = run_streaming_pipeline(spark, cfg, ckpt, once=True)
    q3.awaitTermination(120)
    assert spark.read.parquet(cfg.paths.data_processed).count() == 48


def test_cli_streaming_mode(spark, tmp_path):
    from satsure_agri_datapipeline_spark.__main__ import main

    raw = tmp_path / "data" / "raw"
    _write_raw(raw, day=1)
    rc = main(["--base-dir", str(tmp_path), "--streaming", "--log-level", "WARNING"])
    assert rc == 0
    out = spark.read.parquet(str(tmp_path / "data" / "processed"))
    assert out.count() == 24


def test_stream_static_join_enrichment(spark, tmp_path):
    """Stream-static left join against a broadcast dimension: every
    micro-batch row is enriched; rows without a dim match keep nulls."""
    from satsure_agri_datapipeline_spark.streaming.ingest import (
        enrich_stream,
        stream_sensor_readings,
    )

    cfg = PipelineConfig().resolve_paths(tmp_path)
    raw = tmp_path / "data" / "raw"
    raw.mkdir(parents=True, exist_ok=True)
    pd.DataFrame(
        {
            "sensor_id": ["s1", "s1", "s2"],
            "timestamp": [datetime(2023, 6, 1, h) for h in (0, 1, 2)],
            "reading_type": ["temperature", "humidity", "temperature"],
            "value": [20.0, 55.0, 21.5],
            "battery_level": [80.0, 79.0, 78.0],
        }
    ).to_parquet(raw / "2023-06-01.parquet")

    dim = spark.createDataFrame(
        [("temperature", "celsius")], "reading_type string, unit string"
    )
    enriched = enrich_stream(
        stream_sensor_readings(spark, cfg), dim, ["reading_type"]
    )
    out = tmp_path / "enrich_out"
    q = (
        enriched.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "enrich_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r.reading_type, r.unit)
        for r in spark.read.parquet(str(out)).collect()
    }
    assert rows == {("temperature", "celsius"), ("humidity", None)}


def test_streaming_upsert_latest_state(spark, tmp_path):
    """Latest-state table maintained across micro-batches: after processing
    two days of files one-file-per-trigger, the state equals the batch
    newest-row-per-key answer; a re-run with a fresh checkpoint (full replay)
    converges to the identical state (newest-wins idempotence)."""
    from satsure_agri_datapipeline_spark.streaming.ingest import run_streaming_upsert

    cfg = PipelineConfig().resolve_paths(tmp_path)
    raw = tmp_path / "data" / "raw"
    _write_raw(raw, 1)
    _write_raw(raw, 2)

    q = run_streaming_upsert(
        spark, cfg, tmp_path / "state", tmp_path / "up_ckpt", once=True,
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)

    state = spark.read.parquet(str(tmp_path / "state"))
    rows = state.collect()
    # one key (s1, temperature); newest row is day-2 hour 23
    assert len(rows) == 1
    r = rows[0]
    assert r.timestamp == datetime(2023, 6, 2, 23) and r.value == 43.0

    # full replay into the same state dir with a fresh checkpoint: converges
    q2 = run_streaming_upsert(
        spark, cfg, tmp_path / "state", tmp_path / "up_ckpt2", once=True,
        max_files_per_trigger=1,
    )
    q2.awaitTermination(180)
    [r2] = spark.read.parquet(str(tmp_path / "state")).collect()
    assert r2.timestamp == r.timestamp and r2.value == r.value


def test_streaming_upsert_state_swap_survives_crash_window(spark, tmp_path):
    """The upsert sink's two-rename swap never deletes the only copy of the
    state: a crash between the renames (live state moved aside to ``__old``,
    new version not yet promoted) must still recover the full old state, and
    a completed swap must drop the ``__old`` leftover."""
    from satsure_agri_datapipeline_spark.streaming.ingest import (
        _load_state,
        _swap_state,
    )

    state = str(tmp_path / "state")
    spark.createDataFrame([(1, "v1")], "k int, v string").write.parquet(state)

    # simulate the crash window: live state renamed aside, promotion not done
    import os

    os.rename(state, f"{state}__old")
    recovered = _load_state(spark, state)
    assert recovered is not None
    assert [(r.k, r.v) for r in recovered.collect()] == [(1, "v1")]

    # complete a real swap: new version promoted, __old cleaned up
    tmp_new = f"{state}__new"
    spark.createDataFrame([(1, "v2")], "k int, v string").write.parquet(tmp_new)
    os.rename(f"{state}__old", state)  # restore the live state first
    _swap_state(state, tmp_new)
    assert [(r.k, r.v) for r in spark.read.parquet(state).collect()] == [(1, "v2")]
    assert not os.path.exists(f"{state}__old") and not os.path.exists(tmp_new)


def test_stream_stream_interval_join(spark, tmp_path):
    """Two streams over the same source (temperature vs humidity readings)
    correlate within a 30-minute window per sensor: batch-computed oracle
    pairs must match the streaming interval join's output
    (streaming/ingest.py correlate_streams)."""
    import pandas as pd

    from satsure_agri_datapipeline_spark.streaming.ingest import (
        correlate_streams,
        stream_sensor_readings,
    )

    cfg = PipelineConfig().resolve_paths(tmp_path)
    raw = tmp_path / "data" / "raw"
    raw.mkdir(parents=True, exist_ok=True)
    rows = []
    for h in range(6):
        rows.append(("s1", datetime(2023, 6, 1, h, 0), "temperature", 20.0 + h, 80.0))
        # humidity 10 min after each temperature reading -> joins; plus one
        # far-away humidity at hour 12 that pairs with nothing
        rows.append(("s1", datetime(2023, 6, 1, h, 10), "humidity", 60.0 + h, 80.0))
    rows.append(("s1", datetime(2023, 6, 1, 12, 0), "humidity", 99.0, 80.0))
    pd.DataFrame(
        rows, columns=["sensor_id", "timestamp", "reading_type", "value", "battery_level"]
    ).to_parquet(raw / "2023-06-01.parquet", coerce_timestamps="us")

    readings = stream_sensor_readings(spark, cfg)
    temp = readings.where(F.col("reading_type") == "temperature").select(
        "sensor_id", F.col("timestamp").alias("t_ts"), F.col("value").alias("t_val")
    )
    hum = readings.where(F.col("reading_type") == "humidity").select(
        F.col("sensor_id").alias("h_sensor"),
        F.col("timestamp").alias("h_ts"),
        F.col("value").alias("h_val"),
    )
    joined = correlate_streams(
        temp.withColumnRenamed("sensor_id", "key"),
        hum.withColumnRenamed("h_sensor", "key"),
        key="key",
        left_time="t_ts",
        right_time="h_ts",
        within_seconds=1800,
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", str(tmp_path / "ssj_out"))
        .option("checkpointLocation", str(tmp_path / "ssj_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    out = spark.read.parquet(str(tmp_path / "ssj_out"))
    pairs = {(r.t_val, r.h_val) for r in out.collect()}
    # each temperature reading pairs with exactly its 10-min-later humidity
    assert pairs == {(20.0 + h, 60.0 + h) for h in range(6)}


def test_stream_stream_left_outer_join_emits_unmatched(spark, tmp_path):
    """LEFT OUTER stream-stream join: temperature readings with no humidity
    within the window emit null-padded rows once the watermark passes their
    eviction bound. File 2's much-later data advances the watermark past
    file 1's window, flushing file 1's unmatched state (the outer join's
    null emission is watermark-driven — without the advance, state would
    wait forever)."""
    import pandas as pd

    from satsure_agri_datapipeline_spark.streaming.ingest import (
        correlate_streams,
        stream_sensor_readings,
    )

    cfg = PipelineConfig().resolve_paths(tmp_path)
    raw = tmp_path / "data" / "raw"
    raw.mkdir(parents=True, exist_ok=True)
    cols = ["sensor_id", "timestamp", "reading_type", "value", "battery_level"]
    # file 1: two temps, only the first has humidity within 30 min
    pd.DataFrame(
        [
            ("s1", datetime(2023, 6, 1, 0, 0), "temperature", 20.0, 80.0),
            ("s1", datetime(2023, 6, 1, 0, 10), "humidity", 60.0, 80.0),
            ("s1", datetime(2023, 6, 1, 1, 0), "temperature", 21.0, 80.0),
        ],
        columns=cols,
    ).to_parquet(raw / "2023-06-01.parquet", coerce_timestamps="us")
    # file 2: far future -> advances watermark (1h delay) beyond file 1;
    # file 3 triggers one more batch AFTER the advance, which is when outer
    # null emission actually happens (watermark updates at batch end, so the
    # flush needs a subsequent batch to run)
    # far-future rows of BOTH types (other sensor, so no spurious joins):
    # each side's watermark node only sees its own filtered rows, and the
    # global watermark is the MIN across nodes - advancing just one side
    # would leave the join state frozen
    pd.DataFrame(
        [
            ("s2", datetime(2023, 6, 3, 0, 0), "temperature", 30.0, 80.0),
            ("s2", datetime(2023, 6, 3, 0, 0), "humidity", 90.0, 80.0),
        ],
        columns=cols,
    ).to_parquet(raw / "2023-06-02.parquet", coerce_timestamps="us")
    pd.DataFrame(
        [
            ("s2", datetime(2023, 6, 3, 1, 0), "temperature", 31.0, 80.0),
            ("s2", datetime(2023, 6, 3, 1, 0), "humidity", 91.0, 80.0),
        ],
        columns=cols,
    ).to_parquet(raw / "2023-06-03.parquet", coerce_timestamps="us")

    readings = stream_sensor_readings(spark, cfg, max_files_per_trigger=1)
    temp = readings.where(F.col("reading_type") == "temperature").select(
        F.col("sensor_id").alias("key"),
        F.col("timestamp").alias("t_ts"),
        F.col("value").alias("t_val"),
    )
    hum = readings.where(F.col("reading_type") == "humidity").select(
        F.col("sensor_id").alias("key"),
        F.col("timestamp").alias("h_ts"),
        F.col("value").alias("h_val"),
    )
    joined = correlate_streams(
        temp, hum, key="key", left_time="t_ts", right_time="h_ts",
        within_seconds=1800, watermark_seconds=3600, how="left_outer",
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", str(tmp_path / "ssj2_out"))
        .option("checkpointLocation", str(tmp_path / "ssj2_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    out = {
        (r.t_val, r.h_val)
        for r in spark.read.parquet(str(tmp_path / "ssj2_out")).collect()
    }
    # matched pair emits joined; 1am temp (no humidity in window) emits null
    assert (20.0, 60.0) in out
    assert (21.0, None) in out
    assert (30.0, 90.0) in out  # far-future same-instant pair also joins


def test_streaming_with_rocksdb_state_store(spark, tmp_path):
    """The watermarked hourly-count query must produce identical results on
    the RocksDB state store (the bounded-memory 100 TB configuration) as on
    the default heap-backed provider."""
    from satsure_agri_datapipeline_spark.streaming.ingest import (
        run_streaming_ingest,
        use_rocksdb_state,
    )

    cfg = PipelineConfig().resolve_paths(tmp_path)
    raw = tmp_path / "data" / "raw"
    _write_raw(raw, day=1)

    use_rocksdb_state(spark)
    try:
        q = run_streaming_ingest(
            spark, cfg, tmp_path / "rocks_out", tmp_path / "rocks_ckpt", once=True
        )
        q.awaitTermination(120)
    finally:
        use_rocksdb_state(spark, enabled=False)
    rocks = spark.read.parquet(str(tmp_path / "rocks_out"))
    # same watermark-closed windows as the heap-provider test: 21 of 24
    assert rocks.count() == 21
    assert {r.n_readings for r in rocks.collect()} == {1}


def test_transform_with_state_running_stats(spark, tmp_path):
    """transformWithStateInPandas running stats: after two incremental
    days the latest snapshot per key must equal the batch aggregate over
    ALL data (state carried across restarts via the checkpoint).
    Skip-marked where protobuf (TWS's driver-worker protocol) is absent;
    the graceful NotImplementedError is asserted instead."""
    from satsure_agri_datapipeline_spark.streaming.ingest import (
        has_protobuf,
        run_streaming_running_stats,
        use_rocksdb_state,
    )

    if not has_protobuf():
        with pytest.raises(NotImplementedError, match="protobuf"):
            run_streaming_running_stats(
                spark, PipelineConfig().resolve_paths(tmp_path),
                tmp_path / "o", tmp_path / "c",
            )
        pytest.skip("protobuf not installed; TWS runtime path not reachable")

    cfg = PipelineConfig().resolve_paths(tmp_path)
    raw = tmp_path / "data" / "raw"
    out, ckpt = tmp_path / "tws_out", tmp_path / "tws_ckpt"
    _write_raw(raw, day=1)
    try:
        q = run_streaming_running_stats(spark, cfg, out, ckpt, once=True)
        q.awaitTermination(120)
        _write_raw(raw, day=2)
        q = run_streaming_running_stats(spark, cfg, out, ckpt, once=True)
        q.awaitTermination(120)
    finally:
        use_rocksdb_state(spark, enabled=False)

    snap = spark.read.parquet(str(out))
    latest = snap.orderBy(F.desc("epoch_id")).limit(1).collect()[0]
    # 48 readings total (24/day), values 20..43 twice
    batch = spark.read.parquet(str(raw)).agg(
        F.count("value").alias("n"),
        F.avg("value").alias("m"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    ).collect()[0]
    assert latest.n_readings == batch.n == 48
    assert latest.mean_value == pytest.approx(batch.m)
    assert latest.min_value == batch.lo and latest.max_value == batch.hi


def test_streaming_document_ingest_maintains_stores(spark, tmp_path):
    """r10 (r9 verdict task 5): streaming micro-batches COMPOSED with
    standing-store maintenance. Each availableNow drain lands new corpus
    part files and drives the band/shingle append deltas, so after every
    batch (a) the manifests record delta lineage (append, never rebuild),
    (b) incremental near-dup served from the standing store hash-matches
    a from-scratch recompute on the grown corpus, and (c) the raw catalog
    names keep serving a FRESH store (no stale window)."""
    import json
    import shutil

    from satsure_agri_datapipeline_spark.operators import dedup as dd
    from satsure_agri_datapipeline_spark.sources import band_store as bs
    from satsure_agri_datapipeline_spark.sources import shingle_store as ss
    from satsure_agri_datapipeline_spark.sources.store_util import layout_dir
    from satsure_agri_datapipeline_spark.sources.tables import load_table
    from satsure_agri_datapipeline_spark.streaming.ingest import (
        run_streaming_document_ingest,
    )

    SFD = "/root/testdata/sf0.001"
    docs = load_table(spark, SFD, "documents").limit(36).cache()
    corpus = tmp_path / "corpus"
    docs_dir = corpus / "documents.parquet"
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    docs_dir.mkdir(parents=True)

    def _one_part(df, dest, name):
        stage = tmp_path / f"stage_{name}"
        df.repartition(1).write.mode("overwrite").parquet(str(stage))
        part = next(stage.glob("part-*.parquet"))
        shutil.copy(part, dest / name)
        shutil.rmtree(stage, ignore_errors=True)

    # standing corpus + stores built once at "ingest time"
    _one_part(docs.where(F.col("doc_id") % 3 == 0), docs_dir, "base-000.parquet")
    bs.ensure_band_store(spark, corpus)
    ss.ensure_shingle_store(spark, corpus)
    band_layout = layout_dir("bands", corpus.resolve(), 16, 4, 3, 32)
    sh_layout = layout_dir("shingles", corpus.resolve(), 3, "word", 0, 32)

    try:
        # ---- two streamed drops, drained one after the other ----
        for i, residue in enumerate((1, 2), start=1):
            _one_part(
                docs.where(F.col("doc_id") % 3 == residue),
                incoming,
                f"drop-{i:03d}.parquet",
            )
            q = run_streaming_document_ingest(
                spark, incoming, corpus, tmp_path / "ckpt", once=True
            )
            q.awaitTermination(180)

            bman = json.loads((band_layout / bs.MANIFEST_NAME).read_text())
            assert len(bman["deltas"]) == i  # append per batch, no rebuild
            assert "pending_delta" not in bman
            sman = json.loads((sh_layout / ss.MANIFEST_NAME).read_text())
            assert len(sman["deltas"]) == i

            # store serves fresh immediately: raw-name hook is non-None
            assert bs.band_store_or_none(spark, corpus) is not None
            assert ss.shingle_store_or_none(spark, corpus) is not None

        # ---- the standing store == from-scratch on the grown corpus ----
        store = bs.band_store_or_none(spark, corpus)
        grown = load_table(spark, corpus, "documents")
        want = sorted(
            map(
                tuple,
                dd.minhash_bands(grown).select("doc_id", "band", "band_sig").collect(),
            )
        )
        got = sorted(
            map(tuple, store.select("doc_id", "band", "band_sig").collect())
        )
        assert got == want and len(want) > 0


        # incremental near-dup probing the maintained store: identical
        # survivors to probing a freshly recomputed store
        batch = docs.limit(6).withColumn("doc_id", F.col("doc_id") + 1_000_000)
        acc_stored, _ = dd.incremental_minhash_dedup(batch, store)
        acc_fresh, _ = dd.incremental_minhash_dedup(batch, dd.minhash_bands(grown))
        assert sorted(map(tuple, acc_stored.select("doc_id").collect())) == sorted(
            map(tuple, acc_fresh.select("doc_id").collect())
        )
    finally:
        docs.unpersist()
        for tbl in ("bkt_bands_h16b4n3", "bkt_shingles_w3_s0"):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(band_layout, ignore_errors=True)
        shutil.rmtree(sh_layout, ignore_errors=True)


def test_streaming_ingest_maintains_all_stores(spark, tmp_path):
    """r11 (r10 verdict task 3) + r13 (verdict task 4) + r13c: the composed
    streaming ingest drives ALL EIGHT standing stores — bands, shingles,
    spans, simhash, digests via the document stream; the IVF index, PQ
    codes, and co-located IVFPQ lists via the embedding stream. Each drained drop must append a delta
    (never rebuild) to every manifest, and the grown stores must serve
    answers identical to their contracted recompute on the grown corpus:
    banded Hamming pairs from the simhash store, incremental exact dedup
    anti-joined against the digest store, and PINNED-CENTROID assignments
    from the IVF store (its delta contract — the refit equivalence is
    asserted post-compaction in the test below)."""
    import json
    import shutil

    from satsure_agri_datapipeline_spark.operators import dedup as dd
    from satsure_agri_datapipeline_spark.sources import band_store as bs
    from satsure_agri_datapipeline_spark.sources import digest_store as gs
    from satsure_agri_datapipeline_spark.sources import ivf_store as ivs
    from satsure_agri_datapipeline_spark.sources import shingle_store as ss
    from satsure_agri_datapipeline_spark.sources import simhash_store as hs
    from satsure_agri_datapipeline_spark.sources.simhash_store import (
        pairs_from_store,
    )
    from satsure_agri_datapipeline_spark.sources.store_util import (
        layout_dir,
        serve_store,
    )
    from satsure_agri_datapipeline_spark.sources.tables import load_table
    from satsure_agri_datapipeline_spark.streaming.ingest import (
        run_streaming_document_ingest,
        run_streaming_embedding_ingest,
    )

    SFD = "/root/testdata/sf0.001"
    docs = load_table(spark, SFD, "documents").limit(36).cache()
    emb = load_table(spark, SFD, "embeddings").limit(36).cache()
    corpus = tmp_path / "corpus"
    docs_dir = corpus / "documents.parquet"
    emb_dir = corpus / "embeddings.parquet"
    incoming = tmp_path / "incoming"
    incoming_emb = tmp_path / "incoming_emb"
    incoming.mkdir()
    incoming_emb.mkdir()
    docs_dir.mkdir(parents=True)
    emb_dir.mkdir(parents=True)

    def _one_part(df, dest, name):
        stage = tmp_path / f"stage_{name}"
        df.repartition(1).write.mode("overwrite").parquet(str(stage))
        part = next(stage.glob("part-*.parquet"))
        shutil.copy(part, dest / name)
        shutil.rmtree(stage, ignore_errors=True)

    ALL = ("bands", "shingles", "spans", "simhash", "digests", "token_stats")
    # standing corpus + all stores built once at "ingest time"
    _one_part(docs.where(F.col("doc_id") % 3 == 0), docs_dir, "base-000.parquet")
    _one_part(emb.where(F.col("vec_id") % 3 == 0), emb_dir, "base-000.parquet")
    bs.ensure_band_store(spark, corpus)
    ss.ensure_shingle_store(spark, corpus)
    ss.ensure_shingle_store(spark, corpus, n=15)  # the span store (r11)
    hs.ensure_simhash_store(spark, corpus)
    gs.ensure_digest_store(spark, corpus)
    ivs.ensure_ivf_store(spark, corpus)  # the sixth store (r13)
    from satsure_agri_datapipeline_spark.sources import pq_store as pqs

    pqs.ensure_pq_store(spark, corpus)  # the seventh store (r13)
    from satsure_agri_datapipeline_spark.sources import ivfpq_store as ivfpqs

    ivfpqs.ensure_ivfpq_store(spark, corpus)  # the eighth store (r13c)
    from satsure_agri_datapipeline_spark.sources import token_stats_store as tss

    tss.ensure_token_stats_store(spark, corpus)  # the ninth store (r14)
    layouts = {
        "bands": (layout_dir("bands", corpus.resolve(), 16, 4, 3, 32), bs),
        "shingles": (layout_dir("shingles", corpus.resolve(), 3, "word", 0, 32), ss),
        "spans": (layout_dir("shingles", corpus.resolve(), 15, "word", 0, 32), ss),
        "simhash": (layout_dir("simhash", corpus.resolve(), 32, 4, 32), hs),
        "digests": (layout_dir("digests", corpus.resolve(), "true", 32), gs),
        "ivf": (layout_dir("ivf", corpus.resolve(), 8, 2, 0), ivs),
        "pq": (layout_dir("pq", corpus.resolve(), 8, 16, 2, 0), pqs),
        "ivfpq": (layout_dir("ivfpq", corpus.resolve(), 8, 8, 16, 2, 0), ivfpqs),
        "token_stats": (layout_dir("token_stats", corpus.resolve(), 32), tss),
    }

    try:
        for i, residue in enumerate((1, 2), start=1):
            _one_part(
                docs.where(F.col("doc_id") % 3 == residue),
                incoming,
                f"drop-{i:03d}.parquet",
            )
            _one_part(
                emb.where(F.col("vec_id") % 3 == residue),
                incoming_emb,
                f"drop-{i:03d}.parquet",
            )
            q = run_streaming_document_ingest(
                spark,
                incoming,
                corpus,
                tmp_path / "ckpt",
                once=True,
                maintain_stores=ALL,
            )
            q.awaitTermination(180)
            qe = run_streaming_embedding_ingest(
                spark,
                incoming_emb,
                corpus,
                tmp_path / "ckpt_emb",
                once=True,
                maintain_ivfpq=True,
            )
            qe.awaitTermination(180)

            # every store appended a delta for this drop — never rebuilt
            for kind in ALL + ("ivf", "pq", "ivfpq"):
                layout, mod = layouts[kind]
                man = json.loads((layout / mod.MANIFEST_NAME).read_text())
                assert len(man["deltas"]) == i, (kind, man["deltas"])
                assert "pending_delta" not in man, kind

        grown = load_table(spark, corpus, "documents")

        # ---- simhash pairs served from the maintained store == recompute
        sim_store = hs.simhash_store_or_none(spark, corpus)
        assert sim_store is not None  # fresh immediately after the drain
        got = sorted(
            map(tuple, pairs_from_store(sim_store, max_hamming=3).collect())
        )
        want = sorted(
            map(
                tuple,
                dd.simhash_near_dup_pairs(
                    grown, bits=32, n_bands=4, max_hamming=3
                ).collect(),
            )
        )
        assert got == want and len(want) > 0
        # ---- span stats served from the maintained n=15 store == recompute
        span_store = ss.shingle_store_or_none(spark, corpus, n=15)
        assert span_store is not None
        got_spans = sorted(
            map(
                tuple,
                dd.duplicated_span_stats(
                    grown, span_words=15, exploded=span_store
                ).collect(),
            )
        )
        want_spans = sorted(
            map(tuple, dd.duplicated_span_stats(grown, span_words=15).collect())
        )
        assert got_spans == want_spans and len(want_spans) > 0

        # ---- token-stats (ninth store, r14): fresh after the drain, rows
        # equal the raw derivation, and BM25 served through it is
        # bit-identical to the full-corpus recompute
        ts_store = tss.token_stats_store_or_none(spark, corpus)
        assert ts_store is not None
        from satsure_agri_datapipeline_spark.operators import text as tx

        assert sorted(map(tuple, ts_store.collect())) == sorted(
            map(tuple, tss._stat_rows(grown).collect())
        )
        terms = ["dup", "spark", "vector"]
        want_bm = sorted(map(tuple, tx.bm25_topk(grown, terms, k=10).collect()))
        got_bm = sorted(
            map(tuple, tx.bm25_topk(grown, terms, k=10, stats=ts_store).collect())
        )
        assert got_bm == want_bm and len(got_bm) > 0

        # ---- incremental exact dedup vs the maintained digest store:
        # 3 replayed texts (must drop) + 3 genuinely new texts (must keep)
        dig_store = gs.digest_store_or_none(spark, corpus)
        assert dig_store is not None
        replay = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 1_000_000)
        fresh = (
            docs.limit(3)
            .withColumn("doc_id", F.col("doc_id") + 2_000_000)
            .withColumn("text", F.concat(F.col("text"), F.lit(" UNSEEN-TOKEN")))
        )
        batch = replay.unionByName(fresh)
        acc_stored, _ = dd.incremental_exact_dedup(batch, dig_store)
        hist_fresh = (
            grown.select(F.sha2(F.col("text"), 256).alias("digest")).distinct()
        )
        acc_fresh, _ = dd.incremental_exact_dedup(batch, hist_fresh)
        got_ids = sorted(r.doc_id for r in acc_stored.select("doc_id").collect())
        assert got_ids == sorted(
            r.doc_id for r in acc_fresh.select("doc_id").collect()
        )
        # the replayed texts were anti-joined away; the unseen ones kept
        assert all(i >= 2_000_000 for i in got_ids) and len(got_ids) == 3

        # ---- IVF store: delta'd ⇒ NOT served to the oracle-pinned raw
        # names, but its rows must equal the pinned-centroid contract —
        # re-assigning the grown corpus against the STORED centroids.
        assert ivs.ivf_store_or_none(spark, corpus) is None
        cent, asg = serve_store(spark, ivs.SPEC, layouts["ivf"][0], {})
        grown_emb = load_table(spark, corpus, "embeddings")
        want_asg = ivs._assign_with_dist(
            grown_emb.select("vec_id", "embedding"), cent, "embedding", "vec_id"
        )
        got_rows = sorted(
            (r.vec_id, tuple(r.embedding), r.dist, r.cluster_id)
            for r in asg.collect()
        )
        want_rows = sorted(
            (r.vec_id, tuple(r.embedding), r.dist, r.cluster_id)
            for r in want_asg.collect()
        )
        assert got_rows == want_rows and len(got_rows) == emb.count()

        # ---- PQ store (seventh): same pinned contract — delta'd ⇒ NOT
        # served to the raw names, rows equal encoding the grown corpus
        # against the STORED codebooks.
        from satsure_agri_datapipeline_spark.operators import similarity as sm

        assert pqs.pq_store_or_none(spark, corpus) is None
        cb, codes = serve_store(spark, pqs.SPEC, layouts["pq"][0], {})
        want_codes = sm.pq_encode(
            grown_emb.select("vec_id", "embedding"), cb, m=8
        )
        got_codes = sorted(
            (r.vec_id, tuple(r.codes)) for r in codes.collect()
        )
        want_codes_rows = sorted(
            (r.vec_id, tuple(r.codes)) for r in want_codes.collect()
        )
        assert got_codes == want_codes_rows and len(got_codes) == emb.count()

        # ---- CO-LOCATED IVFPQ store (eighth): pinned-quantizer contract —
        # delta'd ⇒ NOT served to the raw names; its lists equal encoding
        # AND assigning the grown corpus against its OWN stored quantizers.
        assert ivfpqs.ivfpq_store_or_none(spark, corpus) is None
        cent8, cb8, lists8 = serve_store(spark, ivfpqs.SPEC, layouts["ivfpq"][0], {})
        want8_codes = {
            r.vec_id: tuple(r.codes)
            for r in sm.pq_encode(
                grown_emb.select("vec_id", "embedding"), cb8, m=8
            ).collect()
        }
        want8_cells = {
            r.vec_id: r.cluster_id
            for r in sm.kmeans_assign(
                grown_emb.select("vec_id", "embedding"), cent8
            ).select("vec_id", "cluster_id").collect()
        }
        got8 = sorted(
            (r.vec_id, tuple(r.codes), r.cluster_id) for r in lists8.collect()
        )
        assert got8 == sorted(
            (v, want8_codes[v], want8_cells[v]) for v in want8_codes
        )
        assert len(got8) == emb.count()
    finally:
        docs.unpersist()
        emb.unpersist()
        for tbl, mod_args in (
            ("bkt_bands_h16b4n3", None),
            ("bkt_shingles_w3_s0", None),
            (hs._table_name(32, 4), None),
            (gs._table_name("true"), None),
            (tss.TABLE, None),
        ):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        for layout, _ in layouts.values():
            shutil.rmtree(layout, ignore_errors=True)


def test_streaming_embedding_ingest_compaction_refits(spark, tmp_path, monkeypatch):
    """r13 (verdict task 4): the streamed IVF store's delta-chain
    compaction IS the periodic refit — with the chain bound at 1, the
    second drop's ensure rebuilds from scratch, after which (a) the
    manifest's chain is empty, (b) the raw-name serving hook accepts the
    store again, and (c) stored ANN/SemDeDup answers equal the
    from-scratch recompute on the grown corpus."""
    import json
    import shutil

    from satsure_agri_datapipeline_spark.operators import similarity as sim
    from satsure_agri_datapipeline_spark.sources import ivf_store as ivs
    from satsure_agri_datapipeline_spark.sources.store_util import layout_dir
    from satsure_agri_datapipeline_spark.sources.tables import load_table
    from satsure_agri_datapipeline_spark.streaming.ingest import (
        run_streaming_embedding_ingest,
    )

    monkeypatch.setenv("SPARK_GRAFT_STORE_MAX_DELTAS", "1")
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(36).cache()
    corpus = tmp_path / "corpus"
    emb_dir = corpus / "embeddings.parquet"
    incoming = tmp_path / "incoming_emb"
    incoming.mkdir()
    emb_dir.mkdir(parents=True)

    def _one_part(df, dest, name):
        stage = tmp_path / f"stage_{name}"
        df.repartition(1).write.mode("overwrite").parquet(str(stage))
        part = next(stage.glob("part-*.parquet"))
        shutil.copy(part, dest / name)
        shutil.rmtree(stage, ignore_errors=True)

    layout = layout_dir("ivf", corpus.resolve(), 8, 2, 0)
    try:
        _one_part(emb.where(F.col("vec_id") % 3 == 0), emb_dir, "base-000.parquet")
        ivs.ensure_ivf_store(spark, corpus)

        # drop 1: appends (chain 0 -> 1); pinned semantics, raw hook off
        _one_part(emb.where(F.col("vec_id") % 3 == 1), incoming, "drop-001.parquet")
        q = run_streaming_embedding_ingest(
            spark, incoming, corpus, tmp_path / "ckpt", once=True
        )
        q.awaitTermination(180)
        man = json.loads((layout / ivs.MANIFEST_NAME).read_text())
        assert len(man["deltas"]) == 1
        assert ivs.ivf_store_or_none(spark, corpus) is None

        # drop 2: chain at the bound -> ensure REBUILDS (compaction refit)
        _one_part(emb.where(F.col("vec_id") % 3 == 2), incoming, "drop-002.parquet")
        q = run_streaming_embedding_ingest(
            spark, incoming, corpus, tmp_path / "ckpt", once=True
        )
        q.awaitTermination(180)
        man = json.loads((layout / ivs.MANIFEST_NAME).read_text())
        assert man["deltas"] == []

        # post-compaction: stored == from-scratch recompute on grown corpus
        store = ivs.ivf_store_or_none(spark, corpus)
        assert store is not None
        cent, asg = store
        grown = load_table(spark, corpus, "embeddings")
        got_ann = [
            tuple(r)
            for r in ivs.ann_topk_from_store(cent, asg, query_id=0, k=10, nprobe=2).collect()
        ]
        want_ann = [
            tuple(r)
            for r in sim.ivf_topk_kmeans(
                grown, query_id=0, k=10, n_clusters=8, nprobe=2, iterations=2
            ).collect()
        ]
        # (fewer than k=10 rows is fine on this 36-vector toy corpus: the
        # two probed cells simply hold fewer candidates)
        assert got_ann == want_ann and len(got_ann) > 0
        got_sd = sorted(
            map(tuple, ivs.semantic_dedup_from_store(asg).collect())
        )
        want_sd = sorted(map(tuple, sim.semantic_dedup(grown, k=8, iterations=2).collect()))
        assert got_sd == want_sd
    finally:
        emb.unpersist()
        shutil.rmtree(layout, ignore_errors=True)
