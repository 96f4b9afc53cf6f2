"""Structured Streaming variants of the pipeline (SURVEY.md §2.10).

The reference's "incremental mode" is batch file-checkpointing
(``src/components/ingestion.py:143-201``); the idiomatic Spark upgrade is the
file streaming source, whose own checkpoint directory provides exactly-once
file tracking — no hand-rolled JSON state.

These are optional upgrades gated behind their own entry points; the batch
pipeline remains the correctness-checked surface.
"""

from __future__ import annotations

from pathlib import Path
from types import ModuleType

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from satsure_agri_datapipeline_spark.config import PipelineConfig
from satsure_agri_datapipeline_spark.sources.parquet import (
    build_struct_type,
    discover_files,
)


def stream_sensor_readings(
    spark: SparkSession,
    config: PipelineConfig,
    max_files_per_trigger: int = 10,
) -> DataFrame:
    """Streaming file source over the raw dir (replaces S1+S2):
    one new-file micro-batch per trigger, schema declared (no inference).

    TIMESTAMP(NANOS) parquet (the pandas default) is handled like the batch
    reader (``sources/parquet.py``): probe the existing files' footers once at
    stream definition; ns columns are declared LongType (``nanosAsLong``) and
    converted via integer division (precision-exact to the microsecond).
    A streaming schema is fixed for the query's lifetime, so the timestamp
    unit must be homogeneous across current AND future files in the directory
    — mixed-unit directories need the batch reader, which groups per file."""
    ts_cols = [
        c
        for c in config.schema_.expected_columns
        if config.schema_.types[c].strip().upper().startswith("TIMESTAMP")
    ]
    ns_cols: set[str] = set()
    for f in discover_files(config.paths.data_raw):
        try:
            schema = pq.read_schema(str(f))
            for c in ts_cols:
                t = schema.field(c).type
                if pa.types.is_timestamp(t) and t.unit == "ns":
                    ns_cols.add(c)
        except Exception:  # unreadable footer — let the stream surface it
            continue

    types = dict(config.schema_.types)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        for c in ns_cols:
            types[c] = "BIGINT"
    struct = build_struct_type(
        {c: types[c] for c in config.schema_.expected_columns}
    )
    stream = (
        spark.readStream.schema(struct)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(str(config.paths.data_raw))
    )
    for c in ns_cols:
        stream = stream.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return stream.select(*config.schema_.expected_columns)


def hourly_counts_with_watermark(
    readings: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming gap-detection primitive: windowed counts per
    (sensor, reading_type, hour) with a watermark bounding state. Hours whose
    count is missing downstream are gaps — the streaming analog of the batch
    clock-grid anti-join (validation.py:218-330), with O(active windows)
    state instead of a full grid."""
    return (
        readings.withWatermark("timestamp", watermark)
        .groupBy(
            F.window("timestamp", "1 hour").alias("hour_window"),
            "sensor_id",
            "reading_type",
        )
        .agg(F.count(F.lit(1)).alias("n_readings"))
        .select(
            F.col("hour_window.start").alias("hour_start"),
            "sensor_id",
            "reading_type",
            "n_readings",
        )
    )


def session_bursts(
    readings: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Sensor-activity bursts via session windows (SURVEY.md §2.10): readings
    separated by less than ``gap`` merge into one session per (sensor,
    reading_type). Works identically on batch frames (omit the watermark by
    passing a batch DataFrame — Spark ignores withWatermark in batch mode).
    State per open session is one window — bounded by sensor cardinality,
    not event rate."""
    return (
        readings.withWatermark("timestamp", watermark)
        .groupBy(
            F.session_window("timestamp", gap).alias("session"),
            "sensor_id",
            "reading_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_readings"),
            F.min("timestamp").alias("first_reading"),
            F.max("timestamp").alias("last_reading"),
        )
        .select(
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "sensor_id",
            "reading_type",
            "n_readings",
            "first_reading",
            "last_reading",
        )
    )


def dedup_stream(
    readings: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps each key's state only until the
    watermark passes it — the streaming analog of the batch P1
    ``dropDuplicates`` with O(keys-in-watermark-window) state instead of
    O(all-keys-ever). Duplicates arriving later than the watermark slip
    through by design (document the bound, don't pretend exactly-once)."""
    keys = keys or ["sensor_id", "timestamp", "reading_type"]
    return readings.withWatermark("timestamp", watermark).dropDuplicatesWithinWatermark(
        keys
    )


def gap_alerts_stateful(
    readings: DataFrame, gap_hours: float = 2.0
) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``): per
    (sensor_id, reading_type), remember the last-seen timestamp across
    micro-batches and emit an alert row whenever a new reading arrives more
    than ``gap_hours`` after it — the push-based streaming complement of the
    batch clock-grid gap detector (operators/validation.py), with
    O(sensor×type) state and per-batch work linear in arriving rows.

    Alerts span micro-batch AND restart boundaries: the previous timestamp
    lives in the state store, checkpointed with the query. Within a batch,
    rows are processed in timestamp order."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "sensor_id string, reading_type string, prev_reading timestamp, "
        "next_reading timestamp, gap_hours double"
    )
    gap_us = int(gap_hours * 3_600_000_000)

    def monitor(key, pdfs, state):
        import pandas as pd  # noqa: PLC0415 — runs on executors

        last_us = state.get[0] if state.exists else None
        ts = pd.concat([pdf["timestamp"] for pdf in pdfs]).sort_values()
        rows = []
        for t in ts:
            t_us = t.value // 1000  # pandas ns → µs
            if last_us is not None and t_us - last_us > gap_us:
                rows.append(
                    (
                        key[0],
                        key[1],
                        pd.Timestamp(last_us * 1000),
                        pd.Timestamp(t_us * 1000),
                        round((t_us - last_us) / 3_600_000_000, 4),
                    )
                )
            last_us = t_us
        if last_us is not None:
            state.update((int(last_us),))
        yield pd.DataFrame(
            rows,
            columns=[
                "sensor_id",
                "reading_type",
                "prev_reading",
                "next_reading",
                "gap_hours",
            ],
        )

    return readings.groupBy("sensor_id", "reading_type").applyInPandasWithState(
        monitor,
        out_schema,
        "last_us long",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def run_streaming_pipeline(
    spark: SparkSession,
    config: PipelineConfig,
    checkpoint_dir: str | Path,
    once: bool = True,
):
    """Incremental ETL as a real stream: file source → the SAME batch
    transform chain (dedup → clean → impute → calibrate → tz → derive →
    flag) applied per micro-batch via ``foreachBatch`` → Hive-partitioned
    sink. Spark's checkpoint provides exactly-once file tracking — the
    streaming upgrade of the reference's JSON file-checkpoint incremental
    mode (``ingestion.py:143-201``).

    Semantics note (documented, not hidden): window-derived columns
    (rolling/daily averages, z-scores) are computed over each micro-batch's
    rows only — matching the reference's incremental mode, which also
    transforms each new-file batch in isolation. Run the batch pipeline for
    whole-history windows."""
    from satsure_agri_datapipeline_spark.operators.loading import write_partitioned
    from satsure_agri_datapipeline_spark.operators.transformation import transform

    readings = stream_sensor_readings(spark, config)

    def _process(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = transform(batch_df, config)
        write_partitioned(
            out.withColumn("date", F.to_date("timestamp")),
            config.paths.data_processed,
            partition_by=config.write.partition_by,
            compression=config.write.compression,
            mode="append",  # micro-batches accumulate; overwrite would race
        )

    writer = readings.writeStream.foreachBatch(_process).option(
        "checkpointLocation", str(checkpoint_dir)
    )
    if once:
        return writer.trigger(availableNow=True).start()
    return writer.start()


def run_streaming_ingest(
    spark: SparkSession,
    config: PipelineConfig,
    output_dir: str | Path,
    checkpoint_dir: str | Path,
    once: bool = True,
    max_files_per_trigger: int = 10,
):
    """End-to-end streaming ingest: file source → hourly counts → parquet
    sink with exactly-once checkpointing. ``once=True`` processes all
    available files then stops (micro-batch catch-up mode)."""
    readings = stream_sensor_readings(spark, config, max_files_per_trigger)
    counts = hourly_counts_with_watermark(readings)
    writer = (
        counts.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(output_dir))
        .option("checkpointLocation", str(checkpoint_dir))
    )
    if once:
        query = writer.trigger(availableNow=True).start()
    else:
        query = writer.start()
    return query


def enrich_stream(
    stream: DataFrame, dim: DataFrame, on: list[str], how: str = "left"
) -> DataFrame:
    """Stream-static join: every micro-batch joins against the static
    dimension (stateless — no watermark or state store needed; Spark
    re-plans the static side per batch, picking up broadcast). This is the
    streaming analog of the batch dimension-enrichment joins: keep the
    static side dimension-sized so each micro-batch pays a broadcast, not a
    shuffle. Supported for inner/left with a streaming left side."""
    return stream.join(F.broadcast(dim), on, how)


def run_streaming_upsert(
    spark: SparkSession,
    config: PipelineConfig,
    state_dir: str | Path,
    checkpoint_dir: str | Path,
    keys: list[str] | None = None,
    version_col: str = "timestamp",
    once: bool = True,
    max_files_per_trigger: int = 10,
):
    """Maintain a latest-state table from the stream: each micro-batch is
    compacted to its newest row per key (``compact_changes``) and folded into
    the standing state newest-wins — the streaming materialization of a
    "current value per (sensor, type)" dimension table.

    Newest-wins (union + compact on ``version_col``) rather than
    batch-blindly-wins makes the fold order-insensitive and idempotent:
    replayed epochs and out-of-order file discovery converge to the same
    state. A CDC stream carrying authoritative deletes would use
    ``maintenance.merge_upsert`` with its ``deleted_col`` instead. The state
    table is bounded by key cardinality (not stream length), so the
    per-batch rewrite is a deliberate sandbox substitute for a transactional
    MERGE sink (Delta/Iceberg ``MERGE INTO``) — the operator composition is
    what carries over.

    Crash safety: each batch writes the NEW state to a temp sibling
    directory and then swaps it into place with two renames (current →
    ``__old``, temp → current) — the standing state is never deleted before
    its replacement is fully durable, so a crash at any point leaves either
    the old state at the path or a complete copy at ``__old`` (which
    ``_load_state`` falls back to on recovery). Renames are atomic on
    local/HDFS filesystems; an object-store deployment swaps this sink for a
    transactional MERGE.
    """
    from satsure_agri_datapipeline_spark.operators.maintenance import compact_changes

    keys = keys or ["sensor_id", "reading_type"]
    state_path = str(state_dir)
    readings = stream_sensor_readings(spark, config, max_files_per_trigger)

    def _apply(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        latest = compact_changes(batch_df, keys, version_col)
        base = _load_state(spark, state_path)
        if base is not None:
            latest = compact_changes(base.unionByName(latest), keys, version_col)
        # write the new version BESIDE the live state (the lazy read of the
        # current state drains while it is still untouched), then swap
        tmp_path = f"{state_path}__new"
        latest.write.mode("overwrite").parquet(tmp_path)
        _swap_state(state_path, tmp_path)

    writer = readings.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", str(checkpoint_dir)
    )
    if once:
        return writer.trigger(availableNow=True).start()
    return writer.start()


def _load_state(spark: SparkSession, state_path: str):
    """Read the standing upsert state, falling back to the ``__old`` copy a
    crashed swap may have left behind (see ``run_streaming_upsert``). Returns
    None when no state exists yet."""
    import os

    path = state_path if os.path.exists(state_path) else f"{state_path}__old"
    if not os.path.exists(path):
        return None
    try:
        df = spark.read.parquet(path)
        df.schema
        return df
    except Exception:
        return None


def _swap_state(state_path: str, tmp_path: str) -> None:
    """Atomically-enough promote ``tmp_path`` to ``state_path``: rename the
    live state aside, rename the new version in, then drop the old copy. A
    crash between the renames leaves the full old state at ``__old`` where
    ``_load_state`` recovers it — at no point is the only copy deleted."""
    import os
    import shutil

    old_path = f"{state_path}__old"
    if os.path.exists(old_path):
        shutil.rmtree(old_path)
    if os.path.exists(state_path):
        os.rename(state_path, old_path)
    os.rename(tmp_path, state_path)
    if os.path.exists(old_path):
        shutil.rmtree(old_path)


def correlate_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    within_seconds: int,
    watermark_seconds: int = 3600,
    how: str = "inner",
):
    """Stream-stream join: pair each left event with right events for
    the same key occurring within ``within_seconds`` AFTER it (cause →
    effect correlation, e.g. reading followed by an alert ack). Both sides
    carry watermarks and the join condition bounds the time skew, so Spark
    can expire buffered state — the two conditions together are what make a
    stream-stream join's state finite; without them state grows forever.
    State per key is O(events inside the watermark window), independent of
    stream length. ``how="left_outer"`` additionally emits null-padded left
    rows when the watermark passes their eviction bound (null emission is
    watermark-driven: an unmatched row waits until late matches are
    impossible)."""
    lw = left.withWatermark(left_time, f"{watermark_seconds} seconds")
    rw = right.withWatermark(right_time, f"{watermark_seconds} seconds")
    cond = (
        (lw[key] == rw[key])
        & (rw[right_time] >= lw[left_time])
        & (rw[right_time] <= lw[left_time] + F.expr(f"interval {within_seconds} seconds"))
    )
    return lw.join(rw, cond, how).drop(rw[key])


def use_rocksdb_state(
    spark: SparkSession,
    enabled: bool = True,
    changelog: bool = True,
    block_cache_mb: int | None = None,
    compact_on_commit: bool = False,
) -> None:
    """Switch Structured Streaming's state store to RocksDB (native,
    bundled with Spark 4) for queries started AFTER this call.

    The default HDFSBackedStateStoreProvider keeps every key's state in
    executor JVM heap — fine for the sandbox scenarios here, a
    memory-pressure killer when keyed state reaches 100 TB-pipeline sizes
    (hundreds of millions of sensors/sessions). RocksDB spills state to
    local SSD with bounded block-cache memory, and changelog checkpointing
    uploads only per-batch deltas instead of full snapshots — the
    production configuration for large stateful topologies.

    Per-query state formats are incompatible: never flip this on an
    EXISTING checkpoint; start a fresh checkpoint directory when switching.

    Tuning knobs (r8 — measured in BENCH_r08_streaming.json's matrix):
    ``changelog`` uploads per-batch deltas instead of full snapshots at
    checkpoint (default on — the production choice for large state);
    ``block_cache_mb`` sizes RocksDB's shared read cache;
    ``compact_on_commit`` forces a range compaction on every commit
    (write-amplification trade — usually off).
    """
    if enabled:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing"
            ".enabled",
            "true" if changelog else "false",
        )
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb.compactOnCommit",
            "true" if compact_on_commit else "false",
        )
        if block_cache_mb is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.rocksdb.blockCacheSizeMB",
                str(block_cache_mb),
            )
    else:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def has_protobuf() -> bool:
    """True when ``google.protobuf`` is importable (find_spec raises rather
    than returning None when the whole ``google`` namespace is absent)."""
    import importlib.util

    try:
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        return False


class _RunningStatsProcessor:
    """StatefulProcessor for ``run_streaming_running_stats`` — kept at module
    scope so it pickles cleanly to executors."""

    def init(self, handle) -> None:
        self._stats = handle.getValueState(
            "stats", "n LONG, s DOUBLE, mn DOUBLE, mx DOUBLE"
        )

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd  # executor-side

        if self._stats.exists():
            n, s, mn, mx = self._stats.get()
        else:
            n, s, mn, mx = 0, 0.0, None, None
        for pdf in rows:
            vals = pdf["value"].dropna()
            if len(vals):
                n += int(len(vals))
                s += float(vals.sum())
                lo, hi = float(vals.min()), float(vals.max())
                mn = lo if mn is None else min(mn, lo)
                mx = hi if mx is None else max(mx, hi)
        self._stats.update((n, s, mn, mx))
        yield pd.DataFrame(
            {
                "sensor_id": [key[0]],
                "reading_type": [key[1]],
                "n_readings": [n],
                "mean_value": [s / n if n else None],
                "min_value": [mn],
                "max_value": [mx],
            }
        )

    def close(self) -> None:
        pass


RUNNING_STATS_SCHEMA = (
    "sensor_id STRING, reading_type STRING, n_readings LONG, "
    "mean_value DOUBLE, min_value DOUBLE, max_value DOUBLE"
)


def run_streaming_running_stats(
    spark: SparkSession,
    config: PipelineConfig,
    output_dir: str | Path,
    checkpoint_dir: str | Path,
    once: bool = True,
):
    """Lifetime running statistics per (sensor, reading_type) via Spark 4's
    ``transformWithStateInPandas`` — the modern arbitrary-state API that
    supersedes ``applyInPandasWithState`` (used by ``gap_alerts_stateful``):
    typed state handles (value/list/map), timers, TTL, and a state
    lifecycle the engine can evolve independently of the function.

    ENVIRONMENT GATE: TWS's control channel between the JVM and the Python
    driver worker speaks protobuf; when ``google.protobuf`` is not
    importable (this sandbox) the query would crash inside Spark's driver
    worker, so this helper raises ``NotImplementedError`` up front with the
    real reason. The processor, schema, and test are real — the test
    skip-marks itself exactly like the Pillow-gated multimodal decode.

    State is ONE fixed-width tuple per key (count, sum, min, max) — O(keys)
    regardless of stream length, the mergeable-aggregate shape. Each
    micro-batch emits the updated stats row per key touched in that batch
    (Update mode). Requires the RocksDB state store (TWS is implemented
    against it); this helper switches the session over via
    :func:`use_rocksdb_state` before starting.
    """
    if not has_protobuf():
        raise NotImplementedError(
            "transformWithStateInPandas requires the protobuf package "
            "(pyspark's TWS driver-worker protocol); install protobuf"
        )
    use_rocksdb_state(spark)
    readings = stream_sensor_readings(spark, config)
    stats = readings.groupBy("sensor_id", "reading_type").transformWithStateInPandas(
        _RunningStatsProcessor(),
        outputStructType=RUNNING_STATS_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    out = str(output_dir)

    def _append(batch_df, epoch_id: int) -> None:
        # file sinks are append-only; each batch appends its snapshot rows
        # (epoch-stamped so readers can select the latest per key)
        batch_df.withColumn("epoch_id", F.lit(epoch_id)).write.mode(
            "append"
        ).parquet(out)

    writer = stats.writeStream.outputMode("update").foreachBatch(_append).option(
        "checkpointLocation", str(checkpoint_dir)
    )
    if once:
        return writer.trigger(availableNow=True).start()
    return writer.start()


def _document_stores(
    names: tuple[str, ...], simhash_bits: int, simhash_n_bands: int
) -> list[tuple[ModuleType, dict]]:
    """(store module, ``ensure_*`` keywords) for each requested name, in
    registry order. A name is the layout kind of a registered store over
    the documents table (``store_util.STORE_MODULES``), ensured with its
    defaults, or ``"spans"``: the n=15 shingle store. ``simhash_bits=60``
    maintains the SCALE operating point store (15-bit band keys — the r10
    rule: keys must grow with corpus)."""
    from satsure_agri_datapipeline_spark.sources.store_util import store_modules

    known = {m.SPEC.kind: (m, {}) for m in store_modules() if m.SPEC.source == "documents"}
    known["spans"] = (known["shingles"][0], {"n": 15})
    known["simhash"] = (
        known["simhash"][0], {"bits": simhash_bits, "n_bands": simhash_n_bands}
    )
    unknown = sorted(set(names) - set(known))
    if unknown:
        raise ValueError(
            f"unknown maintain_stores {unknown}; known: {sorted(known)}"
        )
    return [store for name, store in known.items() if name in names]


def run_streaming_document_ingest(
    spark: SparkSession,
    incoming_dir: str | Path,
    corpus_dir: str | Path,
    checkpoint_dir: str | Path,
    once: bool = True,
    max_files_per_trigger: int = 10,
    maintain_stores: tuple[str, ...] = ("bands", "shingles"),
    simhash_bits: int = 32,
    simhash_n_bands: int = 4,
):
    """Continuous document ingest COMPOSED with standing-store maintenance
    (r9 verdict task 5): the two r9/r10 stories — streaming micro-batches
    and fingerprint-driven append-delta stores — wired together.

    A file-source stream watches ``incoming_dir`` for new document parquet
    drops; each micro-batch (a) lands its rows as NEW part files in the
    corpus directory (``corpus_dir/documents.parquet/`` — exactly the
    "data drop into a directory source" shape the store fingerprints
    classify as an append), then (b) drives the requested stores' ensure
    paths, which apply an append delta ∝ the batch under the writer lock.
    After every committed micro-batch the standing band/shingle/simhash/
    digest stores are FRESH: the raw near-dup query names keep serving
    them, and ``incremental_minhash_dedup`` probes a store that already
    contains everything ingested — no stale-store window between a drop
    and the next manual ensure.

    At 100 TB this is the production shape of a continuously-crawling
    corpus: per-batch cost is (batch transform) + (batch signature pass) +
    (per-bucket appends); nothing rescans the corpus. Spark's streaming
    checkpoint provides exactly-once file tracking on the INCOMING side;
    the stores' own manifest/lock/pending-marker discipline guarantees the
    delta either commits once or forces a rebuild (never double-applies —
    see sources/store_util.claim_append).

    COST EXCEPTION — bucket-count threshold crossings (ADVICE r12): store
    bucket counts are scale-aware (``store_util.default_n_buckets``: 64
    buckets at ≥64 MiB of source, 128 at ≥256 MiB), and the resolved count
    is part of the layout key. The micro-batch whose append pushes the
    corpus across a threshold therefore pays ONE O(corpus) rebuild instead
    of the O(batch) delta — the old-count layout stops classifying as
    fresh, ensure rebuilds at the new count, and the superseded layout
    generation is discarded (``store_util.discard_stale_siblings``). This
    happens at most twice over a corpus's lifetime per store; pin
    ``SPARK_GRAFT_STORE_N_BUCKETS`` to the target-scale count up front to
    avoid it entirely.

    ``maintain_stores`` ⊆ {"bands", "shingles", "spans", "simhash",
    "digests", "token_stats"} ("spans" = the n=15 shingle store serving
    doc_dup_spans / doc_span_dedup — same machinery, span-width shingles;
    "token_stats" = the (doc_id, dl) relation serving BM25's N/avgdl leg,
    r14); any other name raises ``ValueError`` before the stream starts.
    Returns the streaming query; ``once=True`` drains available files then
    stops (micro-batch catch-up mode).

    Reference shape: the reference's incremental mode re-checkpoints raw
    sensor files per run (src/components/ingestion.py:143-201) and has no
    near-dup store concept; this is the Spark-native composition.
    """
    stores = _document_stores(maintain_stores, simhash_bits, simhash_n_bands)
    incoming = Path(incoming_dir).resolve()
    corpus = Path(corpus_dir).resolve()
    docs_dir = corpus / "documents.parquet"
    docs_dir.mkdir(parents=True, exist_ok=True)

    # Streaming schemas are declared, never inferred: probe one existing
    # file's footer (incoming drops must share the documents schema).
    sample = next(iter(sorted(incoming.glob("*.parquet"))), None)
    if sample is None:
        raise FileNotFoundError(f"no parquet drops to stream in {incoming}")
    struct = spark.read.parquet(str(sample)).schema

    stream = (
        spark.readStream.schema(struct)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(str(incoming))
    )

    def _process(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # (a) land the batch as new part files — an append-classified drop.
        # mode=append never touches standing part files, so the stores'
        # fingerprint diff is exactly {new files}.
        batch_df.write.mode("append").parquet(str(docs_dir))
        # (b) store maintenance: each ensure classifies the drop as an
        # append and applies a delta ∝ this batch (writer-locked). The
        # entry point is looked up on the module at call time.
        for mod, params in stores:
            getattr(mod, f"ensure_{mod.__name__.rsplit('.', 1)[1]}")(
                spark, corpus, **params
            )

    writer = stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", str(checkpoint_dir)
    )
    if once:
        return writer.trigger(availableNow=True).start()
    return writer.start()


def run_streaming_embedding_ingest(
    spark: SparkSession,
    incoming_dir: str | Path,
    corpus_dir: str | Path,
    checkpoint_dir: str | Path,
    once: bool = True,
    max_files_per_trigger: int = 10,
    k: int = 8,
    iterations: int = 2,
    seed: int = 0,
    maintain_pq: bool = True,
    pq_m: int = 8,
    pq_k: int = 16,
    maintain_ivfpq: bool = False,
):
    """Continuous EMBEDDING ingest composed with standing IVF-index
    maintenance (r13, verdict task 4): the document-family composition
    above, applied to the similarity family's store. A file-source stream
    watches ``incoming_dir`` for new embedding parquet drops; each
    micro-batch (a) lands its rows as NEW part files in
    ``corpus_dir/embeddings.parquet`` (the append-classified drop shape),
    then (b) drives ``sources/ivf_store.ensure_ivf_store``, which assigns
    ONLY the batch's vectors against the PINNED standing centroids and
    appends them into the cluster_id-partitioned layout under the writer
    lock — cost ∝ the batch, exactly the FAISS-style add() contract.

    Delta semantics are the IVF store's, not the dedup stores' (see the
    ivf_store module docstring): after any delta the store serves
    pinned-centroid assignments, which the ``_stored`` names and
    incremental pipelines consume, while the oracle-pinned RAW names fall
    back to recompute until delta-chain compaction (every
    ``store_util.max_deltas`` drops, or any source mutation) performs the
    periodic REFIT — after which stored == from-scratch recompute again.
    The same bucket-count cost exception as the document ingest does not
    arise here (the IVF layout is partitioned by cluster_id, keyed by k,
    not by a scale-dependent bucket count); the compaction refit is the
    one O(corpus) batch.

    ``maintain_pq`` (r13) extends the composition to the SEVENTH store:
    each micro-batch also delta-encodes its vectors against the PINNED
    standing PQ codebooks (``sources/pq_store.ensure_pq_store``) — the
    same pinned-parameters delta contract as the IVF leg, so both ANN
    stores ride one landing. ``maintain_ivfpq`` (r13c, off by default)
    adds the EIGHTH: the co-located inverted-lists-of-codes layout
    (``sources/ivfpq_store``) delta-assigns AND delta-encodes the batch
    against its own pinned quantizers, appending into the cluster_id
    partitions. Off by default because it duplicates the IVF+PQ work per
    batch; a deployment serving `emb_ann_ivfpq_colocated` hot turns it on
    and can turn the separate legs off.

    Returns the streaming query; ``once=True`` drains available files then
    stops (micro-batch catch-up mode)."""
    incoming = Path(incoming_dir).resolve()
    corpus = Path(corpus_dir).resolve()
    emb_dir = corpus / "embeddings.parquet"
    emb_dir.mkdir(parents=True, exist_ok=True)

    sample = next(iter(sorted(incoming.glob("*.parquet"))), None)
    if sample is None:
        raise FileNotFoundError(f"no parquet drops to stream in {incoming}")
    struct = spark.read.parquet(str(sample)).schema

    stream = (
        spark.readStream.schema(struct)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(str(incoming))
    )

    def _process(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df.write.mode("append").parquet(str(emb_dir))
        from satsure_agri_datapipeline_spark.sources.ivf_store import (
            ensure_ivf_store,
        )

        ensure_ivf_store(spark, corpus, k=k, iterations=iterations, seed=seed)
        if maintain_pq:
            from satsure_agri_datapipeline_spark.sources.pq_store import (
                ensure_pq_store,
            )

            ensure_pq_store(
                spark, corpus, m=pq_m, k=pq_k, iterations=iterations, seed=seed
            )
        if maintain_ivfpq:
            from satsure_agri_datapipeline_spark.sources.ivfpq_store import (
                ensure_ivfpq_store,
            )

            ensure_ivfpq_store(
                spark,
                corpus,
                n_clusters=k,
                m=pq_m,
                k=pq_k,
                iterations=iterations,
                seed=seed,
            )

    writer = stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", str(checkpoint_dir)
    )
    if once:
        return writer.trigger(availableNow=True).start()
    return writer.start()
