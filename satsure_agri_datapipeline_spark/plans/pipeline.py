"""End-to-end pipeline plan (reference EP1, ``src/main.py:61-130``).

Ingest → transform → validate → load as ONE lazy lineage. Unlike the
reference's four materialized stages, Spark sees the whole read→clean→
calibrate→derive→flag chain as a single plan. The Spark jobs a run launches
are (1) the ``stage_counters`` aggregation over the raw batch (skipped with
``collect_stage_counters=False``), (2) the validation's three fused
aggregates, each collecting only aggregate rows (6 jobs on a 100-sensor
daily batch; two more for each of the gap and sensor totals once their rows
outnumber ``report_top_n``) — and (3) the partitioned write, spread over
``spark.sql.shuffle.partitions`` tasks.

The validation aggregations and the final write share the transformed
lineage; ``df.persist()`` is applied before validation so the transform isn't
recomputed for each metric query, and unpersisted after the write. At cluster
scale this is a deliberate cache of the post-transform frame (columnar,
MEMORY_AND_DISK) — drop ``persist_intermediate=False`` to trade recompute for
memory.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import SparkSession
from pyspark.storagelevel import StorageLevel

from satsure_agri_datapipeline_spark.config import PipelineConfig
from satsure_agri_datapipeline_spark.exceptions import (
    IngestionError,
    LoadingError,
    TransformationError,
    ValidationError,
)
from satsure_agri_datapipeline_spark.operators.loading import (
    prepare_for_storage,
    storage_stats,
    write_partitioned,
    write_validation_metadata,
)
from satsure_agri_datapipeline_spark.operators.report import write_quality_report
from satsure_agri_datapipeline_spark.operators.transformation import (
    stage_counters,
    transform,
)
from satsure_agri_datapipeline_spark.operators.validation import ValidationResult, validate
from satsure_agri_datapipeline_spark.sources.checkpoint import FileCheckpoint
from satsure_agri_datapipeline_spark.sources.parquet import (
    SchemaGateResult,
    discover_files,
    read_sensor_parquet,
)

logger = logging.getLogger(__name__)


@dataclass
class PipelineResult:
    success: bool
    records_processed: int
    validation: ValidationResult | None = None
    gate: SchemaGateResult | None = None
    storage: dict[str, Any] = field(default_factory=dict)
    stages_completed: list[str] = field(default_factory=list)
    stage_counters: dict[str, int] = field(default_factory=dict)


def run_pipeline(
    spark: SparkSession,
    config: PipelineConfig,
    persist_intermediate: bool = True,
    collect_stage_counters: bool = True,
) -> PipelineResult:
    result = PipelineResult(success=False, records_processed=0)

    # --- Ingest (S1-S6 + S2 checkpoint) -----------------------------------
    try:
        files = discover_files(config.paths.data_raw)
        ckpt = None
        if config.ingestion.incremental_mode:
            ckpt = FileCheckpoint(config.ingestion.checkpoint_file)
            files = ckpt.filter_new(files)
        df, gate = read_sensor_parquet(
            spark,
            config.paths.data_raw,
            config.schema_.expected_columns,
            config.schema_.types,
            files=files,
        )
    except Exception as e:
        raise IngestionError(f"Data ingestion failed: {e}") from e
    result.gate = gate
    result.stages_completed.append("ingestion")
    if df is None:
        if ckpt is not None and files:
            # all-rejected batch: the reference quirk (rejected files are
            # checkpointed too, ``ingestion.py:97-99``) still applies
            ckpt.update(attempted=files)
        logger.warning("no new files passed the schema gate; nothing to do")
        result.success = True
        return result

    if collect_stage_counters:
        # A13 — one extra shuffle job over the raw batch; disable at extreme
        # scale where a second pass over the input isn't worth the counters
        result.stage_counters = stage_counters(df)

    # --- Transform (one lazy lineage) --------------------------------------
    try:
        transformed = transform(df, config)
    except Exception as e:
        raise TransformationError(f"Data transformation failed: {e}") from e
    if persist_intermediate:
        transformed = transformed.persist(StorageLevel.MEMORY_AND_DISK)
    result.stages_completed.append("transformation")

    try:
        # --- Validate (small aggregate collections only) --------------------
        try:
            vres = validate(transformed, config)
            result.validation = vres
            result.records_processed = vres.total_records
            if collect_stage_counters:
                # outliers from the validation stage's existing anomaly pass
                result.stage_counters["outliers_detected"] = sum(
                    m["anomalous_count"]
                    for m in vres.quality_metrics.get("anomalies_by_type", {}).values()
                )
            write_quality_report(vres.quality_metrics, vres.issues_found, config)
        except Exception as e:
            raise ValidationError(f"Data validation failed: {e}") from e
        result.stages_completed.append("validation")

        # --- Load (stored even if validation failed — reference behavior) ---
        try:
            stored = prepare_for_storage(transformed, vres)
            write_partitioned(
                stored,
                config.paths.data_processed,
                partition_by=config.write.partition_by,
                compression=config.write.compression,
                mode=config.write.mode,
            )
            stats = storage_stats(config.paths.data_processed)
            write_validation_metadata(config.paths.data_processed, vres, stats)
        except Exception as e:
            raise LoadingError(f"Data loading failed: {e}") from e
        result.storage = stats
        result.stages_completed.append("loading")
        if ckpt is not None:
            # Checkpoint AFTER the write succeeds: a mid-pipeline failure
            # (e.g. corrupt data pages behind a valid footer) leaves the batch
            # un-checkpointed and re-processable. The reference materializes
            # file contents before checkpointing (``ingestion.py:91-99``); its
            # rejected-files quirk is preserved via ``attempted=files``.
            ckpt.update(attempted=files)
        result.success = True
    finally:
        if persist_intermediate:
            transformed.unpersist()
    return result
