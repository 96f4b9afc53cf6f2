"""Loading / storage operators (SURVEY.md §2.1 S8-S12).

Reference: ``src/components/loading.py`` — Hive-partitioned ZSTD parquet with
metadata sidecar, type narrowing, storage stats, filtered read-back.

Spark-first differences (each an explicit improvement, SURVEY §4.1):
- dynamic partition overwrite (``partitionOverwriteMode=dynamic``) ≙ the
  reference's ``delete_matching`` existing-data behavior;
- the frame is hash-partitioned by the partition columns before the write so
  each Hive partition gets one file (the reference wrote 24 files for 72
  records, ``README.md:321-327``);
- read-back lists only the partition directories its filters name (the
  reference reads all then filters in pandas, admitted at
  ``loading.py:350-352``): the writer records its partition columns and the
  stored schema in a ``_storage_layout.json`` sidecar, and
  ``query_stored_data`` turns the filters into a ``date=…/sensor_id=…``
  path under ``basePath`` read with that schema.
"""

from __future__ import annotations

import json
import os
from datetime import date, datetime
from pathlib import Path
from typing import Any

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, DateType, StringType, StructField, StructType

from satsure_agri_datapipeline_spark.operators.validation import (
    ValidationResult,
    quality_score,
)

PIPELINE_VERSION = "1.0.0"

# Sidecar naming the partition columns and the stored schema. The leading
# ``_`` keeps Spark's file index and pyarrow datasets from reading it as data.
LAYOUT_FILE = "_storage_layout.json"

# Characters Spark percent-escapes in partition directory names
# (``ExternalCatalogUtils.escapePathName`` on non-Windows hosts).
_SPARK_PATH_ESCAPES = frozenset('"#%\'*/:=?\\\x7f{[]^') | {chr(c) for c in range(1, 0x20)}
_GLOB_SPECIALS = frozenset("\\{}[]*?")


def prepare_for_storage(
    df: DataFrame,
    validation: ValidationResult,
    narrow_types: bool = True,
    stamp: str | None = None,
) -> DataFrame:
    """F12 + type narrowing (``loading.py:113-175``): add storage metadata
    columns; optionally narrow floats→float32 and counters→int32.

    Data is stored even when validation failed — flagged via
    ``data_quality_passed`` (reference behavior, ``loading.py:74-76``).

    ``validation_timestamp`` defaults to wall-clock now (reference parity,
    ``loading.py:121``) — pass ``stamp`` for deterministic output (tests,
    byte-reproducible re-runs, diffable backfills).
    """
    score = quality_score(validation.quality_metrics)
    out = (
        df.withColumn("data_quality_passed", F.lit(bool(validation.passed)))
        .withColumn(
            "validation_timestamp", F.lit(stamp or datetime.now().isoformat())
        )
        .withColumn("pipeline_version", F.lit(PIPELINE_VERSION))
        .withColumn("quality_score", F.lit(float(score)))
        .withColumn("total_issues", F.lit(len(validation.issues_found)))
    )
    if "date" not in out.columns:
        out = out.withColumn("date", F.to_date("timestamp"))
    if narrow_types:
        for c, t in out.dtypes:
            if t == "double" and c not in ("quality_score",):
                out = out.withColumn(c, F.col(c).cast("float"))
        out = out.withColumn("total_issues", F.col("total_issues").cast("int"))
    return out


def write_partitioned(
    df: DataFrame,
    output_dir: str | Path,
    partition_by: list[str] | None = None,
    compression: str = "zstd",
    mode: str = "overwrite",
) -> None:
    """S8 — Hive-partitioned parquet sink (``loading.py:177-236``).

    The rows are hash-partitioned on the partition columns into
    ``spark.sql.shuffle.partitions`` tasks, so each partition directory
    gets exactly one file — all its rows hash to one task — however many
    tasks write. The explicit count keeps AQE from coalescing a small
    batch into a single task that writes every directory in turn.

    Keeps the ``_storage_layout.json`` sidecar that ``query_stored_data``
    prunes by. It is (re)written when this write leaves only its own data
    (new directory, or a static full overwrite) or matches the recorded
    layout; a directory whose files may have another layout (data from a
    writer that kept no sidecar, or a different schema or partitioning)
    loses it, so reads of it fall back to the full listing.
    """
    partition_by = partition_by or ["date", "sensor_id"]
    base = Path(output_dir)
    layout = _storage_layout(df.schema, partition_by)
    prior = read_storage_layout(base)
    replaces_all = mode == "overwrite" and (
        df.sparkSession.conf.get("spark.sql.sources.partitionOverwriteMode").lower()
        == "static"
    )
    fresh = replaces_all or not (
        base.is_dir() and any(not p.name.startswith(("_", ".")) for p in base.iterdir())
    )
    (
        df.repartition(
            int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")),
            *[F.col(c) for c in partition_by],
        )
        .write.partitionBy(*partition_by)
        .option("compression", compression)
        .mode(mode)
        .parquet(str(output_dir))
    )
    if not base.is_dir():
        return  # not on the local file system: no sidecar, reads list the tree
    if fresh or prior == layout:
        tmp = base / f"{LAYOUT_FILE}.tmp"
        tmp.write_text(json.dumps(layout))
        os.replace(tmp, base / LAYOUT_FILE)
    else:
        (base / LAYOUT_FILE).unlink(missing_ok=True)


def _storage_layout(schema: StructType, partition_by: list[str]) -> dict[str, Any]:
    """The sidecar payload: the partition columns and the schema a read of
    the directory has (data columns, then partition columns; all nullable)."""
    fields = [f for f in schema.fields if f.name not in partition_by]
    fields += [schema[c] for c in partition_by]
    read_schema = StructType(
        [StructField(f.name, f.dataType, True, f.metadata) for f in fields]
    )
    return {"partition_by": list(partition_by), "schema": read_schema.jsonValue()}


def read_storage_layout(output_dir: str | Path) -> dict[str, Any] | None:
    """The layout ``write_partitioned`` recorded for ``output_dir``, or
    None when there is none (or it cannot be read)."""
    try:
        return json.loads((Path(output_dir) / LAYOUT_FILE).read_text())
    except (OSError, ValueError):
        return None


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    path: str | Path | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed parquet table for CO-LOCATED joins: rows hash-distribute
    into ``n_buckets`` files by ``bucket_cols`` at write time, so joins and
    aggregations on those keys between same-bucketed tables need NO shuffle
    — the exchange happens once, at ingest, instead of per query. This is
    the 100 TB answer for a fact table joined repeatedly on the same key
    (e.g. orders ⋈ lineitem on orderkey): `.explain` of the join shows no
    Exchange on either side. ``sort_cols`` additionally pre-sorts each
    bucket file (sort-merge joins skip the sort too).

    Registers ``table_name`` in the session catalog; pass ``path`` to keep
    the data in an explicit location (external table)."""
    w = (
        df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
        .write.format("parquet")
        .mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path is not None:
        w = w.option("path", str(path))
    w.saveAsTable(table_name)


def write_validation_metadata(
    output_dir: str | Path, validation: ValidationResult, storage_stats: dict[str, Any]
) -> Path:
    """S9 — ``_validation_metadata.json`` sidecar (``loading.py:275-303``)."""
    path = Path(output_dir) / "_validation_metadata.json"
    path.parent.mkdir(parents=True, exist_ok=True)
    payload = {
        "validation_passed": validation.passed,
        "total_records": validation.total_records,
        "issues_found": validation.issues_found,
        "quality_metrics": validation.quality_metrics,
        "quality_score": quality_score(validation.quality_metrics),
        "storage_stats": storage_stats,
        "pipeline_version": PIPELINE_VERSION,
        "stored_at": datetime.now().isoformat(),
    }
    path.write_text(json.dumps(payload, indent=2, default=str))
    return path


def query_stored_data(
    spark: SparkSession,
    output_dir: str | Path,
    date_filter: str | None = None,
    sensor_filter: str | None = None,
) -> DataFrame:
    """S11 — filtered read-back (``loading.py:338-372``).

    With a ``_storage_layout.json`` sidecar, the filters on partition
    columns become a path under ``basePath`` (``date=*/sensor_id=<id>``,
    ``date=<d>/sensor_id=*`` or ``date=<d>/sensor_id=<id>``, values escaped
    as Spark names the directories), read with the recorded schema: only
    the matching directories are listed and no schema-inference job runs.
    No matching directory gives an empty frame with that schema.

    Without a sidecar, or when a filter value is not in the form the
    directories carry (e.g. ``date_filter="2023-6-1"``), the whole tree is
    listed and its schema inferred. Either way the filters are also applied
    as ``where`` predicates (the plan's PartitionFilters show them), so the
    rows are the same.
    """
    filters = {
        c: v for c, v in (("date", date_filter), ("sensor_id", sensor_filter))
        if v is not None
    }
    df = _read_partitions(spark, output_dir, filters)
    if df is None:
        df = spark.read.parquet(str(output_dir))
    for c, v in filters.items():
        df = df.where(F.col(c) == v)
    return df


def _read_partitions(
    spark: SparkSession, output_dir: str | Path, filters: dict[str, Any]
) -> DataFrame | None:
    """Read only the partition directories ``filters`` select, with the
    recorded schema; None when the layout is unknown or a value has no
    directory form."""
    layout = read_storage_layout(output_dir)
    if layout is None:
        return None
    schema = StructType.fromJson(layout["schema"])
    root = str(output_dir)
    reader = spark.read.schema(schema)
    if not filters.keys() & set(layout["partition_by"]):
        return reader.parquet(root)
    segments = []
    for c in layout["partition_by"]:
        if c not in filters:
            segments.append(f"{c}=*")
            continue
        value = _directory_value(filters[c], schema[c].dataType)
        if value is None:
            return None
        escaped = "".join(
            f"%{ord(ch):02X}" if ch in _SPARK_PATH_ESCAPES else ch for ch in value
        )
        segments.append(
            c + "=" + "".join("\\" + ch if ch in _GLOB_SPECIALS else ch for ch in escaped)
        )
    try:
        return reader.option("basePath", root).parquet("/".join([root, *segments]))
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return spark.createDataFrame([], schema)


def _directory_value(value: Any, dtype: DataType) -> str | None:
    """``value`` as the writer spells it in a partition directory of type
    ``dtype``, or None when an equality filter on it could match values
    spelled otherwise (e.g. ``"2023-6-1"`` against a date column)."""
    if isinstance(dtype, StringType):
        return value if isinstance(value, str) and value else None
    if isinstance(dtype, DateType):
        try:
            canonical = date.fromisoformat(value).isoformat() == value
        except (TypeError, ValueError):
            return None
        return value if canonical else None
    return None


def storage_stats(output_dir: str | Path) -> dict[str, Any]:
    """S12 — file count / bytes / partition inventory (``loading.py:238-273``).

    Driver-side FS walk of the output tree — metadata only, no data read.
    """
    base = Path(output_dir)
    files = [p for p in base.rglob("*.parquet") if p.is_file()]
    partitions = {str(p.parent.relative_to(base)) for p in files if p.parent != base}
    return {
        "files_written": len(files),
        "bytes_written": sum(p.stat().st_size for p in files),
        "partitions_created": len(partitions),
        "partition_list": sorted(partitions),
    }


def compact_partitions(
    spark: SparkSession,
    path: str | Path,
    max_files_per_partition: int = 1,
    compression: str = "zstd",
) -> dict[str, Any]:
    """Small-file compaction — the table-maintenance op every long-running
    partitioned sink needs (streaming micro-batches and incremental loads
    fragment partitions; thousands of tiny files turn scan planning and
    footer reads into the bottleneck).

    Only FRAGMENTED partitions are rewritten: the driver walks the tree
    (metadata only), finds partition dirs holding more than
    ``max_files_per_partition`` parquet files, reads just those directories
    back by path under ``basePath`` (with the ``_storage_layout.json``
    schema when the writer recorded one, else the inferred data columns
    plus string partition columns, so every value — escaped or numeric-
    looking — is written back to the directory it came from), and
    rewrites them coalesced under dynamic partition overwrite — untouched
    partitions keep their files byte-for-byte. Returns a summary dict.

    At 100 TB: cost is proportional to the fragmented fraction, not table
    size; each rewrite lists and scans only the fragmented directories and
    does one coalesced write, and dynamic overwrite makes the swap atomic
    per partition.
    """
    base = Path(path)
    by_dir: dict[Path, int] = {}
    for p in base.rglob("*.parquet"):
        if p.is_file():
            by_dir[p.parent] = by_dir.get(p.parent, 0) + 1
    fragmented = {d for d, n in by_dir.items() if n > max_files_per_partition and d != base}
    if not fragmented:
        return {"partitions_compacted": 0, "files_before": sum(by_dir.values())}

    root = str(base)
    part_cols = [
        seg.partition("=")[0]
        for seg in next(iter(fragmented)).relative_to(base).parts
    ]
    # the directories' own (Spark-escaped) names, glob-escaped
    paths = [
        root + "/" + "".join(
            "\\" + ch if ch in _GLOB_SPECIALS else ch
            for ch in d.relative_to(base).as_posix()
        )
        for d in sorted(fragmented)
    ]
    layout = read_storage_layout(base)
    if layout is not None and layout["partition_by"] == part_cols:
        schema = StructType.fromJson(layout["schema"])
    else:
        data = spark.read.parquet(*paths).schema  # leaf dirs: data columns only
        schema = StructType(
            data.fields + [StructField(c, StringType(), True) for c in part_cols]
        )
    df = spark.read.schema(schema).option("basePath", root).parquet(*paths)

    files_before = sum(by_dir.values())
    (
        df.repartition(*part_cols)
        .write.mode("overwrite")
        .option("compression", compression)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*part_cols)
        .parquet(str(base))
    )
    files_after = sum(1 for p in base.rglob("*.parquet") if p.is_file())
    return {
        "partitions_compacted": len(fragmented),
        "files_before": files_before,
        "files_after": files_after,
    }


def _spread_bits_expr(col_sql: str) -> str:
    """SQL expression interleaving a 16-bit value's bits with zeros (the
    classic magic-number spread), portable to any engine with shift/and/or."""
    e = f"(CAST({col_sql} AS BIGINT) & 65535)"
    e = f"(({e} | ({e} << 8)) & 16711935)"        # 0x00FF00FF
    e = f"(({e} | ({e} << 4)) & 252645135)"       # 0x0F0F0F0F
    e = f"(({e} | ({e} << 2)) & 858993459)"       # 0x33333333
    e = f"(({e} | ({e} << 1)) & 1431655765)"      # 0x55555555
    return e


def zorder_key_sql(x_sql: str, y_sql: str) -> str:
    """Portable SQL for a 32-bit Morton (Z-order) key of two 16-bit values:
    x occupies even bits, y odd bits."""
    return f"({_spread_bits_expr(x_sql)} | ({_spread_bits_expr(y_sql)} << 1))"


def zorder_key(x_col: str, y_col: str):
    """Morton (Z-order) interleave key as a Column — multi-dimensional
    clustering for data skipping: sorting (or range-partitioning) a table by
    this key before writing makes parquet row groups locally compact in BOTH
    dimensions, so min/max row-group stats prune 2-D range predicates the
    way a 1-D sort only prunes its own column. This is the portable core of
    Delta/Iceberg OPTIMIZE ZORDER; pure integer bit arithmetic, identical in
    any engine. Inputs are clamped to 16 bits each (pre-scale/bucket wider
    domains first)."""
    from pyspark.sql import functions as F

    return F.expr(zorder_key_sql(x_col, y_col))


def write_zordered(
    df,
    x_col: str,
    y_col: str,
    output_dir,
    n_files: int = 16,
    compression: str = "zstd",
):
    """Z-order-clustered parquet write: range-partition + sort by the Morton
    key of (x, y), so every output file covers a compact 2-D block and its
    row-group/file min-max stats prune BOTH dimensions' range predicates
    (a 1-D sort prunes only its own column and leaves the other dimension's
    span at full width per file). ``repartitionByRange`` samples the key to
    balance file sizes — the write stays one shuffle + per-partition sort,
    exactly like a plain sorted write."""
    from pyspark.sql import functions as F

    keyed = df.withColumn("__zkey", zorder_key(x_col, y_col))
    (
        keyed.repartitionByRange(n_files, F.col("__zkey"))
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .option("compression", compression)
        .parquet(str(output_dir))
    )
