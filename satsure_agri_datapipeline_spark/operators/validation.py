"""Validation battery (SURVEY.md §2.4 A4-A13, §2.3 J2/J3, §2.9 G1).

The reference runs ~10 DuckDB SQL queries against a registered pandas frame
(``src/components/validation.py:56-124``). Here the checks are aggregate
expressions over the same lazy DataFrame: each standalone catalog function
below runs its own, and ``validate()`` fuses them into three aggregates, so a
small batch pays a few Spark jobs' fixed cost instead of one per check. Only
the *results* (per-type / per-sensor aggregate rows — tiny by construction)
are collected to the driver to assemble the report. Data-plane rows are never
collected.

Scale notes:
- the expected-clock grid is distinct(sensor, reading_type) × hourly series —
  built distributed via ``sequence``/``explode``; with 1e5 sensors × years of
  hours this is billions of rows but embarrassingly parallel, and
  ``per_sensor_span=True`` shrinks it to each sensor's own [min, max] window;
- the observed side of the anti-join is pre-aggregated to distinct
  (sensor, type, hour) before the join, so the join input is bounded by the
  grid size, not the raw row count;
- ``approx=True`` swaps COUNT(DISTINCT) for approx_count_distinct.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from satsure_agri_datapipeline_spark.config import PipelineConfig
from satsure_agri_datapipeline_spark.operators.joins import report_sort


# ---------------------------------------------------------------------------
# Aggregate expressions. Each builder is shared by a standalone catalog
# function below and by the fused queries of validate(), so the two can
# never drift apart.
# ---------------------------------------------------------------------------


def _missing_aggs(prefix: str = "") -> list[Column]:
    """A4 figures of one group: rows, null ``value`` count, percentage."""
    n = F.count(F.lit(1))
    return [
        n.alias(f"{prefix}total_records"),
        F.sum(F.col("value").isNull().cast("long")).alias(f"{prefix}missing_values"),
        F.round(100.0 * F.sum(F.col("value").isNull().cast("double")) / n, 2).alias(
            f"{prefix}missing_percentage"
        ),
    ]


def _anomaly_aggs(prefix: str = "") -> list[Column]:
    """A5 figures of one group over its non-null ``anomalous_reading`` rows;
    the percentage is null for a group without any."""
    n = F.count("anomalous_reading")
    flagged = F.col("anomalous_reading")
    return [
        n.alias(f"{prefix}total_records"),
        F.sum(flagged.cast("long")).alias(f"{prefix}anomalous_count"),
        F.when(n > 0, F.round(100.0 * F.sum(flagged.cast("double")) / n, 2)).alias(
            f"{prefix}anomaly_percentage"
        ),
    ]


def _coverage_aggs() -> list[Column]:
    """A6 figures of one sensor. The type count is the size of the sensor's
    type set (state bounded by its few types) rather than a
    ``countDistinct``, which Spark plans as a second shuffle."""
    return [
        F.size(F.collect_set("reading_type")).cast("long").alias("reading_types_count"),
        F.count(F.lit(1)).alias("total_readings"),
        F.min("timestamp").alias("first_reading"),
        F.max("timestamp").alias("last_reading"),
        F.round(F.avg("battery_level"), 1).alias("avg_battery_level"),
    ]


def _average_aggs() -> list[Column]:
    """A7's two averages."""
    return [
        F.round(F.avg("value"), 2).alias("avg_value"),
        F.round(F.avg("battery_level"), 2).alias("avg_battery_level"),
    ]


def _type_aggs() -> list[Column]:
    """A12 counters. ``value`` arrives as DOUBLE post-ingest so the TRY_CAST
    probe (``validation.py:140``) degenerates to 0 unless the column is
    string — handled generically via try-cast semantics of ``cast`` (null on
    failure)."""

    def bad(c: str) -> Column:
        return (F.col(c).cast("double").isNull() & F.col(c).isNotNull()).cast("long")

    return [
        F.sum(bad("value")).alias("non_numeric_values"),
        F.sum(bad("battery_level")).alias("non_numeric_battery"),
        F.sum(F.col("timestamp").isNull().cast("long")).alias("null_timestamps"),
    ]


def _range_aggs(config: PipelineConfig) -> list[Column]:
    """A11 out-of-range counts, one per configured range in config order
    (unaliased). ``battery_level`` is checked against the battery column
    over ALL rows, every other key against ``value`` on its own type."""
    aggs = []
    for rt, bound in config.ranges.items():
        if rt == "battery_level":
            cond = (F.col("battery_level") < bound.min) | (F.col("battery_level") > bound.max)
        else:
            cond = (F.col("reading_type") == rt) & (
                (F.col("value") < bound.min) | (F.col("value") > bound.max)
            )
        aggs.append(F.sum(cond.cast("long")))
    return aggs


def _grid_bounds(secs: int) -> list[Column]:
    """The global expected-clock grid as aggregate expressions, all epoch
    seconds: the first reading (the grid carries its sub-hour offset), the
    start of its hour in the session zone, and the number of ``secs`` steps
    up to the last reading."""
    lo, hi = F.min("timestamp"), F.max("timestamp")
    return [
        F.unix_timestamp(lo).alias("grid_min_s"),
        F.unix_timestamp(F.date_trunc("hour", lo)).alias("grid_start_s"),
        F.floor((F.unix_timestamp(hi) - F.unix_timestamp(lo)) / F.lit(secs)).alias(
            "grid_steps"
        ),
    ]


def _gap_combos(
    observed: DataFrame, min_s: Column, start_s: Column, n_steps: Column, secs: int
) -> DataFrame:
    """Per (sensor_id, reading_type) with at least one missing grid point:
    ``missing_hours``, ``first_gap``, ``last_gap`` (unsorted). ``observed``
    has the three key columns; the grid bounds (see :func:`_grid_bounds`)
    are columns of it or literals. See :func:`detect_time_gaps` for the
    derivation."""
    # Grid index of the observed hour; off-grid hours (wrong phase for f>1, or
    # past the last grid point) don't cover any expected timestamp.
    diff = F.unix_timestamp(F.date_trunc("hour", F.col("timestamp"))) - start_s
    obs = observed.select(
        "sensor_id",
        "reading_type",
        diff.alias("__diff"),
        min_s.alias("min_s"),
        n_steps.alias("n_steps"),
    ).withColumn("idx", (F.col("__diff") / F.lit(secs)).cast("long"))
    obs = obs.where(
        (F.col("__diff") % F.lit(secs) == 0)
        & (F.col("idx") >= 0)
        & (F.col("idx") <= F.col("n_steps"))
    )

    # Hour-dedup under the SAME window the hole detection uses (keep the
    # first row of each idx run via lag) instead of a .distinct() — distinct
    # would shuffle on (sensor, type, hour) and the window again on
    # (sensor, type): two wide exchanges. This way one exchange + one sort
    # serve the dedup, the lead, and the final combo aggregate.
    w = Window.partitionBy("sensor_id", "reading_type").orderBy("idx")
    obs = (
        obs.withColumn("__prev_idx", F.lag("idx").over(w))
        .where(F.col("__prev_idx").isNull() | (F.col("__prev_idx") != F.col("idx")))
        .drop("__prev_idx")
    )
    obs = obs.withColumn("next_idx", F.lead("idx").over(w))
    hole = F.col("next_idx") > F.col("idx") + 1
    agg = (
        obs.groupBy("sensor_id", "reading_type")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.min("idx").alias("min_idx"),
            F.max("idx").alias("max_idx"),
            F.min(F.when(hole, F.col("idx") + 1)).alias("interior_first"),
            F.max(F.when(hole, F.col("next_idx") - 1)).alias("interior_last"),
            F.first("min_s").alias("min_s"),
            F.first("n_steps").alias("n_steps"),
        )
        .withColumn("missing_hours", F.col("n_steps") + 1 - F.col("n_obs"))
        .where(F.col("missing_hours") > 0)
    )
    # Fallback chains cover all three gap placements (missing_hours > 0
    # guarantees at least one exists): leading gap → grid start; else the
    # first interior hole; else the gaps are purely trailing → max_idx+1.
    # Mirrored for the last gap (purely leading → min_idx−1).
    first_idx = F.when(F.col("min_idx") > 0, F.lit(0)).otherwise(
        F.coalesce(F.col("interior_first"), F.col("max_idx") + 1)
    )
    last_idx = F.when(F.col("max_idx") < F.col("n_steps"), F.col("n_steps")).otherwise(
        F.coalesce(F.col("interior_last"), F.col("min_idx") - 1)
    )
    return agg.select(
        "sensor_id",
        "reading_type",
        "missing_hours",
        F.timestamp_seconds(F.col("min_s") + first_idx * F.lit(secs)).alias("first_gap"),
        F.timestamp_seconds(F.col("min_s") + last_idx * F.lit(secs)).alias("last_gap"),
    )


# ---------------------------------------------------------------------------
# Standalone checks and profiles (catalog entry points)
# ---------------------------------------------------------------------------


def profile_missing_by_type(df: DataFrame) -> DataFrame:
    """A4 — missing-value % per reading_type (``validation.py:343-352``)."""
    return (
        df.groupBy("reading_type")
        .agg(*_missing_aggs())
        .orderBy(F.desc("missing_percentage"))
    )


def profile_anomalies_by_type(df: DataFrame) -> DataFrame:
    """A5 — anomaly % per reading_type (``validation.py:369-379``)."""
    return (
        df.where(F.col("anomalous_reading").isNotNull())
        .groupBy("reading_type")
        .agg(*_anomaly_aggs())
        .orderBy(F.desc("anomaly_percentage"))
    )


def profile_sensor_coverage(df: DataFrame) -> DataFrame:
    """A6 — per-sensor coverage stats (``validation.py:396-407``)."""
    return df.groupBy("sensor_id").agg(*_coverage_aggs()).orderBy("sensor_id")


def profile_overall_stats(df: DataFrame, approx: bool = False) -> DataFrame:
    """A7 — global stats (``validation.py:422-430``); approx variant for scale."""
    cd = F.approx_count_distinct if approx else F.countDistinct
    return df.agg(
        F.count(F.lit(1)).alias("total_records"),
        cd("sensor_id").alias("unique_sensors"),
        cd("reading_type").alias("unique_reading_types"),
        *_average_aggs(),
    )


def mad_outliers(
    df: DataFrame,
    value_col: str = "value",
    group_cols: list[str] | None = None,
    k: float = 3.0,
    approx: bool = False,
) -> DataFrame:
    """Robust outlier detection via Median Absolute Deviation: flag rows with
    ``|v - median| > k * 1.4826 * MAD`` per group (1.4826 scales MAD to the
    stddev of a normal, so ``k`` is comparable to a z-score threshold).

    The z-score flag (A3, reference ``transformation.py:287-302``) breaks
    down when the contamination itself inflates mean/std; median/MAD have a
    50% breakdown point, the standard robust alternative. Cost: three grouped
    aggregates on the (low-cardinality) group key; the per-group stats frames
    are tiny and explicitly broadcast back, so the fact table is never
    shuffled — each pass is scan + map-side join + partial agg. At 100 TB set
    ``approx=True`` for ``percentile_approx`` (mergeable sketch, map-side
    partials, no exactness contract for an outlier *threshold* anyway).

    Returns (group..., n, med, mad, n_outliers) — aggregate rows only.
    """
    group_cols = group_cols or ["reading_type"]
    pct = (
        (lambda c: F.percentile_approx(c, 0.5)) if approx else (lambda c: F.median(c))
    )
    med = df.groupBy(*group_cols).agg(pct(F.col(value_col)).alias("med"))
    dev = df.join(F.broadcast(med), on=group_cols).withColumn(
        "__adev", F.abs(F.col(value_col) - F.col("med"))
    )
    mad = dev.groupBy(*group_cols).agg(
        F.first("med").alias("med"),
        pct(F.col("__adev")).alias("mad"),
        F.count(F.lit(1)).alias("n"),
    )
    flagged = dev.join(F.broadcast(mad.select(*group_cols, "mad")), on=group_cols)
    counts = flagged.groupBy(*group_cols).agg(
        F.sum(
            (F.col("__adev") > F.lit(k * 1.4826) * F.col("mad")).cast("long")
        ).alias("n_outliers")
    )
    return mad.join(counts, on=group_cols).select(
        *group_cols, "n", "med", "mad", "n_outliers"
    )


def validate_types(df: DataFrame) -> DataFrame:
    """A12 — type-violation counters (``validation.py:137-167``), one row."""
    return df.agg(*_type_aggs())


def validate_ranges(df: DataFrame, config: PipelineConfig) -> DataFrame:
    """A11 — out-of-range counts per configured range, ONE pass
    (reference runs one query per range, ``validation.py:176-216``).

    Returns rows (range_key, out_of_range_count) including the
    ``battery_level`` pseudo-type, which the reference checks against the
    battery column over ALL rows.
    """
    if not config.ranges:
        # Empty ranges is a legal config (z-score-only pipelines set
        # ``cfg.ranges = {}``); ``stack(0, ...)`` would be malformed SQL.
        return df.sparkSession.createDataFrame(
            [], "range_key string, out_of_range bigint"
        )
    wide = df.agg(*[a.alias(rt) for a, rt in zip(_range_aggs(config), config.ranges)])
    # unpivot to long form (range_key, out_of_range)
    pairs = ", ".join(f"'{rt}', `{rt}`" for rt in config.ranges)
    return wide.selectExpr(
        f"stack({len(config.ranges)}, {pairs}) as (range_key, out_of_range)"
    )


def detect_time_gaps(
    df: DataFrame,
    frequency_hours: int = 1,
    per_sensor_span: bool = False,
    single_scan: bool | None = None,
) -> tuple[DataFrame, DataFrame]:
    """G1 + J2 + J3 + A9 — expected-clock-grid gap detection
    (``validation.py:218-330``).

    Returns ``(gap_agg, time_range)``: per (sensor_id, reading_type) missing
    interval counts with first/last gap, plus the 1-row global time range.

    Semantics: the expected clock is ``sequence(min_t, max_t, N hours)`` over
    the GLOBAL span, matched against observed hour-truncated timestamps; a
    grid point is missing when no reading falls in its hour.

    Execution is O(observed), not O(grid): instead of materializing the
    combos × span grid and anti-joining (quadratic-ish blowup — a year's span
    over 1e5 sensor/type combos is ~1.75e9 exploded rows through a shuffle),
    each combo's missing count and first/last gap derive from its *observed*
    distinct hours alone:

    - count: ``n_grid_points − n_observed_on_grid`` (closed-form);
    - first/last gap: boundary gaps when the combo's min/max observed index
      is inside the grid, else the first/last interior hole found via one
      ``lead`` window over consecutive observed indices.

    Two shuffles total (distinct, then window+agg on the combo key — one
    exchange, reused), each bounded by the observed row count. The grid is
    never built. ``per_sensor_span=True`` keeps the explicit-grid variant
    anchored at each combo's own [min, max] (different — narrower — semantics;
    the reference's is the global span).
    """
    f = int(frequency_hours)
    step = F.expr(f"interval {f} hours")
    time_range = df.agg(
        F.min("timestamp").alias("min_time"),
        F.max("timestamp").alias("max_time"),
        F.countDistinct("sensor_id").alias("sensor_count"),
    )

    if per_sensor_span:
        combos = df.groupBy("sensor_id", "reading_type").agg(
            F.min("timestamp").alias("min_time"), F.max("timestamp").alias("max_time")
        )
        expected = combos.select(
            "sensor_id",
            "reading_type",
            F.explode(F.sequence(F.col("min_time"), F.col("max_time"), step)).alias(
                "expected_timestamp"
            ),
        )
        observed = df.select(
            "sensor_id",
            "reading_type",
            F.date_trunc("hour", F.col("timestamp")).alias("observed_hour"),
        ).distinct()
        missing = expected.join(
            observed,
            on=[
                expected.sensor_id == observed.sensor_id,
                expected.reading_type == observed.reading_type,
                F.date_trunc("hour", expected.expected_timestamp)
                == observed.observed_hour,
            ],
            how="left_anti",
        )
        gap_agg = (
            missing.groupBy("sensor_id", "reading_type")
            .agg(
                F.count(F.lit(1)).alias("missing_hours"),
                F.min("expected_timestamp").alias("first_gap"),
                F.max("expected_timestamp").alias("last_gap"),
            )
            .transform(report_sort, F.desc("missing_hours"), "sensor_id", "reading_type")
        )
        return gap_agg, time_range

    secs = 3600 * f
    # Execution-form gate (r8 verdict task 6): the derivation below reads
    # the input TWICE (bounds agg + observed projection). Measured r9: the
    # two-scan form wins at EVERY locally-measurable scale — 0.55 s vs
    # 1.27 s at sf0.1 (r5 race) and 42.4 s vs 93.6 s best-of-3 at 1000×
    # (/tmp/sf100) — because the second column-pruned scan rides the page
    # cache while the single-scan form pays a persist round-trip of the
    # projection. So two-scan is the default at ALL sizes here; the
    # single-scan form (persisted 3-column projection, oracle-equal) stays
    # as the explicit knob for deployments where a re-scan pays real
    # network/disk I/O the cache can't hide (S3/HDFS clusters):
    # SPARK_GRAFT_GAP_SINGLE_SCAN=always|never or the parameter.
    if single_scan is None:
        knob = os.environ.get("SPARK_GRAFT_GAP_SINGLE_SCAN", "").lower()
        single_scan = knob in ("always", "1", "on")
    src = df.select("sensor_id", "reading_type", "timestamp")
    if single_scan:
        from pyspark import StorageLevel as _SL

        src = src.persist(_SL.MEMORY_AND_DISK)
        # re-derive the 1-row range from the persisted projection too —
        # otherwise validate()'s time_range action is a third scan
        time_range = src.agg(
            F.min("timestamp").alias("min_time"),
            F.max("timestamp").alias("max_time"),
            F.countDistinct("sensor_id").alias("sensor_count"),
        )

    # Grid bounds as a broadcast 1-row relation joined to every row
    # (validate() has them from its global aggregate and passes literals,
    # so this knob does not concern it).
    bounds = src.agg(*_grid_bounds(secs))
    gap_agg = _gap_combos(
        src.crossJoin(F.broadcast(bounds)),
        F.col("grid_min_s"),
        F.col("grid_start_s"),
        F.col("grid_steps"),
        secs,
    ).transform(report_sort, F.desc("missing_hours"), "sensor_id", "reading_type")
    if single_scan:
        # caller-owned lifecycle, same contract as the dedup operators:
        # run the terminal action(s), then operators.dedup.release(gap_agg)
        from satsure_agri_datapipeline_spark.operators.dedup import _register_cache

        gap_agg = _register_cache(gap_agg, src)
    return gap_agg, time_range


# ---------------------------------------------------------------------------
# Orchestration: thresholds, quality score, report
# ---------------------------------------------------------------------------


@dataclass
class ValidationResult:
    passed: bool
    total_records: int
    issues_found: list[str] = field(default_factory=list)
    quality_metrics: dict[str, Any] = field(default_factory=dict)


def quality_score(quality_metrics: dict[str, Any]) -> float:
    """F13 — the *code's* formula (``validation.py:616-647``; the README
    variant differs and is not implemented): 100 − Σ min(missing%, 20)
    − Σ min(anomaly%, 10) − min(2·total_missing_hours, 30), floored at 0."""
    score = 100.0
    for m in quality_metrics.get("missing_values_by_type", {}).values():
        score -= min(m["missing_percentage"], 20)
    for m in quality_metrics.get("anomalies_by_type", {}).values():
        score -= min(m["anomaly_percentage"], 10)
    if "total_missing_hours" in quality_metrics:
        score -= min(quality_metrics["total_missing_hours"] * 2, 30)
    return max(score, 0.0)


def validate(df: DataFrame, config: PipelineConfig) -> ValidationResult:
    """Full validation stage (``validation.py:56-124``): type checks, range
    checks, gap detection, profiling, threshold assessment, quality report.

    The battery runs as three fused aggregates, each collected once — the
    reference's ~10 queries over one in-memory frame would otherwise be ~10
    Spark queries, each paying a job's fixed cost:

    1. a ``rollup("reading_type")``: per type the missing and anomaly
       figures, and in its grand-total row the type and range counters, the
       time range, the averages and the gap grid's bounds;
    2. the gap rows on that grid (bounds passed as epoch-second literals);
    3. the per-sensor coverage.

    Gap and coverage rows reach the driver only as the ``report_top_n``
    largest (O(report_top_n), never O(sensors)); their totals (gap hours,
    sensor count) come from those rows when fewer than ``report_top_n``
    exist, else from one more distributed aggregate. Per-type rows are
    ordered by (−percentage, reading_type) so ties have a fixed order.
    """
    v = config.validation
    secs = 3600 * int(v.expected_frequency_hours)
    has_anomaly = "anomalous_reading" in df.columns
    issues: list[str] = []

    rows = (
        df.rollup("reading_type")
        .agg(
            F.grouping_id().alias("__total"),
            *_missing_aggs(),
            *(_anomaly_aggs("a_") if has_anomaly else []),
            *_type_aggs(),
            *[a.alias(f"__range_{i}") for i, a in enumerate(_range_aggs(config))],
            F.min("timestamp").alias("min_time"),
            F.max("timestamp").alias("max_time"),
            *_grid_bounds(secs),
            *_average_aggs(),
        )
        .collect()
    )
    # a rollup over no rows has no grand-total row
    total = next((r for r in rows if r["__total"]), None)
    if total is None or not total["total_records"]:
        return ValidationResult(False, 0, ["No data provided for validation"], {})
    by_type = [r for r in rows if not r["__total"]]

    if total["non_numeric_values"]:
        issues.append(f"Found {total['non_numeric_values']} non-numeric values in 'value' column")
    if total["non_numeric_battery"]:
        issues.append(
            f"Found {total['non_numeric_battery']} non-numeric values in 'battery_level' column"
        )
    if total["null_timestamps"]:
        issues.append(f"Found {total['null_timestamps']} invalid/null timestamps")
    for i, (key, bound) in enumerate(config.ranges.items()):
        if total[f"__range_{i}"]:
            issues.append(
                f"Found {total[f'__range_{i}']} {key} values outside range "
                f"[{bound.min}, {bound.max}]"
            )

    gap_rows, total_gaps = [], 0
    if total["grid_min_s"] is not None:  # else no timestamp, hence no grid
        bounds = [
            F.lit(total[c]).cast("long") for c in ("grid_min_s", "grid_start_s", "grid_steps")
        ]
        gaps = _gap_combos(
            df.select("sensor_id", "reading_type", "timestamp"), *bounds, secs
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            # sort + limit plans a per-partition top-k merged on the
            # driver: no range exchange
            gap_rows = (
                gaps.orderBy(F.desc("missing_hours"), "sensor_id", "reading_type")
                .limit(v.report_top_n)
                .collect()
            )
            if len(gap_rows) < v.report_top_n:
                total_gaps = sum(r["missing_hours"] for r in gap_rows)
            else:
                total_gaps = int(gaps.agg(F.sum("missing_hours")).first()[0] or 0)
        finally:
            gaps.unpersist()
    significant = []
    for r in gap_rows:
        # every gap row is kept up to the cap, so the significant ones are
        # the prefix at or above the threshold
        if r["missing_hours"] < v.max_gap_hours:
            break
        significant.append(
            {
                "sensor_id": r["sensor_id"],
                "reading_type": r["reading_type"],
                "missing_hours": r["missing_hours"],
                "first_gap": str(r["first_gap"]),
                "last_gap": str(r["last_gap"]),
            }
        )
        issues.append(
            f"Sensor {r['sensor_id']} ({r['reading_type']}): {r['missing_hours']} hour gap "
            f"from {r['first_gap']} to {r['last_gap']}"
        )

    # The report_top_n highest-volume sensors (deterministic tie-break on
    # id), then the report's id order restored driver-side.
    coverage = df.groupBy("sensor_id").agg(*_coverage_aggs())
    coverage_rows = (
        coverage.orderBy(F.desc("total_readings"), "sensor_id").limit(v.report_top_n).collect()
    )
    if len(coverage_rows) < v.report_top_n:
        n_sensors = sum(r["sensor_id"] is not None for r in coverage_rows)
    else:
        n_sensors = coverage.where(F.col("sensor_id").isNotNull()).count()

    metrics: dict[str, Any] = {
        "time_range_start": str(total["min_time"]),
        "time_range_end": str(total["max_time"]),
        "sensors_analyzed": n_sensors,
        "total_missing_hours": total_gaps,
        "significant_gaps": significant,
        "gap_threshold_hours": v.max_gap_hours,
    }
    metrics["missing_values_by_type"] = {
        r["reading_type"]: {
            "total_records": r["total_records"],
            "missing_values": r["missing_values"],
            "missing_percentage": r["missing_percentage"],
        }
        for r in _by_pct(by_type, "missing_percentage")
    }
    if has_anomaly:
        metrics["anomalies_by_type"] = {
            r["reading_type"]: {
                "total_records": r["a_total_records"],
                "anomalous_count": r["a_anomalous_count"],
                "anomaly_percentage": r["a_anomaly_percentage"],
            }
            for r in _by_pct(
                [r for r in by_type if r["a_total_records"]],
                "a_anomaly_percentage",
            )
        }
    metrics["sensor_coverage"] = {
        r["sensor_id"]: {
            "reading_types_count": r["reading_types_count"],
            "total_readings": r["total_readings"],
            "first_reading": str(r["first_reading"]),
            "last_reading": str(r["last_reading"]),
            "avg_battery_level": r["avg_battery_level"],
        }
        for r in sorted(coverage_rows, key=lambda r: _nulls_first(r["sensor_id"]))
    }
    metrics["overall_statistics"] = {
        "total_records": total["total_records"],
        "unique_sensors": n_sensors,
        "unique_reading_types": sum(r["reading_type"] is not None for r in by_type),
        "avg_value": total["avg_value"],
        "avg_battery_level": total["avg_battery_level"],
    }

    passed = _assess_quality(metrics, v.max_missing_percentage, v.max_anomaly_percentage)
    return ValidationResult(
        passed=passed,
        total_records=total["total_records"],
        issues_found=issues,
        quality_metrics=metrics,
    )


def _nulls_first(key: Any) -> tuple:
    """Sort key ordering ``None`` first, as Spark's ascending sort does."""
    return (key is not None, key if key is not None else "")


def _by_pct(rows: list, pct: str) -> list:
    """Per-type rows by descending percentage, ties by type name."""
    return sorted(rows, key=lambda r: (-r[pct], *_nulls_first(r["reading_type"])))


def _assess_quality(
    metrics: dict[str, Any], max_missing_pct: float, max_anomaly_pct: float
) -> bool:
    """Threshold assessment (``validation.py:448-485``)."""
    passed = True
    for m in metrics.get("missing_values_by_type", {}).values():
        if m["missing_percentage"] > max_missing_pct:
            passed = False
    for m in metrics.get("anomalies_by_type", {}).values():
        if m["anomaly_percentage"] > max_anomaly_pct:
            passed = False
    return passed


def distinct_sketches(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL via
    ``hll_sketch_agg``): one binary sketch per group. Unlike a plain
    ``countDistinct`` result, sketches COMPOSE — union them across groups,
    days, or incremental batches without touching raw data again. This is
    the approximate counterpart the exact ``approx=False`` paths document:
    at 100 TB, distinct-counting exactly means shuffling every distinct
    value; a 2^lg_k-register sketch shuffles ~4 KiB per group at ~1-2%
    error.

    Returns (group, sketch, estimate).
    """
    return df.groupBy(group_col).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lg_k)).alias("sketch")
    ).select(
        group_col,
        "sketch",
        F.hll_sketch_estimate("sketch").cast("long").alias("estimate"),
    )


def merge_sketches(sketches: DataFrame, lg_k: int = 12) -> DataFrame:
    """Union a relation of HLL sketches into one global sketch + estimate —
    the roll-up step of incremental distinct counting (sketch once per
    partition/batch, merge forever)."""
    return sketches.agg(
        F.hll_union_agg(F.col("sketch"), F.lit(True)).alias("sketch")
    ).select("sketch", F.hll_sketch_estimate("sketch").cast("long").alias("estimate"))


def theta_group_sketches(
    df: DataFrame, col: str, group_cols: list[str]
) -> DataFrame:
    """Per-group Theta sketches over ``col`` (DataSketches, Spark 4 native
    ``theta_sketch_agg``): unlike HLL, Theta sketches support set
    INTERSECTION and DIFFERENCE, so distinct-overlap questions ("users who
    did A and B") become sketch algebra instead of a self-join. Sketches are
    mergeable: build per group/partition/day once, combine forever —
    exact below the sketch's nominal-entries capacity (default 2^12),
    bounded-error samples beyond it."""
    return df.groupBy(*group_cols).agg(
        F.expr(f"theta_sketch_agg({col})").alias("theta_sketch")
    )


def theta_overlap(sketches: DataFrame, group_col: str, a: str, b: str) -> DataFrame:
    """Distinct-count overlap report between two groups' Theta sketches:
    |A|, |B|, |A∩B|, |A∪B|, |A\\B| — one row, computed entirely from the two
    fixed-size sketches (the raw data is never revisited; at 100 TB the
    sketches are KB-sized summaries of arbitrarily large groups)."""
    sa = sketches.where(F.col(group_col) == a).select(
        F.col("theta_sketch").alias("__a")
    )
    sb = sketches.where(F.col(group_col) == b).select(
        F.col("theta_sketch").alias("__b")
    )
    return sa.crossJoin(sb).select(
        F.expr("theta_sketch_estimate(__a)").alias("n_a"),
        F.expr("theta_sketch_estimate(__b)").alias("n_b"),
        F.expr("theta_sketch_estimate(theta_intersection(__a, __b))").alias("n_both"),
        F.expr("theta_sketch_estimate(theta_union(__a, __b))").alias("n_either"),
        F.expr("theta_sketch_estimate(theta_difference(__a, __b))").alias("n_only_a"),
    )


def kll_group_sketches(
    df: DataFrame, col: str, group_cols: list[str], k: int = 200
) -> DataFrame:
    """Per-group KLL quantile sketches (DataSketches, Spark 4 native):
    the mergeable-quantile counterpart to the HLL/Theta distinct sketches —
    build per group/partition/day once, merge forever. This is how a 100 TB
    pipeline maintains p50/p95/p99 incrementally: per-batch sketches are
    KB-sized, and merging N of them never rescans data. Rank error is
    ~1.65/sqrt(k) at 99% confidence (k=200 → ~1.2%)."""
    return df.groupBy(*group_cols).agg(
        F.expr(f"kll_sketch_agg_double({col}, {k})").alias("kll_sketch")
    )


def kll_merged_quantiles(
    sketches: DataFrame, probes: list[float] | None = None
) -> DataFrame:
    """Merge a relation of KLL sketches into one and read global quantiles —
    one row with a column per probe. The merge is an ordinary aggregate
    (``kll_merge_agg_double``), so partial merging applies and the input can
    be any number of per-group/per-day sketches."""
    probes = probes or [0.5, 0.95, 0.99]
    merged = sketches.agg(
        F.expr("kll_merge_agg_double(kll_sketch)").alias("__m")
    )
    return merged.select(
        *[
            F.expr(f"kll_sketch_get_quantile_double(__m, {q})").alias(
                f"p{int(q * 100)}"
            )
            for q in probes
        ]
    )


def cms_sketch(
    df: DataFrame,
    col: str,
    eps: float = 0.01,
    confidence: float = 0.95,
    seed: int = 42,
) -> DataFrame:
    """Count-Min frequency sketch over ``col`` (Spark's native
    ``count_min_sketch`` aggregate): one binary row summarizing per-item
    frequencies with one-sided error — estimates never undercount and
    overcount by at most ``eps * N`` with ``confidence``. The last member of
    the sketch family: HLL answers "how many distinct", Theta "how do sets
    overlap", KLL "what are the quantiles", CMS "how often does THIS item
    occur" — all mergeable, all constant-size, none rescan data."""
    return df.agg(
        F.expr(f"count_min_sketch({col}, {eps}d, {confidence}d, {seed})").alias(
            "cms_sketch"
        )
    )


def cms_estimate(spark: SparkSession, sketch_bytes: bytes, items: list) -> dict:
    """Read item-frequency estimates out of a serialized Count-Min sketch
    (driver-side, O(1) per item — the sketch IS the summary; public Spark
    ``CountMinSketch.readFrom``)."""
    jvm = spark._jvm
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(bytes(sketch_bytes))
    )
    return {item: cms.estimateCount(item) for item in items}


def cms_merge(spark: SparkSession, sketch_blobs: list[bytes]) -> bytes:
    """Merge serialized Count-Min sketches (same eps/confidence/seed family)
    into one — per-batch sketches combine associatively, so frequency
    monitoring over a stream never reprocesses history."""
    jvm = spark._jvm
    first, *rest = sketch_blobs
    acc = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(bytes(first))
    )
    for b in rest:
        acc.mergeInPlace(
            jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
                jvm.java.io.ByteArrayInputStream(bytes(b))
            )
        )
    out = jvm.java.io.ByteArrayOutputStream()
    acc.writeTo(out)
    return bytes(out.toByteArray())


def observed_counters(df: DataFrame, name: str, critical_cols: list[str]):
    """Attach pipeline counters to an EXISTING action via ``observe`` —
    row count and per-column null counts are computed as the data streams
    through whatever action the caller runs next (write, count, collect),
    costing ZERO extra jobs. This is the idiomatic Spark replacement for the
    reference's per-stage counter dict (``transformation.py:33-40``), which
    pays a full pass per counter. Returns (df, observation); read
    ``observation.get`` AFTER the action completes."""
    from pyspark.sql import Observation

    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(F.col(c).isNull().cast("long")).alias(f"null_{c}")
        for c in critical_cols
    ]
    return df.observe(obs, *metrics), obs


# ---------------------------------------------------------------------------
# Declarative expectations (dbt-tests / Great-Expectations style)
# ---------------------------------------------------------------------------


def check_expectations(
    df: DataFrame,
    not_null: list[str] | None = None,
    unique: list[list[str]] | None = None,
    accepted_values: dict[str, list] | None = None,
    in_range: dict[str, tuple[float, float]] | None = None,
    referential: list[tuple[str, DataFrame, str]] | None = None,
) -> DataFrame:
    """Declarative data-quality expectations, evaluated with the minimum
    number of passes: every row-local check (not-null, accepted-values,
    range) folds into ONE aggregate scan as a conditional count; each
    ``unique`` spec is one groupBy over its key; each ``referential`` spec
    (child col ⊆ parent col) is one anti-join against the broadcast
    distinct parent keys. Returns (check_name, violations, passed) — one row
    per expectation, mergeable across partitions/batches since every
    violation count is a plain SUM.

    At 100 TB this is the difference between a constraint SUITE costing
    one scan + a few tiny joins versus one scan per constraint: N
    row-local checks share a single pass because each is just another
    aggregate expression.
    """
    aggs = []
    names = []
    for c in not_null or []:
        aggs.append(F.sum(F.col(c).isNull().cast("long")))
        names.append(f"not_null:{c}")
    for c, vals in (accepted_values or {}).items():
        aggs.append(
            F.sum((~F.col(c).isin(vals) | F.col(c).isNull()).cast("long"))
        )
        names.append(f"accepted_values:{c}")
    for c, (lo, hi) in (in_range or {}).items():
        aggs.append(
            F.sum(
                (F.col(c).isNotNull() & ((F.col(c) < lo) | (F.col(c) > hi))).cast(
                    "long"
                )
            )
        )
        names.append(f"in_range:{c}")

    spark = df.sparkSession
    parts = []
    if aggs:
        row_local = df.agg(*[a.alias(f"v{i}") for i, a in enumerate(aggs)])
        stacked = row_local.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(names[i]).alias("check_name"),
                            F.col(f"v{i}").alias("violations"),
                        )
                        for i in range(len(names))
                    ]
                )
            ).alias("s")
        ).select("s.check_name", "s.violations")
        parts.append(stacked)
    for cols in unique or []:
        dup = (
            df.groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > 1)
            .agg(F.coalesce(F.sum(F.col("__n") - 1), F.lit(0)).alias("violations"))
            .select(
                F.lit("unique:" + ",".join(cols)).alias("check_name"), "violations"
            )
        )
        parts.append(dup)
    for child_col, parent, parent_col in referential or []:
        # No forced broadcast: the parent key set is unbounded in general
        # (a 100 TB parent's distinct keys can dwarf executor memory). AQE
        # picks broadcast at runtime when the post-distinct side is actually
        # small; otherwise the anti-join shuffles on the key — correct at
        # any parent size.
        orphans = (
            df.where(F.col(child_col).isNotNull())
            .join(
                parent.select(F.col(parent_col).alias(child_col)).distinct(),
                child_col,
                "left_anti",
            )
            .agg(F.count(F.lit(1)).alias("violations"))
            .select(
                F.lit(f"referential:{child_col}->{parent_col}").alias("check_name"),
                "violations",
            )
        )
        parts.append(orphans)
    if not parts:
        return spark.createDataFrame([], "check_name string, violations long, passed boolean")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "check_name",
        F.col("violations").cast("long").alias("violations"),
        (F.col("violations") == 0).alias("passed"),
    )
