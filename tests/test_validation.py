"""Validation battery: gap detection on a frame with known missing hours,
profiling metrics, quality score, thresholds (reference
``tests/test_validation.py`` semantics)."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from satsure_agri_datapipeline_spark.config import PipelineConfig
from satsure_agri_datapipeline_spark.operators.validation import (
    detect_time_gaps,
    profile_missing_by_type,
    profile_overall_stats,
    quality_score,
    validate,
    validate_ranges,
)


def _frame(spark, with_gap=True):
    hours = [0, 1, 2, 5] if with_gap else [0, 1, 2, 3]  # gap at 3,4
    rows = [
        ("s1", datetime(2023, 6, 1, h), "temperature", 20.0 + h, 80.0, False) for h in hours
    ]
    return spark.createDataFrame(
        rows,
        "sensor_id string, timestamp timestamp, reading_type string, value double, "
        "battery_level double, anomalous_reading boolean",
    )


def test_gap_detection_exact(spark):
    gaps, time_range = detect_time_gaps(_frame(spark), frequency_hours=1)
    rows = gaps.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.missing_hours == 2
    assert r.first_gap == datetime(2023, 6, 1, 3)
    assert r.last_gap == datetime(2023, 6, 1, 4)
    assert time_range.first().sensor_count == 1


def test_no_gaps_on_dense_frame(spark):
    gaps, _ = detect_time_gaps(_frame(spark, with_gap=False), frequency_hours=1)
    assert gaps.count() == 0


def test_per_sensor_span_mode(spark):
    gaps, _ = detect_time_gaps(_frame(spark), frequency_hours=1, per_sensor_span=True)
    assert gaps.collect()[0].missing_hours == 2


def test_missing_profile_and_ranges(spark):
    df = spark.createDataFrame(
        [
            ("s1", datetime(2023, 6, 1), "temperature", None, 80.0, False),
            ("s1", datetime(2023, 6, 1, 1), "temperature", 99.0, 150.0, True),
            ("s1", datetime(2023, 6, 1, 2), "humidity", 50.0, 80.0, False),
        ],
        "sensor_id string, timestamp timestamp, reading_type string, value double, "
        "battery_level double, anomalous_reading boolean",
    )
    prof = {r.reading_type: r for r in profile_missing_by_type(df).collect()}
    assert prof["temperature"].missing_percentage == 50.0
    assert prof["humidity"].missing_percentage == 0.0

    ranges = {r.range_key: r.out_of_range for r in validate_ranges(df, PipelineConfig()).collect()}
    assert ranges["temperature"] == 1  # 99 > 60
    assert ranges["humidity"] == 0
    assert ranges["battery_level"] == 1  # 150 > 100


def test_quality_score_formula():
    metrics = {
        "missing_values_by_type": {"temperature": {"missing_percentage": 5.0}},
        "anomalies_by_type": {"temperature": {"anomaly_percentage": 15.0}},  # capped at 10
        "total_missing_hours": 20,  # 2*20=40 capped at 30
    }
    assert quality_score(metrics) == pytest.approx(100 - 5 - 10 - 30)
    assert quality_score({}) == 100.0


def test_validate_end_to_end(spark, config):
    res = validate(_frame(spark), config)
    assert res.total_records == 4
    assert res.quality_metrics["total_missing_hours"] == 2
    assert res.passed  # no missing values, no anomalies
    assert any("gap" in i for i in res.issues_found)
    assert profile_overall_stats(_frame(spark)).first().unique_sensors == 1


def test_compact_partitions_rewrites_only_fragmented(spark, sample_sensor_data, tmp_path):
    from pyspark.sql import functions as F

    from satsure_agri_datapipeline_spark.operators.loading import (
        compact_partitions,
        storage_stats,
    )

    out = tmp_path / "frag"
    df = sample_sensor_data.withColumn("date", F.to_date("timestamp"))
    # fragment deliberately: 6 shuffle tasks each write into dirs they touch
    df.repartition(6).write.partitionBy("sensor_id").parquet(str(out))
    before = storage_stats(out)
    assert before["files_written"] > 2  # fragmented

    original = sorted(spark.read.parquet(str(out)).collect())
    res = compact_partitions(spark, out, max_files_per_partition=1)
    assert res["partitions_compacted"] >= 1
    assert res["files_after"] < res["files_before"]

    after = storage_stats(out)
    # every partition dir now holds exactly one file
    from pathlib import Path
    counts = {}
    for p in Path(out).rglob("*.parquet"):
        counts[p.parent] = counts.get(p.parent, 0) + 1
    assert all(n == 1 for n in counts.values())
    # data identical
    assert sorted(spark.read.parquet(str(out)).collect()) == original
    # idempotent: second run is a no-op
    res2 = compact_partitions(spark, out, max_files_per_partition=1)
    assert res2["partitions_compacted"] == 0

    # partition values Spark escapes in directory names ("/" -> %2F) and a
    # space: the rewrite must read their rows back, not report a no-op.
    # Once without a layout sidecar (string partition values), once through
    # write_partitioned (sidecar schema: a date and a string partition).
    from satsure_agri_datapipeline_spark.operators.loading import write_partitioned

    odd = spark.createDataFrame(
        [(sid, v, "2023-06-01") for sid in ("s/0 x", "s 1") for v in range(3)],
        "sensor_id string, value long, day string",
    )
    plain, sidecar = tmp_path / "frag_plain", tmp_path / "frag_sidecar"
    dated = odd.withColumn("date", F.to_date("day")).drop("day")
    for _ in range(2):
        odd.coalesce(1).write.mode("append").partitionBy("sensor_id").parquet(str(plain))
        write_partitioned(dated, sidecar, mode="append")
    for root, n_dirs in ((plain, 2), (sidecar, 2)):
        dirs = {p.parent for p in Path(root).rglob("*.parquet")}
        rows = sorted(spark.read.parquet(str(root)).collect())
        assert len(rows) == 12
        res = compact_partitions(spark, root, max_files_per_partition=1)
        assert res == {
            "partitions_compacted": n_dirs, "files_before": 2 * n_dirs,
            "files_after": n_dirs,
        }
        assert {p.parent for p in Path(root).rglob("*.parquet")} == dirs
        assert sorted(spark.read.parquet(str(root)).collect()) == rows


def test_hll_sketches_merge_and_estimate(spark):
    from pyspark.sql import functions as F

    from satsure_agri_datapipeline_spark.operators.validation import (
        distinct_sketches,
        merge_sketches,
    )

    # 3 groups with overlapping value sets; exact distinct union = 5000
    df = spark.range(0, 15000).select(
        (F.col("id") % 3).alias("g"), (F.col("id") % 5000).alias("v")
    )
    per_group = distinct_sketches(df, "g", "v")
    rows = {r.g: r.estimate for r in per_group.collect()}
    assert set(rows) == {0, 1, 2}
    for est in rows.values():
        assert abs(est - 5000) / 5000 < 0.05

    merged = merge_sketches(per_group.select("sketch")).collect()[0]
    assert abs(merged.estimate - 5000) / 5000 < 0.05
    # union of overlapping sketches must not double count (sum would be 15000)
    assert merged.estimate < 7500


def test_theta_overlap_matches_exact_at_small_cardinality(spark):
    """Theta sketches are exact below nominal-entries capacity: the
    click∩purchase distinct-user overlap from sketch algebra must equal the
    exact intersect-join answer at test scale (operators/validation.py
    theta_group_sketches/theta_overlap)."""
    from pyspark.sql import functions as F

    from satsure_agri_datapipeline_spark.operators.validation import (
        theta_group_sketches,
        theta_overlap,
    )
    from satsure_agri_datapipeline_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    sk = theta_group_sketches(ev, "user_id", ["event_type"])
    [r] = theta_overlap(sk, "event_type", "click", "purchase").collect()

    def users(t):
        return ev.where(F.col("event_type") == t).select("user_id").distinct()

    exact_a = users("click").count()
    exact_b = users("purchase").count()
    exact_both = users("click").intersect(users("purchase")).count()
    assert (r.n_a, r.n_b, r.n_both) == (exact_a, exact_b, exact_both)
    assert r.n_either == exact_a + exact_b - exact_both
    assert r.n_only_a == exact_a - exact_both


def test_kll_merged_quantiles_within_rank_error(spark):
    """Per-type KLL sketches merged to a global sketch: each sketched
    quantile's TRUE rank (fraction of values <= it) must sit within the
    k=200 rank-error bound (~2%) of the probe — the merge path loses no
    accuracy guarantee (operators/validation.py kll_group_sketches)."""
    from pyspark.sql import functions as F

    from satsure_agri_datapipeline_spark.operators.validation import (
        kll_group_sketches,
        kll_merged_quantiles,
    )
    from satsure_agri_datapipeline_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.01", "events")
    sk = kll_group_sketches(ev, "value", ["event_type"])
    [q] = kll_merged_quantiles(sk, probes=[0.5, 0.95]).collect()
    total = ev.count()
    for probe, val in ((0.5, q.p50), (0.95, q.p95)):
        true_rank = ev.where(F.col("value") <= val).count() / total
        assert abs(true_rank - probe) < 0.02, (probe, val, true_rank)


def test_cms_sketch_estimates_and_merges(spark):
    """CMS one-sided error: estimates never undercount, overcount bounded by
    eps*N; merging two half sketches equals sketching the whole
    (operators/validation.py cms_sketch/cms_estimate/cms_merge)."""
    from satsure_agri_datapipeline_spark.operators.validation import (
        cms_estimate,
        cms_merge,
        cms_sketch,
    )

    rows = [("hot",)] * 500 + [("warm",)] * 50 + [("cold",)] * 5
    df = spark.createDataFrame(rows, "k string")
    [r] = cms_sketch(df, "k", eps=0.01).collect()
    est = cms_estimate(spark, r.cms_sketch, ["hot", "warm", "cold"])
    n = len(rows)
    for item, true in (("hot", 500), ("warm", 50), ("cold", 5)):
        assert true <= est[item] <= true + 0.01 * n + 1

    [a] = cms_sketch(df.where(F.col("k") != "cold"), "k").collect()
    [b] = cms_sketch(df.where(F.col("k") == "cold"), "k").collect()
    merged = cms_merge(spark, [a.cms_sketch, b.cms_sketch])
    est2 = cms_estimate(spark, merged, ["hot", "cold"])
    assert est2["hot"] >= 500 and est2["cold"] >= 5


def test_observed_counters_ride_the_action(spark):
    """observe-based counters: one action yields rows + null counts with no
    extra jobs (operators/validation.py observed_counters)."""
    from satsure_agri_datapipeline_spark.operators.validation import observed_counters

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None)], "id int, v string"
    )
    observed, obs = observed_counters(df, "stage0", ["v"])
    observed.write.format("noop").mode("overwrite").save()
    assert obs.get == {"n_rows": 3, "null_v": 2}


def test_check_expectations_detects_each_violation_kind(spark):
    from satsure_agri_datapipeline_spark.operators.validation import (
        check_expectations,
    )

    child = spark.createDataFrame(
        [(1, "A", 5.0), (1, "A", 50.0), (2, "X", -3.0), (None, "B", 7.0)],
        "k long, status string, v double",
    )
    parent = spark.createDataFrame([(1,), (3,)], "pk long")
    rep = {
        r.check_name: r
        for r in check_expectations(
            child,
            not_null=["k"],
            unique=[["k"]],
            accepted_values={"status": ["A", "B"]},
            in_range={"v": (0.0, 10.0)},
            referential=[("k", parent, "pk")],
        ).collect()
    }
    assert rep["not_null:k"].violations == 1
    assert rep["unique:k"].violations == 1  # two k=1 rows -> 1 extra
    assert rep["accepted_values:status"].violations == 1  # 'X'
    assert rep["in_range:v"].violations == 2  # -3 and 50
    assert rep["referential:k->pk"].violations == 1  # k=2 orphan (nulls skip)
    assert not any(r.passed for r in rep.values())
    # a clean frame passes everything
    clean = check_expectations(
        spark.createDataFrame([(1, "A", 5.0)], "k long, status string, v double"),
        not_null=["k"], unique=[["k"]],
        accepted_values={"status": ["A"]}, in_range={"v": (0.0, 10.0)},
    )
    assert all(r.passed for r in clean.collect())
    # one scan for all row-local checks: a single aggregate over the source
    plan = check_expectations(child, not_null=["k"], in_range={"v": (0, 1)})
    assert plan._jdf.queryExecution().executedPlan().toString().count("Scan") == 1


def test_report_top_n_bounds_driver_collect(spark):
    """r8 verdict task 5: validate() must never materialize O(sensors) on
    the driver — with report_top_n=2 only the 2 highest-volume sensors
    reach sensor_coverage and at most 2 gap rows reach significant_gaps /
    issues, while total_missing_hours stays EXACT (distributed sum over
    all rows, not the capped sample)."""
    from datetime import datetime, timedelta

    from satsure_agri_datapipeline_spark.config import PipelineConfig
    from satsure_agri_datapipeline_spark.operators.validation import validate

    base = datetime(2023, 6, 1)
    rows = []
    # 5 sensors; sensor_k reads k+1 points spaced 3 hours -> every sensor
    # has gaps; volumes differ so the top-2 pick is deterministic
    for k in range(5):
        for i in range(k + 2):
            rows.append(
                (f"s{k}", base + timedelta(hours=3 * i), "temperature",
                 20.0, 90.0)
            )
    df = spark.createDataFrame(
        rows,
        "sensor_id string, timestamp timestamp, reading_type string, "
        "value double, battery_level double",
    )
    cfg = PipelineConfig()
    full = validate(df, cfg)

    cfg2 = PipelineConfig()
    cfg2.validation.report_top_n = 2
    capped = validate(df, cfg2)

    assert len(full.quality_metrics["sensor_coverage"]) == 5
    assert set(capped.quality_metrics["sensor_coverage"]) == {"s4", "s3"}
    assert len(capped.quality_metrics["significant_gaps"]) == 2
    # the cap keeps the LARGEST gaps (relation is desc-sorted)
    kept = [g["missing_hours"] for g in capped.quality_metrics["significant_gaps"]]
    all_gaps = [g["missing_hours"] for g in full.quality_metrics["significant_gaps"]]
    assert kept == sorted(all_gaps, reverse=True)[:2]
    # totals stay exact despite the cap
    assert (
        capped.quality_metrics["total_missing_hours"]
        == full.quality_metrics["total_missing_hours"]
        > 0
    )


def test_gap_detection_single_scan_form_oracle_equal(spark):
    """r8 verdict task 6: the size-gated single-scan gap form (persisted
    3-column projection) returns IDENTICAL rows to the default two-scan
    form, scans the input exactly once (InMemoryTableScan feeds bounds and
    observed), and the env override selects it."""
    import os as _os

    from satsure_agri_datapipeline_spark.operators import dedup as dd
    from satsure_agri_datapipeline_spark.operators.validation import (
        detect_time_gaps,
    )

    df = _frame(spark)
    two, tr2 = detect_time_gaps(df, frequency_hours=1, single_scan=False)
    one, tr1 = detect_time_gaps(df, frequency_hours=1, single_scan=True)
    try:
        assert sorted(map(tuple, one.collect())) == sorted(map(tuple, two.collect()))
        assert tr1.first() == tr2.first()
        plan = one._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan  # bounds+observed ride the persist
    finally:
        dd.release(one)

    # env override picks the single-scan form even for tiny input
    _os.environ["SPARK_GRAFT_GAP_SINGLE_SCAN"] = "always"
    try:
        forced, _ = detect_time_gaps(df, frequency_hours=1)
        plan = forced._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
        dd.release(forced)
    finally:
        del _os.environ["SPARK_GRAFT_GAP_SINGLE_SCAN"]
    # tiny local input defaults to the two-scan form (threshold not met)
    default, _ = detect_time_gaps(df, frequency_hours=1)
    assert "InMemoryTableScan" not in _plan_str(default)


def _plan_str(df):
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# validate() runs the battery as a few fused aggregates; it must give what
# the standalone catalog functions give, value for value and in order.
# ---------------------------------------------------------------------------

VSCHEMA = (
    "sensor_id string, timestamp timestamp, reading_type string, value double, "
    "battery_level double, anomalous_reading boolean"
)


def _battery_frame(spark, with_nulls=False):
    """Four sensors over two days at :15 past the hour, with holes of
    several lengths, null values, null and true anomaly flags and
    out-of-range values and batteries."""
    from datetime import timedelta

    base = datetime(2023, 6, 1, 0, 15)
    rows = []
    for k in range(4):
        for t, rt in enumerate(("temperature", "humidity")):
            for h in range(48):
                if (h + k) % (5 + k + t) == 0 or (k == 3 and 10 <= h < 20):
                    continue  # a hole
                i = k * 100 + t * 50 + h
                value = None if i % 17 == 0 else (70.0 if i % 23 == 0 else 20.0 + h % 7)
                flag = None if i % 13 == 0 else (i % 11 == 0)
                battery = 120.0 if i % 29 == 0 else 50.0 + k
                rows.append((f"s{k}", base + timedelta(hours=h), rt, value, battery, flag))
    if with_nulls:
        rows += [
            (None, base + timedelta(hours=3), "temperature", 21.0, 40.0, False),
            (None, base + timedelta(hours=9), None, 22.0, 40.0, True),
            ("s1", base + timedelta(hours=4), None, None, 40.0, None),
        ]
    return spark.createDataFrame(rows, VSCHEMA)


def _nulls_first(key):
    return (key is not None, key if key is not None else "")


def _standalone_result(df, cfg):
    """validate()'s result assembled from the standalone functions."""
    from satsure_agri_datapipeline_spark.operators.validation import (
        profile_anomalies_by_type,
        profile_sensor_coverage,
        validate_types,
    )

    v = cfg.validation
    types = validate_types(df).first()
    if types["non_numeric_values"] is None:
        return False, 0, ["No data provided for validation"], {}
    issues = []
    if types["non_numeric_values"]:
        issues.append(f"Found {types['non_numeric_values']} non-numeric values in 'value' column")
    if types["non_numeric_battery"]:
        issues.append(
            f"Found {types['non_numeric_battery']} non-numeric values in 'battery_level' column"
        )
    if types["null_timestamps"]:
        issues.append(f"Found {types['null_timestamps']} invalid/null timestamps")
    for r in validate_ranges(df, cfg).collect():
        if r["out_of_range"]:
            b = cfg.ranges[r["range_key"]]
            issues.append(
                f"Found {r['out_of_range']} {r['range_key']} values outside range "
                f"[{b.min}, {b.max}]"
            )
    gaps, time_range = detect_time_gaps(df, v.expected_frequency_hours)
    gap_rows = gaps.collect()
    significant = [r for r in gap_rows if r["missing_hours"] >= v.max_gap_hours][: v.report_top_n]
    for r in significant:
        issues.append(
            f"Sensor {r['sensor_id']} ({r['reading_type']}): {r['missing_hours']} hour gap "
            f"from {r['first_gap']} to {r['last_gap']}"
        )
    tr = time_range.first()

    def by_pct(rows, pct):
        return sorted(rows, key=lambda r: (-r[pct], *_nulls_first(r["reading_type"])))

    metrics = {
        "time_range_start": str(tr["min_time"]),
        "time_range_end": str(tr["max_time"]),
        "sensors_analyzed": tr["sensor_count"],
        "total_missing_hours": sum(r["missing_hours"] for r in gap_rows),
        "significant_gaps": [
            {
                "sensor_id": r["sensor_id"],
                "reading_type": r["reading_type"],
                "missing_hours": r["missing_hours"],
                "first_gap": str(r["first_gap"]),
                "last_gap": str(r["last_gap"]),
            }
            for r in significant
        ],
        "gap_threshold_hours": v.max_gap_hours,
        "missing_values_by_type": {
            r["reading_type"]: {
                k: r[k] for k in ("total_records", "missing_values", "missing_percentage")
            }
            for r in by_pct(profile_missing_by_type(df).collect(), "missing_percentage")
        },
    }
    if "anomalous_reading" in df.columns:
        metrics["anomalies_by_type"] = {
            r["reading_type"]: {
                k: r[k] for k in ("total_records", "anomalous_count", "anomaly_percentage")
            }
            for r in by_pct(profile_anomalies_by_type(df).collect(), "anomaly_percentage")
        }
    coverage = profile_sensor_coverage(df).collect()
    top = sorted(coverage, key=lambda r: (-r["total_readings"], *_nulls_first(r["sensor_id"])))
    metrics["sensor_coverage"] = {
        r["sensor_id"]: {
            "reading_types_count": r["reading_types_count"],
            "total_readings": r["total_readings"],
            "first_reading": str(r["first_reading"]),
            "last_reading": str(r["last_reading"]),
            "avg_battery_level": r["avg_battery_level"],
        }
        for r in sorted(top[: v.report_top_n], key=lambda r: _nulls_first(r["sensor_id"]))
    }
    overall = profile_overall_stats(df).first()
    metrics["overall_statistics"] = overall.asDict()
    passed = all(
        m["missing_percentage"] <= v.max_missing_percentage
        for m in metrics["missing_values_by_type"].values()
    ) and all(
        m["anomaly_percentage"] <= v.max_anomaly_percentage
        for m in metrics.get("anomalies_by_type", {}).values()
    )
    return passed, overall["total_records"], issues, metrics


def _ordered(obj):
    """Nested dicts as item lists, so == also compares key order."""
    if isinstance(obj, dict):
        return [(k, _ordered(v)) for k, v in obj.items()]
    if isinstance(obj, list):
        return [_ordered(v) for v in obj]
    return obj


@pytest.mark.parametrize(
    "case",
    ["base", "empty", "no_ranges", "no_anomaly_column", "null_keys", "zone_0530", "top_n_cap"],
)
def test_validate_equals_standalone_functions(spark, case):
    cfg = PipelineConfig()
    df = _battery_frame(spark, with_nulls=case in ("null_keys", "top_n_cap"))
    if case == "empty":
        df = df.limit(0)
    elif case == "no_ranges":
        cfg.ranges = {}
    elif case == "no_anomaly_column":
        df = df.drop("anomalous_reading")
    elif case == "zone_0530":
        cfg.validation.expected_frequency_hours = 2
    elif case == "top_n_cap":
        cfg.validation.report_top_n = 3
    zone = spark.conf.get("spark.sql.session.timeZone")
    if case == "zone_0530":
        spark.conf.set("spark.sql.session.timeZone", "+05:30")
    try:
        df = df.persist()
        got = validate(df, cfg)
        want = _standalone_result(df, cfg)
    finally:
        df.unpersist()
        spark.conf.set("spark.sql.session.timeZone", zone)
    assert (got.passed, got.total_records, got.issues_found) == want[:3]
    assert _ordered(got.quality_metrics) == _ordered(want[3])
    if case == "empty":
        assert got.issues_found == ["No data provided for validation"]
    if case == "top_n_cap":
        assert len(got.quality_metrics["sensor_coverage"]) == 3
        assert got.quality_metrics["sensors_analyzed"] == 4
        assert len(got.quality_metrics["significant_gaps"]) == 3
    if case not in ("empty", "no_ranges"):
        assert any("outside range" in i for i in got.issues_found)
        assert got.quality_metrics["total_missing_hours"] > 0


def test_validate_job_count_bound(spark):
    """The fused battery runs at most 12 Spark jobs on a persisted frame
    (it used to run 26: one or more per metric query)."""
    cfg = PipelineConfig()
    df = _battery_frame(spark).persist()
    sc = spark.sparkContext
    try:
        df.count()
        sc.setJobGroup("validate_job_bound", "validate() job count")
        try:
            res = validate(df, cfg)
        finally:
            sc.setJobGroup("", "")
        jobs = sc.statusTracker().getJobIdsForGroup("validate_job_bound")
    finally:
        df.unpersist()
    assert res.total_records == df.count()
    assert 0 < len(jobs) <= 12


def test_per_type_report_order_is_deterministic(spark):
    """Types tied on a percentage come out by name, every run, after the
    types with a higher percentage."""
    rows = [
        (f"s{k}", datetime(2023, 6, 1, h), rt, None if (rt == "wind" and h == 0) else 1.0,
         50.0, rt == "wind" and h == 1)
        for k in range(3)
        for h in range(4)
        for rt in ("temperature", "humidity", "wind", "pressure")
    ]
    df = spark.createDataFrame(rows, VSCHEMA).repartition(4)
    cfg = PipelineConfig()
    for _ in range(3):
        m = validate(df, cfg).quality_metrics
        assert list(m["missing_values_by_type"]) == ["wind", "humidity", "pressure", "temperature"]
        assert list(m["anomalies_by_type"]) == ["wind", "humidity", "pressure", "temperature"]
