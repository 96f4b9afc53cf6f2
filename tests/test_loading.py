"""Read-back of the Hive-partitioned output: ``query_stored_data`` lists only
the partition directories its filters name when the writer's
``_storage_layout.json`` sidecar is present, and falls back to the full
listing when it is not."""

from datetime import date, datetime
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from satsure_agri_datapipeline_spark.operators.loading import (
    LAYOUT_FILE,
    query_stored_data,
    read_storage_layout,
    storage_stats,
    write_partitioned,
)

SCHEMA = "sensor_id string, timestamp timestamp, reading_type string, value double"
SENSORS = ["s1", "s2", "s3"]
DAYS = [date(2023, 6, 1), date(2023, 6, 2), date(2023, 6, 3)]


def _batch(spark, sensors, day, offset=0.0):
    rows = [
        (s, datetime(day.year, day.month, day.day, h), "temperature", offset + i * 10 + h)
        for i, s in enumerate(sensors)
        for h in range(3)
    ]
    return spark.createDataFrame(rows, SCHEMA).withColumn("date", F.to_date("timestamp"))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _files(df):
    """The files a frame reads, as ``date=…/sensor_id=…/part-…`` paths."""
    return {"/".join(Path(f).parts[-3:]) for f in df.inputFiles()}


def _stored_files(out, leaf="*/*"):
    return {str(p.relative_to(out)) for p in out.glob(f"{leaf}/*.parquet")}


def _full(spark, out, **filters):
    df = spark.read.parquet(str(out))
    for c, v in filters.items():
        df = df.where(F.col(c) == v)
    return df


@pytest.fixture
def stored(spark, tmp_path):
    """Three appended daily batches; the last one adds a sensor and re-sends
    an earlier day, so some partitions hold files from two writes."""
    out = tmp_path / "processed"
    write_partitioned(_batch(spark, SENSORS[:2], DAYS[0]), out)
    write_partitioned(_batch(spark, SENSORS[:2], DAYS[1]), out, mode="append")
    write_partitioned(_batch(spark, SENSORS, DAYS[2]), out, mode="append")
    write_partitioned(_batch(spark, ["s3"], DAYS[0], offset=100.0), out, mode="append")
    return out


@pytest.mark.parametrize(
    "filters",
    [
        {},
        {"sensor_id": "s1"},
        {"sensor_id": "s3"},
        {"date": "2023-06-01"},
        {"date": "2023-06-01", "sensor_id": "s3"},
    ],
)
def test_pruned_read_equals_full_read(spark, stored, filters):
    assert read_storage_layout(stored)["partition_by"] == ["date", "sensor_id"]
    df = query_stored_data(
        spark, stored, date_filter=filters.get("date"), sensor_filter=filters.get("sensor_id")
    )
    full = _full(spark, stored, **filters)
    assert df.schema == full.schema
    assert _rows(df) == _rows(full) and df.count() > 0

    # only files under the selected partition directories are read
    leaf = "/".join(
        f"{c}={filters[c]}" if c in filters else f"{c}=*" for c in ("date", "sensor_id")
    )
    expected = _stored_files(stored, leaf)
    assert _files(df) == expected
    if filters:
        assert len(expected) < len(_stored_files(stored))


def test_unmatched_filter_gives_empty_frame_with_schema(spark, stored):
    full_schema = spark.read.parquet(str(stored)).schema
    for kwargs in (
        {"sensor_filter": "nope"},
        {"date_filter": "2099-01-01"},
        {"date_filter": "2023-06-02", "sensor_filter": "s3"},
    ):
        df = query_stored_data(spark, stored, **kwargs)
        assert df.schema == full_schema
        assert df.count() == 0


def test_escaped_and_numeric_looking_ids(spark, tmp_path):
    ids = ["a/b", "k=v", "st*r", "{x}", "50%", "with space", "c:d", "[q]?", "123"]
    out = tmp_path / "processed"
    write_partitioned(_batch(spark, ids, DAYS[0]), out)
    for i, sid in enumerate(ids):
        df = query_stored_data(spark, out, sensor_filter=sid)
        got = _rows(df.select("sensor_id", "value"))
        assert got == [(sid, float(i * 10 + h)) for h in range(3)], sid
        assert len({Path(f).parent for f in df.inputFiles()}) == 1  # its directory only
        both = query_stored_data(spark, out, date_filter="2023-06-01", sensor_filter=sid)
        assert both.count() == 3

    # an all-numeric id set: inference over the directories would make
    # sensor_id an int ("007" → 7); the writer's schema keeps the string
    num = tmp_path / "numeric"
    write_partitioned(_batch(spark, ["007", "42"], DAYS[0]), num)
    df = query_stored_data(spark, num, sensor_filter="007")
    assert dict(df.dtypes)["sensor_id"] == "string"
    assert {r["sensor_id"] for r in df.collect()} == {"007"}
    assert dict(spark.read.parquet(str(num)).dtypes)["sensor_id"] == "int"


def test_without_sidecar_falls_back_to_full_listing(spark, stored):
    (stored / LAYOUT_FILE).unlink()
    df = query_stored_data(spark, stored, sensor_filter="s1")
    assert _rows(df) == _rows(_full(spark, stored, sensor_id="s1"))
    assert _files(df) == _stored_files(stored)  # the whole tree is listed
    # appending to a directory that has data but no sidecar records none
    write_partitioned(_batch(spark, ["s1"], DAYS[2], offset=50.0), stored, mode="append")
    assert read_storage_layout(stored) is None
    assert _rows(query_stored_data(spark, stored, sensor_filter="s1")) == _rows(
        _full(spark, stored, sensor_id="s1")
    )


def test_non_canonical_filter_value_falls_back(spark, stored):
    # "2023-6-1" casts to the 2023-06-01 partition but names no directory
    df = query_stored_data(spark, stored, date_filter="2023-6-1")
    assert _rows(df) == _rows(_full(spark, stored, date="2023-06-01"))
    assert df.count() == 9
    assert _files(df) == _stored_files(stored)  # the whole tree is listed


def test_sidecar_tracks_the_writer(spark, stored):
    layout = read_storage_layout(stored)
    assert [f["name"] for f in layout["schema"]["fields"]][-2:] == ["date", "sensor_id"]
    assert storage_stats(stored)["files_written"] == len(_stored_files(stored))
    # a write with another schema leaves a directory of mixed layouts
    other = _batch(spark, ["s9"], DAYS[1]).withColumn("extra", F.lit(1))
    write_partitioned(other, stored, mode="append")
    assert read_storage_layout(stored) is None
    assert _rows(query_stored_data(spark, stored, sensor_filter="s9").select("value")) == [
        (0.0,), (1.0,), (2.0,)
    ]


def test_write_spreads_over_shuffle_partitions_one_file_per_directory(spark, tmp_path):
    """A multi-directory batch is written by ``spark.sql.shuffle.partitions``
    tasks (AQE would coalesce a bare ``repartition(cols)`` of a small batch
    into one), and still as exactly one file per ``date=/sensor_id=``
    directory holding exactly the input rows."""
    sensors = [f"s{k}" for k in range(10)]
    batch = None
    for day in DAYS:
        part = _batch(spark, sensors, day, offset=day.day * 1000.0)
        batch = part if batch is None else batch.unionByName(part)
    out = tmp_path / "processed"
    sc = spark.sparkContext
    sc.setJobGroup("write_partitioned_tasks", "write_partitioned task count")
    try:
        write_partitioned(batch, out)
    finally:
        sc.setJobGroup("", "")
    tracker = sc.statusTracker()
    write_job = tracker.getJobInfo(max(tracker.getJobIdsForGroup("write_partitioned_tasks")))
    write_stage = tracker.getStageInfo(max(write_job.stageIds))
    assert write_stage.numTasks == int(spark.conf.get("spark.sql.shuffle.partitions")) > 1

    dirs = {}
    for f in _stored_files(out):
        d = str(Path(f).parent)
        dirs[d] = dirs.get(d, 0) + 1
    assert len(dirs) == len(DAYS) * len(sensors)
    assert set(dirs.values()) == {1}
    assert storage_stats(out)["files_written"] == len(dirs)
    assert _rows(spark.read.parquet(str(out)).select(*batch.columns)) == _rows(batch)
