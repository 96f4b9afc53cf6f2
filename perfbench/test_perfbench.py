"""The benchmark's own tests: generators, output checks, and a smoke run of
every workload (tiny inputs, output checks on, tracing on).

    python3 -m pytest perfbench -q

The smoke runs start one Spark session each (about a minute apiece).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402


def _run(args, cwd=ROOT, timeout=600, env=None):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout, env=env)


def test_sensor_days_are_seeded_per_day(tmp_path):
    a = gen.write_sensor_days(tmp_path / "a", 5, 3, 5, hot_share=0.35)
    b = gen.write_sensor_days(tmp_path / "b", 5, 1, 5, hot_share=0.35, first_day=2)
    c = gen.write_sensor_days(tmp_path / "c", 6, 3, 5, hot_share=0.35)
    assert pq.read_table(a[2]).equals(pq.read_table(b[0]))
    assert not pq.read_table(a[0]).equals(pq.read_table(c[0]))
    t = pq.read_table(a[0])
    assert t.schema.field("timestamp").type == pa.timestamp("ns")
    sensors = t.column("sensor_id").to_pylist()
    assert 0.25 < sensors.count("sensor_5") / len(sensors) < 0.45


def test_bad_schema_files_are_rejected_by_the_gate(tmp_path):
    from satsure_agri_datapipeline_spark.config import PipelineConfig
    from satsure_agri_datapipeline_spark.sources.parquet import validate_file_schema

    cfg = PipelineConfig()
    bad = gen.write_bad_schema_files(tmp_path, 1, after_day=0)
    for name in bad:
        ok, reason, _ = validate_file_schema(tmp_path / name, cfg.schema_.expected_columns,
                                             cfg.schema_.types)
        assert not ok and reason


def test_corpus_is_seeded_and_planted(tmp_path):
    pool_a, stats = gen.write_corpus(tmp_path / "a", 3, 400)
    pool_b, _ = gen.write_corpus(tmp_path / "b", 3, 400)
    assert pool_a == pool_b and stats["rows"] == 800
    texts = list(pool_a.texts.values())
    folded = [t.strip().lower() for t in texts]
    assert len(set(folded)) < len(folded)  # exact duplicates, some re-cased
    emb = pq.read_table(tmp_path / "a" / "embeddings.parquet")
    assert emb.schema.equals(gen.EMB_SCHEMA)


def test_etl_check_reports_wrong_counts(tmp_path):
    files = gen.write_sensor_days(tmp_path / "raw", 2, 2, 3)
    expected = oracle.expected_sensor_counts([files])
    # a "written" dataset that lost one row of one (sensor, type)
    out = tmp_path / "processed"
    key = sorted(expected)[0]
    rows = []
    for (s, t), (n, a) in expected.items():
        n -= (s, t) == key
        rows += [(s, t, i < a) for i in range(n)]
    for s in {r[0] for r in rows}:
        part = [r for r in rows if r[0] == s]
        d = out / "date=2023-06-01" / f"sensor_id={s}"
        d.mkdir(parents=True)
        pq.write_table(pa.table({"reading_type": [r[1] for r in part],
                                 "anomalous_reading": [r[2] for r in part]}),
                       d / "part-0.parquet")
    total = sum(n for n, _ in expected.values())
    problems = oracle.check_etl(expected, out, total, {}, {})
    assert problems and str(key[0]) in problems[0]
    assert oracle.check_etl(expected, out, total + 1, {}, {})


def test_cosine_oracle_rejects_a_wrong_top_k(tmp_path):
    t = gen.embeddings_table(np.random.default_rng(0), 50)
    pq.write_table(t, tmp_path / "e.parquet")
    cos = oracle.CosineOracle(tmp_path / "e.parquet")
    sims = cos.unit @ cos.unit[0]
    order = [int(i) for i in np.argsort(-sims) if i != 0][:5]
    right = [(i, round(float(sims[i]), 6)) for i in order]
    assert cos.check(0, right, 5) == []
    wrong = right[:4] + [(order[-1] + 100 if order[-1] + 100 < 50 else 49, 0.0)]
    assert cos.check(0, wrong, 5)


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    proc = _run(["--workload", "etl_incremental", "--seed", "1", "--seconds", "1",
                 "--trace", "0"], cwd=tmp_path, timeout=120)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_benchmark_json_matches_the_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER


@pytest.mark.parametrize("workload,trace", [
    ("etl_incremental", 0), ("etl_incremental", 1), ("corpus", 0), ("corpus", 1),
])
def test_smoke_run(workload, trace):
    # settings the caller exported must not reach the session
    env = {**os.environ, "SPARK_GRAFT_CPUS": "7", "SPARK_GRAFT_SHUFFLE_PARTITIONS": "9"}
    proc = _run(["--workload", workload, "--seed", "3", "--seconds", "1",
                 "--trace", str(trace), "--smoke"], env=env)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    names = workloads.PER_LAYER if trace else workloads.END_TO_END
    assert set(result["metrics"]) == set(names)
    assert all(isinstance(m["value"], float) for m in result["metrics"].values())
    record = json.loads(lines[-2].removeprefix("perfbench-record "))
    assert record["spark_conf"]["spark.master"] == f"local[{os.cpu_count()}]"
    assert record["spark_conf"]["spark.sql.shuffle.partitions"] == str(os.cpu_count())
    assert set(record["settings"]) == {"SPARK_GRAFT_CPUS", "SPARK_LOCAL_DIRS"}
    if trace:
        assert [o["traced"] for o in record["ops"][:3]] == [False, True, False]
    else:
        assert all(m["value"] > 0 for m in result["metrics"].values())
