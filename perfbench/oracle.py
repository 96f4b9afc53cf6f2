"""Output checks against computations independent of the package.

ETL counts come from DuckDB over the generated raw files and from pyarrow
over the written dataset; curation survivors from the catalog's DuckDB
oracle over the grown corpus; brute-force cosine top-k from numpy. Each
check returns a list of problems; an empty list means the output is right.
"""

from __future__ import annotations

from pathlib import Path

import duckdb
import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

# transform(): dedup over all columns, drop null critical fields, then
# z-score (population std, per reading_type, over the pipeline run's batch)
# OR the config's value range, per (sensor_id, reading_type).
_EXPECTED_COUNTS_SQL = """
WITH d AS (
    SELECT DISTINCT sensor_id, "timestamp", reading_type, value, battery_level
    FROM read_parquet({files})
),
c AS (
    SELECT * FROM d
    WHERE sensor_id IS NOT NULL AND "timestamp" IS NOT NULL
      AND reading_type IS NOT NULL AND value IS NOT NULL
),
st AS (
    SELECT reading_type, avg(value) AS m, stddev_pop(value) AS s, count(value) AS n
    FROM c GROUP BY reading_type
)
SELECT sensor_id, reading_type, count(*) AS n_rows,
       sum(CASE WHEN (st.n > 1 AND st.s > 0 AND abs((value - st.m) / st.s) > 3.0)
                  OR (reading_type = 'temperature' AND (value < -10 OR value > 60))
                  OR (reading_type = 'humidity' AND (value < 0 OR value > 100))
                THEN 1 ELSE 0 END) AS n_anomalies
FROM c JOIN st USING (reading_type)
GROUP BY sensor_id, reading_type
"""


def expected_sensor_counts(batches: list[list[Path]]) -> dict[tuple[str, str], tuple[int, int]]:
    """Rows and anomalies per (sensor_id, reading_type) after running each
    batch (the files one pipeline run accepted) through the pipeline."""
    out: dict[tuple[str, str], list[int]] = {}
    with duckdb.connect() as con:
        for files in batches:
            sql = _EXPECTED_COUNTS_SQL.format(
                files="[" + ", ".join(f"'{f}'" for f in files) + "]")
            for s, t, n, a in con.execute(sql).fetchall():
                acc = out.setdefault((s, t), [0, 0])
                acc[0] += int(n)
                acc[1] += int(a)
    return {k: (v[0], v[1]) for k, v in out.items()}


def stored_sensor_counts(processed_dir: Path) -> dict[tuple[str, str], tuple[int, int]]:
    dataset = ds.dataset(str(processed_dir), format="parquet", partitioning="hive",
                         exclude_invalid_files=True)
    table = dataset.to_table(columns=["sensor_id", "reading_type", "anomalous_reading"])
    out: dict[tuple[str, str], list[int]] = {}
    sensors = table.column("sensor_id").to_pylist()
    types = table.column("reading_type").to_pylist()
    flags = table.column("anomalous_reading").to_pylist()
    for s, t, a in zip(sensors, types, flags):
        acc = out.setdefault((str(s), t), [0, 0])
        acc[0] += 1
        acc[1] += bool(a)
    return {k: (v[0], v[1]) for k, v in out.items()}


def check_etl(expected: dict, processed_dir: Path, records_processed: int,
              gate_rejected: dict[str, str], bad_files: dict[str, str]) -> list[str]:
    problems = []
    got = stored_sensor_counts(processed_dir)
    if got != expected:
        diff = sorted(k for k in set(got) | set(expected) if got.get(k) != expected.get(k))
        problems.append(f"per-(sensor, type) rows/anomalies differ for {diff[:5]} "
                        f"(stored {[got.get(k) for k in diff[:5]]}, "
                        f"expected {[expected.get(k) for k in diff[:5]]})")
    total = sum(n for n, _ in expected.values())
    if records_processed != total:
        problems.append(f"records_processed {records_processed} != expected {total}")
    rejected = {Path(p).name: reason for p, reason in gate_rejected.items()}
    if set(rejected) != set(bad_files):
        problems.append(f"gate rejected {sorted(rejected)}, expected {sorted(bad_files)}")
    reasons = {"missing_columns": "missing columns", "extra_columns": "extra columns",
               "wrong_types": "incompatible type"}
    for name, variant in bad_files.items():
        if reasons[variant] not in rejected.get(name, reasons[variant]):
            problems.append(f"{name} rejected for {rejected[name]!r}, expected {variant}")
    return problems


def check_curation(corpus_dir: Path, kept_ids: list[int]) -> list[str]:
    """Survivor id set against ``oracle_sql()["doc_curation_pipeline"]``
    over a view of the corpus's documents."""
    import __spark_entry__

    sql = __spark_entry__.oracle_sql()["doc_curation_pipeline"]
    parts = sorted((corpus_dir / "documents.parquet").glob("*.parquet"))
    with duckdb.connect() as con:
        con.execute(
            "CREATE VIEW documents AS SELECT doc_id, text, lang, source, n_chars "
            "FROM read_parquet([" + ", ".join(f"'{p}'" for p in parts) + "])"
        )
        expected = [r[0] for r in con.execute(sql).fetchall()]
    if sorted(kept_ids) != expected:
        missing = sorted(set(expected) - set(kept_ids))
        extra = sorted(set(kept_ids) - set(expected))
        return [f"curation survivors differ: {len(missing)} missing (e.g. {missing[:5]}), "
                f"{len(extra)} extra (e.g. {extra[:5]})"]
    return []


class CosineOracle:
    """Exact cosine top-k over the embedding table, in float64 numpy."""

    def __init__(self, emb_path: Path):
        t = pq.read_table(emb_path, columns=["vec_id", "embedding"])
        self.ids = t.column("vec_id").to_numpy()
        flat = t.column("embedding").combine_chunks().flatten().to_numpy()
        v = flat.reshape(len(self.ids), -1).astype(np.float64)
        self.unit = v / np.linalg.norm(v, axis=1, keepdims=True)
        self.row = {int(i): r for r, i in enumerate(self.ids)}

    def check(self, query_id: int, got: list[tuple[int, float]], k: int) -> list[str]:
        """``got`` is the (vec_id, rounded cosine) list the engine returned.
        Scores may differ from numpy in the last bits (summation order), so
        ids and scores are compared with a 2e-6 tolerance: every returned
        score must match its vector's true score, and nothing left out may
        beat the lowest returned score."""
        sims = self.unit @ self.unit[self.row[query_id]]
        sims[self.row[query_id]] = -np.inf
        order = np.argsort(-sims, kind="stable")
        tol = 2e-6
        problems = []
        if len(got) != min(k, len(self.ids) - 1):
            problems.append(f"query {query_id}: {len(got)} rows, expected {k}")
        for vid, score in got:
            true = sims[self.row[int(vid)]]
            if abs(true - score) > tol:
                problems.append(f"query {query_id}: vec {vid} score {score} != {true:.6f}")
        if got:
            floor = min(score for _, score in got)
            returned = {int(v) for v, _ in got}
            better = [int(self.ids[r]) for r in order[: k + 1]
                      if int(self.ids[r]) not in returned and sims[r] > floor + tol]
            if better:
                problems.append(f"query {query_id}: missed closer vectors {better}")
        return problems
