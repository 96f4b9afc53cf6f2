"""Self-check harness mimicking the driver's correctness gate: run each
``__spark_entry__.queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet tables; compare row count, schema (column-name
set), and order-insensitive values.

Usage:
    python tools/check_correctness.py [--sf DIR] [-q NAME ...] [--list] [--raw]

``--raw`` sets every store escape hatch (``store_util.escape_hatches``), so
each query is computed from the source tables instead of a standing store.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Dtype-faithful canonical string frame (the driver's hash contract).

    Every cell becomes its pandas string rendering AFTER dtype coercion by
    the client library — so an int64 12345 is "12345" while a float64 12345.0
    is "12345.0". NO tolerance, NO int/float unification: a DuckDB HUGEINT
    that pandas renders as float64 must FAIL here, exactly as it fails the
    driver's strict value-hash (VERDICT r1 'what's wrong' #2)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    import hashlib

    h = hashlib.md5()
    for row in canonical(df).itertuples(index=False, name=None):
        h.update(("\x1f".join(row) + "\x1e").encode())
    return h.hexdigest()


def compare(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> tuple[bool, str]:
    if len(spark_df) != len(oracle_df):
        return False, f"row count {len(spark_df)} vs {len(oracle_df)}"
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return False, f"columns {sorted(spark_df.columns)} vs {sorted(oracle_df.columns)}"
    if value_hash(spark_df) == value_hash(oracle_df):
        return True, "ok"
    # hash mismatch — localize for diagnostics
    a, b = canonical(spark_df), canonical(oracle_df)
    for c in a.columns:
        av, bv = a[c], b[c]
        neq = av != bv
        if neq.any():
            bad = neq.idxmax()
            da = spark_df[[x for x in spark_df.columns if x == c][0]].dtype
            db = oracle_df[[x for x in oracle_df.columns if x == c][0]].dtype
            return False, (
                f"column {c} differs (spark {da} vs oracle {db}), e.g. row {bad}: "
                f"{av.iloc[bad]!r} vs {bv.iloc[bad]!r}"
            )
    return False, "value-hash mismatch (row ordering of ties?)"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("-q", "--query", action="append", default=None)
    ap.add_argument("--list", action="store_true")
    ap.add_argument("--json", default=None, help="write per-query results to this JSON file")
    ap.add_argument("--raw", action="store_true",
                    help="turn every standing store off (raw-mode check)")
    args = ap.parse_args()
    if args.raw:
        from satsure_agri_datapipeline_spark.sources.store_util import escape_hatches

        for name in escape_hatches():
            os.environ[name] = "none"

    import __spark_entry__ as entry

    queries = entry.queries()
    oracles = entry.oracle_sql()
    if args.list:
        for name in queries:
            print(f"{name:40s} oracle={'yes' if name in oracles else 'NO (rows-only)'}")
        return

    names = args.query or list(queries)

    from satsure_agri_datapipeline_spark.session import get_spark

    spark = get_spark(app_name="check_correctness", timezone="UTC")
    con = duckdb.connect()
    for t in TABLES:
        p = Path(args.sf) / f"{t}.parquet"
        if p.exists():
            # testdata tables are single parquet files; scaled corpora
            # (tools/make_scaled_sf.py) are directories of part files
            pat = f"{p}/**/*.parquet" if p.is_dir() else str(p)
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{pat}')"
            )

    n_pass = n_fail = n_rows_only = 0
    results: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        try:
            sdf = queries[name](spark, args.sf).toPandas()
            spark.catalog.clearCache()
        except Exception as exc:
            print(f"FAIL  {name:40s} spark error: {str(exc)[:200]}")
            results[name] = {"status": "fail", "why": f"spark error: {str(exc)[:200]}"}
            n_fail += 1
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"ROWS  {name:40s} rows={len(sdf)} cols={list(sdf.columns)} ({t_spark:.1f}s) [no oracle]")
            results[name] = {"status": "rows_only", "rows": len(sdf)}
            n_rows_only += 1
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as exc:
            print(f"FAIL  {name:40s} oracle error: {str(exc)[:200]}")
            results[name] = {"status": "fail", "why": f"oracle error: {str(exc)[:200]}"}
            n_fail += 1
            continue
        ok, why = compare(sdf, odf)
        if ok:
            print(f"MATCH {name:40s} rows={len(sdf)} ({t_spark:.1f}s)")
            results[name] = {"status": "match", "rows": len(sdf), "spark_sec": round(t_spark, 2)}
            n_pass += 1
        else:
            print(f"FAIL  {name:40s} {why}")
            results[name] = {"status": "fail", "why": why}
            n_fail += 1

    print(f"\n{n_pass} match, {n_fail} fail, {n_rows_only} rows-only of {len(names)}")
    if args.json:
        import json

        with open(args.json, "w") as fh:
            json.dump(
                {
                    "sf_dir": args.sf,
                    "match": n_pass,
                    "fail": n_fail,
                    "rows_only": n_rows_only,
                    "total": len(names),
                    "queries": results,
                },
                fh,
                indent=1,
            )
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
