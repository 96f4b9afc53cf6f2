"""Alternating race: barrier before doc_ngram_jaccard's final ORDER BY.

The committed plan is shingle-store self-join → partial agg → Exchange →
final HashAggregate (pair counts) → jaccard filter → Exchange(range) →
Sort. The range exchange's bounds sampler executes its child fully — i.e.
the FINAL AGGREGATE over every candidate pair (shuffle fetch + hash merge)
runs twice per action. The post-threshold result is small, so a hash
barrier between the filter and the sort trades one re-execution of the
candidate-pair merge for one tiny shuffle of the surviving pairs.

Same race discipline as the simhash_pairs sort-barrier race recorded in
plans/r14/s2_race_sort_sf01.txt (which REFUTED the same barrier there,
where the sort payload IS the expensive part).

Usage: python tools/race_ngram_sortbarrier.py [--sf DIR] [--rounds N]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--rounds", type=int, default=7)
    args = ap.parse_args()

    from satsure_agri_datapipeline_spark.operators.dedup import (
        jaccard_pairs_from_exploded,
    )
    from satsure_agri_datapipeline_spark.session import get_spark
    from satsure_agri_datapipeline_spark.sources.shingle_store import (
        ensure_shingle_store,
    )

    spark = get_spark(
        app_name="race_ngram_sortbarrier", timezone="UTC", data_dir=args.sf
    )
    store = ensure_shingle_store(spark, args.sf, n=3, unit="word", seed=0)
    pairs = jaccard_pairs_from_exploded(store, 0.5)
    disp = pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    a = disp.orderBy("id_a", "id_b")
    b = disp.repartition(F.col("id_a"), F.col("id_b")).orderBy("id_a", "id_b")

    def sig(df):
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64("id_a", "id_b", "jaccard").cast("decimal(38,0)")
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    sa, sb = sig(a), sig(b)
    assert sa == sb, f"variants disagree: {sa} {sb}"
    print(f"row multisets identical (n={sa[0]})")

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    run(a)
    run(b)
    times = {"A orderBy        ": [], "B barrier+orderBy": []}
    for _ in range(args.rounds):
        t0 = time.time()
        run(a)
        times["A orderBy        "].append(round(time.time() - t0, 3))
        t0 = time.time()
        run(b)
        times["B barrier+orderBy"].append(round(time.time() - t0, 3))
    for k, ts in times.items():
        print(f"{k} best={min(ts):.3f} {ts}")


if __name__ == "__main__":
    main()
