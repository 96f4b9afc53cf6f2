"""Ad-hoc bench probe: run a named subset of catalog queries in one session
with config overrides, to isolate cross-query session effects (cache residue,
GC, python-worker reuse) from per-query plan cost.

Usage:
    python tools/bench_probe.py q1 q2 q1        # repeat names to re-measure
Env:
    SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
    PROBE_CONF           JSON dict of extra spark conf
    PROBE_CLEAR          "1" (default) clearCache between queries, "0" don't
    SPARK_GRAFT_DRIVER_MEM  driver heap (session.py default: 48g, capped at half the host memory)
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    extra = json.loads(os.environ.get("PROBE_CONF", "{}"))

    from satsure_agri_datapipeline_spark.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark(app_name="probe", timezone="UTC", extra_conf=extra)
    qs = entry_mod.queries()
    t_start = time.time()
    for i, name in enumerate(names):
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        print(f"# {i}:{name}: {time.time() - t0:.2f}s", flush=True)
        if os.environ.get("PROBE_CLEAR", "1") == "1":
            spark.catalog.clearCache()
    print(f"# total: {time.time() - t_start:.2f}s", flush=True)


if __name__ == "__main__":
    main()
