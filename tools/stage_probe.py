"""Stage/task accounting for bench floor queries (VERDICT r4 task 1).

Runs each named query N times steady-state with the event log enabled, then
parses the log to report per-run job / stage / task counts and per-stage task
counts — ground truth (not `.explain`) for whether AQE
``coalescePartitions`` actually collapses the kB-sized shuffles of the
near-zero-work queries, or whether we are paying a 32-task scheduling floor
per stage.

Usage:
    python tools/stage_probe.py sensor_impute_median sensor_zscore_anomalies
    python tools/stage_probe.py --json doc_containment_pairs_stored
Env:
    SPARK_GRAFT_SF_DIR  data dir (default /root/testdata/sf0.1)
    PROBE_CONF          JSON dict of extra spark conf
    PROBE_RUNS          runs per query (default 3; last run is reported)

``--json`` additionally emits one machine-readable line per query
(``PROBE_JSON {"query": ..., "wall_sec": ..., "spill_mem_gib": ...}``,
last run) — the interface the spill-regression guard
(tests/test_spill_guard.py, r10 verdict task 8) parses, so the
measurement that caught the r10 wide-simhash degeneracy and demonstrated
the 1000× spill cliff runs on demand, not once.

Measurement-protocol fields (r12, verdict task 6 — the r11a/r11b
store-warm vs store-cold rep-pairs confusion, PERF.md): every PROBE_JSON
line records ``store_state`` (which standing stores for this sf_dir
actually exist at measurement time — serving hooks pick them up whether
or not PROBE_ENSURE requested them, which is exactly how the r11 rows
diverged), ``probe_ensure`` (what was requested), ``best_of`` (runs per
query; the reported run is the LAST one, i.e. steady-state), and
``fresh_process`` (always true here — one new JVM per invocation). PERF.md
scale rows quote these fields.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

EVDIR = "/tmp/spark-events-probe"


def stores_present(sf_dir: str) -> list[str]:
    """Standing-store kinds whose layout manifest points at ``sf_dir`` —
    the *_or_none serving hooks will pick these up regardless of
    PROBE_ENSURE, so they are part of the measurement protocol. Each is
    labelled with the values of its kind's ``StoreSpec.params`` (the
    registry in ``sources/store_util.STORE_MODULES``), e.g.
    ``pq(8/16/2/0)``; the fact-table layout has none."""
    import tempfile

    from satsure_agri_datapipeline_spark.sources.store_util import store_modules

    params_of = {mod.SPEC.kind: mod.SPEC.params for mod in store_modules()}
    sf_resolved = str(Path(sf_dir).resolve())
    found = set()
    for d in Path(tempfile.gettempdir()).glob("spark_graft_*"):
        if not d.is_dir():
            continue
        for mf in d.glob("_*manifest*.json"):
            try:
                m = json.loads(mf.read_text())
            except (OSError, json.JSONDecodeError):
                continue
            if m.get("sf_dir") == sf_resolved:
                # spark_graft_<kind>_<digest>
                kind = d.name[len("spark_graft_"):].rsplit("_", 1)[0]
                params = "/".join(
                    str(m[k]) for k in params_of.get(kind, ()) if k in m
                )
                found.add(f"{kind}({params})" if params else kind)
    return sorted(found)


def main() -> None:
    emit_json = "--json" in sys.argv[1:]
    names = [a for a in sys.argv[1:] if a != "--json"]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    extra = json.loads(os.environ.get("PROBE_CONF", "{}"))
    runs = int(os.environ.get("PROBE_RUNS", "3"))

    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)

    from satsure_agri_datapipeline_spark.session import get_spark

    import __spark_entry__ as entry_mod

    conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{EVDIR}",
        "spark.eventLog.compress": "false",
        "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": str(64 * 1024),
    }
    conf.update(extra)
    spark = get_spark(app_name="stage_probe", timezone="UTC", extra_conf=conf)
    sc = spark.sparkContext
    qs = entry_mod.queries()

    # PROBE_ENSURE=shingles,simhash,bands,digests — pre-ensure standing
    # stores (catalog default params) so the probed queries serve them
    # deterministically; ensure-time is NOT part of any measured group.
    for kind in filter(None, os.environ.get("PROBE_ENSURE", "").split(",")):
        if kind == "shingles":
            from satsure_agri_datapipeline_spark.sources.shingle_store import (
                ensure_shingle_store,
            )

            ensure_shingle_store(spark, sf_dir, n=3, unit="word", seed=0)
        elif kind == "shingles4":
            from satsure_agri_datapipeline_spark.sources.shingle_store import (
                ensure_shingle_store,
            )

            ensure_shingle_store(spark, sf_dir, n=4, unit="word", seed=0)
        elif kind == "shingles15":
            from satsure_agri_datapipeline_spark.sources.shingle_store import (
                ensure_shingle_store,
            )

            ensure_shingle_store(spark, sf_dir, n=15, unit="word", seed=0)
        elif kind == "bands":
            from satsure_agri_datapipeline_spark.sources.band_store import (
                ensure_band_store,
            )

            ensure_band_store(spark, sf_dir, num_hashes=16, band_size=4, n=3)
        elif kind == "simhash":
            from satsure_agri_datapipeline_spark.sources.simhash_store import (
                ensure_simhash_store,
            )

            ensure_simhash_store(spark, sf_dir, bits=32, n_bands=4)
        elif kind == "simhash60":
            from satsure_agri_datapipeline_spark.sources.simhash_store import (
                ensure_simhash_store,
            )

            ensure_simhash_store(spark, sf_dir, bits=60, n_bands=4)
        elif kind == "digests":
            from satsure_agri_datapipeline_spark.sources.digest_store import (
                ensure_digest_store,
            )

            ensure_digest_store(spark, sf_dir, subset="true")
        elif kind == "ivf":
            from satsure_agri_datapipeline_spark.sources.ivf_store import (
                ensure_ivf_store,
            )

            ensure_ivf_store(spark, sf_dir, k=8, iterations=2, seed=0)
        else:
            raise SystemExit(f"unknown PROBE_ENSURE kind: {kind}")

    # record the stores actually standing AFTER the ensures — the serving
    # hooks consult the layout dirs, not PROBE_ENSURE (protocol field, r12)
    store_state = stores_present(sf_dir)

    # warm up codegen/workers outside any measured group
    qs["sensor_global_stats"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    marks: dict[str, tuple[int, int]] = {}  # name -> (firstJobId, lastJobId)
    times: dict[str, list[float]] = {}
    for name in names:
        df = qs[name](spark, sf_dir)
        per = []
        for r in range(runs):
            sc.setJobGroup(f"{name}#{r}", name)
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            per.append(time.time() - t0)
        times[name] = per
    sc.setJobGroup("end", "end")
    spark.stop()

    # parse the single event-log file
    evfiles = [p for p in Path(EVDIR).rglob("*") if p.is_file() and "appstatus" not in p.name]
    jobs = []  # (group, jobId, stages:[{id,tasks,name}])
    stage_tasks: dict[int, int] = {}
    stage_names: dict[int, str] = {}
    job_rows = []
    # per-stage spill/shuffle sums from TaskEnd metrics — ground truth for
    # "is this super-linearity memory pressure?" (VERDICT r9 task 3)
    stage_spill_mem: dict[int, int] = {}
    stage_spill_disk: dict[int, int] = {}
    stage_shuffle_write: dict[int, int] = {}
    stage_shuffle_read: dict[int, int] = {}
    for f in evfiles:
        for line in f.read_text().splitlines():
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerStageSubmitted":
                si = ev["Stage Info"]
                stage_tasks[si["Stage ID"]] = si["Number of Tasks"]
                stage_names[si["Stage ID"]] = si["Stage Name"].split()[0]
            elif e == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "?")
                sids = [s["Stage ID"] for s in ev.get("Stage Infos", [])]
                job_rows.append((group, ev["Job ID"], sids))
            elif e == "SparkListenerTaskEnd":
                sid = ev.get("Stage ID")
                tm = ev.get("Task Metrics") or {}
                stage_spill_mem[sid] = stage_spill_mem.get(sid, 0) + tm.get(
                    "Memory Bytes Spilled", 0
                )
                stage_spill_disk[sid] = stage_spill_disk.get(sid, 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                sw = tm.get("Shuffle Write Metrics") or {}
                stage_shuffle_write[sid] = stage_shuffle_write.get(sid, 0) + sw.get(
                    "Shuffle Bytes Written", 0
                )
                sr = tm.get("Shuffle Read Metrics") or {}
                stage_shuffle_read[sid] = (
                    stage_shuffle_read.get(sid, 0)
                    + sr.get("Local Bytes Read", 0)
                    + sr.get("Remote Bytes Read", 0)
                )

    per_group: dict[str, dict] = {}
    for group, jid, sids in job_rows:
        g = per_group.setdefault(
            group,
            {
                "jobs": 0, "stages": 0, "tasks": 0, "detail": [],
                "spill_mem": 0, "spill_disk": 0, "shw": 0, "shr": 0,
            },
        )
        g["jobs"] += 1
        # AQE submits stages lazily; count only stages that actually ran
        ran = [s for s in sids if s in stage_tasks]
        g["stages"] += len(ran)
        for s in ran:
            g["tasks"] += stage_tasks[s]
            g["spill_mem"] += stage_spill_mem.get(s, 0)
            g["spill_disk"] += stage_spill_disk.get(s, 0)
            g["shw"] += stage_shuffle_write.get(s, 0)
            g["shr"] += stage_shuffle_read.get(s, 0)
            g["detail"].append(f"{stage_names.get(s,'?')}:{stage_tasks[s]}")

    gib = 1024**3
    for name in names:
        for r in range(runs):
            g = per_group.get(f"{name}#{r}", {})
            print(
                f"{name} run{r}: {times[name][r]:.3f}s jobs={g.get('jobs',0)} "
                f"stages={g.get('stages',0)} tasks={g.get('tasks',0)} "
                f"spill_mem={g.get('spill_mem',0)/gib:.2f}GiB "
                f"spill_disk={g.get('spill_disk',0)/gib:.2f}GiB "
                f"shuffle_w={g.get('shw',0)/gib:.2f}GiB "
                f"shuffle_r={g.get('shr',0)/gib:.2f}GiB "
                f"[{' '.join(g.get('detail',[]))}]"
            )
        if emit_json:
            # PROBE_REPORT=first reports run 0 — for queries whose operator
            # persists mid-pipeline state (curation), steady-state runs
            # serve the cache and hide a lost-persist diamond re-execution;
            # run 0 is where that regression multiplies bytes (r13 task 8).
            rep = 0 if os.environ.get("PROBE_REPORT") == "first" else runs - 1
            g = per_group.get(f"{name}#{rep}", {})
            print(
                "PROBE_JSON "
                + json.dumps(
                    {
                        "query": name,
                        "wall_sec": round(times[name][rep], 3),
                        "spill_mem_gib": round(g.get("spill_mem", 0) / gib, 3),
                        "spill_disk_gib": round(g.get("spill_disk", 0) / gib, 3),
                        "shuffle_w_gib": round(g.get("shw", 0) / gib, 3),
                        "shuffle_r_gib": round(g.get("shr", 0) / gib, 3),
                        "tasks": g.get("tasks", 0),
                        # whole-process totals (every job group, including
                        # plan-construction jobs that run outside any group
                        # — curation's CC collect lives there): the
                        # end-to-end zero-spill claims are process-level
                        "total_spill_gib": round(
                            (sum(stage_spill_mem.values())
                             + sum(stage_spill_disk.values())) / gib, 3),
                        "total_shuffle_w_gib": round(
                            sum(stage_shuffle_write.values()) / gib, 3),
                        # measurement protocol (r12, verdict task 6)
                        "store_state": store_state or ["cold"],
                        "probe_ensure": os.environ.get("PROBE_ENSURE", ""),
                        "best_of": runs,
                        "report": "first" if rep == 0 else "last",
                        "fresh_process": True,
                    }
                ),
                flush=True,
            )


if __name__ == "__main__":
    main()
