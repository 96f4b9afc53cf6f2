"""The benchmark's workloads, driven through the package's public functions.

Each workload has inputs generated from the seed (not timed), a set-up
(the session and the state the loop starts from, timed as ``setup_s``) and
a closed loop of operations with one client: the next operation starts
when the previous one has finished, until ``--seconds`` have passed and a
fixed number of operations has run. The end-to-end figures come from that
fixed number of first operations, whatever the program's speed.

- ``etl_incremental``: the set-up runs the batch pipeline once, in the
  fresh session, over a two-week history (5 sensors, one of them ~35 % of
  rows, 15-minute cadence, one file per day, plus three bad-schema files
  the gate must reject); that run seeds the standing output. An operation
  then drops the next day's file for 100 sensors into the raw directory
  and calls ``run_pipeline`` in the reference's incremental mode (file
  checkpoint, append) against the growing standing output, then reads
  four seeded sensors' rows back with ``query_stored_data``.
- ``corpus``: the set-up builds the standing stores cold over a generated
  corpus with embeddings (shingles n=3 and n=4, token stats, bands, IVF, PQ,
  IVF-PQ). An operation streams one document drop through
  ``run_streaming_document_ingest`` with the band, shingle and token-stats
  stores maintained, curates the grown corpus with ``curate_corpus``
  served from the shingle stores, then sends two rounds of top-k requests,
  one of each retrieval kind (BM25, brute-force cosine, IVF ANN, co-located
  IVF-PQ, PQ ADC, hybrid RRF) per round with seeded query ids and terms,
  each after the store freshness check it needs.

With ``--trace 1`` the loop alternates untraced and traced operations;
the per-layer figures come from the traced ones and
``trace.span_overhead_ratio`` compares the two kinds. In a traced run the
ETL operations call ``run_pipeline``'s stage functions in its order (each
inside a span when the operation is traced), so both kinds do the same
work.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

import gen
import oracle
from spans import (
    GROUP_PREFIX, SPARK_COUNTERS, RssSampler, Tracer, attribute_jobs, parse_event_log,
    spark_conf_for_event_log, subtree_counters, tree_cpu_seconds,
)

# "ops": operations the end-to-end figures are taken from (the loop runs
# at least that many)
SIZES = {
    "full": {
        "history_days": 14, "history_sensors": 5, "inc_sensors": 100,
        "docs": 1000, "drop_docs": 100, "etl_ops": 2, "corpus_ops": 1,
    },
    "smoke": {
        "history_days": 2, "history_sensors": 5, "inc_sensors": 8,
        "docs": 200, "drop_docs": 30, "etl_ops": 1, "corpus_ops": 1,
    },
}
ETL_READS = 4  # query_stored_data requests per ETL operation
REQUEST_ROUNDS = 2  # top-k requests of each kind per corpus operation

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "cpu_s": "s", "rows_per_s": "rows/s",
    "query_ms": "ms", "stored_bytes_per_input_byte": "ratio",
}

RETRIEVAL_PATHS = {
    "bm25": "operators.text.bm25_topk",
    "brute": "operators.similarity.brute_force_topk_to",
    "ivf": "sources.ivf_store.ann_topk_from_store",
    "ivfpq": "sources.ivfpq_store.ivfpq_topk_from_lists",
    "pq": "operators.similarity.pq_topk_adc",
    "hybrid": "operators.similarity.hybrid_rrf_topk",
}
# the top-level spans of the measured loops; "retrieval" is every read
# request (top-k requests, and the ETL workload's reads of its output)
TOP_SPANS = {
    "plans.pipeline": ("plans.pipeline",),
    "streaming.ingest": ("streaming.ingest",),
    "plans.curation": ("plans.curation",),
    "retrieval": (*RETRIEVAL_PATHS.values(), "operators.loading.query_stored_data"),
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.parquet.gate_s": "s",
    "sources.parquet.files_scanned": "count",
    "sources.parquet.files_rejected": "count",
    "sources.checkpoint.s": "s",
    "operators.transformation.s": "s",
    "operators.transformation.counters_s": "s",
    "operators.transformation.rows_in": "rows",
    "operators.transformation.rows_out": "rows",
    "operators.validation.s": "s",
    "operators.validation.jobs": "count",
    "operators.report.s": "s",
    "operators.loading.write_s": "s",
    "operators.loading.files_written": "count",
    "operators.loading.bytes_written": "bytes",
    "operators.loading.stats_s": "s",
    "operators.loading.query_ms": "ms",
    "plans.pipeline.s": "s",
    "plans.pipeline.self_s": "s",
    "backfill.plans.pipeline.s": "s",
    "backfill.operators.transformation.s": "s",
    "backfill.operators.validation.s": "s",
    "backfill.operators.loading.write_s": "s",
    "backfill.sources.parquet.files_rejected": "count",
    "sources.shingle_store.build_s": "s",
    "sources.shingle_store.append_s": "s",
    "sources.shingle_store.ensure_fresh_s": "s",
    "sources.shingle_store.bytes": "bytes",
    "sources.token_stats_store.build_s": "s",
    "sources.token_stats_store.append_s": "s",
    "sources.token_stats_store.ensure_fresh_s": "s",
    "sources.band_store.build_s": "s",
    "sources.band_store.append_s": "s",
    "sources.ivf_store.build_s": "s",
    "sources.ivf_store.ensure_fresh_s": "s",
    "sources.pq_store.build_s": "s",
    "sources.pq_store.ensure_fresh_s": "s",
    "sources.ivfpq_store.build_s": "s",
    "sources.ivfpq_store.ensure_fresh_s": "s",
    "sources.stores.rebuilds": "count",
    "streaming.ingest.s": "s",
    "streaming.ingest.self_s": "s",
    "streaming.ingest.batches": "count",
    "streaming.ingest.batch_p50_ms": "ms",
    "streaming.ingest.planning_ms": "ms",
    "plans.curation.s": "s",
    "plans.curation.jobs": "count",
    "plans.curation.docs_in": "rows",
    "plans.curation.docs_kept": "rows",
    **{f"{p}.{m}": u for p in RETRIEVAL_PATHS.values()
       for m, u in (("construct_ms", "ms"), ("execute_ms", "ms"), ("jobs", "count"))},
    **{f"spark.{c}": ("bytes" if c.endswith("bytes") else "ms" if c.endswith("ms") else "count")
       for c in SPARK_COUNTERS},
    **{f"spark.{s}.{c}": ("bytes" if c.endswith("bytes") else "ms" if c.endswith("ms") else "count")
       for s in TOP_SPANS for c in SPARK_COUNTERS},
    "trace.span_overhead_ratio": "ratio",
    "process.peak_rss_mb": "MB",
}


@dataclass
class Result:
    metrics: dict = field(default_factory=dict)
    record: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)


class Bench:
    """State shared by a workload's set-up, loop and report."""

    def __init__(self, args, run_id: str, work: Path):
        self.args = args
        self.work = work
        self.size = SIZES["smoke" if args.smoke else "full"]
        self.trace = bool(args.trace)
        self.tracer = Tracer(self.trace, run_id)
        self.result = Result()
        self.ops: list[dict] = []  # one entry per operation run
        self.measured = 1  # the first this many ops give the end-to-end figures
        self.stored_ratio = None  # taken after the last measured op
        self.setup: dict = {}
        self.spark = None
        self.layer_ops: list[dict] = []  # per traced ETL op: counts by layer
        self.backfill_layer: dict = {}
        self.corpus_state: dict = {}
        self.loadavg_start = _loadavg()

    # ---- session and set-up ---------------------------------------------

    def start_spark(self) -> None:
        from satsure_agri_datapipeline_spark import get_spark

        extra = spark_conf_for_event_log(self.work / "eventlog") if self.trace else None
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(extra_conf=extra)
        self.setup["get_spark_s"] = time.perf_counter() - t0
        self.tracer.sc = self.spark.sparkContext if self.trace else None

    def generate(self, make):
        """Write the seeded inputs; not part of any timed figure."""
        t0 = time.perf_counter()
        out = make(self.work / "inputs")
        self.setup["generate_s"] = time.perf_counter() - t0
        return out

    def prepare(self, fn) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("setup"):
            fn()
        self.setup["prepare_s"] = time.perf_counter() - t0

    # ---- loop -----------------------------------------------------------

    @contextmanager
    def timed(self):
        """The measured part of an operation: wall and process-tree CPU
        seconds, left in ``self.last`` (output checks stay outside)."""
        c0, t0 = tree_cpu_seconds(), time.perf_counter()
        yield
        self.last = {"seconds": time.perf_counter() - t0,
                     "cpu_s": tree_cpu_seconds() - c0}

    def loop(self, op, measured: int) -> None:
        """Closed loop until ``--seconds`` have passed and at least
        ``measured`` operations have run; the end-to-end figures come from
        the first ``measured`` only, so a faster program changes the
        figures, not which operations they are taken from. ``op(i,
        traced)`` times its measured part with :meth:`timed` and returns
        (rows, problems, request times in ms). With tracing, operations
        alternate untraced / traced and at least three run, so that a
        traced operation has a warm untraced one after it."""
        self.measured = measured
        need = max(measured, 3) if self.trace else measured
        t_end = time.perf_counter() + self.args.seconds
        i = 0
        while i < need or time.perf_counter() < t_end:
            traced = self.trace and i % 2 == 1
            self.tracer.enabled = traced
            try:
                rows, problems, requests_ms = op(i, traced)
            except Exception as exc:  # one failed op ends the loop
                self.tracer.enabled = self.trace
                self.result.attempted += 1
                self.result.failed += 1
                self.result.problems.append(f"op {i} raised {type(exc).__name__}: {exc}")
                return
            self.tracer.enabled = self.trace
            self.ops.append({**self.last, "rows": rows, "traced": traced,
                             "requests_ms": requests_ms})
            self.result.attempted += 1
            if problems:
                self.result.failed += 1
                self.result.problems.extend(problems)
            i += 1

    # ---- report ---------------------------------------------------------

    def finish(self, extra_record: dict) -> Result:
        r = self.result
        ops = self.ops[:self.measured]
        secs = [o["seconds"] for o in ops]
        setup_s = self.setup["get_spark_s"] + self.setup["prepare_s"]
        record = {
            "workload": self.args.workload, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "smoke": self.args.smoke, "setup": self.setup,
            "ops": self.ops, "measured_ops": len(ops),
            "problems": r.problems[:20],
            "host": {"nproc": os.cpu_count(), "loadavg_end": _loadavg(),
                     "loadavg_start": self.loadavg_start},
            "settings": {k: v for k, v in sorted(os.environ.items())
                         if k.startswith("SPARK_GRAFT_") or k == "SPARK_LOCAL_DIRS"},
            "spark_conf": dict(sorted(self.spark.sparkContext.getConf().getAll())),
            **extra_record,
        }
        if len(ops) == self.measured:
            r.metrics = {
                "setup_s": setup_s,
                "wall_s": statistics.median(secs),
                "cpu_s": statistics.median(o["cpu_s"] for o in ops),
                "rows_per_s": sum(o["rows"] for o in ops) / sum(secs),
                # the mean request of an operation, median over operations
                "query_ms": statistics.median(statistics.mean(o["requests_ms"]) for o in ops),
                "stored_bytes_per_input_byte": self.stored_ratio,
            }
        record["setup_s"] = setup_s
        r.record = record
        return r


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _du(paths) -> int:
    total = 0
    for p in paths:
        p = Path(p)
        if p.is_file():
            total += p.stat().st_size
        elif p.is_dir():
            total += sum(f.stat().st_size for f in p.rglob("*") if f.is_file())
    return total


def _pipeline_config(base: Path, raw_dir: Path, incremental: bool, mode: str):
    from satsure_agri_datapipeline_spark.config import (
        IngestionConfig, PipelineConfig, WriteConfig,
    )

    cfg = PipelineConfig().resolve_paths(base)
    return cfg.model_copy(update={
        "paths": cfg.paths.model_copy(update={"data_raw": str(raw_dir)}),
        "ingestion": IngestionConfig(incremental_mode=incremental,
                                     checkpoint_file=str(base / "data" / ".checkpoint")),
        "write": WriteConfig(mode=mode),
    })


# --------------------------------------------------------------------------
# ETL: untraced op = run_pipeline; traced op = its stage functions in order


def traced_pipeline(b: Bench, cfg, prev_stats: dict | None) -> tuple[object, dict]:
    """``plans.pipeline.run_pipeline``'s sequence with a span around each
    stage call. The persisted transform is executed (counted) inside the
    transformation span, so later spans read it from the cache."""
    from pyspark.storagelevel import StorageLevel
    from satsure_agri_datapipeline_spark.operators.loading import (
        prepare_for_storage, storage_stats, write_partitioned, write_validation_metadata,
    )
    from satsure_agri_datapipeline_spark.operators.report import write_quality_report
    from satsure_agri_datapipeline_spark.operators.transformation import (
        stage_counters, transform,
    )
    from satsure_agri_datapipeline_spark.operators.validation import validate
    from satsure_agri_datapipeline_spark.plans.pipeline import PipelineResult
    from satsure_agri_datapipeline_spark.sources.checkpoint import FileCheckpoint
    from satsure_agri_datapipeline_spark.sources.parquet import (
        discover_files, read_sensor_parquet,
    )

    t = b.tracer
    layer: dict = {}
    result = PipelineResult(success=False, records_processed=0)
    with t.span("plans.pipeline"):
        files = discover_files(cfg.paths.data_raw)
        ckpt = None
        if cfg.ingestion.incremental_mode:
            with t.span("sources.checkpoint"):
                ckpt = FileCheckpoint(cfg.ingestion.checkpoint_file)
                files = ckpt.filter_new(files)
        with t.span("sources.parquet.gate"):
            df, gate = read_sensor_parquet(b.spark, cfg.paths.data_raw,
                                           cfg.schema_.expected_columns,
                                           cfg.schema_.types, files=files)
        result.gate = gate
        layer["files_scanned"] = len(files)
        layer["files_rejected"] = len(gate.rejected)
        with t.span("operators.transformation.counters"):
            result.stage_counters = stage_counters(df)
        with t.span("operators.transformation"):
            transformed = transform(df, cfg).persist(StorageLevel.MEMORY_AND_DISK)
            layer["rows_out"] = transformed.count()
        layer["rows_in"] = result.stage_counters["records_read"]
        try:
            with t.span("operators.validation"):
                vres = validate(transformed, cfg)
            result.validation = vres
            result.records_processed = vres.total_records
            with t.span("operators.report"):
                write_quality_report(vres.quality_metrics, vres.issues_found, cfg)
            with t.span("operators.loading.write"):
                write_partitioned(prepare_for_storage(transformed, vres),
                                  cfg.paths.data_processed,
                                  partition_by=cfg.write.partition_by,
                                  compression=cfg.write.compression, mode=cfg.write.mode)
            with t.span("operators.loading.stats"):
                stats = storage_stats(cfg.paths.data_processed)
            write_validation_metadata(cfg.paths.data_processed, vres, stats)
            result.storage = stats
            if ckpt is not None:
                with t.span("sources.checkpoint"):
                    ckpt.update(attempted=files)
            result.success = True
        finally:
            transformed.unpersist()
    prev = prev_stats or {"files_written": 0, "bytes_written": 0}
    layer["files_written"] = stats["files_written"] - prev["files_written"]
    layer["bytes_written"] = stats["bytes_written"] - prev["bytes_written"]
    return result, layer


def etl_pipeline(b: Bench, cfg, traced: bool, prev_stats: dict | None,
                 backfill: bool = False):
    """``run_pipeline``; in a traced run, its stage functions in its order
    for every operation (spans only when the tracer is on), so traced and
    untraced operations of that run do the same work."""
    from satsure_agri_datapipeline_spark.plans.pipeline import run_pipeline

    if not b.trace:
        return run_pipeline(b.spark, cfg)
    res, layer = traced_pipeline(b, cfg, prev_stats)
    if traced:
        if backfill:
            b.backfill_layer = layer
        else:
            b.layer_ops.append(layer)
    return res


def read_sensor(b: Bench, processed: Path, sensor: str) -> dict:
    """One read request on the standing output: a sensor's rows and
    anomalies per reading type, through ``query_stored_data``."""
    from pyspark.sql import functions as F
    from satsure_agri_datapipeline_spark.operators.loading import query_stored_data

    with b.tracer.span("operators.loading.query_stored_data"):
        rows = (query_stored_data(b.spark, processed, sensor_filter=sensor)
                .groupBy("reading_type")
                .agg(F.count("*").alias("n"),
                     F.sum(F.col("anomalous_reading").cast("int")).alias("a"))
                .collect())
    return {(sensor, r["reading_type"]): (r["n"], r["a"]) for r in rows}


def _add_counts(total: dict, batch: dict) -> None:
    for k, (n, a) in batch.items():
        n0, a0 = total.get(k, (0, 0))
        total[k] = (n0 + n, a0 + a)


def etl_incremental(b: Bench) -> Result:
    size = b.size
    n_sensors = size["inc_sensors"]
    hist_days = size["history_days"]
    first_drop = hist_days + len(gen.BAD_VARIANTS)  # the day after the bad files
    bad: dict = {}

    def make(d: Path):
        files = gen.write_sensor_days(d / "history", b.args.seed, hist_days,
                                      size["history_sensors"], hot_share=0.35)
        bad.update(gen.write_bad_schema_files(d / "history", b.args.seed, hist_days))
        return files

    history = b.generate(make)
    days_dir = b.work / "inputs" / "days"
    base = b.work / "standing"
    raw = base / "raw"
    shutil.copytree(b.work / "inputs" / "history", raw)
    cfg = _pipeline_config(base, raw, incremental=True, mode="append")
    processed = Path(cfg.paths.data_processed)
    batches: list[list[Path]] = [[raw / f.name for f in history]]
    expected = oracle.expected_sensor_counts(batches)  # running, per (sensor, type)
    state: dict = {}
    b.start_spark()

    def backfill():
        # the standing output starts as one batch run over the whole
        # history: a cold session, skewed sensors, three files to reject
        res = etl_pipeline(b, cfg, b.trace, None, backfill=True)
        state["stats"] = res.storage
        state["backfill"] = res

    b.prepare(backfill)
    res = state.pop("backfill")
    b.result.attempted += 1
    problems = oracle.check_etl(expected, processed, res.records_processed,
                                res.gate.rejected, bad)
    if problems:
        b.result.failed += 1
        b.result.problems.extend(f"backfill: {p}" for p in problems)
    rng = np.random.default_rng([b.args.seed, 13])

    def op(i: int, traced: bool):
        day = gen.write_sensor_days(days_dir, b.args.seed, 1, n_sensors,
                                    first_day=first_drop + i)[0]
        shutil.copy(day, raw / day.name)
        batch = oracle.expected_sensor_counts([[day]])
        _add_counts(expected, batch)
        sensors = [f"sensor_{k + 1}" for k in rng.choice(n_sensors, ETL_READS, replace=False)]
        reads, requests_ms = [], []
        with b.timed():
            res = etl_pipeline(b, cfg, traced, state["stats"])
            for sensor in sensors:
                r0 = time.perf_counter()
                reads.append((sensor, read_sensor(b, processed, sensor)))
                requests_ms.append((time.perf_counter() - r0) * 1e3)
        state["stats"] = res.storage
        batches.append([raw / day.name])
        if i == b.measured - 1:
            accepted = gen.files_stats([f for files in batches for f in files])
            b.stored_ratio = res.storage["bytes_written"] / accepted["bytes"]
        expected_rows = sum(n for n, _ in batch.values())
        problems = []
        if res.records_processed != expected_rows:
            problems.append(f"op {i}: records_processed {res.records_processed} "
                            f"!= expected {expected_rows}")
        if res.gate.rejected or res.gate.accepted != [str(raw / day.name)]:
            problems.append(f"op {i}: gate accepted {res.gate.accepted}, "
                            f"rejected {sorted(res.gate.rejected)}")
        for sensor, got in reads:  # each read request is checked on its own
            b.result.attempted += 1
            want = {k: v for k, v in expected.items() if k[0] == sensor}
            if got != want:
                b.result.failed += 1
                b.result.problems.append(f"op {i}: read of {sensor} gave {got}, "
                                         f"expected {want}")
        return res.records_processed, problems, requests_ms

    b.loop(op, size["etl_ops"])
    # the whole standing output against the oracle, batch by batch
    problems = oracle.check_etl(expected, processed, sum(n for n, _ in expected.values()),
                                {}, {})
    ckpt = json.loads(Path(cfg.ingestion.checkpoint_file).read_text())
    attempted_files = {p.name for batch in batches for p in batch} | set(bad)
    if set(ckpt["processed_files"]) != attempted_files:
        problems.append("checkpoint does not list exactly the attempted files")
    if problems:
        b.result.failed = b.result.attempted
        b.result.problems.extend(problems)
    return b.finish({
        "inputs": gen.files_stats([p for batch in batches for p in batch]),
        "bad_files": bad, "history": gen.files_stats(batches[0]),
        "standing_files": state["stats"]["files_written"],
    })


# --------------------------------------------------------------------------
# corpus: stores built in set-up; ingest → curate → retrieve per operation


# store module -> the keyword sets it is ensured with (the catalog's own
# parameters; the shingle store serves curation at n=3 and decontamination
# at n=4)
STORES = {
    "shingle_store": ({"n": 3, "unit": "word", "seed": 0}, {"n": 4, "unit": "word", "seed": 0}),
    "token_stats_store": ({},),
    "band_store": ({"num_hashes": 16, "band_size": 4, "n": 3},),
    "ivf_store": ({"k": 8, "iterations": 2, "seed": 0},),
    "pq_store": ({"m": 8, "k": 16, "iterations": 2, "seed": 0},),
    "ivfpq_store": ({"n_clusters": 8, "m": 8, "k": 16, "iterations": 2, "seed": 0},),
}


def _store_module(store: str):
    import importlib

    return importlib.import_module(f"satsure_agri_datapipeline_spark.sources.{store}")


def _trace_stores(t: Tracer) -> None:
    """Spans around every store's build, append and ensure entry points."""
    for store in STORES:
        kind = store.removesuffix("_store")
        mod = _store_module(store)
        t.wrap(mod, f"build_{store}", f"sources.{store}.build")
        t.wrap(mod, f"append_{kind}_delta", f"sources.{store}.append")
        t.wrap(mod, f"ensure_{store}", f"sources.{store}.ensure")


def ensure_store(store: str, spark, corpus: Path, params: int = 0):
    """``sources.<store>.ensure_<store>`` with the benchmark's parameters,
    looked up at call time so a traced run sees the wrapped function."""
    return getattr(_store_module(store), f"ensure_{store}")(spark, corpus, **STORES[store][params])


def retrieval_request(b: Bench, kind: str, corpus: Path, docs, emb, qid: int,
                      terms: list[str]) -> list:
    """One top-k request: the store freshness check its kind needs, plan
    construction, then execution (collect), each in its own span."""
    from satsure_agri_datapipeline_spark.operators import similarity as sim
    from satsure_agri_datapipeline_spark.operators import text as tx
    from satsure_agri_datapipeline_spark.sources import ivf_store, ivfpq_store

    t = b.tracer
    path = RETRIEVAL_PATHS[kind]
    with t.span(path):
        if kind in ("bm25", "hybrid"):
            stats = ensure_store("token_stats_store", b.spark, corpus)
        elif kind == "ivf":
            cent, asg = ensure_store("ivf_store", b.spark, corpus)
        elif kind == "ivfpq":
            cent, cb, lists = ensure_store("ivfpq_store", b.spark, corpus)
        elif kind == "pq":
            fitted = ensure_store("pq_store", b.spark, corpus)
        with t.span(f"{path}.construct"):
            if kind == "bm25":
                df = tx.bm25_topk(docs, terms, k=10, stats=stats)
            elif kind == "brute":
                df = sim.brute_force_topk_to(emb, query_id=qid, k=10)
            elif kind == "ivf":
                df = ivf_store.ann_topk_from_store(cent, asg, query_id=qid, k=10, nprobe=2)
            elif kind == "ivfpq":
                df = ivfpq_store.ivfpq_topk_from_lists(
                    emb, cent, cb, lists, query_id=qid, k=10, nprobe=2,
                    m=STORES["ivfpq_store"][0]["m"])
            elif kind == "pq":
                pq = STORES["pq_store"][0]
                df = sim.pq_topk_adc(emb, query_id=qid, k=10, m=pq["m"], n_codes=pq["k"],
                                     fitted=fitted)
            else:
                df = sim.hybrid_rrf_topk(docs, emb, terms, query_vec_id=qid, k=10,
                                         depth=50, bm25_stats=stats)
        with t.span(f"{path}.execute"):
            return df.collect()


def corpus(b: Bench) -> Result:
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from satsure_agri_datapipeline_spark.plans.curation import curate_corpus
    from satsure_agri_datapipeline_spark.sources.tables import load_table
    from satsure_agri_datapipeline_spark.streaming.ingest import (
        run_streaming_document_ingest,
    )

    size = b.size
    state = b.corpus_state

    def make(d: Path):
        state["pool"], state["inputs"] = gen.write_corpus(d / "corpus", b.args.seed,
                                                          size["docs"])
        return d / "corpus"

    corpus_dir = b.generate(make).resolve()
    incoming = b.work / "incoming"
    incoming.mkdir()
    cosine = oracle.CosineOracle(corpus_dir / "embeddings.parquet")
    b.start_spark()
    if b.trace:
        _trace_stores(b.tracer)

    def build_stores():
        for store, params in STORES.items():
            for j in range(len(params)):
                ensure_store(store, b.spark, corpus_dir, j)

    b.prepare(build_stores)
    rng = np.random.default_rng([b.args.seed, 11])
    state["next_id"] = size["docs"]
    state["stream_progress"] = []
    state["requests"] = []

    def op(i: int, traced: bool):
        t = b.tracer
        pool = state["pool"]
        drop_ids = np.arange(state["next_id"], state["next_id"] + size["drop_docs"])
        state["next_id"] += size["drop_docs"]
        pq.write_table(gen.documents_table(rng, drop_ids, pool),
                       incoming / f"drop-{i:04d}.parquet")
        # the same order every op and seed: the first request after
        # curation pays a warm-up, and it should land on the same kind
        kinds = list(RETRIEVAL_PATHS) * REQUEST_ROUNDS
        qids = [int(q) for q in rng.integers(0, size["docs"], len(kinds))]
        terms = [[str(x) for x in rng.choice(gen.QUERY_TERMS, 3, replace=False)]
                 for _ in kinds]

        answers, requests_ms = [], []
        with b.timed():
            with t.span("streaming.ingest"):
                query = run_streaming_document_ingest(
                    b.spark, incoming, corpus_dir, b.work / "stream-checkpoint",
                    max_files_per_trigger=1,
                    maintain_stores=("bands", "shingles", "token_stats"))
                query.awaitTermination()
            with t.span("plans.curation"):
                docs = load_table(b.spark, corpus_dir, "documents")
                s3, s4 = (ensure_store("shingle_store", b.spark, corpus_dir, j)
                          for j in (0, 1))
                bench = F.col("doc_id") % gen.BENCH_MOD == 0
                kept = curate_corpus(docs, docs.where(bench), shingle_store=s3,
                                     decon_store=s4, decon_bench_exploded=s4.where(bench))
                kept_ids = [r[0] for r in kept.select("doc_id").collect()]
            emb = load_table(b.spark, corpus_dir, "embeddings")
            for kind, qid, qterms in zip(kinds, qids, terms):
                r0 = time.perf_counter()
                rows = retrieval_request(b, kind, corpus_dir, docs, emb, qid, qterms)
                requests_ms.append((time.perf_counter() - r0) * 1e3)
                state["requests"].append(
                    {"kind": kind, "ms": requests_ms[-1], "traced": traced})
                answers.append((kind, qid, rows))
        if i == b.measured - 1:
            b.stored_ratio = _du(_layouts()) / _du(
                [corpus_dir / "documents.parquet", corpus_dir / "embeddings.parquet"])

        state["stream_progress"].append(
            [p["durationMs"] for p in query.recentProgress if p.get("numInputRows")])
        state["docs_in"], state["docs_kept"] = len(pool.texts), len(kept_ids)
        problems = oracle.check_curation(corpus_dir, kept_ids)
        for kind, qid, rows in answers:  # each request is checked on its own
            b.result.attempted += 1
            if kind == "brute":
                bad = cosine.check(qid, [(r["vec_id"], r["cosine_sim"]) for r in rows], 10)
            else:
                bad = [] if 1 <= len(rows) <= 10 else [f"{len(rows)} rows"]
            if bad:
                b.result.failed += 1
                b.result.problems.extend(f"op {i} {kind}: {p}" for p in bad)
        return len(pool.texts), [f"op {i}: {p}" for p in problems], requests_ms

    b.loop(op, size["corpus_ops"])
    state["layouts"] = _layouts()
    by_kind: dict[str, list[float]] = {}
    for r in state["requests"]:
        if not r["traced"]:
            by_kind.setdefault(r["kind"], []).append(r["ms"])
    return b.finish({
        "inputs": state["inputs"], "docs_end": state["next_id"],
        "docs_kept_last": state.get("docs_kept"),
        "stream_progress_ms": state["stream_progress"],
        "query_ms_by_kind": {k: statistics.median(v) for k, v in sorted(by_kind.items())},
    })


def _layouts() -> list[Path]:
    """The stores' layout directories (``store_util.layout_dir``)."""
    return list(Path(os.environ["TMPDIR"]).glob("spark_graft_*"))


WORKLOADS = {"etl_incremental": etl_incremental, "corpus": corpus}


# --------------------------------------------------------------------------
# per-layer report


def per_layer(b: Bench, jobs: list[dict]) -> dict:
    t = b.tracer
    by_span = attribute_jobs(t, jobs)
    traced_ops = max(1, sum(1 for o in b.ops if o["traced"]))
    loop_start = min((s["start"] for s in t.spans if s["name"] != "setup"
                      and s["parent"] is None and s["name"] != "session.get_spark"),
                     default=0.0)

    def total(name: str, since: float = loop_start) -> float:
        return sum(t.durations(name, since))

    def per_op(name: str) -> float:
        return total(name) / traced_ops

    def med(values) -> float:
        return statistics.median(values) if values else 0.0

    def ids(name: str) -> list[int]:
        return [s["id"] for s in t.named(name, loop_start)]

    def jobs_per(name: str) -> float:
        return med([subtree_counters(t, by_span, [sid])["jobs"] for sid in ids(name)])

    children: dict[int, list[str]] = {}
    for s in t.spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["name"])

    def ensure_fresh(store: str) -> float:
        fresh = [s["end"] - s["start"] for s in t.named(f"sources.{store}.ensure", loop_start)
                 if not any(c.startswith(f"sources.{store}.") for c in children.get(s["id"], []))]
        return med(fresh)

    layer_ops = b.layer_ops

    def layer(key: str) -> float:
        return med([lo[key] for lo in layer_ops if key in lo])

    def setup_total(name: str) -> float:
        return total(name, 0.0) - total(name)

    loop_self = t.self_times(loop_start)
    m = {
        "session.get_spark_s": total("session.get_spark", 0.0),
        "sources.parquet.gate_s": per_op("sources.parquet.gate"),
        "sources.parquet.files_scanned": layer("files_scanned"),
        "sources.parquet.files_rejected": layer("files_rejected"),
        "sources.checkpoint.s": per_op("sources.checkpoint"),
        "operators.transformation.s": per_op("operators.transformation"),
        "operators.transformation.counters_s": per_op("operators.transformation.counters"),
        "operators.transformation.rows_in": layer("rows_in"),
        "operators.transformation.rows_out": layer("rows_out"),
        "operators.validation.s": per_op("operators.validation"),
        "operators.validation.jobs": jobs_per("operators.validation"),
        "operators.report.s": per_op("operators.report"),
        "operators.loading.write_s": per_op("operators.loading.write"),
        "operators.loading.files_written": layer("files_written"),
        "operators.loading.bytes_written": layer("bytes_written"),
        "operators.loading.stats_s": per_op("operators.loading.stats"),
        "plans.pipeline.s": per_op("plans.pipeline"),
        "plans.pipeline.self_s": loop_self.get("plans.pipeline", 0.0) / traced_ops,
        "backfill.plans.pipeline.s": setup_total("plans.pipeline"),
        "backfill.operators.transformation.s": setup_total("operators.transformation"),
        "backfill.operators.validation.s": setup_total("operators.validation"),
        "backfill.operators.loading.write_s": setup_total("operators.loading.write"),
        "backfill.sources.parquet.files_rejected": b.backfill_layer.get("files_rejected", 0),
        "streaming.ingest.s": per_op("streaming.ingest"),
        "streaming.ingest.self_s": loop_self.get("streaming.ingest", 0.0) / traced_ops,
        "plans.curation.s": per_op("plans.curation"),
        "plans.curation.jobs": jobs_per("plans.curation"),
    }
    for store in STORES:
        m[f"sources.{store}.build_s"] = total(f"sources.{store}.build", 0.0)
        m[f"sources.{store}.append_s"] = per_op(f"sources.{store}.append")
        m[f"sources.{store}.ensure_fresh_s"] = ensure_fresh(store)
    m["sources.stores.rebuilds"] = sum(
        len(ids(f"sources.{store}.build")) for store in STORES)
    st = b.corpus_state
    if st.get("layouts"):
        m["sources.shingle_store.bytes"] = _du(p for p in st["layouts"]
                                              if p.name.startswith("spark_graft_shingles_"))
    if st.get("stream_progress") is not None:
        traced_progress = [p for p, o in zip(st["stream_progress"], b.ops) if o["traced"]]
        batches = [d for op_batches in traced_progress for d in op_batches]
        m["streaming.ingest.batches"] = len(batches) / traced_ops
        m["streaming.ingest.batch_p50_ms"] = med([d.get("triggerExecution", 0) for d in batches])
        m["streaming.ingest.planning_ms"] = med([d.get("queryPlanning", 0) for d in batches])
        m["plans.curation.docs_in"] = st.get("docs_in", 0)
        m["plans.curation.docs_kept"] = st.get("docs_kept", 0)
    for path in RETRIEVAL_PATHS.values():
        m[f"{path}.construct_ms"] = med(t.durations(f"{path}.construct", loop_start)) * 1e3
        m[f"{path}.execute_ms"] = med(t.durations(f"{path}.execute", loop_start)) * 1e3
        m[f"{path}.jobs"] = jobs_per(path)
    loop_roots = [s["id"] for s in t.spans if s["parent"] is None and s["start"] >= loop_start]
    for c, v in subtree_counters(t, by_span, loop_roots).items():
        m[f"spark.{c}"] = v / traced_ops
    for top, names in TOP_SPANS.items():
        roots = [sid for name in names for sid in ids(name)]
        for c, v in subtree_counters(t, by_span, roots).items():
            m[f"spark.{top}.{c}"] = v / traced_ops
    m["operators.loading.query_ms"] = med(
        t.durations("operators.loading.query_stored_data", loop_start)) * 1e3
    # each traced operation against the untraced one after it; op 0, the
    # first after set-up, is the coldest and is left out. Both kinds run
    # the same calls; the event log is on for the whole run, so its cost
    # is not in this ratio.
    secs = [o["seconds"] for o in b.ops]
    m["trace.span_overhead_ratio"] = med([
        secs[j] / secs[j + 1] - 1.0 for j in range(1, len(secs) - 1, 2)])
    out = {k: float(m.get(k, 0.0)) for k in PER_LAYER}
    b.result.record["self_s"] = {k: round(v, 6) for k, v in sorted(t.self_times().items())}
    b.result.record["status_tracker_vs_event_log"] = _tracker_check(t, jobs)
    return out


def _tracker_check(t: Tracer, jobs: list[dict]) -> dict:
    """Jobs per main-thread span as the status tracker saw them live,
    against the jobs the event log records under that span's group."""
    logged: dict[str, int] = {}
    for job in jobs:
        logged[job["group"]] = logged.get(job["group"], 0) + 1
    agree = mismatch = 0
    for s in t.spans:
        if "status_tracker_jobs" not in s:
            continue
        if s["status_tracker_jobs"] == logged.get(f"{GROUP_PREFIX}{s['id']}", 0):
            agree += 1
        else:
            mismatch += 1
    return {"agree": agree, "mismatch": mismatch}


def stop_session() -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gateway = SparkContext._gateway
    if sc is not None:
        sc.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, run_id: str, work: Path, out_dir: Path) -> Result:
    b = Bench(args, run_id, work)
    with RssSampler() as rss:
        result = WORKLOADS[args.workload](b)
        if args.trace:
            stop_session()  # flushes the event log
    result.record["peak_rss_mb"] = rss.peak / 2**20
    if args.trace:
        result.metrics = per_layer(b, parse_event_log(work / "eventlog"))
        result.metrics["process.peak_rss_mb"] = rss.peak / 2**20
        out_dir.mkdir(parents=True, exist_ok=True)
        b.tracer.write(out_dir / f"{args.workload}-seed{args.seed}.spans.jsonl")
    units = PER_LAYER if args.trace else END_TO_END
    result.metrics = {k: {"value": v, "unit": units[k]} for k, v in result.metrics.items()}
    if not result.metrics:
        result.problems.append("no operation completed")
    return result
