"""Spans, per-span Spark counters and process memory for the benchmark.

A :class:`Tracer` records spans (name, start, end, parent, run id) around
the benchmark's calls into the package and keeps them in memory until the
run ends. While a span is open on the main thread its id is the Spark job
group, so every job the call submits carries it; the status tracker gives
each span's job ids live, and the event log (parsed after the session
stops) gives per-job stage, task, executor-time, GC, shuffle, spill and
scheduler-delay figures. Jobs submitted from other threads (the streaming
query's micro-batches) carry no span group and are attributed to the
innermost span open when they were submitted. The UI stays off.

A disabled tracer is a no-op: untraced runs pay nothing.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager
from pathlib import Path

GROUP_PREFIX = "perfbench-span-"
SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
    "shuffle_write_bytes", "spill_bytes", "scheduler_delay_ms",
)


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.sc = None  # the SparkContext, once the session is up
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._main = threading.main_thread()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        on_main = threading.current_thread() is self._main
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
                   "run_id": self.run_id, "start": time.time(), "end": None}
            self.spans.append(rec)
            self._stack.append(sid)
        if on_main and self.sc is not None:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if on_main and self.sc is not None:
                ids = self.sc.statusTracker().getJobIdsForGroup(f"{GROUP_PREFIX}{sid}")
                rec["status_tracker_jobs"] = len(ids)
            with self._lock:
                self._stack.remove(sid)
                parent = self._stack[-1] if self._stack else None
            if on_main and self.sc is not None:
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.sc.setJobGroup(f"{GROUP_PREFIX}{parent}", self.spans[parent]["name"])

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a version that runs inside a span.
        Callers that look the function up on the module at call time (the
        stores' ``ensure_*`` paths, the streaming ingest's per-batch store
        maintenance) are traced too."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(module, attr, traced)

    # ---- derived figures -------------------------------------------------

    def named(self, name: str, since: float = 0.0) -> list[dict]:
        """Finished spans called ``name`` that started at or after ``since``."""
        return [s for s in self.spans
                if s["name"] == name and s["end"] is not None and s["start"] >= since]

    def durations(self, name: str, since: float = 0.0) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name, since)]

    def self_times(self, since: float = 0.0) -> dict[str, float]:
        """Per span name, over spans started at or after ``since``: total
        duration minus the time its direct children cover (children of one
        span never overlap: calls are sequential)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None or s["start"] < since:
                continue
            own = s["end"] - s["start"] - child_time.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: Path) -> None:
        path.write_text("\n".join(json.dumps(s) for s in self.spans) + "\n")


def spark_conf_for_event_log(log_dir: Path) -> dict[str, str]:
    log_dir.mkdir(parents=True, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.resolve().as_uri(),
        "spark.eventLog.compress": "false",
    }


def parse_event_log(log_dir: Path) -> list[dict]:
    """Jobs from a finished session's event log, each with its submission
    time (s), job group and the summed task metrics of the stages it ran."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, dict] = {}
    for f in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        with f.open() as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {"job": jid, "submitted": ev.get("Submission Time", 0) / 1000.0,
                                 "group": props.get("spark.jobGroup.id"),
                                 **{k: 0 for k in SPARK_COUNTERS}, "jobs": 1}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    tm = ev.get("Task Metrics") or {}
                    ti = ev.get("Task Info") or {}
                    acc = stage_tasks.setdefault(sid, {k: 0 for k in SPARK_COUNTERS})
                    acc["tasks"] += 1
                    run_ms = tm.get("Executor Run Time", 0)
                    acc["executor_run_ms"] += run_ms
                    acc["executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                    acc["gc_ms"] += tm.get("JVM GC Time", 0)
                    acc["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0)
                    # the UI's definition: what the task's wall time
                    # leaves after run, deserialize, result-serialize and
                    # result-fetch time
                    finish = ti.get("Finish Time", 0)
                    duration = finish - ti.get("Launch Time", 0)
                    fetch_start = ti.get("Getting Result Time", 0)
                    getting = finish - fetch_start if fetch_start > 0 else 0
                    acc["scheduler_delay_ms"] += max(
                        0, duration - run_ms - tm.get("Executor Deserialize Time", 0)
                        - tm.get("Result Serialization Time", 0) - getting)
    for sid, acc in stage_tasks.items():
        job = jobs.get(stage_job.get(sid, -1))
        if job is None:
            continue
        job["stages"] += 1
        for k in SPARK_COUNTERS:
            if k not in ("jobs", "stages"):
                job[k] += acc[k]
    return sorted(jobs.values(), key=lambda j: j["job"])


def attribute_jobs(tracer: Tracer, jobs: list[dict]) -> dict[int, dict]:
    """Span id → summed counters of the jobs it submitted itself (exclusive
    of its children). A job whose group names a span belongs to that span;
    any other job belongs to the innermost span open at its submission."""
    by_span: dict[int, dict] = {}
    spans = [s for s in tracer.spans if s["end"] is not None]
    for job in jobs:
        sid = None
        g = job["group"] or ""
        if g.startswith(GROUP_PREFIX):
            sid = int(g[len(GROUP_PREFIX):])
        else:
            open_ = [s for s in spans if s["start"] <= job["submitted"] <= s["end"]]
            if open_:
                sid = max(open_, key=lambda s: s["start"])["id"]
        if sid is None:
            continue
        acc = by_span.setdefault(sid, {k: 0 for k in SPARK_COUNTERS})
        for k in SPARK_COUNTERS:
            acc[k] += job[k]
    return by_span


def subtree_counters(tracer: Tracer, by_span: dict[int, dict], roots: list[int]) -> dict:
    """Counters of the given spans plus all their descendants."""
    children: dict[int, list[int]] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])
    out = {k: 0 for k in SPARK_COUNTERS}
    todo = list(roots)
    while todo:
        sid = todo.pop()
        for k, v in by_span.get(sid, {}).items():
            out[k] += v
        todo.extend(children.get(sid, []))
    return out


# --------------------------------------------------------------------------
# process-tree memory


def _proc_tree(root_pid: int) -> list[list[str]]:
    """``/proc/<pid>/stat`` fields (after the command name) of ``root_pid``
    and all its descendants."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(d))
        stats[int(d)] = fields
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
        todo.extend(children.get(pid, []))
    return out


def _tree_rss_bytes(root_pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    return sum(int(f[21]) * page for f in _proc_tree(root_pid))


def tree_cpu_seconds() -> float:
    """User + system CPU seconds of this process and its descendants,
    including children they have reaped (the JVM, Python workers)."""
    tick = os.sysconf("SC_CLK_TCK")
    return sum(int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
               for f in _proc_tree(os.getpid())) / tick


class RssSampler:
    """Peak resident set of this process and all its descendants (the
    JVM, the Python workers), sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

