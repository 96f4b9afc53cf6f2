"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_incremental --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The run gets a fresh
work directory under ``.perfbench_work/`` (its TMPDIR, Spark local dirs,
generated inputs and outputs), launches one Spark session with the
package's shipped ``get_spark()`` defaults, runs the workload's set-up, then
runs its closed loop until ``--seconds`` have passed and the workload's
fixed number of measured operations has run, and checks every output.

The last line of standard output is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it (``perfbench-record {...}``) holds the
details: sample counts and latencies, input sizes, host load, the
effective Spark conf and ``SPARK_GRAFT_*`` settings, and with tracing the
self time of every span. With tracing, the spans are also written to
``.perfbench_out/``. ``--smoke`` runs tiny inputs (used by the tests).

Exit status: 0 when every output check passed, 1 when one failed, 2 when
the package cannot be imported (no result line is printed then).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
HERE = Path(__file__).resolve().parent


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs")
    return ap.parse_args(argv)


def prepare_environment(work: Path) -> None:
    """Shipped configuration: only the core count and the Spark local dirs
    are set, and every other ``SPARK_GRAFT_*`` setting the caller exported
    is dropped. TMPDIR (where the stores live) and the JVM's temp dir point
    into the run's own work directory, so no run sees another's stores
    and nothing is written outside the checkout. Must run before the
    package is imported: ``session.py`` reads ``SPARK_GRAFT_CPUS`` at
    import time for the shuffle partition count."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    (work / "spark-local").mkdir()
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None  # re-read TMPDIR


def main(argv=None) -> int:
    args = parse_args(argv)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
    work = ROOT / ".perfbench_work" / run_id
    prepare_environment(work)
    try:
        return run_in(work, run_id, args)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_in(work: Path, run_id: str, args) -> int:
    sys.path.insert(0, str(HERE))
    sys.path.insert(0, str(ROOT))
    try:
        import satsure_agri_datapipeline_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the package from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cwd = os.getcwd()
    os.chdir(work)  # spark-warehouse and other cwd-relative output land here
    try:
        result = workloads.run(args, run_id, work, ROOT / ".perfbench_out")
    finally:
        workloads.stop_session()
        os.chdir(cwd)
    print("perfbench-record " + json.dumps(result.record, sort_keys=True))
    print(json.dumps({
        "correct": result.failed == 0 and not result.problems,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": result.metrics,
    }))
    return 0 if result.failed == 0 and not result.problems else 1


if __name__ == "__main__":
    sys.exit(main())
