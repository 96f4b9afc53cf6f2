"""SparkSession factory tuned for the engine.

Defaults are sized for local[N] development; on a real cluster every one of
these is still a sane starting point (AQE on, shuffle partitions sized by the
cluster, zstd parquet). The session timezone is set from the pipeline config
(reference parity: ``config/default.yaml:6`` uses ``UTC+05:30``; Spark
timestamps are instants rendered in the session zone — see SURVEY.md §7.3).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Largest default driver heap, in MiB; the default is also capped at half
# the host's physical memory (see default_driver_memory).
MAX_DRIVER_HEAP_MB = 48 * 1024

# Source-parquet volume above which the session launches with zstd shuffle
# compression (see the inline note at the conf site for the measurements).
ZSTD_VOLUME_THRESHOLD = 8 * 1024**3

# Source-parquet volume above which the session launches with 4×-core
# initial shuffle partitions (see _pick_shuffle_partitions).
BIG_SHUFFLE_VOLUME_THRESHOLD = 8 * 1024**3


def default_driver_memory(physical_bytes: int | None = None) -> str:
    """Default ``spark.driver.memory``: 48g, capped at half the host's
    physical memory (floor 1g). The JVM grows its heap lazily up to this
    bound, so an uncapped 48g heap on a smaller host ends with the kernel
    killing the JVM rather than with a Spark spill. ``physical_bytes``
    defaults to the host's (``SC_PHYS_PAGES`` × page size);
    ``SPARK_GRAFT_DRIVER_MEM`` overrides at the conf site."""
    if physical_bytes is None:
        try:
            physical_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        except (ValueError, OSError):
            return f"{MAX_DRIVER_HEAP_MB}m"
    half_mb = physical_bytes // 2 // 1024**2
    return f"{max(1024, min(MAX_DRIVER_HEAP_MB, half_mb))}m"


def _pick_shuffle_partitions(data_dir: str | os.PathLike | None) -> int:
    """Scale-aware initial shuffle partitions (r10 spill accounting,
    PERF.md): at 1000× the pair-counting family's aggregation state spills
    >20× its shuffle volume on 32 fat partitions; 4× more initial
    partitions cuts per-task state 4× and measured −25%/−18% wall on
    stored containment/triangles with spilled bytes unchanged
    (volume-inherent). AQE coalescing (parallelismFirst=true) folds the
    extra partitions back to core count wherever state is small — the
    1000× neutrality race showed identical effective stage layouts for
    the multiway join / daily-avg / minhash — so the higher initial count
    only persists where it pays. Declared input ≥ 8 GiB → 4× cores; small
    or undeclared inputs keep 1× cores (the sub-second sf0.1 floor
    queries would otherwise pay pure scheduling).
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` overrides outright."""
    from pathlib import Path

    env = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if env:
        try:
            return int(env)
        except ValueError:
            pass
    d = data_dir or os.environ.get("SPARK_GRAFT_SF_DIR")
    if not d:
        return DEFAULT_SHUFFLE_PARTITIONS
    try:
        total = sum(f.stat().st_size for f in Path(d).glob("**/*.parquet"))
    except OSError:
        return DEFAULT_SHUFFLE_PARTITIONS
    if total >= BIG_SHUFFLE_VOLUME_THRESHOLD:
        return 4 * DEFAULT_SHUFFLE_PARTITIONS
    return DEFAULT_SHUFFLE_PARTITIONS


def _pick_io_codec(data_dir: str | os.PathLike | None) -> str:
    """Scale- AND layout-aware shuffle codec (r8 matrix at 1000×,
    PERF.md): zstd pays ONLY in the big-raw-exchange regime — the multiway
    join ran 92 s lz4 / 49 s zstd on raw parquet, but once the bucketed
    fact layout serves (the engine's default once built) the exchange is
    gone and zstd is pure CPU loss (bucketed multiway 16.0 s lz4 vs
    17.8 s zstd; subset total 58.2 vs 62.1). So: declared input volume
    ≥ 8 GiB AND no fresh fact layout for the data dir → zstd (first touch
    of big raw data); layout present, small inputs, or nothing declared →
    Spark's lz4. ``data_dir`` falls back to $SPARK_GRAFT_SF_DIR;
    SPARK_GRAFT_IO_CODEC overrides at the conf site."""
    from pathlib import Path

    d = data_dir or os.environ.get("SPARK_GRAFT_SF_DIR")
    if not d:
        return "lz4"
    try:
        total = sum(f.stat().st_size for f in Path(d).glob("**/*.parquet"))
    except OSError:
        return "lz4"
    if total < ZSTD_VOLUME_THRESHOLD:
        return "lz4"
    try:
        from .sources.bucketed import MANIFEST_NAME, default_layout_dir

        candidates = [default_layout_dir(d) / MANIFEST_NAME]
        # r8 ADVICE: a layout named by SPARK_GRAFT_BUCKETED_LAYOUT serves
        # exactly like the default one — honor it here too, or big-input
        # sessions pay zstd's ~10% CPU on exchanges the layout removed.
        env_dir = os.environ.get("SPARK_GRAFT_BUCKETED_LAYOUT")
        if env_dir and env_dir.lower() not in ("none", "off", "0", "raw"):
            candidates.insert(0, Path(env_dir) / MANIFEST_NAME)
        src_mtimes = [
            f.stat().st_mtime_ns for f in Path(d).glob("**/*.parquet")
        ]
        for manifest in candidates:
            if not manifest.exists():
                continue
            if src_mtimes and manifest.stat().st_mtime_ns <= max(src_mtimes):
                continue  # stale layout would not be served
            import json

            if json.loads(manifest.read_text()).get("sf_dir") != str(
                Path(d).resolve()
            ):
                continue  # layout for a different dataset is never served
            return "lz4"  # fact layout serves; big exchanges are gone
    except (OSError, ValueError):
        pass
    return "zstd"


def get_spark(
    app_name: str = "satsure_agri_datapipeline_spark",
    master: str | None = None,
    timezone: str = "UTC",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    data_dir: str | os.PathLike | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    AQE handles runtime partition coalescing and skew-join splitting, which is
    the first line of defense at 100 TB; ``maxPartitionBytes`` keeps scan
    partitions memory-friendly.
    """
    master = master or os.environ.get(
        "SPARK_GRAFT_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    )
    n_shuffle = shuffle_partitions or _pick_shuffle_partitions(data_dir)
    # Python worker daemon with numpy/pandas/pyarrow PRE-IMPORTED: a fresh
    # fork otherwise pays those imports inside the first Arrow-UDF task it
    # runs (~0.3-0.8 s straggler batches; see python_daemon.py). The package
    # dir must ride PYTHONPATH for the daemon subprocess to import it.
    # LOCAL-ONLY, FRESH-JVM-ONLY: the conf and env mutation only take effect
    # when this call launches the JVM; a getOrCreate() that reuses a live
    # gateway ignores them, and on a real cluster executors don't inherit
    # the driver's env — there, ship the module via ``spark.submit.pyFiles``
    # (or an archive) and set the conf in spark-defaults instead. Setting it
    # unconditionally would leave a non-local session with an unimportable
    # daemon module and EVERY Python-UDF stage failing to launch workers.
    from pyspark import SparkContext  # noqa: PLC0415

    fresh_jvm = SparkContext._active_spark_context is None
    use_daemon = fresh_jvm and master.startswith("local")
    if use_daemon:
        pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        existing = os.environ.get("PYTHONPATH", "")
        if pkg_root not in existing.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
            )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Keep Spark's default parallelismFirst=true: coalescing floors at
        # defaultParallelism instead of the 64 MB advisory size. r5 set this
        # false to kill the small-SF per-task scheduling floor, but r6
        # measured the cost at 100× bench scale: size-based coalescing
        # collapsed the CPU-DENSE exact-median aggregate (object hash maps,
        # cost ∝ rows not bytes) to TWO post-shuffle tasks — 5.8 s vs 2.1 s
        # with the parallelism floor. Size is the wrong proxy for dense
        # aggregates, and that misjudgment only grows with scale; the tiny-
        # input floor is handled where it belongs (bench.py runs small
        # inputs with static planning, and sub-second interactive runs don't
        # care). At 100 TB the advisory governs either way (shuffle bytes /
        # 64 MB ≫ cluster parallelism).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Prefer shuffled-hash over sort-merge when the build side fits a
        # per-partition hash map (the planner's own fitness check still
        # gates it, and SMJ remains the fallback for giant builds): the
        # shingle-bucket self-join measured 538 s SMJ vs 74 s SHJ at 100×
        # bench scale (r5) — both sort passes are pure overhead on
        # fixed-width hash keys. AQE skew splitting bounds the per-partition
        # build; at bench scale AQE's runtime broadcast overrides either.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Let AQE convert a planned SMJ to shuffled-hash at RUNTIME when the
        # observed per-partition build side fits this many bytes. Default is
        # 0 (conversion disabled) — so a join whose build side Catalyst
        # OVERESTIMATES (e.g. an aggregate over a huge child: the capped-
        # containment size relation is ~100 MB actual but inherits a
        # multi-GB estimate) stays SMJ and pays full sorts of the probe
        # side. Measured r12 at 1000×: the 436 M-row candidate-pair
        # relation was sorted TWICE for its two size joins, 12 GiB spill
        # each, with the SHJ build side at ~1 MB/partition. 128 MB matches
        # the advisory partition size (the documented pairing for this
        # knob); the static preferSortMergeJoin=false above already
        # encodes the same preference where estimates are sane.
        .config(
            "spark.sql.adaptive.shuffleHashJoinLocalMapThreshold", "134217728"
        )
        .config("spark.sql.session.timeZone", timezone)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Shuffle/broadcast/spill codec — scale-selected (r8). Measured:
        # zstd LOSES ~19% on the small-shuffle sf0.1 headline set (6.74 s
        # vs 5.64 s — compression CPU dominates, r6), is a WASH at 100×
        # (91.3 s lz4 vs 87.1 s zstd full headline set, mixed per-query,
        # r8), and WINS decisively once shuffles spill out of page cache:
        # −29% on the exchange-bound multiway join at 1000× (60.5→43.1 s,
        # r7). It is a STATIC core conf (not per-query togglable), so the
        # session picks it ONCE from the declared input (``data_dir`` /
        # $SPARK_GRAFT_SF_DIR): zstd only for ≥ 8 GiB inputs WITHOUT a
        # fresh bucketed fact layout — the one regime where giant raw
        # exchanges exist (see _pick_io_codec for the 1000× matrix).
        # SPARK_GRAFT_IO_CODEC still overrides in either direction.
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC") or _pick_io_codec(data_dir),
        )
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
    )
    if use_daemon:
        builder = builder.config(
            "spark.python.daemon.module",
            "satsure_agri_datapipeline_spark.python_daemon",
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def normalize_timezone(tz: str) -> str:
    """Translate the reference's ``UTC+05:30`` form into a Spark/Java zone id.

    Mirrors the parse in reference ``src/components/transformation.py:203-214``
    (``UTC±HH:MM`` → fixed-offset zone). Plain named zones pass through.
    """
    t = tz.strip()
    if t.upper().startswith("UTC") and len(t) > 3:
        return t[3:]  # "+05:30" — valid Java ZoneOffset id
    if t.upper() == "UTC":
        return "UTC"
    return t
