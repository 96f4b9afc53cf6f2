"""Bucketed storage layout for repeatedly-joined fact tables.

THE 100 TB lever the per-query planner cannot pull: a join or aggregation
key that is hot across the workload (orders/lineitem on orderkey, orders/
customer on custkey) pays its hash exchange ONCE, at ingest, by writing the
table bucketed on that key — every subsequent join/groupBy on the key reads
co-located buckets and plans ZERO Exchange on that side. The reference
(pandas, single process, ``loading.py:228-266``) has no analog; this is the
Spark-native equivalent of its partitioned-parquet sink taken to join keys.

Bucket-key choices, derived from the workload (see
``plans/catalog_relational.py``):

- ``lineitem``  CLUSTERED BY l_orderkey  — the single biggest exchange in
  the catalog (60M narrow rows at 100x bench scale, join_multiway_revenue);
- ``orders``    CLUSTERED BY o_custkey   — serves BOTH the segment-revenue
  groupBy(o_custkey) pre-aggregate and the multiway custkey join;
- ``customer``  CLUSTERED BY c_custkey   — same bucket count as orders, so
  orders ⋈ customer is exchange-free on both sides (broadcast-joined dims
  hanging off customer preserve its clustering).

Spark's default in-memory catalog does not survive the JVM, so the layout
directory is self-describing: ``build_bucketed_layout`` writes the bucketed
files plus a ``_layout_manifest.json`` (source sf_dir, bucket counts,
schemas), and ``register_bucketed_layout`` re-attaches the tables in any
later session with ``CREATE TABLE ... USING parquet CLUSTERED BY ...
LOCATION ...`` DDL — metadata-only, no data movement.

Serving wiring (r8: the layout is now the DEFAULT serving path, not an
opt-in): ``sources.tables.load_table`` serves ``orders``/``lineitem``/
``customer`` from the bucketed tables whenever a valid layout exists —
either the directory named by ``SPARK_GRAFT_BUCKETED_LAYOUT`` or, with the
env var unset, the deterministic per-``sf_dir`` directory that
``ensure_bucketed_layout`` builds (so once any ``*_bucketed`` query or
``tools/make_bucketed_layout.py`` has paid the ingest exchange, EVERY
query on those tables rides it — the measured 8.72×→1.94× multiway-join
fix no longer needs operator action). A layout is valid only when its
manifest was built from exactly the requested sf_dir AND is newer than
the source parquet — correctness can never depend on the env var or on a
stale layout; anything else falls back to raw parquet. Serving never
BUILDS a layout implicitly (ingest cost stays explicit).
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

MANIFEST_NAME = "_layout_manifest.json"

# table -> (bucket columns, per-bucket sort columns)
BUCKET_SPECS: dict[str, tuple[list[str], list[str]]] = {
    "lineitem": (["l_orderkey"], ["l_orderkey"]),
    "orders": (["o_custkey"], ["o_custkey"]),
    "customer": (["c_custkey"], ["c_custkey"]),
}


def _table_name(name: str) -> str:
    return f"bkt_{name}"


def build_bucketed_layout(
    spark: SparkSession,
    sf_dir: str | Path,
    layout_dir: str | Path,
    n_buckets: int = 32,
    tables: list[str] | None = None,
) -> dict:
    """One-time ingest: write the hot fact tables bucketed (and bucket-sorted)
    under ``layout_dir`` and stamp the manifest. Each table costs exactly the
    exchange it will save on every future query. Idempotent (overwrite)."""
    from .tables import load_table  # noqa: PLC0415 (cycle)

    layout = Path(layout_dir)
    layout.mkdir(parents=True, exist_ok=True)
    manifest: dict = {
        "sf_dir": str(Path(sf_dir).resolve()),
        "n_buckets": n_buckets,
        "tables": {},
    }
    from .store_util import source_fingerprint

    for name in tables or list(BUCKET_SPECS):
        bucket_cols, sort_cols = BUCKET_SPECS[name]
        # fingerprint BEFORE the read (same discipline as the dedup
        # stores): a file landing mid-build stays unrecorded and is
        # picked up as an append delta next ensure
        files = source_fingerprint(Path(sf_dir).resolve() / f"{name}.parquet")
        df = load_table(spark, sf_dir, name)
        tbl = _table_name(name)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            df.repartition(n_buckets, *bucket_cols)
            .write.format("parquet")
            .mode("overwrite")
            .bucketBy(n_buckets, *bucket_cols)
            .sortBy(*sort_cols)
            .option("path", str(layout / name))
            .saveAsTable(tbl)
        )
        manifest["tables"][name] = {
            "bucket_cols": bucket_cols,
            "sort_cols": sort_cols,
            "files": files,
            "deltas": [],
            "ddl_schema": ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
            ),
        }
    from .store_util import write_manifest

    write_manifest(layout / MANIFEST_NAME, manifest)
    # saveAsTable re-pointed the global bkt_* names at this layout: every
    # other layout's warm registration cache is stale now.
    app_id = spark.sparkContext.applicationId
    for key in [k for k in _REGISTRATION_CACHE if k[0] == app_id]:
        del _REGISTRATION_CACHE[key]
    return manifest


def _normalize_location(loc: str) -> str:
    """Spark reports table locations as ``file:/abs/path``; compare on the
    bare absolute path with trailing slashes stripped."""
    for prefix in ("file://", "file:"):
        if loc.startswith(prefix):
            loc = loc[len(prefix) :]
            break
    return loc.rstrip("/")


def _table_location(spark: SparkSession, tbl: str) -> str | None:
    for row in spark.sql(f"DESCRIBE FORMATTED {tbl}").collect():
        if row.col_name.strip() == "Location":
            return _normalize_location(row.data_type.strip())
    return None


def register_bucketed_layout(spark: SparkSession, layout_dir: str | Path) -> dict:
    """Re-attach a previously built layout in THIS session: metadata-only
    ``CREATE TABLE`` DDL per table (Spark's in-memory catalog forgets
    bucketing across JVMs; the files and manifest remember).

    An already-registered ``bkt_*`` table is reused only if its storage
    location is exactly ``layout / name`` — switching layouts mid-session
    drops and recreates the stale table instead of silently serving the old
    layout's data (the module invariant: correctness can never depend on the
    env var)."""
    from .store_util import refresh_if_rebuilt

    layout = Path(layout_dir).resolve()
    manifest = json.loads((layout / MANIFEST_NAME).read_text())
    n = manifest["n_buckets"]
    for name, spec in manifest["tables"].items():
        tbl = _table_name(name)
        location = layout / name
        if "'" in str(location):
            raise ValueError(f"bucketed layout path contains a quote: {location}")
        if spark.catalog.tableExists(tbl):
            if _table_location(spark, tbl) == _normalize_location(str(location)):
                # another process may have appended a delta or rebuilt in
                # place since this session cached the file listing
                refresh_if_rebuilt(spark, tbl, layout / MANIFEST_NAME)
                continue
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        bucket_cols = ", ".join(spec["bucket_cols"])
        sort_cols = ", ".join(spec["sort_cols"])
        spark.sql(
            f"CREATE TABLE {tbl} ({spec['ddl_schema']}) USING parquet "
            f"CLUSTERED BY ({bucket_cols}) SORTED BY ({sort_cols}) "
            f"INTO {n} BUCKETS LOCATION '{location}'"
        )
    # The bkt_* names are global per session: any OTHER layout's warm
    # registration cache is now stale (its tables may have just been
    # re-pointed here) and must revalidate on next use.
    app_id = spark.sparkContext.applicationId
    for key in [
        k
        for k in _REGISTRATION_CACHE
        if k[0] == app_id and k[1] != str(layout)
    ]:
        del _REGISTRATION_CACHE[key]
    return manifest


def _classify_table(
    manifest: dict, sf_resolved: Path, name: str
) -> tuple[str, list[str]]:
    """fresh|append|rebuild for ONE layout table vs the current source
    (per-file fingerprint; pre-fingerprint manifests and pending deltas
    classify as rebuild — same contract as the dedup stores)."""
    from .store_util import classify_source_change, max_deltas, source_fingerprint

    spec = manifest["tables"].get(name)
    if spec is None:
        return ("rebuild", [])
    if "pending_delta" in spec:
        return ("rebuild", [])
    current = source_fingerprint(sf_resolved / f"{name}.parquet")
    state, new_files = classify_source_change(spec.get("files"), current)
    if state == "append" and len(spec.get("deltas", [])) >= max_deltas():
        return ("rebuild", [])  # compact the delta chain
    return (state, new_files)


def append_table_delta(
    spark: SparkSession,
    layout: Path,
    manifest: dict,
    name: str,
    new_files: list[str],
) -> dict:
    """Append-delta maintenance for one fact table: bucket ONLY the new
    source part files into the standing ``bkt_<name>`` table — cost ∝ the
    data drop, never the table (multi-file buckets keep HashPartitioning,
    so the exchange-free join plans survive). Same pending_delta crash
    discipline as the dedup stores: marker set before the insert, cleared
    with updated lineage after; an ambiguous crash forces a rebuild."""
    from .store_util import source_fingerprint, write_manifest
    from .tables import load_parquet_files

    manifest_path = layout / MANIFEST_NAME
    spec = manifest["tables"][name]
    src = Path(manifest["sf_dir"]) / f"{name}.parquet"
    current = source_fingerprint(src)
    read_files = {f: current[f] for f in new_files if f in current}
    if set(read_files) != set(new_files):
        raise FileNotFoundError(
            f"bucketed-layout delta: new source file of {name} vanished"
        )
    register_bucketed_layout(spark, layout)  # attach before insert
    pending = json.loads(json.dumps(manifest))
    pending["tables"][name]["pending_delta"] = sorted(new_files)
    write_manifest(manifest_path, pending)

    df = load_parquet_files(spark, [src / f for f in sorted(new_files)])
    (
        df.repartition(manifest["n_buckets"], *spec["bucket_cols"])
        .write.format("parquet")
        .mode("append")
        .bucketBy(manifest["n_buckets"], *spec["bucket_cols"])
        .sortBy(*spec["sort_cols"])
        .saveAsTable(_table_name(name))
    )
    done = json.loads(json.dumps(manifest))
    done["tables"][name]["files"] = {**spec.get("files", {}), **read_files}
    done["tables"][name]["deltas"] = list(spec.get("deltas", [])) + [
        sorted(new_files)
    ]
    write_manifest(manifest_path, done)
    return done


def ensure_bucketed_layout(
    spark: SparkSession,
    sf_dir: str | Path,
    tables: list[str] | None = None,
    n_buckets: int | None = None,
) -> Path:
    """Build-if-needed + register, for queries that run THROUGH the layout
    rather than opting in via the env var: a deterministic per-``sf_dir``
    layout directory (keyed by the resolved path's digest) is rebuilt when
    missing, built from a different source, missing a requested table, or
    stale vs the source — then registered in this session. Maintenance is
    fingerprint-driven per table (r9, same model as the dedup stores):
    unchanged sources serve as-is; a source that only GAINED part files
    gets an append delta over just those files; any mutation rebuilds the
    whole layout through a scratch dir + atomic rename, with the stale
    layout renamed aside so concurrent readers finish; scratch and aside
    directories that dead processes left are swept first. The
    self-check/correctness gate uses this so the configuration carrying
    the headline join numbers is itself oracle-hash-pinned."""
    from .store_util import (
        atomic_swap,
        build_scratch_dir,
        claim_append,
        discard_retired,
        log_store_fallback,
        read_manifest_or_none,
        release_append,
        retire_layout,
        sweep_dead_scratch,
    )

    tables = tables or list(BUCKET_SPECS)
    sf_resolved = Path(sf_dir).resolve()
    if n_buckets is None:  # scale-aware default (r13 — r12's rule, fact side)
        n_buckets = _default_fact_n_buckets(sf_resolved)
    layout = default_layout_dir(sf_resolved, n_buckets)
    manifest_path = layout / MANIFEST_NAME
    sweep_dead_scratch(layout.parent, layout.name + ".")

    needs_build = True
    appends: dict[str, list[str]] = {}
    manifest = read_manifest_or_none(manifest_path)
    if manifest is not None and "sf_dir" in manifest and "tables" in manifest:
        if manifest["sf_dir"] == str(sf_resolved) and set(tables) <= set(
            manifest["tables"]
        ):
            states = {t: _classify_table(manifest, sf_resolved, t) for t in tables}
            if all(s in ("fresh", "append") for s, _ in states.values()):
                needs_build = False
                appends = {
                    t: new for t, (s, new) in states.items() if s == "append"
                }
        if needs_build and manifest["sf_dir"] == str(sf_resolved):
            # Rebuild keeps tables a previous caller already placed here
            # (build_bucketed_layout rewrites the whole manifest).
            tables = sorted(set(tables) | set(manifest["tables"]))
    if not needs_build and appends:
        # Writer mutual exclusion (ADVICE r9 high, same as the dedup
        # stores): exactly one session applies a given drop's deltas; a
        # loser serves the winner's result if it finished, else rebuilds.
        if claim_append(layout):
            try:
                for t, new_files in sorted(appends.items()):
                    manifest = append_table_delta(
                        spark, layout, manifest, t, new_files
                    )
            except Exception as exc:
                log_store_fallback("bucketed-layout append delta", exc)
                needs_build = True  # pending_delta marker forces it anyway
            finally:
                release_append(layout)
        else:
            # Re-read: the winner may have finalized its deltas already.
            manifest = read_manifest_or_none(manifest_path)
            if manifest is None or manifest.get("sf_dir") != str(sf_resolved):
                needs_build = True
            else:
                states = {
                    t: _classify_table(manifest, sf_resolved, t) for t in tables
                }
                if not all(s == "fresh" for s, _ in states.values()):
                    needs_build = True
    if needs_build:
        aside = retire_layout(layout)
        scratch = build_scratch_dir(layout)
        build_bucketed_layout(
            spark, sf_resolved, scratch, n_buckets=n_buckets, tables=tables
        )
        atomic_swap(scratch, layout)
        discard_retired(aside)
        # ADVICE r12 (applied to the fact layout in r13): a scale-threshold
        # crossing rekeys the layout dir; drop superseded generations.
        from .store_util import discard_stale_siblings

        discard_stale_siblings(
            "bucketed", MANIFEST_NAME, layout, {"sf_dir": str(sf_resolved)}
        )
    register_bucketed_layout(spark, layout)
    return layout


def _default_fact_n_buckets(sf_resolved: Path) -> int:
    """Scale-aware bucket count for the fact layout (r13, verdict task 7):
    r12's ``default_n_buckets`` rule applied to the relational side, keyed
    by the LARGEST bucketed-spec source present — all tables in one layout
    share the count (co-bucketed joins need equal counts on both sides),
    and lineitem is what the thresholds must fit. sf0.1 (≈15 MiB lineitem)
    keeps 32; the 100×/1000× corpora (0.7/7 GiB) get 128.
    ``SPARK_GRAFT_STORE_N_BUCKETS`` overrides (inside default_n_buckets)."""
    from .store_util import default_n_buckets, source_total_bytes

    biggest = max(
        (sf_resolved / f"{t}.parquet" for t in BUCKET_SPECS),
        key=source_total_bytes,
        default=sf_resolved,
    )
    return default_n_buckets(biggest)


def default_layout_dir(
    sf_dir: str | Path, n_buckets: int | None = None
) -> Path:
    """The deterministic per-(sf_dir, n_buckets) layout directory that
    ``ensure_bucketed_layout`` builds into and the default serving path
    (``bucketed_table_or_none`` with the env var unset) reads from.
    ``n_buckets=None`` resolves the scale-aware default, so ensure and the
    serving hook agree on the directory at every corpus size."""
    from .store_util import layout_dir

    sf_resolved = Path(sf_dir).resolve()
    if n_buckets is None:
        n_buckets = _default_fact_n_buckets(sf_resolved)
    return layout_dir("bucketed", sf_resolved, n_buckets)


# (app_id, resolved layout dir) -> (manifest mtime_ns, parsed manifest).
# load_table calls this per table per query; without the cache each call
# re-reads the manifest JSON and round-trips the catalog per table.
_REGISTRATION_CACHE: dict[tuple[str, str], tuple[int, dict]] = {}


def bucketed_table_or_none(
    spark: SparkSession, sf_dir: str | Path, name: str
) -> DataFrame | None:
    """The ``load_table`` hook: serve ``name`` from a valid bucketed layout,
    ``None`` (caller reads raw parquet) otherwise.

    The layout searched is the one named by ``SPARK_GRAFT_BUCKETED_LAYOUT``
    when set, else (r8) the deterministic per-``sf_dir`` default that
    ``ensure_bucketed_layout`` builds — so the layout serves every query by
    default once built, without operator action. Valid means: manifest
    present, built from exactly the requested ``sf_dir``, containing
    ``name``, and newer than the source parquet (a layout left over from a
    regenerated dataset is ignored, never served stale). Registration is
    lazy and idempotent per session, cached per (session, layout),
    invalidated when the manifest changes, when another layout re-points
    the ``bkt_*`` names (see ``register_bucketed_layout``), or when the
    served table was dropped out from under the cache."""
    if name not in BUCKET_SPECS:
        return None
    env_dir = os.environ.get("SPARK_GRAFT_BUCKETED_LAYOUT")
    if env_dir and env_dir.lower() in ("none", "off", "0", "raw"):
        return None  # explicit raw-path escape hatch (benchmarking, debug)
    layout = Path(env_dir).resolve() if env_dir else default_layout_dir(sf_dir)
    manifest_path = layout / MANIFEST_NAME
    try:
        mtime = manifest_path.stat().st_mtime_ns
    except OSError:
        return None
    sf_resolved = Path(sf_dir).resolve()
    src = sf_resolved / f"{name}.parquet"
    tbl = _table_name(name)
    cache_key = (spark.sparkContext.applicationId, str(layout))
    cached = _REGISTRATION_CACHE.get(cache_key)
    # A cache hit still verifies THIS table's catalog location: anything can
    # re-point a global bkt_* name between calls (another layout's register,
    # a test's own saveAsTable) and a warm cache must never serve a table
    # whose storage no longer belongs to this layout (ADVICE r7, medium).
    if (
        cached is not None
        and cached[0] == mtime
        and spark.catalog.tableExists(tbl)
        and _table_location(spark, tbl) == _normalize_location(str(layout / name))
    ):
        manifest = cached[1]
    else:
        from .store_util import read_manifest_or_none

        manifest = read_manifest_or_none(manifest_path)
        if manifest is None or "sf_dir" not in manifest or "tables" not in manifest:
            return None  # torn/corrupt manifest: raw path, never a crash
        if manifest["sf_dir"] != str(sf_resolved):
            return None  # never register a foreign layout's tables
        register_bucketed_layout(spark, layout)
        _REGISTRATION_CACHE[cache_key] = (mtime, manifest)
    if manifest["sf_dir"] != str(sf_resolved):
        return None
    spec = manifest["tables"].get(name)
    if spec is None:
        return None
    # Staleness (r9): fingerprint-checked when the manifest carries one —
    # a source that gained files (append pending) is not served until
    # ensure applies the delta. r10 (ADVICE): this hook runs per table per
    # query, so the fingerprint rides the dir-mtime-keyed cache salted by
    # the manifest mtime instead of a full rglob+stat per call; an
    # in-place part-file overwrite that bypasses a rename is only caught
    # by ensure's exact fingerprint (or SPARK_GRAFT_FP_CACHE=off).
    # Pre-fingerprint manifests keep the mtime rule.
    files = spec.get("files")
    if files is not None:
        from .store_util import cached_source_fingerprint, classify_source_change

        if "pending_delta" in spec:
            return None
        state, _ = classify_source_change(
            files, cached_source_fingerprint(src, mtime)
        )
        if state != "fresh":
            return None
    elif src.exists() and src.stat().st_mtime_ns >= mtime:
        return None  # layout predates (or ties) the current source data
    return spark.table(tbl)
