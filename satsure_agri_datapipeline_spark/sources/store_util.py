"""The one lifecycle of the standing stores, and the disk discipline under it.

Eight single-source stores (:data:`STORE_MODULES`) keep a relation derived
from one source table (``documents`` or ``embeddings``) in a deterministic
directory under the system tempdir. Each store module declares a
:class:`StoreSpec` and keeps only what is its own: the row derivation (for
the ANN stores, the fit and the writes) and its query helpers. The rest
lives here, once:

- ``classify_store``: fresh / append / rebuild from the manifest (source,
  every parameter, ``n_buckets`` when keyed) and the per-file source
  fingerprint; a bad manifest, a ``pending_delta`` crash marker or a full
  delta chain (:func:`max_deltas`) means rebuild.
- ``append_delta``: pending marker → check that no new file vanished →
  derive and write the new files' rows only → final manifest.
- ``ensure_store``: the append under :func:`claim_append` (the loser
  re-classifies), else a rebuild: :func:`retire_layout` → scratch build →
  :func:`atomic_swap` → discard bucket-count-superseded siblings.
- ``store_or_none``: the raw names' hook — escape hatch, then a fresh store
  only (and only before the first delta when deltas pin fitted
  parameters). Never builds.
- ``serve_store``: attach the bucketed table with a location check, or read
  the layout's parts by path with the schema the manifest recorded at build
  (no schema-inference job), driver-held parts from a per-build cache.

A module's ``ensure_<store>`` passes its own ``build_*`` and ``append_*``
to ``ensure_store`` at call time, so a wrapper installed on those module
attributes (tracing) sees every rebuild and append.

Disk discipline shared with the fact-table layout (``bucketed.py``):

- ``layout_dir``: the deterministic per-parameter directory. The digest
  key includes EVERY parameter that changes the store's bytes (source
  dir, n_buckets, hash params, ...) so two configurations can never
  collide on one path.
- ``atomic_swap``: builds happen in a process-unique sibling directory
  and are renamed into place, so a concurrent builder (bench + pytest
  racing ``needs_build``) can never interleave half-written files under
  the served path. The loser of the rename discards its build and serves
  the winner's. Spark's ``saveAsTable`` registered the build-dir path as
  each table's LOCATION, so callers must re-attach tables from the final
  path after the swap (``serve_store`` drops and recreates on location
  mismatch). Scratch and aside directories of a process that died
  mid-rebuild are removed by later ensures (``sweep_dead_scratch``).
"""

from __future__ import annotations

import hashlib
import itertools
import json
import logging
import os
import re
import shutil
import tempfile
import uuid
from dataclasses import dataclass
from pathlib import Path
from types import ModuleType
from typing import Any, Callable

_LOG = logging.getLogger("satsure_agri_datapipeline_spark.stores")

# Process-local uniquifier for retire_layout aside names: two retires of the
# same layout within one process (test loops) must not collide on the pid.
_ASIDE_COUNTER = itertools.count()


def layout_dir(kind: str, *key_parts: object) -> Path:
    """Deterministic store directory: ``$TMPDIR/spark_graft_<kind>_<digest>``
    where the digest covers every store parameter."""
    key = "|".join(str(p) for p in key_parts)
    digest = hashlib.sha1(key.encode()).hexdigest()[:12]
    return Path(tempfile.gettempdir()) / f"spark_graft_{kind}_{digest}"


def build_scratch_dir(layout: Path) -> Path:
    """Process-unique sibling of ``layout`` to build into before the swap."""
    return layout.parent / f"{layout.name}.build{os.getpid()}"


def source_fingerprint(src: Path) -> dict[str, list[int]]:
    """``{relpath: [mtime_ns, size]}`` for a parquet source that is either a
    single file or a directory of part files. Hidden/underscore-prefixed
    entries (``_SUCCESS``, ``.crc``) are ignored — they carry no data and
    committers touch them freely. The fingerprint is the store manifests'
    provenance record: identical fingerprint ⇒ identical source bytes for
    staleness purposes (mtime_ns + size per file)."""
    if not src.exists():
        return {}
    if src.is_file():
        st = src.stat()
        return {src.name: [st.st_mtime_ns, st.st_size]}
    out: dict[str, list[int]] = {}
    for f in sorted(src.rglob("*")):
        if f.is_file() and not f.name.startswith((".", "_")):
            st = f.stat()
            out[str(f.relative_to(src))] = [st.st_mtime_ns, st.st_size]
    return out


def write_manifest(path: Path, obj: dict) -> None:
    """Atomic manifest write (ADVICE r9, medium): JSON to a temp file in the
    same directory + ``os.replace`` over the manifest, so a concurrent
    session's read can never observe a truncated file. Plain ``write_text``
    on the live manifest raced ``_classify``/serving readers into
    JSONDecodeError crashes on default-served raw queries."""
    tmp = path.parent / f"{path.name}.tmp{os.getpid()}"
    tmp.write_text(json.dumps(obj, indent=2))
    os.replace(tmp, path)


def read_manifest_or_none(path: Path) -> dict | None:
    """Tolerant manifest read: missing, unreadable, or unparseable (plain
    corruption, or a torn write from a pre-``write_manifest`` version) all
    mean 'no usable manifest' — the caller classifies as rebuild / refuses
    to serve, instead of an exception escaping a default-serving hook."""
    try:
        m = json.loads(path.read_text())
    except (OSError, json.JSONDecodeError):
        return None
    return m if isinstance(m, dict) else None


_DELTA_LOCK_NAME = "_delta.lock"


def claim_append(layout: Path) -> bool:
    """Writer mutual exclusion for the append-delta path (ADVICE r9, high):
    two sessions can both classify the same data drop as 'append' before
    either writes the ``pending_delta`` marker — without a claim, both
    would insert the new files' rows and silently corrupt every downstream
    jaccard/containment/fact aggregate while the final manifest records
    the store as fresh. ``os.open(O_CREAT|O_EXCL)`` on a lock file inside
    the layout dir; exactly one claimant wins, losers re-classify after
    the winner's manifest update (or fall back to a rebuild, which is
    serialized separately via scratch-dir + atomic_swap).

    The lock is liveness-only, never the consistency mechanism: a claimant
    that crashes leaves either (a) no pending marker — the next ensure
    fails the claim and degrades to a rebuild, which renames the layout
    (lock included) aside — or (b) a pending marker, which forces a
    rebuild by itself. No unlock-on-crash protocol is needed."""
    try:
        fd = os.open(
            layout / _DELTA_LOCK_NAME, os.O_CREAT | os.O_EXCL | os.O_WRONLY
        )
    except OSError:
        return False
    with os.fdopen(fd, "w") as f:
        f.write(str(os.getpid()))
    return True


def release_append(layout: Path) -> None:
    """Best-effort unlock of :func:`claim_append` (the layout may have been
    renamed aside by a racing rebuild; that copy of the lock dies with the
    aside dir)."""
    try:
        os.unlink(layout / _DELTA_LOCK_NAME)
    except OSError:
        pass


def log_store_fallback(what: str, exc: Exception) -> None:
    """ADVICE r9, low: the ensure/serve paths convert ANY failure into a
    full rebuild or a raw-compute fallback by design (availability over
    latency) — but a SILENT conversion masks genuine code/config bugs as
    repeated rebuild cost. Log the cause at warning before falling back."""
    _LOG.warning("%s failed; falling back (rebuild/raw): %r", what, exc)


# (src path, salt) -> (top-level dir mtime_ns, fingerprint). See
# cached_source_fingerprint for the exact staleness contract.
_FP_CACHE: dict[tuple[str, int], tuple[int, dict[str, list[int]]]] = {}


def cached_source_fingerprint(
    src: Path, salt: int = 0
) -> dict[str, list[int]]:
    """``source_fingerprint`` behind a directory-mtime-keyed cache, for the
    HOT serving hooks only (``*_or_none`` runs on every ``load_table`` call
    per table per query; a full rglob+stat of a many-part source on each is
    real overhead at scale — ADVICE r9, low). ``ensure_*`` maintenance
    paths keep the exact uncached fingerprint.

    Invalidates on: the source's top-level directory mtime (any file
    add/remove/rename in a flat part-file layout touches it) or a change
    of ``salt`` (callers pass the store manifest's mtime_ns, so every
    ensure-driven rebuild/append refreshes the cache). The accepted
    escape: an IN-PLACE overwrite of an existing part file in a nested
    subdirectory, or one that never goes through a rename — not how any
    parquet committer writes. Single-file sources bypass the cache (one
    stat). ``SPARK_GRAFT_FP_CACHE=off|0|none`` disables."""
    if os.environ.get("SPARK_GRAFT_FP_CACHE", "").lower() in (
        "off", "0", "none",
    ):
        return source_fingerprint(src)
    try:
        if not src.is_dir():
            return source_fingerprint(src)
        dir_mtime = src.stat().st_mtime_ns
    except OSError:
        return source_fingerprint(src)
    key = (str(src), salt)
    hit = _FP_CACHE.get(key)
    if hit is not None and hit[0] == dir_mtime:
        return hit[1]
    fp = source_fingerprint(src)
    _FP_CACHE[key] = (dir_mtime, fp)
    return fp


def classify_source_change(
    recorded: dict[str, list[int]] | None, current: dict[str, list[int]]
) -> tuple[str, list[str]]:
    """Compare a manifest's recorded source fingerprint against the current
    one: ``("fresh", [])`` when identical, ``("append", new_relpaths)`` when
    every recorded file is byte-identical and only NEW files appeared (the
    delta-maintenance case — a data drop into a directory source), else
    ``("rebuild", [])`` (mutation, deletion, single-file rewrite, or a
    pre-fingerprint manifest). JSON round-trips fingerprints as lists, so
    entries compare as lists on both sides."""
    if not recorded or not current:
        return ("rebuild", [])
    rec = {k: list(v) for k, v in recorded.items()}
    cur = {k: list(v) for k, v in current.items()}
    if rec == cur:
        return ("fresh", [])
    if all(cur.get(k) == v for k, v in rec.items()):
        return ("append", sorted(k for k in cur if k not in rec))
    return ("rebuild", [])


def source_total_bytes(src: Path) -> int:
    """Total parquet data bytes under ``src`` (file or directory of part
    files; hidden/underscore committer artifacts ignored) — the only size
    measure known BEFORE any Spark job runs. Shared by
    :func:`default_n_buckets` and the pair-family size gate
    (``plans/catalog_llm.py``, r13). Unreadable source → 0 (callers treat
    that as 'small': raw semantics / smallest bucket count)."""
    try:
        if src.is_dir():
            return sum(
                f.stat().st_size
                for f in src.rglob("*")
                if f.is_file() and not f.name.startswith((".", "_"))
            )
        return src.stat().st_size
    except OSError:
        return 0


def default_n_buckets(src: Path) -> int:
    """Scale-aware default bucket count for a store over ``src`` (r12):
    bucket counts must grow with the corpus exactly like band keys (the
    r10 lesson) and shuffle partitions (r10 ``_pick_shuffle_partitions``)
    — a 32-bucket exploded shingle relation at 1000× puts ~8 M rows in
    each self-join partition and the join's per-task sort/hash state
    spills tens of GiB on a zero-Exchange plan (measured r12: 145 GiB on
    the df-capped containment probe). Thresholds on the SOURCE table's
    parquet bytes (the only size known before the build): ≥ 256 MiB → 128
    buckets, ≥ 64 MiB → 64, else 32 — sf0.1 (0.6 MiB) and the 100× corpus
    (42 MiB) keep their recorded 32-bucket bands; the 1000× corpus
    (421 MiB) gets 128. ``SPARK_GRAFT_STORE_N_BUCKETS`` overrides.

    The resolved count is part of the layout key and the manifest, so a
    source that grows across a threshold simply stops serving the old
    layout (or_none returns None → raw path) until the next ensure builds
    the right-sized one — the standard staleness discipline."""
    env = os.environ.get("SPARK_GRAFT_STORE_N_BUCKETS")
    if env:
        try:
            return int(env)
        except ValueError:
            pass
    total = source_total_bytes(src)
    if total >= 256 * 1024**2:
        return 128
    if total >= 64 * 1024**2:
        return 64
    return 32


def max_deltas() -> int:
    """Delta-chain compaction bound: after this many append deltas a store
    rebuilds instead of appending again. Each delta adds one parquet file
    per bucket (Spark reads multi-file buckets fine, but file-count grows
    linearly with drops and small files erode scan efficiency); a bound of
    16 caps files-per-bucket at 17 while still amortizing the full
    signature/shingle pass across 16 drops.
    ``SPARK_GRAFT_STORE_MAX_DELTAS`` overrides."""
    try:
        return int(os.environ.get("SPARK_GRAFT_STORE_MAX_DELTAS", "16"))
    except ValueError:
        return 16


def retire_layout(layout: Path) -> Path | None:
    """Atomically rename a stale layout ASIDE (instead of rmtree-in-place)
    so a concurrent session already scanning tables registered over the old
    location keeps reading complete files for the whole rebuild; the caller
    deletes the returned aside dir after the new layout is swapped in.
    Returns None when the layout doesn't exist or another process already
    retired it (benign race — both were replacing the same stale bytes)."""
    if not layout.exists():
        return None
    aside = layout.parent / (
        f"{layout.name}.old{os.getpid()}_{next(_ASIDE_COUNTER)}"
    )
    try:
        os.rename(layout, aside)
    except OSError:
        return None
    return aside


def discard_retired(aside: Path | None) -> None:
    """Best-effort cleanup of a retire_layout aside dir."""
    if aside is not None:
        shutil.rmtree(aside, ignore_errors=True)


# ``<layout>.build<pid>`` (build_scratch_dir) / ``<layout>.old<pid>_<n>``
# (retire_layout): the pid of the process that owns the directory.
_SCRATCH_PID = re.compile(r"\.(?:build(\d+)|old(\d+)_\d+)$")


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:  # it exists but belongs to another user
        return True
    return True


def sweep_dead_scratch(parent: Path, prefix: str) -> list[Path]:
    """Delete the build scratch (``.build<pid>``) and rename-aside
    (``.old<pid>_<n>``) directories named ``<prefix>…`` under ``parent``
    whose owning process no longer exists. Their owner deletes them after a
    rebuild; a process that dies mid-rebuild leaves a full store copy
    behind that nothing else would remove. Directories of live processes
    are left alone (a build or its readers' grace period may be under
    way), and so is everything else. The pid check is local: a process
    sharing the directory from another pid namespace looks dead here.
    Best-effort, like :func:`discard_retired`."""
    removed: list[Path] = []
    try:
        entries = list(parent.glob(prefix + "*"))
    except OSError:
        return removed
    for d in entries:
        m = _SCRATCH_PID.search(d.name)
        if m is None:
            continue
        pid = int(m.group(1) or m.group(2))
        if _pid_alive(pid):
            continue
        shutil.rmtree(d, ignore_errors=True)
        removed.append(d)
    if removed:
        _LOG.warning(
            "removed %d scratch dir(s) left by dead processes: %s",
            len(removed),
            ", ".join(p.name for p in removed),
        )
    return removed


def discard_stale_siblings(
    kind: str, manifest_name: str, current_layout: Path, match: dict
) -> list[Path]:
    """ADVICE r12: a source that grows across a :func:`default_n_buckets`
    threshold changes the layout digest, so the rebuild lands in a NEW
    ``spark_graft_<kind>_*`` dir and the old-bucket-count layout would be
    orphaned forever (``retire_layout`` only ever targets the new key's
    path). Called after a successful rebuild: delete sibling layouts of
    the same kind whose manifests agree with ``match`` on every key (same
    source + every store param EXCEPT n_buckets — equal params would have
    hashed to the current dir, so a matching sibling is by construction a
    superseded bucket-count generation). Removal goes through
    retire_layout's rename-aside first, the same grace given to every
    in-place rebuild. Scratch (``.buildPID``) and aside (``.oldPID``)
    dirs are not siblings: those of dead processes are swept
    (:func:`sweep_dead_scratch`), the rest belong to their live owners;
    unreadable manifests are left alone (possibly mid-write by another
    process). Best-effort throughout: a missed orphan costs disk, never
    correctness."""
    removed: list[Path] = []
    prefix = f"spark_graft_{kind}_"
    sweep_dead_scratch(current_layout.parent, prefix)
    try:
        siblings = list(current_layout.parent.glob(prefix + "*"))
    except OSError:
        return removed
    for d in siblings:
        if d == current_layout or "." in d.name[len(prefix):]:
            continue
        try:
            if not d.is_dir():
                continue
        except OSError:
            continue
        m = read_manifest_or_none(d / manifest_name)
        if m is None:
            continue
        if all(m.get(k) == v for k, v in match.items()):
            discard_retired(retire_layout(d))
            removed.append(d)
    if removed:
        _LOG.warning(
            "%s store: discarded %d superseded layout(s) keyed at a "
            "different bucket count: %s",
            kind,
            len(removed),
            ", ".join(p.name for p in removed),
        )
    return removed


# (app_id, table) -> last-seen manifest mtime_ns; a change means another
# process rebuilt the layout under the SAME path, so this session's cached
# file index for the table lists deleted files and must be refreshed.
_REFRESH_SEEN: dict[tuple[str, str], int] = {}


def refresh_if_rebuilt(spark, tbl: str, manifest_path: Path) -> None:
    """Invalidate a served table's cached file listing when its layout was
    rebuilt in place by ANOTHER process (manifest mtime moved since this
    session last attached). Without this, a session that attached before a
    concurrent rebuild keeps a file index of renamed-away files and every
    later scan dies with FAILED_READ_FILE until a manual REFRESH TABLE."""
    try:
        m = manifest_path.stat().st_mtime_ns
    except OSError:
        return
    key = (spark.sparkContext.applicationId, tbl)
    prev = _REFRESH_SEEN.get(key)
    if prev is not None and prev != m and spark.catalog.tableExists(tbl):
        spark.sql(f"REFRESH TABLE {tbl}")
    _REFRESH_SEEN[key] = m


def atomic_swap(scratch: Path, layout: Path) -> None:
    """Move a completed build into place. If another process completed a
    build first (its layout already sits at the final path, manifest
    included), keep THEIRS and discard ours — both were built from the
    same (source, params) key so they are interchangeable; a stale layout
    at the final path was already removed by the caller before building."""
    try:
        os.rename(scratch, layout)
    except OSError:
        if layout.exists():
            shutil.rmtree(scratch, ignore_errors=True)
        else:
            raise


# --------------------------------------------------------------------------
# the store lifecycle

# The registered single-source stores, as module names under ``sources``.
# Each module defines ``SPEC`` and the entry points ``build_<module>``,
# ``append_<module minus _store>_delta``, ``ensure_<module>`` and
# ``<module>_or_none``.
STORE_MODULES = (
    "band_store",
    "shingle_store",
    "simhash_store",
    "digest_store",
    "token_stats_store",
    "ivf_store",
    "pq_store",
    "ivfpq_store",
)


def store_modules() -> list[ModuleType]:
    """The modules of :data:`STORE_MODULES`, imported."""
    import importlib

    return [importlib.import_module(f"{__package__}.{m}") for m in STORE_MODULES]


def escape_hatches() -> list[str]:
    """Every setting that turns default store serving off: each store's
    escape hatch plus the fact-table layout's (``bucketed.py``)."""
    return [m.SPEC.env_knob for m in store_modules()] + ["SPARK_GRAFT_BUCKETED_LAYOUT"]


@dataclass(frozen=True)
class StoreSpec:
    """What one store declares; the lifecycle below does the rest.

    ``params`` are the parameter keys in entry-point order: they key the
    layout directory (followed by ``n_buckets`` for bucketed stores) and
    are compared against the manifest. A store with ``bucket_by`` serves
    one catalog table CLUSTERED and SORTED BY those columns, keyed by
    ``n_buckets``; a store with ``parts`` serves path reads of those
    layout subdirectories. ``driver_parts`` (a subset of ``parts``) are
    small by construction and never change between rebuilds (a trained
    codebook): they are collected once per build and served as local
    relations, so reading their rows back costs no Spark job.
    ``raw_serves_deltas=False`` marks stores whose deltas pin fitted
    parameters (centroids, codebooks): the raw names' hook then serves
    them only before the first delta."""

    kind: str
    manifest_name: str
    env_knob: str
    source: str
    params: tuple[str, ...]
    bucket_by: tuple[str, ...] = ()
    parts: tuple[str, ...] = ()
    driver_parts: tuple[str, ...] = ()
    raw_serves_deltas: bool = True


def _source(spec: StoreSpec, sf: Path) -> Path:
    """The source table under the resolved source dir ``sf``."""
    return sf / f"{spec.source}.parquet"


def _locate(
    spec: StoreSpec, sf_dir: str | Path, params: dict, n_buckets: int | None
) -> tuple[Path, dict, Path]:
    """(resolved source dir, manifest key, layout dir). The key is every
    parameter in spec order, then the resolved ``n_buckets`` for bucketed
    stores (scale-aware default, r12)."""
    sf = Path(sf_dir).resolve()
    key = {k: params[k] for k in spec.params}
    if spec.bucket_by:
        key["n_buckets"] = (
            default_n_buckets(_source(spec, sf)) if n_buckets is None else n_buckets
        )
    return sf, key, layout_dir(spec.kind, sf, *key.values())


def classify_store(
    spec: StoreSpec, layout: Path, sf: Path, key: dict, cached: bool = False
) -> tuple[str, list[str], dict | None]:
    """(state, new_files, manifest) where state ∈ fresh|append|rebuild.
    A manifest from other params/source, a pre-fingerprint manifest, an
    unreadable/unparseable one, or one carrying a ``pending_delta`` marker
    (a delta append that may or may not have committed before a crash —
    indistinguishable, so never trusted) all classify as rebuild, and so
    does an append once the delta chain reaches :func:`max_deltas`
    (compaction; for the ANN stores it is the periodic refit). With
    ``cached=True`` (the hot serving hooks only — ensure keeps the exact
    fingerprint so mutations are always caught) the source fingerprint
    comes from the dir-mtime-keyed cache salted by the manifest mtime."""
    manifest_path = layout / spec.manifest_name
    manifest = read_manifest_or_none(manifest_path)
    if manifest is None:
        return ("rebuild", [], None)
    if manifest.get("sf_dir") != str(sf) or any(
        manifest.get(k) != v for k, v in key.items()
    ):
        return ("rebuild", [], manifest)
    if "pending_delta" in manifest:
        return ("rebuild", [], manifest)
    src = _source(spec, sf)
    if cached:
        try:
            salt = manifest_path.stat().st_mtime_ns
        except OSError:
            salt = 0
        current = cached_source_fingerprint(src, salt)
    else:
        current = source_fingerprint(src)
    state, new_files = classify_source_change(manifest.get("files"), current)
    if state == "append" and len(manifest.get("deltas", [])) >= max_deltas():
        return ("rebuild", [], manifest)
    return (state, new_files, manifest)


def _attach(spark, spec: StoreSpec, layout: Path, manifest: dict) -> None:
    tbl = manifest["table"]
    location = layout / tbl
    if "'" in str(location):
        raise ValueError(f"{spec.kind} store path contains a quote: {location}")
    cols = ", ".join(spec.bucket_by)
    spark.sql(
        f"CREATE TABLE {tbl} ({manifest['ddl_schema']}) USING parquet "
        f"CLUSTERED BY ({cols}) SORTED BY ({cols}) "
        f"INTO {manifest['n_buckets']} BUCKETS LOCATION '{location}'"
    )


def part_schema(frame, partition_by: tuple[str, ...] = ()) -> str:
    """The schema a parquet read of ``frame``, written partitioned by
    ``partition_by``, has — as a DDL string for the manifest's
    ``part_schemas``. Derived from the frame, so recording it costs no
    Spark job: a read puts the partition columns after the data columns,
    and a parsed DDL string is all-nullable, as Spark writes every parquet
    column and array element."""
    fields = [f for f in frame.schema.fields if f.name not in partition_by] + [
        f for p in partition_by for f in frame.schema.fields if f.name == p
    ]
    return ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in fields)


def write_part(
    frame, layout: Path, part: str, mode: str, partition_by: tuple[str, ...] = ()
) -> dict:
    """Write one path part of a layout; returns ``{part: read schema}``
    (:func:`part_schema`) for the manifest."""
    writer = frame.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(str(layout / part))
    return {part: part_schema(frame, partition_by)}


def read_part(spark, layout: Path, part: str, manifest: dict):
    """A path part read with the schema recorded at build; a manifest that
    records none (a layout built before schemas were recorded) reads with
    schema inference, one Spark job per part."""
    schema = manifest.get("part_schemas", {}).get(part)
    if schema is None:
        return spark.read.parquet(str(layout / part))
    return spark.read.schema(schema).parquet(str(layout / part))


# (layout, part) -> (build id, rows as an Arrow table) of a driver-held part
_DRIVER_PARTS: dict[tuple[str, str], tuple[str, Any]] = {}


def _driver_part(spark, layout: Path, part: str, manifest: dict):
    """A ``driver_parts`` part as a local relation: its rows are collected
    once per build (the manifest's ``build_id``; an append leaves them as
    they are, a rebuild in any process changes the id) and every later
    serve reads them from the driver with no Spark job and no listing. A
    manifest without a build id or a recorded schema serves the file
    read."""
    build_id = manifest.get("build_id")
    schema = manifest.get("part_schemas", {}).get(part)
    if build_id is None or schema is None:
        return read_part(spark, layout, part, manifest)
    key = (str(layout), part)
    hit = _DRIVER_PARTS.get(key)
    if hit is None or hit[0] != build_id:
        rows = read_part(spark, layout, part, manifest).toArrow()
        hit = _DRIVER_PARTS[key] = (build_id, rows)
    return spark.createDataFrame(hit[1], schema)


def serve_store(spark, spec: StoreSpec, layout: Path, manifest: dict) -> Any:
    """The served relation(s). Bucketed stores: attach-if-needed with
    location verification — a table by this name from an EARLIER store
    (different tmpdir, rebuilt data, or the scratch dir a build
    registered) must not be served, like ``bucketed.register_bucketed_layout``
    — then refresh the file listing if another process rebuilt the layout
    in place. Path stores: one read per part with the schema recorded in
    the manifest, so serving runs no Spark job; each read re-lists the
    directories, so a rebuild is picked up without refresh bookkeeping.
    ``driver_parts`` come from the per-build driver cache."""
    if not spec.bucket_by:
        return tuple(
            (_driver_part if p in spec.driver_parts else read_part)(
                spark, layout, p, manifest
            )
            for p in spec.parts
        )
    from .bucketed import _normalize_location, _table_location

    tbl = manifest["table"]
    if not spark.catalog.tableExists(tbl):
        _attach(spark, spec, layout, manifest)
    elif _table_location(spark, tbl) != _normalize_location(str(layout / tbl)):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        _attach(spark, spec, layout, manifest)
    refresh_if_rebuilt(spark, tbl, layout / spec.manifest_name)
    return spark.table(tbl)


def _bucketed_writer(spec: StoreSpec, rows, n_buckets: int):
    return (
        rows.repartition(n_buckets, *spec.bucket_by)
        .write.format("parquet")
        .bucketBy(n_buckets, *spec.bucket_by)
        .sortBy(*spec.bucket_by)
    )


def build_store(
    spec: StoreSpec,
    spark,
    sf_dir: str | Path,
    layout: str | Path,
    params: dict,
    write: Callable[[Any, Path], dict | None],
) -> dict:
    """One-time ingest into ``layout``: ``write(source_frame, layout)``
    writes the store's artifacts from the whole source table and returns
    any extra manifest entries (a path store's ``part_schemas``, from
    :func:`write_part`); the manifest records the source fingerprint taken
    BEFORE the read, so a file landing mid-build is absent from it and
    picked up as an append delta next ensure — never silently
    recorded-but-unread — and a fresh ``build_id``. Idempotent
    (overwrite)."""
    from .tables import load_table

    sf = Path(sf_dir).resolve()
    layout = Path(layout).resolve()
    layout.mkdir(parents=True, exist_ok=True)
    files = source_fingerprint(_source(spec, sf))
    extra = write(load_table(spark, sf_dir, spec.source), layout) or {}
    manifest = {
        "sf_dir": str(sf),
        **params,
        **extra,
        "build_id": uuid.uuid4().hex,
        "files": files,
        "deltas": [],
    }
    write_manifest(layout / spec.manifest_name, manifest)
    return manifest


def build_bucketed(
    spec: StoreSpec,
    spark,
    sf_dir: str | Path,
    layout: str | Path,
    params: dict,
    n_buckets: int | None,
    table: str,
    rows: Callable[[Any, dict], Any],
) -> dict:
    """:func:`build_store` for a bucketed store: ``rows(source, params)``
    written bucketed AND bucket-sorted by ``spec.bucket_by`` as ``table``
    under the layout."""
    if n_buckets is None:
        n_buckets = default_n_buckets(_source(spec, Path(sf_dir).resolve()))

    def write(frame, out: Path) -> dict:
        derived = rows(frame, params)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        _bucketed_writer(spec, derived, n_buckets).mode("overwrite").option(
            "path", str(out / table)
        ).saveAsTable(table)
        return {
            "n_buckets": n_buckets,
            "table": table,
            "ddl_schema": ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in derived.schema.fields
            ),
        }

    return build_store(spec, spark, sf_dir, layout, params, write)


def append_delta(
    spec: StoreSpec,
    spark,
    layout: Path,
    manifest: dict,
    new_files: list[str],
    write: Callable[[Any], dict | None],
) -> dict:
    """Delta maintenance for a data drop: ``write(new_rows)`` derives and
    writes the store rows of ONLY the new source files — cost ∝ the batch,
    not the corpus. A path store's ``write`` returns the read schemas of
    the parts it appended to; one that differs from the schema recorded at
    build raises (the caller rebuilds), so the recorded schemas carried
    forward keep describing every file of the part.

    Crash discipline: the manifest is stamped ``pending_delta`` BEFORE the
    write and finalized after — a crash between the two leaves a marker
    that forces a full rebuild next ensure (a committed-but-unrecorded
    append is indistinguishable from an uncommitted one). The source is
    fingerprinted before the read and ONLY the files this delta read are
    recorded: a file landing between classify and here stays unrecorded
    and is picked up by the next ensure as its own delta. Writer mutual
    exclusion (two sessions classifying the same drop as 'append') is the
    caller's job via :func:`claim_append`."""
    from .tables import load_parquet_files

    manifest_path = layout / spec.manifest_name
    write_manifest(manifest_path, dict(manifest, pending_delta=sorted(new_files)))
    src = Path(manifest["sf_dir"]) / f"{spec.source}.parquet"
    current = source_fingerprint(src)
    read_files = {f: current[f] for f in new_files if f in current}
    if set(read_files) != set(new_files):
        raise FileNotFoundError(
            f"{spec.kind} store delta: a new source file vanished before the read"
        )
    schemas = write(load_parquet_files(spark, [src / f for f in sorted(new_files)]))
    recorded = manifest.get("part_schemas", {})
    for part, schema in (schemas or {}).items():
        if part in recorded and recorded[part] != schema:
            raise ValueError(
                f"{spec.kind} store delta: {part} rows have another schema "
                "than the store's"
            )
    done = dict(
        manifest,
        files={**manifest.get("files", {}), **read_files},
        deltas=[*manifest.get("deltas", []), sorted(new_files)],
    )
    write_manifest(manifest_path, done)
    return done


def append_bucketed(
    spec: StoreSpec,
    spark,
    layout: Path,
    manifest: dict,
    new_files: list[str],
    rows: Callable[[Any, dict], Any],
) -> dict:
    """:func:`append_delta` for a bucketed store: the new rows are appended
    through the attached table, one more file per bucket. Multi-file
    buckets keep HashPartitioning, so zero-Exchange join plans over the
    store survive the append (probe-verified)."""
    serve_store(spark, spec, layout, manifest)

    def write(frame) -> None:
        _bucketed_writer(spec, rows(frame, manifest), manifest["n_buckets"]).mode(
            "append"
        ).saveAsTable(manifest["table"])

    return append_delta(spec, spark, layout, manifest, new_files, write)


def ensure_store(
    spec: StoreSpec,
    spark,
    sf_dir: str | Path,
    params: dict,
    build: Callable[..., dict],
    append: Callable[..., dict],
    n_buckets: int | None = None,
) -> Any:
    """Serve the store for (``sf_dir``, ``params``), maintaining it first:
    an unchanged source serves as-is; a source that only GAINED files (a
    data drop into a directory source) gets ``append(spark, layout,
    manifest, new_files)`` under the writer lock; anything else — a
    mutation or deletion, a single-file rewrite, a pending marker, a full
    delta chain, an append that failed — rebuilds through
    ``build(spark, sf_dir, scratch, **params[, n_buckets=])``. The stale
    layout is renamed aside (not rmtree'd in place) so concurrent readers
    of the old layout finish their scans. Scratch and aside directories of
    this layout left by dead processes are swept first."""
    sf, key, layout = _locate(spec, sf_dir, params, n_buckets)
    sweep_dead_scratch(layout.parent, layout.name + ".")
    state, new_files, manifest = classify_store(spec, layout, sf, key)
    if state == "append":
        if claim_append(layout):
            try:
                manifest = append(spark, layout, manifest, new_files)
                return serve_store(spark, spec, layout, manifest)
            except Exception as exc:
                log_store_fallback(f"{spec.kind} store append delta", exc)
                state = "rebuild"  # pending_delta marker forces it anyway
            finally:
                release_append(layout)
        else:
            # Another session claimed this delta (ADVICE r9 high: without
            # the claim, both would insert the new rows and silently
            # corrupt every downstream aggregate). Re-classify: if the
            # winner finished, serve its result; anything else (winner
            # in-flight or crashed) degrades to a rebuild, which is
            # serialized via scratch-dir + atomic_swap.
            state, new_files, manifest = classify_store(spec, layout, sf, key)
            if state == "fresh":
                return serve_store(spark, spec, layout, manifest)
            state = "rebuild"
    if state == "rebuild":
        aside = retire_layout(layout)
        scratch = build_scratch_dir(layout)
        build(spark, sf, scratch, **key)
        atomic_swap(scratch, layout)
        discard_retired(aside)
        if spec.bucket_by:
            # ADVICE r12: a default_n_buckets threshold crossing rekeys
            # the layout dir; drop the superseded generation(s), matched
            # on the source and every parameter but n_buckets.
            discard_stale_siblings(
                spec.kind, spec.manifest_name, layout, {"sf_dir": str(sf), **params}
            )
        manifest = json.loads((layout / spec.manifest_name).read_text())
    return serve_store(spark, spec, layout, manifest)


def store_or_none(
    spec: StoreSpec,
    spark,
    sf_dir: str | Path,
    params: dict,
    n_buckets: int | None = None,
) -> Any:
    """The default-serving hook (r8 fact-layout pattern,
    ``bucketed.bucketed_table_or_none``): the store under the RAW query
    names when it is FRESH, ``None`` otherwise (the caller computes from
    the source). Never builds and never delta-appends — ingest cost stays
    explicit; a store awaiting an append delta is stale for the raw name.
    A store whose deltas pin fitted parameters is served only while its
    delta chain is empty: the one state in which it equals the
    from-scratch recompute the raw names' oracles pin. ``spec.env_knob`` =
    ``none|off|0|raw`` is the escape hatch."""
    if os.environ.get(spec.env_knob, "").lower() in ("none", "off", "0", "raw"):
        return None
    sf, key, layout = _locate(spec, sf_dir, params, n_buckets)
    state, _, manifest = classify_store(spec, layout, sf, key, cached=True)
    if state != "fresh" or (not spec.raw_serves_deltas and manifest.get("deltas")):
        return None
    try:
        return serve_store(spark, spec, layout, manifest)
    except Exception as exc:
        # racing rebuild retired the layout mid-attach: raw path
        log_store_fallback(f"{spec.kind} store attach", exc)
        return None
