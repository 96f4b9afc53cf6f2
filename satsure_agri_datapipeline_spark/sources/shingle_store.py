"""Bucketed shingle store: the dedup analog of ``sources/bucketed.py``.

The n-gram Jaccard self-join is the engine's single heaviest headline query
(581 s at 1000× bench scale, proven exchange-bound in the r6 formulation
race — four alternatives measured worse). Its cost decomposes as:

1. shingle hashing (xxhash64 per n-gram, map-only CPU);
2. TWO hash exchanges of the exploded (doc, shingle) relation — the two
   self-join sides project different column names, so ReuseExchange cannot
   dedupe them;
3. the pair-counting groupBy (inherent — this IS the answer).

A corpus that is deduplicated repeatedly (every new-data drop, every
curation round — the normal life of a training-data pipeline) re-pays 1 and
2 every run. This module pays them ONCE at ingest: the exploded
``(doc_id, n_sh, sh)`` relation is written CLUSTERED BY the shingle hash,
so every later Jaccard run reads co-located buckets and plans ZERO Exchange
on either self-join side — only the inherent pair groupBy remains. Same
manifest discipline as the bucketed fact layout: the store is keyed by
(source sf_dir, n, unit, seed), and a store built from different data or
parameters is never served.

Reference shape: the reference's pandas near-dup pass re-shingles the full
corpus per run (single process, no storage layout concept); this is the
Spark-native ingest-time answer at 100 TB, where the exploded relation is
tens of TB and its exchange dominates the query.

r9 maintenance model (see band_store for details): per-file source
fingerprint in the manifest; data drops append-delta (shingle rows for
just the new files — per-doc rows need no reconciliation), mutations
rebuild via rename-aside; ``shingle_store_or_none`` serves fresh stores
under the raw catalog names by default.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from satsure_agri_datapipeline_spark.sources.store_util import (
    StoreSpec,
    append_bucketed,
    build_bucketed,
    ensure_store,
    store_or_none,
)

SPEC = StoreSpec(
    kind="shingles",
    manifest_name="_shingle_manifest.json",
    env_knob="SPARK_GRAFT_SHINGLE_STORE",
    source="documents",
    params=("n", "unit", "seed"),
    bucket_by=("sh",),
)
MANIFEST_NAME = SPEC.manifest_name
ENV_KNOB = SPEC.env_knob


def _table_name(n: int, unit: str, seed: int) -> str:
    return f"bkt_shingles_{unit[0]}{n}_s{seed}"


def _shingles(docs: DataFrame, params: dict) -> DataFrame:
    """The exploded ``(doc_id, n_sh, sh)`` relation of distinct shingle
    hashes (identical expressions to ``dedup.shingle_hash_arrays`` — the
    downstream Jaccard counts are bit-identical). Rows are per-doc
    (``n_sh`` rides each row), so appended docs need no reconciliation
    with standing rows."""
    from satsure_agri_datapipeline_spark.operators.dedup import shingle_hash_arrays

    return shingle_hash_arrays(
        docs, n=params["n"], seed=params["seed"], unit=params["unit"]
    ).select(
        "doc_id",
        F.size("shs").alias("n_sh"),
        # explode_outer + null filter: plain explode's inferred size>0
        # filter would sink below with the shingle expression inlined,
        # doubling the hash work at build/delta time (r11)
        F.explode_outer("shs").alias("sh"),
    ).where(F.col("sh").isNotNull())


def build_shingle_store(
    spark: SparkSession,
    sf_dir: str | Path,
    layout_dir: str | Path,
    n: int = 3,
    unit: str = "word",
    seed: int = 0,
    n_buckets: int | None = None,
) -> dict:
    """One-time ingest: the documents table's exploded shingle hashes,
    written bucketed AND bucket-sorted by the hash. Idempotent
    (overwrite)."""
    params = {"n": n, "unit": unit, "seed": seed}
    return build_bucketed(
        SPEC, spark, sf_dir, layout_dir, params, n_buckets, _table_name(**params),
        _shingles,
    )


def append_shingle_delta(
    spark: SparkSession,
    layout: Path,
    manifest: dict,
    new_files: list[str],
) -> dict:
    """Delta maintenance for a data drop: shingle-hash ONLY the new source
    files and append their exploded rows into the standing bucketed table
    — cost ∝ the batch, not the corpus."""
    return append_bucketed(SPEC, spark, layout, manifest, new_files, _shingles)


def ensure_shingle_store(
    spark: SparkSession,
    sf_dir: str | Path,
    n: int = 3,
    unit: str = "word",
    seed: int = 0,
    n_buckets: int | None = None,
) -> DataFrame:
    """Serve the exploded shingle relation from the per-(sf_dir, params)
    store, building it on first use and re-attaching (metadata-only DDL)
    in later sessions; fingerprint-driven append-delta / rebuild
    maintenance as ``store_util.ensure_store``. The digest key includes
    every byte-affecting parameter (incl. n_buckets)."""
    return ensure_store(
        SPEC, spark, sf_dir, {"n": n, "unit": unit, "seed": seed},
        build_shingle_store, append_shingle_delta, n_buckets,
    )


def shingle_store_or_none(
    spark: SparkSession,
    sf_dir: str | Path,
    n: int = 3,
    unit: str = "word",
    seed: int = 0,
    n_buckets: int | None = None,
) -> DataFrame | None:
    """Default-serving hook for the RAW query names (r8 fact-layout
    pattern): serve a FRESH store when one exists, ``None`` otherwise.
    Never builds and never delta-appends; a store awaiting an append is
    stale for the raw name. ``SPARK_GRAFT_SHINGLE_STORE=none|off|0|raw``
    is the escape hatch."""
    return store_or_none(
        SPEC, spark, sf_dir, {"n": n, "unit": unit, "seed": seed}, n_buckets
    )
