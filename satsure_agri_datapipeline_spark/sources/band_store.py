"""Bucketed MinHash band store: the LSH analog of ``shingle_store.py``.

``doc_minhash_lsh`` re-pays two costs every run on a corpus that is
deduplicated repeatedly (each new-data drop, each curation round):

1. the signatures — num_hashes affine-mixed mins over each doc's shingle
   set (one md5 per shingle, map-only but CPU-heavy: 114 s at 1000× bench
   scale, where DuckDB is OOM-killed outright);
2. the band self-join's TWO hash exchanges of the exploded
   ``(doc, band, band_sig)`` relation (the two sides project different
   column names, so ReuseExchange cannot dedupe them).

This module pays both ONCE at ingest: the band relation — num_bands
fixed-width rows per doc with the full signature riding along — is written
CLUSTERED BY (band, band_sig), so every later LSH run reads co-located
buckets and plans ZERO Exchange on either self-join side; only the
inherent pair groupBy remains. The same stored relation serves the
incremental near-dup path (``dedup.incremental_minhash_dedup``): the
standing band store is exactly this table, already bucketed on the join
key the batch probes.

Same manifest discipline as the shingle store: keyed by (source sf_dir,
num_hashes, band_size, n, n_buckets); a store built from different data or
parameters is never served, and rebuilds go through a process-unique
scratch dir + atomic rename (``store_util``) so concurrent builders never
interleave.

r9 maintenance model: the manifest records a per-file source fingerprint.
A data drop (directory source gaining files) triggers an APPEND DELTA —
band rows for just the new files, appended into the standing bucketed
table (multi-file buckets keep HashPartitioning, so the zero-Exchange
join plans survive; probe-verified) — cost ∝ batch, never corpus. Any
mutation still forces a full rebuild through a rename-aside (concurrent
readers of the old layout finish their scans). ``band_store_or_none``
serves a FRESH store under the RAW catalog names by default
(``SPARK_GRAFT_BAND_STORE=none`` opts out) and never builds implicitly.

Reference shape: the reference's near-dup pass is a single-process pandas
re-shingle per run (no storage-layout concept); this is the Spark-native
ingest-time answer at 100 TB, where the signature pass alone is hours of
CPU and the band exchange is tens of TB.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from satsure_agri_datapipeline_spark.sources.store_util import (
    StoreSpec,
    append_bucketed,
    build_bucketed,
    ensure_store,
    store_or_none,
)

SPEC = StoreSpec(
    kind="bands",
    manifest_name="_band_manifest.json",
    env_knob="SPARK_GRAFT_BAND_STORE",
    source="documents",
    params=("num_hashes", "band_size", "n"),
    bucket_by=("band", "band_sig"),
)
MANIFEST_NAME = SPEC.manifest_name
ENV_KNOB = SPEC.env_knob


def _table_name(num_hashes: int, band_size: int, n: int) -> str:
    return f"bkt_bands_h{num_hashes}b{band_size}n{n}"


def _bands(docs: DataFrame, params: dict) -> DataFrame:
    """MinHash signatures (identical expressions to
    ``dedup.minhash_signature_arrays`` — the downstream match counts are
    bit-identical) exploded into band rows with the full signature riding
    along."""
    from satsure_agri_datapipeline_spark.operators.dedup import (
        _band_rows,
        minhash_signature_arrays,
    )

    sig = minhash_signature_arrays(docs, num_hashes=params["num_hashes"], n=params["n"])
    return _band_rows(sig, params["band_size"], "doc_id").select(
        "doc_id", "band", "band_sig", "sig"
    )


def build_band_store(
    spark: SparkSession,
    sf_dir: str | Path,
    layout: str | Path,
    num_hashes: int = 16,
    band_size: int = 4,
    n: int = 3,
    n_buckets: int | None = None,
) -> dict:
    """One-time ingest: the documents table's band rows, written bucketed
    AND bucket-sorted by (band, band_sig). Idempotent."""
    params = {"num_hashes": num_hashes, "band_size": band_size, "n": n}
    return build_bucketed(
        SPEC, spark, sf_dir, layout, params, n_buckets, _table_name(**params), _bands
    )


def append_band_delta(
    spark: SparkSession,
    layout: Path,
    manifest: dict,
    new_files: list[str],
) -> dict:
    """Delta maintenance for a data drop: band rows for ONLY the new
    source files, appended into the standing bucketed table — cost ∝ the
    batch, not the corpus (the 100-TB point of the store; a full rebuild
    re-pays the whole signature pass per drop)."""
    return append_bucketed(SPEC, spark, layout, manifest, new_files, _bands)


def ensure_band_store(
    spark: SparkSession,
    sf_dir: str | Path,
    num_hashes: int = 16,
    band_size: int = 4,
    n: int = 3,
    n_buckets: int | None = None,
) -> DataFrame:
    """Serve the band relation ``(doc_id, band, band_sig, sig)`` from the
    per-(sf_dir, params) store, building it on first use and re-attaching
    (metadata-only DDL) in later sessions; fingerprint-driven append-delta
    / rebuild maintenance as ``store_util.ensure_store``."""
    return ensure_store(
        SPEC, spark, sf_dir,
        {"num_hashes": num_hashes, "band_size": band_size, "n": n},
        build_band_store, append_band_delta, n_buckets,
    )


def band_store_or_none(
    spark: SparkSession,
    sf_dir: str | Path,
    num_hashes: int = 16,
    band_size: int = 4,
    n: int = 3,
    n_buckets: int | None = None,
) -> DataFrame | None:
    """The default-serving hook: serve the band store under the RAW query
    names when a FRESH store exists, ``None`` otherwise (caller computes
    from raw text). Never builds and never delta-appends.
    ``SPARK_GRAFT_BAND_STORE=none|off|0|raw`` is the escape hatch."""
    return store_or_none(
        SPEC, spark, sf_dir,
        {"num_hashes": num_hashes, "band_size": band_size, "n": n}, n_buckets,
    )
