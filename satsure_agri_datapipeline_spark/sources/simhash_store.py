"""Bucketed SimHash fingerprint store: the Hamming-LSH analog of
``band_store.py`` — the last dedup candidate-generation family that was
still re-paying its signature pass every run (r9 verdict task 2).

``doc_simhash`` / ``doc_simhash_pairs`` re-pay two costs per run on a
corpus that is deduplicated repeatedly:

1. the fingerprints — per doc, an md5 over every distinct token feeding a
   ±1 bit-sum (vectorized Arrow UDF, map-only but CPU-heavy; DuckDB is
   kernel-OOM-killed on this exact workload at 1000× bench scale, r7);
2. the banded Hamming self-join's TWO hash exchanges of the exploded
   ``(doc, band, band_key)`` relation (the two sides project different
   column names, so ReuseExchange cannot dedupe them).

This module pays both ONCE at ingest: the band relation — ``n_bands``
fixed-width rows per doc, each carrying the full 62-bit-max fingerprint —
is written CLUSTERED BY (band, band_key), so later runs read co-located
buckets and plan ZERO Exchange on either self-join side; only the inherent
pair groupBy remains. ``doc_simhash`` itself is the ``band = 0``
projection (one row per doc, fingerprint rides every band row), a pruned
bucketed scan instead of the full md5-per-token pass.

Same lifecycle discipline as the band store (store_util): deterministic
per-(source, params) layout dir; manifests written atomically
(temp + os.replace); a per-file source fingerprint classifying changes as
fresh / append / rebuild; append deltas ∝ the batch under an O_EXCL
writer lock with a ``pending_delta`` crash marker; rebuilds through a
process-unique scratch dir + atomic rename with the stale layout renamed
aside. ``simhash_store_or_none`` serves a FRESH store under the RAW
catalog names by default (``SPARK_GRAFT_SIMHASH_STORE=none`` opts out)
and never builds implicitly.

Reference shape: the reference's near-dup pass is a single-process pandas
re-shingle per run (no storage-layout concept,
/root/reference/src/components/transformation.py); this is the
Spark-native ingest-time answer at 100 TB.
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
    kind="simhash",
    manifest_name="_simhash_manifest.json",
    env_knob="SPARK_GRAFT_SIMHASH_STORE",
    source="documents",
    params=("bits", "n_bands"),
    bucket_by=("band", "band_key"),
)
MANIFEST_NAME = SPEC.manifest_name
ENV_KNOB = SPEC.env_knob


def _table_name(bits: int, n_bands: int) -> str:
    return f"bkt_simhash_b{bits}x{n_bands}"


def _band_rows(sh: DataFrame, bits: int, n_bands: int) -> DataFrame:
    """Explode fingerprints into (doc_id, simhash, band, band_key) — the
    same expressions as ``dedup.simhash_near_dup_pairs`` so the stored
    join keys are bit-identical to the recompute."""
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    return sh.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
    ).withColumn(
        "band_key", F.expr(f"shiftright(simhash, band * {band_bits}) & {mask}")
    )


def _fingerprint_bands(docs: DataFrame, params: dict) -> DataFrame:
    """SimHash fingerprints (identical Arrow UDF to ``dedup.simhash``)
    exploded into band rows."""
    from satsure_agri_datapipeline_spark.operators.dedup import simhash

    bits, n_bands = params["bits"], params["n_bands"]
    return _band_rows(simhash(docs, bits=bits), bits, n_bands)


def build_simhash_store(
    spark: SparkSession,
    sf_dir: str | Path,
    layout: str | Path,
    bits: int = 32,
    n_bands: int = 4,
    n_buckets: int | None = None,
) -> dict:
    """One-time ingest: the documents table's SimHash band rows, written
    bucketed AND bucket-sorted by (band, band_key). Idempotent."""
    if bits % n_bands != 0:
        raise ValueError(f"bits={bits} must be divisible by n_bands={n_bands}")
    return build_bucketed(
        SPEC, spark, sf_dir, layout, {"bits": bits, "n_bands": n_bands}, n_buckets,
        _table_name(bits, n_bands), _fingerprint_bands,
    )


def append_simhash_delta(
    spark: SparkSession,
    layout: Path,
    manifest: dict,
    new_files: list[str],
) -> dict:
    """Delta maintenance for a data drop: fingerprint ONLY the new source
    files and append their band rows into the standing bucketed table —
    cost ∝ the batch, not the corpus. Band rows are per-doc, so appended
    docs need no reconciliation with standing rows."""
    return append_bucketed(
        SPEC, spark, layout, manifest, new_files, _fingerprint_bands
    )


def ensure_simhash_store(
    spark: SparkSession,
    sf_dir: str | Path,
    bits: int = 32,
    n_bands: int = 4,
    n_buckets: int | None = None,
) -> DataFrame:
    """Serve the band relation ``(doc_id, simhash, band, band_key)`` from
    the per-(sf_dir, params) store, building it on first use;
    fingerprint-driven append-delta / rebuild maintenance as
    ``store_util.ensure_store``."""
    return ensure_store(
        SPEC, spark, sf_dir, {"bits": bits, "n_bands": n_bands},
        build_simhash_store, append_simhash_delta, n_buckets,
    )


def simhash_store_or_none(
    spark: SparkSession,
    sf_dir: str | Path,
    bits: int = 32,
    n_bands: int = 4,
    n_buckets: int | None = None,
) -> DataFrame | None:
    """Default-serving hook for the RAW query names (r8 fact-layout
    pattern): serve a FRESH store when one exists, ``None`` otherwise.
    Never builds and never delta-appends; a store awaiting an append is
    stale for the raw name. ``SPARK_GRAFT_SIMHASH_STORE=none|off|0|raw``
    is the escape hatch."""
    return store_or_none(
        SPEC, spark, sf_dir, {"bits": bits, "n_bands": n_bands}, n_buckets
    )


def fingerprints_from_store(bands: DataFrame) -> DataFrame:
    """``doc_simhash`` from the stored band relation: the fingerprint rides
    every band row, so ``band = 0`` is exactly one row per doc — a pruned
    bucketed scan instead of the md5-per-token fingerprint pass."""
    return bands.where(F.col("band") == 0).select("doc_id", "simhash")


def pairs_from_store(
    bands: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
    n_bands: int = 4,
) -> DataFrame:
    """``doc_simhash_pairs`` from the stored band relation: the banded
    Hamming self-join on (band, band_key) — both sides scan the SAME
    bucketed table, so the plan has ZERO Exchange. Bit-identical to
    ``dedup.simhash_near_dup_pairs`` (exhaustive by pigeonhole for
    max_hamming < n_bands). ``bits``/``n_bands`` must match the store's
    manifest (defaults = the default store layout); pair dedup is the
    lowest-agreeing-band predicate, not a groupBy exchange (r11).

    Mismatch guard (r12 ADVICE): with the groupBy dedup gone, a wrong
    ``bits``/``n_bands`` silently DROPS or DUPLICATES pairs (the predicate
    recomputes band keys from the fingerprint), so every band row is
    checked against the claimed geometry — ``band < n_bands`` and
    ``band_key == shiftright(simhash, band·band_bits) & mask``, the exact
    build expression of ``_band_rows``. Three integer ops per band row in
    codegen; a 60-bit store served with the 32/4 defaults raises on the
    first band row instead of returning a wrong pair set."""
    from satsure_agri_datapipeline_spark.operators.dedup import (
        lowest_agreeing_band_predicate,
    )

    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    geometry_ok = (F.col("band") < n_bands) & (
        F.col("band_key")
        == F.expr(f"shiftright(simhash, band * {band_bits}) & {mask}")
    )
    bands = bands.where(
        F.when(geometry_ok, F.lit(True)).otherwise(
            F.raise_error(
                F.lit(
                    f"pairs_from_store: stored band rows do not match "
                    f"bits={bits}/n_bands={n_bands} — pass the store's "
                    f"manifest params"
                )
            )
        )
    )
    a = bands.select(
        F.col("doc_id").alias("id_a"),
        F.col("simhash").alias("sim_a"),
        "band",
        "band_key",
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"),
        F.col("simhash").alias("sim_b"),
        "band",
        "band_key",
    )
    return (
        a.join(b, ["band", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(lowest_agreeing_band_predicate(bits // n_bands, n_bands))
        .select("id_a", "id_b", F.expr("bit_count(sim_a ^ sim_b)").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )
