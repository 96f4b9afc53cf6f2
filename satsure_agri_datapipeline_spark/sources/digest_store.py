"""Standing digest store for incremental exact dedup (r9 verdict task 4).

``operators/dedup.py incremental_exact_dedup`` dedupes each new ingest
batch against "everything ever accepted" via a 64 B/doc sha256 digest
history — but took that history as a caller-owned DataFrame, so a real
continuous-crawl user had to hand-roll its persistence. This module gives
the history the same lifecycle the r9 band/shingle stores have: a
deterministic per-(source, params) bucketed table with manifest
fingerprinting, append deltas ∝ the batch under the O_EXCL writer lock,
``pending_delta`` crash markers, delta-chain compaction, rename-aside
rebuilds, and a never-serve-stale default-serving hook.

Layout: one ``digest`` column (sha256 hex of ``text``), written CLUSTERED
BY (digest). The consumer is the anti-join ``batch LEFT ANTI JOIN store ON
digest`` — with the store pre-bucketed on the join key, the HUGE side
plans zero Exchange and the shuffle cost is ∝ the batch, which is the
whole 100-TB contract of incremental dedup.

``subset`` is a SQL boolean over the documents table selecting which rows
constitute "accepted history" (the catalog's demo split uses
``doc_id % 5 < 2``); it is part of the store key and the manifest, so a
store built for one history definition is never served for another.

Append-delta note: a data drop appends the digests of the drop's
history-subset rows WITHOUT re-deduplicating against standing rows —
duplicate digests are semantically inert for the anti-join consumer
(LEFT ANTI matches on existence) and deduplicating would cost a
corpus-wide exchange, exactly what the delta path exists to avoid. The
periodic compaction rebuild (every ``max_deltas`` drops) re-distincts.

Reference shape: the reference pipeline has no incremental surface at all
(each run rescans the raw directory,
/root/reference/src/components/ingestion.py); this is the Spark-native
continuous-crawl answer.
"""

from __future__ import annotations

import hashlib
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
    kind="digests",
    manifest_name="_digest_manifest.json",
    env_knob="SPARK_GRAFT_DIGEST_STORE",
    source="documents",
    params=("subset",),
    bucket_by=("digest",),
)
MANIFEST_NAME = SPEC.manifest_name
ENV_KNOB = SPEC.env_knob


def _table_name(subset: str) -> str:
    tag = hashlib.sha1(subset.encode()).hexdigest()[:8]
    return f"bkt_digests_{tag}"


def _digest_rows(docs: DataFrame, params: dict) -> DataFrame:
    return (
        docs.where(F.expr(params["subset"]))
        .select(F.sha2(F.col("text"), 256).alias("digest"))
        .distinct()
    )


def build_digest_store(
    spark: SparkSession,
    sf_dir: str | Path,
    layout: str | Path,
    subset: str = "true",
    n_buckets: int | None = None,
) -> dict:
    """One-time ingest: distinct sha256 digests of the history subset,
    written bucketed AND bucket-sorted by digest. Idempotent."""
    return build_bucketed(
        SPEC, spark, sf_dir, layout, {"subset": subset}, n_buckets,
        _table_name(subset), _digest_rows,
    )


def append_digest_delta(
    spark: SparkSession,
    layout: Path,
    manifest: dict,
    new_files: list[str],
) -> dict:
    """Delta maintenance for a data drop: digest ONLY the new files'
    history-subset rows and append — cost ∝ the batch, not the corpus
    (no re-distinct against standing rows; compaction re-distincts)."""
    return append_bucketed(SPEC, spark, layout, manifest, new_files, _digest_rows)


def ensure_digest_store(
    spark: SparkSession,
    sf_dir: str | Path,
    subset: str = "true",
    n_buckets: int | None = None,
) -> DataFrame:
    """Serve the digest relation ``(digest)`` from the per-(sf_dir, subset,
    n_buckets) store, building on first use; append-delta / rebuild
    maintenance as ``store_util.ensure_store``."""
    return ensure_store(
        SPEC, spark, sf_dir, {"subset": subset}, build_digest_store,
        append_digest_delta, n_buckets,
    )


def digest_store_or_none(
    spark: SparkSession,
    sf_dir: str | Path,
    subset: str = "true",
    n_buckets: int | None = None,
) -> DataFrame | None:
    """Default-serving hook for the RAW query names: serve a FRESH store
    when one exists, ``None`` otherwise. Never builds and never
    delta-appends; append-stale stores are not served.
    ``SPARK_GRAFT_DIGEST_STORE=none|off|0|raw`` is the escape hatch."""
    return store_or_none(SPEC, spark, sf_dir, {"subset": subset}, n_buckets)
