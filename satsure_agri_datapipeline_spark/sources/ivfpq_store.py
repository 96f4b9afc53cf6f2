"""Standing CO-LOCATED IVF-PQ store — FAISS's inverted-list-of-codes layout
(r13).

``operators/similarity.ivfpq_topk`` composes the IVF store (cell routing)
with the PQ store (compressed codes) by semi-joining the probed cells'
vector ids against the codes relation. Correct, but on every query that
id-join shuffles the pruned candidate set — at 2 M vectors the shuffle
costs more than the full map-only ADC scan it prunes (measured, PERF.md
r13c), and at 100 TB it is a per-query corpus-fraction shuffle. FAISS never
pays it: an IVFPQ index stores each inverted list AS the codes. This store
is that layout one write away, exactly as ``ivfpq_topk``'s docstring
promises:

- ``centroids/`` — n_clusters rows (cluster_id, centroid array<double>),
  the coarse quantizer. Broadcast-sized; served as a file relation, since
  probe selection is a join over it.
- ``codebook/``  — m×k rows (subspace, cluster_id, centroid), the product
  quantizer. A driver-held part (``StoreSpec.driver_parts``): collected
  once per build and served as a local relation, from which each query's
  LUT is derived inside its context row.
- ``lists/``     — (vec_id, codes array<int>) hive-PARTITIONED BY
  cluster_id: a probe of nprobe cells partition-prunes to nprobe/k of the
  CODES relation (already ~50× smaller than the floats), and the ADC
  readout stays map-only — zero per-query shuffle beyond the final
  TakeOrdered.

Build trains both quantizers with the deterministic fits
(``similarity.kmeans_fit`` / ``pq_fit``), so every artifact stays exactly
SQL-checkable; the one build-time shuffle is the codes⋈assignment id-join
that the per-query path no longer pays.

Lifecycle: same store_util discipline as the seven other stores (atomic
manifests, per-file source fingerprints, O_EXCL append lock, pending_delta
crash marker, delta-chain compaction, rename-aside rebuilds); the manifest
records each part's read schema, so serving runs no Spark job. Delta
semantics are the IVF/PQ stores': a delta assigns AND encodes new vectors
against the PINNED standing quantizers (cost ∝ batch; compaction IS the
periodic refit), which is not what a full refit would produce — so the
raw-name hook ``ivfpq_store_or_none`` serves only fresh AND never-delta'd
layouts, while ``ensure_ivfpq_store`` (the ``_stored`` name) also serves
the pinned-quantizer delta state.

Reference shape: the reference has no embedding surface; the layout is the
public FAISS IVFPQ design (Jégou et al., "Product quantization for nearest
neighbor search").
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from satsure_agri_datapipeline_spark.sources.store_util import (
    StoreSpec,
    append_delta,
    build_store,
    ensure_store,
    read_part,
    store_or_none,
    write_part,
)

SPEC = StoreSpec(
    kind="ivfpq",
    manifest_name="_ivfpq_manifest.json",
    env_knob="SPARK_GRAFT_IVFPQ_STORE",
    source="embeddings",
    params=("n_clusters", "m", "k", "iterations", "seed"),
    parts=("centroids", "codebook", "lists"),
    driver_parts=("codebook",),
    raw_serves_deltas=False,
)
MANIFEST_NAME = SPEC.manifest_name
ENV_KNOB = SPEC.env_knob


def _write_lists(
    emb: DataFrame, cent: DataFrame, cb: DataFrame, m: int, out: Path, mode: str
) -> dict:
    """Encode + assign ``emb`` against the given quantizers and write the
    codes INTO their inverted lists (hive-partitioned by cluster_id) — the
    codes⋈assignment id-join is the one shuffle."""
    from satsure_agri_datapipeline_spark.operators.similarity import (
        kmeans_assign,
        pq_encode,
    )

    emb = emb.select("vec_id", "embedding")
    codes = pq_encode(emb, cb, m=m)
    asg = kmeans_assign(emb, cent).select("vec_id", "cluster_id")
    return write_part(
        codes.join(asg, "vec_id"), out, "lists", mode, partition_by=("cluster_id",)
    )


def build_ivfpq_store(
    spark: SparkSession,
    sf_dir: str | Path,
    layout: str | Path,
    n_clusters: int = 8,
    m: int = 8,
    k: int = 16,
    iterations: int = 2,
    seed: int = 0,
) -> dict:
    """One-time ingest: train the coarse quantizer + the product quantizer
    (both deterministic fits), encode and assign every vector, and write
    the codes INTO their inverted lists (hive-partitioned by cluster_id).
    The codes⋈assignment id-join is the one shuffle — paid here once so no
    query pays it again. Idempotent."""
    from satsure_agri_datapipeline_spark.operators.similarity import (
        kmeans_fit,
        pq_fit,
    )

    def write(emb: DataFrame, out: Path) -> dict:
        emb = emb.select("vec_id", "embedding")
        cent = kmeans_fit(emb, k=n_clusters, iterations=iterations, seed=seed)
        schemas = write_part(cent, out, "centroids", "overwrite")
        cb = pq_fit(emb, m=m, k=k, iterations=iterations, seed=seed)
        schemas.update(write_part(cb, out, "codebook", "overwrite"))
        cent = read_part(spark, out, "centroids", {"part_schemas": schemas})
        schemas.update(_write_lists(emb, cent, cb, m, out, "overwrite"))
        return {"part_schemas": schemas}

    params = {"n_clusters": n_clusters, "m": m, "k": k, "iterations": iterations,
              "seed": seed}
    return build_store(SPEC, spark, sf_dir, layout, params, write)


def append_ivfpq_delta(
    spark: SparkSession,
    layout: Path,
    manifest: dict,
    new_files: list[str],
) -> dict:
    """Delta maintenance for a data drop: assign AND encode ONLY the new
    files' vectors against the STANDING quantizers, appending into the
    cluster_id partitions — cost ∝ the batch, never a refit. After this
    the store serves pinned-quantizer semantics (see module docstring) —
    the raw-name hook stops serving it until compaction refits."""

    def write(emb: DataFrame) -> dict:
        cent = read_part(spark, layout, "centroids", manifest)
        cb = read_part(spark, layout, "codebook", manifest)
        return _write_lists(emb, cent, cb, int(manifest["m"]), layout, "append")

    return append_delta(SPEC, spark, layout, manifest, new_files, write)


def ensure_ivfpq_store(
    spark: SparkSession,
    sf_dir: str | Path,
    n_clusters: int = 8,
    m: int = 8,
    k: int = 16,
    iterations: int = 2,
    seed: int = 0,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Serve ``(centroids, codebook, lists)`` from the per-(sf_dir,
    n_clusters, m, k, iterations, seed) store, building on first use; the
    codebook is a local relation from the driver.
    Unchanged source → serve; source that only gained files → delta
    assign+encode those files against the standing quantizers (under the
    writer lock); mutation / deletion / delta-chain overflow → full
    rebuild (fresh fits) via scratch dir + rename-aside."""
    params = {"n_clusters": n_clusters, "m": m, "k": k, "iterations": iterations,
              "seed": seed}
    return ensure_store(
        SPEC, spark, sf_dir, params, build_ivfpq_store, append_ivfpq_delta
    )


def ivfpq_store_or_none(
    spark: SparkSession,
    sf_dir: str | Path,
    n_clusters: int = 8,
    m: int = 8,
    k: int = 16,
    iterations: int = 2,
    seed: int = 0,
) -> tuple[DataFrame, DataFrame, DataFrame] | None:
    """Default-serving hook for the RAW query names: serve ONLY a store
    that is fresh AND has never been delta-appended — the one state in
    which stored lists equal the from-scratch recompute the raw names'
    oracles pin. Never builds. ``SPARK_GRAFT_IVFPQ_STORE=none|off|0|raw``
    is the escape hatch."""
    params = {"n_clusters": n_clusters, "m": m, "k": k, "iterations": iterations,
              "seed": seed}
    return store_or_none(SPEC, spark, sf_dir, params)


def ivfpq_topk_from_lists(
    emb: DataFrame,
    cent: DataFrame,
    cb: DataFrame,
    lists: DataFrame,
    query_id: int,
    k: int = 10,
    nprobe: int = 2,
    m: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """``emb_ann_ivfpq`` from the co-located store: the query vector is
    looked up once and its PQ LUT derived inside that context row from the
    driver-held codebook (``similarity.ann_query_context``); probe
    selection on the centroid relation carries that row to the probed
    cells, and the ADC readout runs DIRECTLY over the probed inverted
    lists — the cell filter is a partition-pruning join against the
    cluster_id-partitioned lists layout, so the scan reads
    nprobe/n_clusters of the (already ~50×-compressed) codes and the
    per-query candidate id-shuffle of ``similarity.ivfpq_topk`` is gone.
    Three Spark jobs: the context row's broadcast, the probe cells'
    broadcast and the pruned scan. Rows identical to ``ivfpq_topk`` (same
    probe, LUT and fold expressions over artifacts written by the same
    deterministic fits). ``m`` is taken from the codebook; the parameter
    is kept for call-site clarity."""
    from satsure_agri_datapipeline_spark.operators.similarity import (
        adc_topk,
        ann_query_context,
        ivf_probe_cells,
    )

    ctx = ann_query_context(emb, query_id, vec_col, id_col, codebook=cb)
    probes = ivf_probe_cells(cent, ctx, nprobe)
    return adc_topk(lists.join(F.broadcast(probes), "cluster_id"), query_id, k, id_col)
