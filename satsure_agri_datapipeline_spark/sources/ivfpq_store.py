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
  the coarse quantizer. Broadcast-sized.
- ``codebook/``  — m×k rows (subspace, cluster_id, centroid), the product
  quantizer. Broadcast-sized.
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
crash marker, delta-chain compaction, rename-aside rebuilds). Delta
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
    store_or_none,
)

SPEC = StoreSpec(
    kind="ivfpq",
    manifest_name="_ivfpq_manifest.json",
    env_knob="SPARK_GRAFT_IVFPQ_STORE",
    source="embeddings",
    params=("n_clusters", "m", "k", "iterations", "seed"),
    parts=("centroids", "codebook", "lists"),
    raw_serves_deltas=False,
)
MANIFEST_NAME = SPEC.manifest_name
ENV_KNOB = SPEC.env_knob


def _write_lists(
    emb: DataFrame, cent: DataFrame, cb: DataFrame, m: int, out: Path, mode: str
) -> None:
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
    codes.join(asg, "vec_id").write.mode(mode).partitionBy("cluster_id").parquet(
        str(out / "lists")
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

    def write(emb: DataFrame, out: Path) -> None:
        emb = emb.select("vec_id", "embedding")
        cent = kmeans_fit(emb, k=n_clusters, iterations=iterations, seed=seed)
        cent.write.mode("overwrite").parquet(str(out / "centroids"))
        cb = pq_fit(emb, m=m, k=k, iterations=iterations, seed=seed)
        cb.write.mode("overwrite").parquet(str(out / "codebook"))
        cent_back = spark.read.parquet(str(out / "centroids"))
        cb_back = spark.read.parquet(str(out / "codebook"))
        _write_lists(emb, cent_back, cb_back, m, out, "overwrite")

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

    def write(emb: DataFrame) -> None:
        cent = spark.read.parquet(str(layout / "centroids"))
        cb = spark.read.parquet(str(layout / "codebook"))
        _write_lists(emb, cent, cb, int(manifest["m"]), layout, "append")

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
    n_clusters, m, k, iterations, seed) store, building on first use.
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
    """``emb_ann_ivfpq`` from the co-located store: probe selection on the
    broadcast centroid relation, then the ADC readout DIRECTLY over the
    probed inverted lists — the cell filter is a partition-pruning join
    against the cluster_id-partitioned lists layout, so the scan reads
    nprobe/n_clusters of the (already ~50×-compressed) codes and the
    per-query candidate id-shuffle of ``similarity.ivfpq_topk`` is gone.
    Bit-identical to ``ivfpq_topk`` (same probe, LUT, and fold
    expressions over artifacts written by the same deterministic fits)."""
    from satsure_agri_datapipeline_spark.operators.similarity import (
        _pq_explode,
        _pq_lut,
    )

    q = emb.where(F.col(id_col) == query_id).select(
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__q")
    )
    qdist = F.aggregate(
        F.zip_with(
            F.col("__q"),
            F.col("centroid"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    probes = (
        cent.crossJoin(F.broadcast(q))
        .select("cluster_id", qdist.alias("__d"))
        .orderBy(F.col("__d").asc(), F.col("cluster_id").asc())
        .limit(nprobe)
        .select("cluster_id")
    )
    query_subs = _pq_explode(
        emb.where(F.col(id_col) == query_id), m, vec_col=vec_col, id_col=id_col
    ).select("subspace", F.col("__sv").alias("__qsv"))
    lut = _pq_lut(cb, query_subs)
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("__lut"),
            lambda c, lrow: F.element_at(lrow, c + 1),
        ),
        F.lit(0.0),
        lambda acc, val: acc + val,
    )
    return (
        lists.join(F.broadcast(probes), "cluster_id")
        .where(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(lut))
        .select(F.col(id_col), F.round(adc, 6).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.col(id_col).asc())
        .limit(k)
    )
