"""Standing IVF (k-means) embedding index — the ANN family's ingest-time
store (r12, verdict task 4).

Every dedup candidate-generation family already pays its signature pass
ONCE at ingest (band/shingle/simhash/digest stores); the similarity family
was the last heavy family recomputing its index per query: both
``emb_ann_ivf_kmeans`` and ``emb_semantic_dedup`` re-run the 2-iteration
distributed Lloyd's fit (`operators/similarity.py kmeans_fit`) plus the
full-corpus assignment on every call. At 100 TB an embedding index is
exactly the artifact you maintain incrementally — FAISS-style IVF keeps
trained centroids and re-assigns only new vectors.

Layout (per (sf_dir, k, iterations, seed)):

- ``centroids/``      — k rows (cluster_id, centroid array<double>), the
  trained quantizer. Plain parquet; broadcast-sized by construction, but
  served as a file relation: probe selection stays a join over it, since
  the centroid count grows with the corpus.
- ``assignments/``    — (vec_id, embedding, dist, cluster_id), hive-
  PARTITIONED BY cluster_id: a probe of nprobe cells reads nprobe/k of
  the data via partition pruning — the scan shape `ivf_topk_kmeans`'s
  docstring promises ("written partitioned by cluster_id"). ``dist`` is
  the squared-euclidean distance to the owning centroid (raw double, the
  exact argmin value), so SemDeDup keeper selection needs ZERO vector
  math at serve time.

Same lifecycle discipline as the five dedup stores (store_util):
manifests written atomically, per-file source fingerprints, append deltas
∝ the batch under the O_EXCL writer lock with a ``pending_delta`` crash
marker, delta-chain compaction, rename-aside rebuilds. The manifest records
each part's read schema, so serving opens both parts with no Spark job and
a top-k request (:func:`ann_topk_from_store`) runs three: the query row's
broadcast, the probe cells' broadcast and the pruned scan.

DELTA SEMANTICS DIFFER FROM THE DEDUP STORES — and the serving rules
encode it: a band/shingle/digest delta is recompute-identical (per-doc
deterministic functions), but an IVF delta assigns new vectors against
the PINNED standing centroids, which is NOT what a full refit over the
grown corpus would produce (k-means seeds and means shift). That is the
correct production contract (nobody refits a 100-TB index per batch;
compaction — every ``max_deltas`` drops — IS the periodic refit), but it
means a delta'd store no longer equals the from-scratch recompute the RAW
catalog names are oracle-pinned to. Hence:

- ``ensure_ivf_store`` (the ``_stored`` names / incremental pipelines):
  serves fresh, delta-appends on source growth, rebuilds on mutation or
  compaction — cost ∝ batch.
- ``ivf_store_or_none`` (the raw names' default-serving hook): serves a
  store ONLY when it is fresh AND has an empty delta chain — i.e. exactly
  when stored assignments equal the recompute. A delta'd store falls back
  to raw compute for those names until compaction refits it.

Reference shape: the reference has no embedding surface at all; this is
the Spark-native ANN-at-ingest answer.
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
    kind="ivf",
    manifest_name="_ivf_manifest.json",
    env_knob="SPARK_GRAFT_IVF_STORE",
    source="embeddings",
    params=("k", "iterations", "seed"),
    parts=("centroids", "assignments"),
    raw_serves_deltas=False,
)
MANIFEST_NAME = SPEC.manifest_name
ENV_KNOB = SPEC.env_knob


def _assign_with_dist(
    emb: DataFrame, cent: DataFrame, vec_col: str, id_col: str
) -> DataFrame:
    """(id, embedding, dist, cluster_id): the argmin assignment of
    ``operators/similarity.kmeans_assign`` RETAINING the winning distance —
    the same ``min(struct(dist, cluster))`` tiebreak (equal distances go to
    the smaller cluster_id), so the stored rows are bit-identical to what
    both raw consumers derive internally. Original (float) embedding rides
    along untouched: serving-time cosine casts per element exactly like the
    raw path, so parquet roundtrip changes nothing."""
    dist = F.aggregate(
        F.zip_with(
            F.col(vec_col),
            F.col("centroid"),
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    d = emb.crossJoin(F.broadcast(cent)).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("cluster_id").alias("__c"),
        dist.alias("__dist"),
    )
    return (
        d.groupBy(id_col)
        .agg(
            F.min(F.struct(F.col("__dist"), F.col("__c"))).alias("__m"),
            F.first(vec_col).alias(vec_col),
        )
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("__m.__dist").alias("dist"),
            F.col("__m.__c").alias("cluster_id"),
        )
    )


def _write_assignments(emb: DataFrame, cent: DataFrame, out: Path, mode: str) -> dict:
    asg = _assign_with_dist(emb.select("vec_id", "embedding"), cent, "embedding", "vec_id")
    return write_part(asg, out, "assignments", mode, partition_by=("cluster_id",))


def build_ivf_store(
    spark: SparkSession,
    sf_dir: str | Path,
    layout: str | Path,
    k: int = 8,
    iterations: int = 2,
    seed: int = 0,
) -> dict:
    """One-time ingest: fit the deterministic k-means quantizer
    (``similarity.kmeans_fit`` — hash-seeded init, 9-dp-rounded centroids,
    so the fit is exactly reproducible) over the embeddings table, then
    write centroids + the full distance-retaining assignment partitioned
    by cluster_id. Idempotent."""
    from satsure_agri_datapipeline_spark.operators.similarity import kmeans_fit

    def write(emb: DataFrame, out: Path) -> dict:
        emb = emb.select("vec_id", "embedding")
        cent = kmeans_fit(emb, k=k, iterations=iterations, seed=seed)
        schemas = write_part(cent, out, "centroids", "overwrite")
        cent = read_part(spark, out, "centroids", {"part_schemas": schemas})
        schemas.update(_write_assignments(emb, cent, out, "overwrite"))
        return {"part_schemas": schemas}

    params = {"k": k, "iterations": iterations, "seed": seed}
    return build_store(SPEC, spark, sf_dir, layout, params, write)


def append_ivf_delta(
    spark: SparkSession,
    layout: Path,
    manifest: dict,
    new_files: list[str],
) -> dict:
    """Delta maintenance for a data drop: assign ONLY the new files'
    vectors against the STANDING centroids and append into the partitioned
    assignment layout — cost ∝ the batch, never a refit. After this the
    store serves the PINNED-centroid semantics (see module docstring) —
    the raw-name hook stops serving it until compaction refits."""

    def write(emb: DataFrame) -> dict:
        cent = read_part(spark, layout, "centroids", manifest)
        return _write_assignments(emb, cent, layout, "append")

    return append_delta(SPEC, spark, layout, manifest, new_files, write)


def ensure_ivf_store(
    spark: SparkSession,
    sf_dir: str | Path,
    k: int = 8,
    iterations: int = 2,
    seed: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """Serve ``(centroids, assignments)`` from the per-(sf_dir, k,
    iterations, seed) store, building on first use. Unchanged source →
    serve; source that only gained files → delta-assign those files
    against the standing centroids (under the writer lock); mutation /
    deletion / delta-chain overflow → full rebuild (a fresh fit) via
    scratch dir + rename-aside."""
    return ensure_store(
        SPEC, spark, sf_dir, {"k": k, "iterations": iterations, "seed": seed},
        build_ivf_store, append_ivf_delta,
    )


def ivf_store_or_none(
    spark: SparkSession,
    sf_dir: str | Path,
    k: int = 8,
    iterations: int = 2,
    seed: int = 0,
) -> tuple[DataFrame, DataFrame] | None:
    """Default-serving hook for the RAW query names: serve ONLY a store
    that is fresh AND has never been delta-appended — the one state in
    which stored assignments equal the from-scratch recompute the raw
    names' oracles pin (see module docstring: IVF deltas are
    pinned-centroid semantics, not refit-identical). Never builds.
    ``SPARK_GRAFT_IVF_STORE=none|off|0|raw`` is the escape hatch."""
    return store_or_none(
        SPEC, spark, sf_dir, {"k": k, "iterations": iterations, "seed": seed}
    )


def ann_topk_from_store(
    cent: DataFrame,
    asg: DataFrame,
    query_id: int,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """``emb_ann_ivf_kmeans`` from the standing index: the query row is
    looked up once in the stored assignments (``similarity.ann_query_context``),
    the probe cells are selected on the k-row centroid relation and carry
    the query vector, then exact cosine runs over ONLY the probed cells —
    the cell filter is a partition-pruning join against the
    cluster_id-partitioned assignment layout, so the scan reads nprobe/k
    of the corpus. The search is ``similarity.ivf_topk_kmeans``'s own
    (:func:`~satsure_agri_datapipeline_spark.operators.similarity.ivf_cosine_topk`)
    over the same float arrays, and the store build used the same
    deterministic fit, so the rows are identical."""
    from satsure_agri_datapipeline_spark.operators.similarity import (
        ann_query_context,
        ivf_cosine_topk,
        ivf_probe_cells,
    )

    probes = ivf_probe_cells(cent, ann_query_context(asg, query_id), nprobe)
    return ivf_cosine_topk(asg, probes, query_id, k)


def semantic_dedup_from_store(asg: DataFrame) -> DataFrame:
    """``emb_semantic_dedup`` from the standing index: keeper selection is
    ONE aggregate over the stored (vec_id, dist, cluster_id) rows — zero
    vector math, zero fit, zero broadcast. The stored ``dist`` is the raw
    argmin double, so the 6-dp display rounding happens here exactly as in
    ``similarity.semantic_dedup``."""
    return (
        asg.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min(F.struct(F.col("dist"), F.col("vec_id"))).alias("__k"),
        )
        .select(
            "cluster_id",
            F.col("__k.vec_id").alias("keeper_vec_id"),
            "n_vectors",
            F.round(F.col("__k.dist"), 6).alias("keeper_dist"),
        )
    )
