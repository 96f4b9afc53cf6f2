"""ANN top-k requests served from the IVF, PQ and IVF-PQ stores.

On a seeded 200-vector corpus (two identical vectors, so a query near them
sees a tie), the store-served rows equal the raw paths' rows; a request
runs a bounded number of Spark jobs (counted through a job group); and
every path part is served with the read schema its manifest recorded at
build, which equals the schema inference gives, survives an append and
falls back to inference when a manifest records none.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from satsure_agri_datapipeline_spark.operators import similarity as sim
from satsure_agri_datapipeline_spark.sources import ivf_store, ivfpq_store, pq_store
from satsure_agri_datapipeline_spark.sources.store_util import (
    read_manifest_or_none,
    write_manifest,
)
from satsure_agri_datapipeline_spark.sources.tables import load_table

N_VECS = 200
DIM = 16
TIE_A, TIE_B, TIE_Q = 10, 11, 12  # TIE_B copies TIE_A; TIE_Q sits next to both
MISSING = 10_000
IVF = {"k": 8, "iterations": 1, "seed": 0}
PQ = {"m": 8, "k": 16, "iterations": 1, "seed": 0}
IVFPQ = {"n_clusters": 8, "m": 8, "k": 16, "iterations": 1, "seed": 0}
STORES = ((ivf_store, IVF), (pq_store, PQ), (ivfpq_store, IVFPQ))


def _write_embeddings(corpus: Path, name: str, ids: np.ndarray, seed: int) -> None:
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(len(ids), DIM)).astype(np.float32)
    if TIE_Q in ids:
        at = {int(v): i for i, v in enumerate(ids)}
        vecs[at[TIE_B]] = vecs[at[TIE_A]]
        vecs[at[TIE_Q]] = vecs[at[TIE_A]] + np.float32(0.01)
    d = corpus / "embeddings.parquet"
    d.mkdir(parents=True, exist_ok=True)
    table = pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
    })
    pq.write_table(table, d / f".{name}.tmp")
    os.replace(d / f".{name}.tmp", d / name)  # a committer's rename


@pytest.fixture(scope="module")
def corpus(spark):
    root = Path(tempfile.mkdtemp(prefix="ann_serving_")).resolve()
    _write_embeddings(root, "base-000.parquet", np.arange(N_VECS), seed=7)
    yield root
    for mod, params in STORES:
        layout = _layout(mod, root, params)
        shutil.rmtree(layout, ignore_errors=True)
    shutil.rmtree(root, ignore_errors=True)


def _layout(mod, corpus: Path, params: dict) -> Path:
    from satsure_agri_datapipeline_spark.sources.store_util import layout_dir

    return layout_dir(mod.SPEC.kind, corpus, *params.values())


def _ensure(mod, spark, corpus: Path, params: dict):
    return getattr(mod, f"ensure_{mod.__name__.rsplit('.', 1)[1]}")(spark, corpus, **params)


def _stored(kind: str, spark, corpus: Path, emb, qid: int):
    """One store-served request, freshness check included."""
    if kind == "ivf":
        cent, asg = _ensure(ivf_store, spark, corpus, IVF)
        return ivf_store.ann_topk_from_store(cent, asg, query_id=qid, k=10, nprobe=2)
    if kind == "pq":
        store = _ensure(pq_store, spark, corpus, PQ)
        return sim.pq_topk_adc(emb, query_id=qid, k=10, m=8, n_codes=16, fitted=store)
    cent, cb, lists = _ensure(ivfpq_store, spark, corpus, IVFPQ)
    return ivfpq_store.ivfpq_topk_from_lists(
        emb, cent, cb, lists, query_id=qid, k=10, nprobe=2, m=8
    )


def _raw(kind: str, emb, qid: int):
    if kind == "ivf":
        return sim.ivf_topk_kmeans(emb, query_id=qid, k=10, n_clusters=8, nprobe=2,
                                   iterations=1)
    if kind == "pq":
        return sim.pq_topk_adc(emb, query_id=qid, k=10, m=8, n_codes=16, iterations=1)
    return sim.ivfpq_topk(emb, query_id=qid, k=10, n_clusters=8, nprobe=2, m=8,
                          n_codes=16, iterations=1)


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` submits, counted through a job group once the
    listener bus has recorded them."""
    sc = spark.sparkContext
    group = f"ann-serving-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("kind", ["ivf", "pq", "ivfpq"])
def test_stored_rows_equal_raw_rows(spark, corpus, kind):
    emb = load_table(spark, corpus, "embeddings")
    for qid in (TIE_Q, 0, MISSING):
        stored = [tuple(r) for r in _stored(kind, spark, corpus, emb, qid).collect()]
        raw = [tuple(r) for r in _raw(kind, emb, qid).collect()]
        assert stored == raw, (kind, qid)
        if qid == MISSING:
            assert stored == []
            continue
        assert len(stored) == 10
        if qid == TIE_Q:  # the copies tie, and the tie breaks on the id
            ids = [r[0] for r in stored]
            assert ids[:2] == [TIE_A, TIE_B]
            assert stored[0][1] == stored[1][1]


@pytest.mark.parametrize("kind,bound", [("ivf", 3), ("pq", 2), ("ivfpq", 3)])
def test_request_job_bound(spark, corpus, kind, bound):
    mod, params = {"ivf": STORES[0], "pq": STORES[1], "ivfpq": STORES[2]}[kind]
    emb = load_table(spark, corpus, "embeddings")
    _stored(kind, spark, corpus, emb, 0).collect()  # built and warm
    assert _jobs(spark, lambda: _ensure(mod, spark, corpus, params)) == 0
    for qid in (0, 57, TIE_Q):
        n = _jobs(spark, lambda: _stored(kind, spark, corpus, emb, qid).collect())
        assert n <= bound, (kind, qid, n)


@pytest.mark.parametrize("mod,params", STORES, ids=[m.SPEC.kind for m, _ in STORES])
def test_served_schema_is_the_recorded_read_schema(spark, tmp_path, mod, params):
    spec = mod.SPEC
    corpus = tmp_path.resolve()
    _write_embeddings(corpus, "base-000.parquet", np.arange(N_VECS), seed=3)
    layout = _layout(mod, corpus, params)
    manifest_path = layout / spec.manifest_name
    try:
        served = _ensure(mod, spark, corpus, params)
        manifest = read_manifest_or_none(manifest_path)
        assert sorted(manifest["part_schemas"]) == sorted(spec.parts)

        def check(frames) -> None:
            for part, frame in zip(spec.parts, frames):
                inferred = spark.read.parquet(str(layout / part)).schema
                assert frame.schema == inferred, part
                if part in ("assignments", "lists"):
                    assert frame.columns[-1] == "cluster_id"

        check(served)
        rows = sorted(map(tuple, served[-1].collect()))

        # an append delta keeps the recorded schemas and the build's codebook
        _write_embeddings(corpus, "drop-001.parquet", np.arange(N_VECS, N_VECS + 10), 4)
        appended = _ensure(mod, spark, corpus, params)
        after = read_manifest_or_none(manifest_path)
        assert after["deltas"] == [["drop-001.parquet"]]
        assert after["part_schemas"] == manifest["part_schemas"]
        assert after["build_id"] == manifest["build_id"]
        check(appended)
        assert len(appended[-1].collect()) == len(rows) + 10

        # a manifest that records no schemas (an older layout) still serves
        bare = {k: v for k, v in after.items() if k not in ("part_schemas", "build_id")}
        write_manifest(manifest_path, bare)
        again = _ensure(mod, spark, corpus, params)
        assert read_manifest_or_none(manifest_path) == bare  # served, not rebuilt
        check(again)
        assert sorted(map(tuple, again[-1].collect())) == sorted(
            map(tuple, appended[-1].collect())
        )
    finally:
        shutil.rmtree(layout, ignore_errors=True)


def test_recorded_schema_puts_partition_columns_last(spark):
    """The recorded read schema lists partition columns after the data
    columns, and parses back all-nullable, as a parquet read infers."""
    from satsure_agri_datapipeline_spark.sources.store_util import part_schema

    df = spark.createDataFrame([(1, [1.0], 2)], "a int not null, v array<double>, c int")
    ddl = part_schema(df, partition_by=("a",))
    assert ddl == "`v` array<double>, `c` int, `a` int"
    parsed = spark.createDataFrame([], ddl).schema
    assert all(f.nullable for f in parsed.fields) and parsed["v"].dataType.containsNull


def test_query_dim_must_fit_the_codebook(spark):
    """The LUT is derived from the codebook's layout; a query vector of
    another dimension raises instead of scoring against truncated or
    padded sub-vectors."""
    rows = [(i, [float(i % 5), float(i % 3), float(i % 7), 1.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb = sim.pq_fit(df, m=2, k=2, iterations=1)
    codes = sim.pq_encode(df, cb, m=2)
    wide = spark.createDataFrame([(0, [1.0] * 6)], "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="does not fit the codebook"):
        sim.pq_topk_adc(wide, query_id=0, k=3, m=2, n_codes=2, fitted=(cb, codes)).collect()
