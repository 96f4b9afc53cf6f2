"""One lifecycle contract, checked for every registered store
(``store_util.STORE_MODULES``).

Each store walks the same sequence on its own tiny generated corpus
(200 documents and 200 vectors, ten more per data drop): fresh build and
serve, the escape hatch, an append delta, a ``pending_delta`` marker,
compaction at a delta-chain bound of 1, a lost ``claim_append``, a corrupt
manifest (whose rebuild also discards superseded bucket-count siblings),
and a rebuild while another layout holds the table name. Row-local stores
must equal a from-scratch build after a delta; stores whose deltas pin
fitted parameters must be refused by ``*_or_none`` and served by
``ensure_*`` until a rebuild refits them.

Throughout, ``build_<store>`` and ``append_<kind>_delta`` are replaced on
the module by recorders, so every step also asserts which path ran — and
that ``ensure_<store>`` reaches them through the module at call time, the
contract the benchmark's tracer relies on when it wraps those names.
"""

from __future__ import annotations

import importlib
import inspect
import json
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from satsure_agri_datapipeline_spark.sources.store_util import (
    STORE_MODULES,
    claim_append,
    default_n_buckets,
    discard_stale_siblings,
    layout_dir,
    read_manifest_or_none,
)

PKG = "satsure_agri_datapipeline_spark.sources"
BASE_DOCS = 200
DROP_DOCS = 10
WORDS = [f"w{i}" for i in range(40)]


def _tables(ids: np.ndarray, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    texts = [
        " ".join(rng.choice(WORDS, size=int(rng.integers(4, 24)))) + f" d{i}"
        for i in ids
    ]
    return {
        "documents": pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": ["en"] * len(ids),
            "source": ["gen"] * len(ids),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        "embeddings": pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(
                rng.normal(size=(len(ids), 16)).astype(np.float32).tolist(),
                pa.list_(pa.float32()),
            ),
            "label": pa.array(rng.integers(0, 4, len(ids)), pa.int32()),
        }),
    }


def _write(corpus: Path, name: str, ids: np.ndarray, seed: int) -> None:
    """One part file per table, renamed into place as a committer does (the
    serving hooks' fingerprint cache relies on the directory mtime)."""
    for table, data in _tables(ids, seed).items():
        d = corpus / f"{table}.parquet"
        d.mkdir(parents=True, exist_ok=True)
        pq.write_table(data, d / f".{name}.tmp")
        os.replace(d / f".{name}.tmp", d / name)


def _corpus(root: Path, n_docs: int = BASE_DOCS) -> Path:
    _write(root, "base-000.parquet", np.arange(n_docs), seed=0)
    return root.resolve()


def _drop(corpus: Path, i: int) -> str:
    """A data drop: one new part file of DROP_DOCS new ids per table."""
    start = BASE_DOCS + i * DROP_DOCS
    _write(corpus, f"drop-{i:03d}.parquet", np.arange(start, start + DROP_DOCS), seed=i)
    return f"drop-{i:03d}.parquet"


def _rows(served) -> list[tuple]:
    """The served rows (the last relation of a path store's tuple)."""
    frame = served[-1] if isinstance(served, tuple) else served
    return sorted(map(tuple, frame.collect()))


def _manifest(path: Path) -> dict:
    return json.loads(path.read_text())


def _store(name: str):
    mod = importlib.import_module(f"{PKG}.{name}")
    ensure = getattr(mod, f"ensure_{name}")
    return mod, ensure, getattr(mod, f"{name}_or_none")


def _default_params(spec, ensure) -> dict:
    sig = inspect.signature(ensure).parameters
    return {k: sig[k].default for k in spec.params}


def _layout(spec, corpus: Path, params: dict, n_buckets: int | None = None) -> Path:
    """The layout key every store has always used: source dir, parameters
    in entry-point order, then n_buckets for bucketed stores."""
    key = list(params.values())
    if spec.bucket_by:
        src = corpus / f"{spec.source}.parquet"
        key.append(default_n_buckets(src) if n_buckets is None else n_buckets)
    return layout_dir(spec.kind, corpus, *key)


def _record(monkeypatch, mod, *attrs: str) -> list[str]:
    """Replace ``attrs`` on ``mod`` by pass-through recorders; the returned
    list collects ``"build"`` / ``"append"`` per call."""
    calls: list[str] = []
    for attr in attrs:
        fn = getattr(mod, attr)

        def recorder(*a, _fn=fn, _tag=attr.split("_")[0], **kw):
            calls.append(_tag)
            return _fn(*a, **kw)

        monkeypatch.setattr(mod, attr, recorder)
    return calls


def _took(calls: list[str]) -> list[str]:
    out = list(calls)
    calls.clear()
    return out


def _part_files(layout: Path) -> int:
    return sum(1 for _ in layout.rglob("part-*"))


def _discard_layouts(spark, spec, corpora: list[Path]) -> None:
    for d in Path(tempfile.gettempdir()).glob(f"spark_graft_{spec.kind}_*"):
        m = read_manifest_or_none(d / spec.manifest_name)
        if m is not None and m.get("sf_dir") in {str(c) for c in corpora}:
            if m.get("table"):
                spark.sql(f"DROP TABLE IF EXISTS {m['table']}")
            shutil.rmtree(d, ignore_errors=True)


def _fake_siblings(spec, corpus: Path, params: dict, manifest: dict) -> dict[Path, bool]:
    """Manifest-only sibling layouts → whether a rebuild must keep them:
    the same source and parameters at another bucket count is a superseded
    generation (discarded); another value of any one parameter, or another
    source, is a different store (kept)."""
    n_buckets = manifest["n_buckets"] // 2
    variants = [({}, False), ({"sf_dir": "/elsewhere"}, True)]
    for k, v in params.items():
        variants.append(({k: v + 1 if isinstance(v, int) else f"{v}_x"}, True))
    out = {}
    for change, keep in variants:
        p = {k: change.get(k, v) for k, v in params.items()}
        sf = Path(change.get("sf_dir", corpus))
        d = layout_dir(spec.kind, sf, *p.values(), n_buckets)
        d.mkdir(parents=True)
        m = dict(manifest, **p, sf_dir=str(sf), n_buckets=n_buckets)
        (d / spec.manifest_name).write_text(json.dumps(m))
        out[d] = keep
    return out


@pytest.mark.parametrize("name", STORE_MODULES)
def test_store_lifecycle_contract(spark, tmp_path, monkeypatch, name):
    mod, ensure, or_none = _store(name)
    spec = mod.SPEC
    monkeypatch.delenv(spec.env_knob, raising=False)
    monkeypatch.delenv("SPARK_GRAFT_STORE_MAX_DELTAS", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_STORE_N_BUCKETS", "4")  # tiny corpus, few tasks
    calls = _record(
        monkeypatch, mod, f"build_{name}", f"append_{name.removesuffix('_store')}_delta"
    )
    corpus = _corpus(tmp_path / "a")
    other = _corpus(tmp_path / "b", n_docs=BASE_DOCS // 2)
    # defaults, but one fit iteration: the lifecycle does not depend on it
    params = _default_params(spec, ensure)
    params.update({"iterations": 1} if "iterations" in params else {})

    def serve(sf: Path):  # ensure_<store>
        return ensure(spark, sf, **params)

    def hook(sf: Path):  # <store>_or_none
        return or_none(spark, sf, **params)

    layout = _layout(spec, corpus, params)
    manifest = layout / spec.manifest_name
    siblings: dict[Path, bool] = {}
    try:
        # ---- fresh build and serve ----
        assert hook(corpus) is None
        first = _rows(serve(corpus))
        assert _took(calls) == ["build"]
        assert _manifest(manifest)["deltas"] == [] and first
        assert _rows(hook(corpus)) == first
        mtime = manifest.stat().st_mtime_ns
        serve(corpus)
        assert _took(calls) == [] and manifest.stat().st_mtime_ns == mtime

        # ---- escape hatch: the raw names' hook only ----
        monkeypatch.setenv(spec.env_knob, "none")
        assert hook(corpus) is None
        assert _rows(serve(corpus)) == first
        monkeypatch.delenv(spec.env_knob)

        # ---- append delta ----
        drop1 = _drop(corpus, 1)
        assert hook(corpus) is None  # awaiting the delta
        appended = _rows(serve(corpus))
        assert _took(calls) == ["append"]
        assert _manifest(manifest)["deltas"] == [[drop1]]
        assert len(appended) > len(first)
        if spec.raw_serves_deltas:
            assert _rows(hook(corpus)) == appended
        else:  # deltas pinned the fit: raw names refuse, ensure serves
            assert hook(corpus) is None
            assert _rows(serve(corpus)) == appended
            assert _took(calls) == []

        # ---- a pending_delta marker forces a rebuild ----
        m = _manifest(manifest)
        manifest.write_text(json.dumps(dict(m, pending_delta=["drop-009.parquet"])))
        assert hook(corpus) is None
        rebuilt = _rows(serve(corpus))
        assert _took(calls) == ["build"]
        m = _manifest(manifest)
        assert m["deltas"] == [] and "pending_delta" not in m
        assert drop1 in m["files"]
        if spec.raw_serves_deltas:
            assert rebuilt == appended  # a row-local delta == from scratch
        else:
            assert len(rebuilt) == len(appended)
        assert _rows(hook(corpus)) == rebuilt  # refit: served again

        # ---- compaction: with a chain bound of 1 the second drop rebuilds ----
        monkeypatch.setenv("SPARK_GRAFT_STORE_MAX_DELTAS", "1")
        drop2 = _drop(corpus, 2)
        serve(corpus)
        assert _took(calls) == ["append"]
        chained_parts = _part_files(layout)
        drop3 = _drop(corpus, 3)
        serve(corpus)
        assert _took(calls) == ["build"]
        m = _manifest(manifest)
        assert m["deltas"] == [] and {drop2, drop3} <= set(m["files"])
        if spec.bucket_by:  # one file per bucket again
            assert _part_files(layout) < chained_parts
        monkeypatch.delenv("SPARK_GRAFT_STORE_MAX_DELTAS")

        # ---- a lost claim_append: the loser rebuilds, never appends ----
        drop4 = _drop(corpus, 4)
        # another writer holds the claim: exactly one claimant at a time
        assert claim_append(layout) and not claim_append(layout)
        claimed = _rows(serve(corpus))
        assert _took(calls) == ["build"]
        m = _manifest(manifest)
        assert m["deltas"] == [] and drop4 in m["files"]
        assert len(claimed) == len(set(map(str, claimed)))  # no row inserted twice
        assert not (layout / "_delta.lock").exists()  # renamed aside with the old layout
        drop5 = _drop(corpus, 5)
        serve(corpus)  # the next drop appends under a free claim
        assert _took(calls) == ["append"]
        assert _manifest(manifest)["deltas"] == [[drop5]]
        assert not (layout / "_delta.lock").exists()  # released after the commit

        # ---- corrupt manifest; the rebuild discards superseded siblings ----
        if spec.bucket_by:
            siblings = _fake_siblings(spec, corpus, params, _manifest(manifest))
        manifest.write_text('{"sf_dir": "/x", "files"')
        assert hook(corpus) is None
        served_a = _rows(serve(corpus))
        assert _took(calls) == ["build"]
        assert _rows(hook(corpus)) == served_a
        assert {d: d.exists() for d in siblings} == siblings

        # ---- rebuild while another layout holds the table name ----
        served_b = _rows(serve(other))
        assert _took(calls) == ["build"] and len(served_b) < len(served_a)
        assert _rows(hook(corpus)) == served_a  # re-attached at A
        _write(corpus, "base-000.parquet", np.arange(BASE_DOCS // 4), seed=0)
        assert hook(corpus) is None  # mutated source
        shrunk = _rows(serve(corpus))
        assert _took(calls) == ["build"] and len(shrunk) < len(served_a)
        assert _rows(hook(other)) == served_b
        assert _rows(hook(corpus)) == shrunk
    finally:
        _discard_layouts(spark, spec, [corpus, other])
        for d in siblings:
            shutil.rmtree(d, ignore_errors=True)


def test_streaming_ingest_maintenance_follows_the_registry(spark, tmp_path, monkeypatch):
    """Per-batch store maintenance resolves each requested store through
    the registry and calls its entry points on the module at call time:
    with ``build_*``/``append_*_delta`` replaced by recorders, the first
    micro-batch builds each store and the second appends to it. An unknown
    store name raises before the stream starts."""
    from satsure_agri_datapipeline_spark.streaming.ingest import (
        run_streaming_document_ingest,
    )

    corpus = _corpus(tmp_path / "corpus")
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    for i in (1, 2):
        ids = np.arange(BASE_DOCS + i * DROP_DOCS, BASE_DOCS + (i + 1) * DROP_DOCS)
        pq.write_table(_tables(ids, seed=i)["documents"], incoming / f"drop-{i:03d}.parquet")

    with pytest.raises(ValueError, match="band"):
        run_streaming_document_ingest(
            spark, incoming, corpus, tmp_path / "ckpt_bad", maintain_stores=("band",)
        )
    assert not (tmp_path / "ckpt_bad").exists()

    names = ("band_store", "shingle_store", "token_stats_store")
    recorded = {}
    for name in names:
        mod = importlib.import_module(f"{PKG}.{name}")
        recorded[name] = _record(
            monkeypatch, mod, f"build_{name}",
            f"append_{name.removesuffix('_store')}_delta",
        )
    try:
        q = run_streaming_document_ingest(
            spark, incoming, corpus, tmp_path / "ckpt", max_files_per_trigger=1,
            maintain_stores=("bands", "shingles", "token_stats"),
        )
        q.awaitTermination()
        assert recorded == {name: ["build", "append"] for name in names}
    finally:
        for name in names:
            _discard_layouts(spark, importlib.import_module(f"{PKG}.{name}").SPEC,
                             [corpus])


def test_scratch_of_dead_processes_is_swept(tmp_path):
    """Build scratch (``.build<pid>``) and rename-aside (``.old<pid>_<n>``)
    directories of a process that is gone are removed when stale siblings
    are discarded; those of a live process, other kinds' and the layouts
    themselves stay."""
    child = subprocess.Popen([sys.executable, "-c", "pass"])
    child.wait()  # reaped: its pid names no process
    dead, live = child.pid, os.getpid()
    layout = tmp_path / "spark_graft_band_0123456789ab"
    gone = [f"{layout.name}.build{dead}", f"{layout.name}.old{dead}_3",
            f"spark_graft_band_fedcba987654.old{dead}_0"]
    kept = [layout.name, f"{layout.name}.build{live}", f"{layout.name}.old{live}_0",
            f"spark_graft_ivf_0123456789ab.build{dead}"]
    for name in gone + kept:
        (tmp_path / name).mkdir()
        (tmp_path / name / "part-0.parquet").write_bytes(b"x")
    discard_stale_siblings("band", "manifest.json", layout, {"sf_dir": "unused"})
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(kept)
