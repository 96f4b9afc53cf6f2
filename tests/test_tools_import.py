"""Every script under ``tools/`` must import: each keeps its work under a
``__main__`` guard, so importing one runs nothing, and a tool whose imports
break fails here."""

import importlib.util
import sys
from pathlib import Path

import pytest

TOOLS = sorted((Path(__file__).resolve().parent.parent / "tools").glob("*.py"))


def test_tools_found():
    assert len(TOOLS) > 10


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.stem)
def test_tool_imports(path, monkeypatch):
    monkeypatch.setattr(sys, "path", list(sys.path))  # tools prepend the repo root
    spec = importlib.util.spec_from_file_location(f"_tool_{path.stem}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)


def test_stage_probe_labels_every_registered_kind(tmp_path, monkeypatch):
    """``stage_probe.stores_present`` labels each layout with its kind's
    ``StoreSpec.params`` read through the store registry, so the ANN
    stores print their parameters too. Manifests only: no JVM."""
    import json
    import tempfile

    from satsure_agri_datapipeline_spark.sources.store_util import store_modules

    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    path = Path(__file__).resolve().parent.parent / "tools" / "stage_probe.py"
    spec = importlib.util.spec_from_file_location("_tool_stage_probe_labels", path)
    probe = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(probe)

    sf = tmp_path / "sf"
    sf.mkdir()
    want = []
    for i, mod in enumerate(store_modules()):
        s = mod.SPEC
        values = {k: f"{k}{i}" for k in s.params}
        layout = tmp_path / f"spark_graft_{s.kind}_{i:012d}"
        layout.mkdir()
        manifest = {"sf_dir": str(sf.resolve()), **values, "files": {}, "deltas": []}
        (layout / s.manifest_name).write_text(json.dumps(manifest))
        label = "/".join(values[k] for k in s.params)
        want.append(f"{s.kind}({label})" if label else s.kind)
    other = tmp_path / "spark_graft_pq_ffffffffffff"  # another source: not listed
    other.mkdir()
    (other / "_pq_manifest.json").write_text(json.dumps({"sf_dir": "/elsewhere"}))
    bucketed = tmp_path / "spark_graft_bucketed_eeeeeeeeeeee"  # no registered params
    bucketed.mkdir()
    (bucketed / "_layout_manifest.json").write_text(json.dumps({"sf_dir": str(sf)}))

    assert probe.stores_present(str(sf)) == sorted(want + ["bucketed"])
    assert "pq(m6/k6/iterations6/seed6)" in want
