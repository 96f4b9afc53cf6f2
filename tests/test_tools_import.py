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
