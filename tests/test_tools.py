"""`tools/` and the side benches stay runnable without running them (no
Spark session).

Every committed `tools/` script backs a live constant, default or test,
and is only run when that number is re-derived — so an API rename in the
engine breaks it silently. So do `bench_ingest.py` and
`bench_streaming.py`, which only BASELINE re-records run. These checks
catch that statically:

- every ``tools/<x>.py`` path named in a ``*.py`` file, README.md or
  CLAUDE.md exists;
- every name a tool or side bench imports from the engine package,
  ``__spark_entry__`` or ``bench``, and every attribute it reads on such
  an imported module, resolves;
- every ``bench_ingest.py`` mode goes through its one ``replay``, and an
  unknown mode exits 2.
"""

from __future__ import annotations

import ast
import importlib
import os
import re
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
TOOLS = sorted((REPO / "tools").glob("*.py"))
BENCH_INGEST = REPO / "bench_ingest.py"
SIDE_BENCHES = [BENCH_INGEST, REPO / "bench_streaming.py"]
ENGINE = "flink_clickstream_processor_msk_spark"
TOOL_PATH = re.compile(r"(?<![\w/])tools/(\w+)\.py")
SKIP_DIRS = {".git", "__pycache__", "spark-warehouse"}


def _is_checked(module: str) -> bool:
    return module in ("__spark_entry__", "bench") or module.split(".")[0] == ENGINE


def _resolve(module: str, name: str):
    """``from module import name``: an attribute or a submodule."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    return importlib.import_module(f"{module}.{name}")


def _named_tool_paths():
    sources = [REPO / "README.md", REPO / "CLAUDE.md"]
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if d not in SKIP_DIRS]
        sources += [Path(root) / f for f in files if f.endswith(".py")]
    for src in sources:
        for m in TOOL_PATH.finditer(src.read_text(encoding="utf-8")):
            yield src.relative_to(REPO), m.group(1)


def test_named_tool_scripts_exist():
    missing = sorted(
        f"{src}: tools/{name}.py"
        for src, name in _named_tool_paths()
        if not (REPO / "tools" / f"{name}.py").is_file()
    )
    assert not missing, missing


@pytest.mark.parametrize("tool", TOOLS + SIDE_BENCHES, ids=lambda p: p.name)
def test_tool_engine_references_resolve(tool):
    tree = ast.parse(tool.read_text(encoding="utf-8"), filename=str(tool))
    modules = {}  # local name -> imported module object
    broken = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if not _is_checked(alias.name):
                    continue
                mod = importlib.import_module(alias.name)
                if alias.asname:
                    modules[alias.asname] = mod
                elif "." not in alias.name:
                    modules[alias.name] = mod
        elif isinstance(node, ast.ImportFrom) and node.module:
            if not _is_checked(node.module):
                continue
            for alias in node.names:
                try:
                    obj = _resolve(node.module, alias.name)
                except ImportError:
                    broken.append(f"from {node.module} import {alias.name}")
                    continue
                if isinstance(obj, type(importlib)):
                    modules[alias.asname or alias.name] = obj
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
            and not hasattr(modules[node.value.id], node.attr)
        ):
            broken.append(f"{node.value.id}.{node.attr} (line {node.lineno})")
    assert not broken, broken


def test_bench_ingest_modes_all_replay_through_one_harness():
    tree = ast.parse(BENCH_INGEST.read_text(encoding="utf-8"))
    funcs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
    (modes,) = [
        n.value
        for n in tree.body
        if isinstance(n, ast.Assign)
        and [t.id for t in n.targets if isinstance(t, ast.Name)] == ["MODES"]
    ]
    assert modes.values

    def names(node):
        return {
            n.id if isinstance(n, ast.Name) else n.attr
            for n in ast.walk(node)
            if isinstance(n, (ast.Name, ast.Attribute))
        }

    for fn in modes.values:
        calls = {
            c.func.id
            for c in ast.walk(funcs[fn.id])
            if isinstance(c, ast.Call) and isinstance(c.func, ast.Name)
        }
        assert "replay" in calls, fn.id
    streaming = {"readStream", "foreachBatch"}
    outside = [
        n for n in tree.body if not (isinstance(n, ast.FunctionDef) and n.name == "replay")
    ]
    assert all(not (names(n) & streaming) for n in outside)
    assert streaming <= names(funcs["replay"])


def test_bench_ingest_rejects_unknown_mode():
    env = {**os.environ, "BENCH_INGEST_MODE": "bogus"}
    r = subprocess.run(
        [sys.executable, str(BENCH_INGEST)],
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 2, r.stderr
    assert "pq_policy" in r.stderr and "dedup" in r.stderr
