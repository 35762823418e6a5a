"""Import-level guards: no dangling imports, no import-time side effects.

Deleting a library function must not leave a library module, test, script,
job, bench or the entry file importing it — function-local imports included,
since those only fail when their branch runs; the perfbench trace targets must name attributes
that exist. Both are checked statically (``ast``) plus ``hasattr`` — no
Spark session is needed.
"""

from __future__ import annotations

import ast
import glob
import importlib
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = sorted(
    glob.glob(os.path.join(ROOT, "scripts", "*.py"))
    + glob.glob(os.path.join(ROOT, "jobs", "*.py"))
    + glob.glob(os.path.join(ROOT, "biblib_spark", "**", "*.py"), recursive=True)
    + glob.glob(os.path.join(ROOT, "tests", "*.py"))
    + [
        os.path.join(ROOT, f)
        for f in ("bench.py", "bench_extra.py", "__spark_entry__.py")
    ]
)
PACKAGES = ("biblib_spark", "scripts", "tests")


def _project_imports(path: str) -> list[tuple[str, str, int]]:
    """Every ``from <project module> import X`` in a file, at any depth."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    return [
        (node.module, alias.name, node.lineno)
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and node.level == 0
        and node.module
        and node.module.split(".")[0] in PACKAGES
        for alias in node.names
    ]


def _resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    try:  # ``from package import submodule``
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


@pytest.mark.parametrize(
    "path", SOURCES, ids=[os.path.relpath(p, ROOT) for p in SOURCES]
)
def test_project_imports_resolve(path):
    missing = [
        f"line {line}: from {module} import {name}"
        for module, name, line in _project_imports(path)
        if not _resolves(module, name)
    ]
    assert not missing, missing


@pytest.mark.parametrize("workload", ["review", "resume"])
def test_trace_targets_exist(workload):
    from perfbench.workloads import trace_targets

    missing = [
        f"{module.__name__}.{attr}"
        for module, attr, _layer, _output in trace_targets(workload)
        if not hasattr(module, attr)
    ]
    assert not missing, missing


def test_importing_session_leaves_environ_unchanged():
    """A fresh interpreter's os.environ is the same before and after
    ``import biblib_spark.session``."""
    code = (
        "import json, os\n"
        "before = dict(os.environ)\n"
        "import biblib_spark.session\n"
        "after = dict(os.environ)\n"
        "print(json.dumps(sorted(set(before.items()) ^ set(after.items()))))\n"
    )
    env = {
        k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")
    }
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    )
    assert json.loads(out.stdout) == []
