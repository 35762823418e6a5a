"""Import-level guards: no dangling imports, no dead library code, no
import-time side effects.

Deleting a library function must not leave a library module, test, script,
job, bench or the entry file importing it — function-local imports included,
since those only fail when their branch runs; the perfbench trace targets must name attributes
that exist. Both are checked statically (``ast``) plus ``hasattr`` — no
Spark session is needed.

The reverse holds too: every top-level library definition has a user
somewhere in the repo's Python, and no library module keeps an import it
does not use. Both are plain ``ast`` scans.
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
LIBRARY = [
    p for p in SOURCES if os.path.relpath(p, ROOT).split(os.sep)[0] == "biblib_spark"
]
#: where a library definition may be used: SOURCES plus the benchmark harness
REFERENCE_SOURCES = SOURCES + sorted(
    glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
)
#: top-level library names allowed to have no reference; keep it empty —
#: delete an unused definition rather than list it here
UNREFERENCED_ALLOWED: frozenset[str] = frozenset()


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _project_imports(path: str) -> list[tuple[str, str, int]]:
    """Every ``from <project module> import X`` in a file, at any depth."""
    tree = _parse(path)
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


def _top_level_names(tree: ast.Module):
    """(name, statement index) for each top-level def, class or assignment
    target; dunder names (``__version__``, ``__all__``) are module protocol,
    not code, and are skipped."""
    for i, node in enumerate(tree.body):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names = [node.name]
        elif isinstance(node, ast.Assign):
            names = [
                n.id
                for t in node.targets
                for n in ast.walk(t)
                if isinstance(n, ast.Name)
            ]
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names = [node.target.id]
        else:
            continue
        for name in names:
            if not (name.startswith("__") and name.endswith("__")):
                yield name, i


def _references(tree: ast.Module):
    """(name, top-level statement index) for every use of a name: a loaded
    name or attribute, an imported name, or a string constant equal to it
    (``getattr``-style uses such as perfbench's trace targets)."""
    for i, top in enumerate(tree.body):
        for n in ast.walk(top):
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                yield n.id, i
            elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
                yield n.attr, i
            elif isinstance(n, ast.alias):
                yield n.name.rsplit(".", 1)[-1], i
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                yield n.value, i


def test_library_definitions_are_referenced():
    """Every top-level def, class or assignment in ``biblib_spark/`` is used
    somewhere in REFERENCE_SOURCES. Matching is by name, not by module; a
    use inside the definition's own statement (recursion) does not count."""
    users: dict[str, set] = {}
    for path in REFERENCE_SOURCES:
        for name, i in _references(_parse(path)):
            users.setdefault(name, set()).add((path, i))
    unused = [
        f"{os.path.relpath(path, ROOT)}: {name}"
        for path in LIBRARY
        for name, i in _top_level_names(_parse(path))
        if name not in UNREFERENCED_ALLOWED
        and not users.get(name, set()) - {(path, i)}
    ]
    assert not unused, unused


def _imports_by_scope(node: ast.AST, scope: ast.AST):
    """(import statement, innermost enclosing function or the module)."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.Import, ast.ImportFrom)):
            yield child, scope
        inner = (
            child
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            else scope
        )
        yield from _imports_by_scope(child, inner)


def _unused_imports(path: str) -> list[str]:
    with open(path) as f:
        src = f.read()
    lines = src.splitlines()
    tree = ast.parse(src, path)
    out = []
    for imp, scope in _imports_by_scope(tree, tree):
        if isinstance(imp, ast.ImportFrom) and imp.module == "__future__":
            continue
        if "# noqa: F401" in lines[imp.lineno - 1]:
            continue
        loaded = {
            n.id
            for n in ast.walk(scope)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
        }
        out += [
            f"{os.path.relpath(path, ROOT)}:{imp.lineno}: {alias.asname or alias.name}"
            for alias in imp.names
            if (alias.asname or alias.name.split(".")[0]) not in loaded
        ]
    return out


def test_library_imports_are_used():
    """No import in a non-``__init__`` library module goes unused, except on
    a line marked ``# noqa: F401`` (a deliberate re-export). A
    function-local import must be used inside its function."""
    unused = [
        msg
        for path in LIBRARY
        if os.path.basename(path) != "__init__.py"
        for msg in _unused_imports(path)
    ]
    assert not unused, unused


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
