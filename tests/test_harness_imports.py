"""Every name the harness scripts import from pdfspark or perfbench
exists. The scripts (bench.py, __spark_entry__.py, jobs/, tools/,
perfbench/) are parsed, not run, so a change that deletes or renames a
name they use fails here instead of in the next benchmark run. No
Spark session is started."""

from __future__ import annotations

import ast
import glob
import importlib
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(
    os.path.relpath(p, ROOT)
    for pat in ("bench.py", "__spark_entry__.py", "jobs/*.py", "tools/*.py", "perfbench/*.py")
    for p in glob.glob(os.path.join(ROOT, pat))
)
PACKAGES = ("pdfspark", "perfbench")


def _imported_names(path: str):
    """(module, name) for every ``from <package>… import name`` in the
    file, at any depth; relative imports resolve against the file's
    package."""
    package = os.path.dirname(path).replace(os.sep, ".")
    with open(os.path.join(ROOT, path)) as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom):
            continue
        module = node.module or ""
        if node.level:
            parts = package.split(".")
            base = ".".join(parts[: len(parts) - node.level + 1])
            module = f"{base}.{module}" if module else base
        if module.split(".")[0] in PACKAGES:
            for alias in node.names:
                yield module, alias.name


def test_harness_scripts_found():
    assert {"bench.py", "__spark_entry__.py", "perfbench/run.py"} <= set(SCRIPTS)


@pytest.mark.parametrize("path", SCRIPTS)
def test_harness_imports_resolve(path):
    missing = []
    for module, name in _imported_names(path):
        mod = importlib.import_module(module)
        if name == "*" or hasattr(mod, name):
            continue
        try:
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            missing.append(f"from {module} import {name}")
    assert not missing, f"{path}: {missing}"
