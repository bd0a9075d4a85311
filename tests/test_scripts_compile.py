"""Every hand-run script compiles and every name it imports exists.

The scripts under ``scripts/`` and ``bench.py`` are not imported by any
other test, so a deleted module or function they still import would
otherwise surface only at the next hand run."""

import ast
import glob
import importlib
import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(glob.glob(os.path.join(ROOT, "scripts", "*.py"))) + [
    os.path.join(ROOT, "bench.py")]


def _imports(tree):
    """(module, names) for every absolute import in the file, at any depth
    (the scripts import inside functions)."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield alias.name, []
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            yield node.module, [a.name for a in node.names if a.name != "*"]


@pytest.mark.parametrize("path", SCRIPTS,
                         ids=[os.path.relpath(p, ROOT) for p in SCRIPTS])
def test_script_compiles_and_its_imports_resolve(path, monkeypatch):
    with open(path, encoding="utf-8") as f:
        src = f.read()
    tree = ast.parse(src, path)
    compile(tree, path, "exec")
    # a script runs with its own directory first on sys.path
    monkeypatch.syspath_prepend(os.path.dirname(path))
    missing = []
    for module, names in _imports(tree):
        if module == "__future__":
            continue
        if importlib.util.find_spec(module) is None:
            missing.append(module)
            continue
        if names:
            mod = importlib.import_module(module)
            missing += [f"{module}.{n}" for n in names
                        if not hasattr(mod, n) and importlib.util.find_spec(
                            f"{module}.{n}") is None]
    assert not missing, missing
