"""Every name the scripts under tools/ and bench.py import from
tfidf_spark must exist: an API removal then fails here, not the next
time someone runs the tool."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = sorted((ROOT / "tools").glob("*.py")) + [ROOT / "bench.py"]


def _package_imports(path: Path) -> list[tuple[str, str | None, int]]:
    """(module, name or None, line) for every tfidf_spark import, at any
    nesting depth (tools import inside functions too)."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module.split(".")[0] == "tfidf_spark":
                out += [(node.module, a.name, node.lineno) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [
                (a.name, None, node.lineno)
                for a in node.names
                if a.name.split(".")[0] == "tfidf_spark"
            ]
    return out


def test_scripts_import_tfidf_spark():
    # guards the parametrization below against silently finding nothing
    assert sum(len(_package_imports(p)) for p in SCRIPTS) > 20


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_imports_resolve(path):
    missing = []
    for module, name, line in _package_imports(path):
        mod = importlib.import_module(module)
        if name is None or hasattr(mod, name):
            continue
        try:
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            missing.append(f"{path.name}:{line}: from {module} import {name}")
    assert not missing, missing
