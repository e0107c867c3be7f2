"""Every top-level function and class under ``jepl_spark/`` must be
referenced by name (as a name, an attribute or an import) somewhere in
the repository's Python files, so code nothing calls cannot pile up."""

from __future__ import annotations

import ast
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent


@pytest.mark.filterwarnings("ignore::DeprecationWarning")  # SQL escapes
def test_every_package_def_is_referenced():
    used, defs = set(), []
    for path in ROOT.rglob("*.py"):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for n in ast.walk(tree):
            if isinstance(n, (ast.Name, ast.Attribute, ast.alias)):
                used.add(getattr(n, "id", None) or getattr(n, "attr", None)
                         or n.name.rsplit(".", 1)[-1])
        if path.relative_to(ROOT).parts[0] == "jepl_spark":
            defs += [(str(path.relative_to(ROOT)), n.name) for n in tree.body
                     if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                                       ast.ClassDef))]
    assert [d for d in defs if d[1] not in used] == []
