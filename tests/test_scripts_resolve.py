"""Every ``from hgn_spark... import name`` in the probe scripts and
``bench.py`` resolves, and so does every ``from <sibling script> import
name`` between the scripts. The scripts import inside functions, so a
deleted or renamed entry point would otherwise fail only when someone
runs that probe."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = sorted((ROOT / "scripts").glob("*.py"))


def _imports():
    for path in SCRIPTS + [ROOT / "bench.py"]:
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
                for alias in node.names:
                    yield f"{path.relative_to(ROOT)}:{node.lineno}", node.module, alias.name


def _top_level_names(path: Path) -> set[str]:
    names = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names.update(t.id for t in targets if isinstance(t, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
    return names


def test_script_imports_resolve():
    siblings = {p.stem: p for p in SCRIPTS}
    checked, missing = 0, []
    for where, module, name in _imports():
        if module in siblings:
            checked += 1
            if name not in _top_level_names(siblings[module]):
                missing.append(f"{where} {module}.{name}")
        elif module.split(".")[0] == "hgn_spark":
            checked += 1
            mod = importlib.import_module(module)
            if hasattr(mod, name):
                continue
            try:
                importlib.import_module(f"{module}.{name}")
            except ModuleNotFoundError:
                missing.append(f"{where} {module}.{name}")
    assert checked, "no hgn_spark or sibling-script imports found"
    assert missing == [], f"unresolved imports: {missing}"
