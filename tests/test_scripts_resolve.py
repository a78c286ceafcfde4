"""Every ``from hgn_spark... import name`` in the probe scripts,
``bench.py`` and the benchmark's ``perfbench/*.py`` resolves, and so
does every ``from <sibling script> import name`` between the scripts
and every layer target the benchmark's tracer wraps
(``perfbench.trace.LAYER_TARGETS``). The scripts import inside
functions and the tracer looks its targets up at run time, so a
deleted or renamed entry point would otherwise fail only when someone
runs that probe or ``perfbench/run.py --trace 1``."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = sorted((ROOT / "scripts").glob("*.py"))
PERFBENCH = sorted((ROOT / "perfbench").glob("*.py"))


def _imports(paths):
    for path in paths:
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


def _resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    try:
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_script_imports_resolve():
    siblings = {p.stem: p for p in SCRIPTS}
    checked, missing = 0, []
    for where, module, name in _imports(SCRIPTS + [ROOT / "bench.py"]):
        if module in siblings:
            checked += 1
            if name not in _top_level_names(siblings[module]):
                missing.append(f"{where} {module}.{name}")
        elif module.split(".")[0] == "hgn_spark":
            checked += 1
            if not _resolves(module, name):
                missing.append(f"{where} {module}.{name}")
    assert checked, "no hgn_spark or sibling-script imports found"
    assert missing == [], f"unresolved imports: {missing}"


def test_perfbench_imports_resolve():
    checked = [
        (where, module, name)
        for where, module, name in _imports(PERFBENCH)
        if module.split(".")[0] == "hgn_spark"
    ]
    assert checked, "no hgn_spark imports found in perfbench/"
    missing = [f"{w} {m}.{n}" for w, m, n in checked if not _resolves(m, n)]
    assert missing == [], f"unresolved imports: {missing}"


def _layer_targets() -> tuple:
    """``LAYER_TARGETS`` read from perfbench/trace.py's source, without
    importing the tracer."""
    tree = ast.parse((ROOT / "perfbench" / "trace.py").read_text())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "LAYER_TARGETS" for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError("perfbench/trace.py defines no LAYER_TARGETS")


def test_perfbench_trace_targets_resolve():
    targets = _layer_targets()
    assert targets
    missing = []
    for module, attr, _layer in targets:
        obj = importlib.import_module(module)
        for part in attr.split("."):
            obj = getattr(obj, part, None)
            if obj is None:
                break
        if not callable(obj):
            missing.append(f"{module}.{attr}")
    assert missing == [], f"unresolved trace targets: {missing}"
