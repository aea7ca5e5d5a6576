"""Every program module is reached from an entry point.

An AST import walk from the engine's entry points (the jobs, the query
catalog, ``bench.py``, ``__spark_entry__.py`` and perfbench, its tests
excluded) over the ``smoldocling_ocr_spark`` package. Imports inside
functions count; importing ``a.b.c`` also runs the ``a`` and ``a.b``
package ``__init__``s. A module that only tests import fails this test
unless it is in ``_KEPT_UNREACHED``, each with its reason in COVERAGE.md
("Kept without an entry point").
"""

from __future__ import annotations

import ast
from importlib.util import resolve_name
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "smoldocling_ocr_spark"

_KEPT_UNREACHED = {"sources.tablestore", "streaming", "streaming.adapter"}


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _with_parents(name: str) -> set[str]:
    parts = name.split(".")
    return {".".join(parts[:i]) for i in range(1, len(parts) + 1)}


def _entry_files() -> list[Path]:
    perfbench = [p for p in (ROOT / "perfbench").rglob("*.py") if "tests" not in p.parts]
    return [
        *(ROOT / "jobs").glob("*.py"),
        ROOT / PKG / "plans" / "catalog.py",
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
        *perfbench,
    ]


def _imports(path: Path) -> set[str]:
    """Every dotted name ``path`` imports, with its parent packages."""
    name = _module_name(path)
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = resolve_name("." * node.level + (node.module or ""), package)
            targets = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for target in targets:
            found |= _with_parents(target)
    return found


def unreached_modules() -> set[str]:
    modules = {_module_name(p): p for p in (ROOT / PKG).rglob("*.py")}
    seen: set[str] = set()
    todo = _entry_files()
    while todo:
        path = todo.pop()
        # running a module runs its packages' __init__s too
        reached = _imports(path) | _with_parents(_module_name(path))
        for name in (reached & modules.keys()) - seen:
            seen.add(name)
            todo.append(modules[name])
    return {n.removeprefix(PKG + ".") for n in modules.keys() - seen}


def test_every_program_module_is_reached():
    assert unreached_modules() == _KEPT_UNREACHED
