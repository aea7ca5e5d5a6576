"""Every program module and top-level definition is reached from an entry
point, and every job flag is passed by a caller.

An AST import walk from the engine's entry points (the jobs, the query
catalog, ``bench.py``, ``__spark_entry__.py`` and perfbench, its tests
excluded) over the ``smoldocling_ocr_spark`` package. Imports inside
functions count; importing ``a.b.c`` also runs the ``a`` and ``a.b``
package ``__init__``s. A module that only tests import fails this test
unless it is in ``_KEPT_UNREACHED``.

A second pass works one level down. A top-level def or class of a reached
module is reached when its name appears in an entry file, in the
module-level code of a reached module, or in the body of a reached
definition. A decorated one is reached with its module: its decorators run
at import and receive it (the catalog's ``@query`` registers each
query that way). Matching by name over-approximates: it can miss a dead
definition that shares a live one's name, but never flags a live one. A
definition that only tests call fails unless it is in
``_KEPT_UNREACHED_DEFS``. Each kept unit has its reason in COVERAGE.md
("Kept without an entry point").

A third pass checks the jobs' options: every ``add_argument`` flag in
``jobs/*.py`` must appear as a string literal in a caller (the tests,
perfbench, ``bench.py``). A flag no caller passes is a constant in
disguise, and the path behind it is never run.
"""

from __future__ import annotations

import ast
from importlib.util import resolve_name
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "smoldocling_ocr_spark"

_KEPT_UNREACHED = {"streaming", "streaming.adapter"}
_KEPT_UNREACHED_DEFS = {"session.cluster_conf", "operators.bpe.apply_merges"}


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


def _modules() -> dict[str, Path]:
    return {_module_name(p): p for p in (ROOT / PKG).rglob("*.py")}


def _reached_modules() -> set[str]:
    modules = _modules()
    seen: set[str] = set()
    todo = _entry_files()
    while todo:
        path = todo.pop()
        # running a module runs its packages' __init__s too
        reached = _imports(path) | _with_parents(_module_name(path))
        for name in (reached & modules.keys()) - seen:
            seen.add(name)
            todo.append(modules[name])
    return seen


def unreached_modules() -> set[str]:
    return {n.removeprefix(PKG + ".") for n in _modules().keys() - _reached_modules()}


def _names(node: ast.AST) -> set[str]:
    """Every identifier ``node`` mentions: names, attributes, imported names."""
    found = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            found.add(n.id)
        elif isinstance(n, ast.Attribute):
            found.add(n.attr)
        elif isinstance(n, ast.alias):
            found.add(n.name.rpartition(".")[2])
    return found


def unreached_definitions() -> set[str]:
    names: set[str] = set()
    for path in _entry_files():
        names |= _names(ast.parse(path.read_text()))
    pending: dict[str, ast.AST] = {}
    modules = _modules()
    for mod in _reached_modules():
        for stmt in ast.parse(modules[mod].read_text()).body:
            defines = isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            if defines and not stmt.decorator_list:
                pending[f"{mod}.{stmt.name}"] = stmt
            else:
                names |= _names(stmt)
    while reached := {k for k, node in pending.items() if node.name in names}:
        for key in reached:
            names |= _names(pending.pop(key))
    return {k.removeprefix(PKG + ".") for k in pending}


def test_every_program_module_is_reached():
    assert unreached_modules() == _KEPT_UNREACHED


def test_every_top_level_definition_is_reached():
    assert unreached_definitions() == _KEPT_UNREACHED_DEFS


def unset_job_flags() -> set[str]:
    flags = set()
    for path in (ROOT / "jobs").glob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "add_argument":
                flags |= {a.value for a in node.args if isinstance(a, ast.Constant) and a.value.startswith("--")}
    callers = [*(ROOT / "tests").rglob("*.py"), *(ROOT / "perfbench").rglob("*.py"), ROOT / "bench.py"]
    passed = {
        n.value
        for path in callers
        for n in ast.walk(ast.parse(path.read_text()))
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    }
    return flags - passed


def test_every_job_flag_is_set_by_a_caller():
    assert unset_job_flags() == set()
