"""Every top-level definition in the package has a caller.

Parses the package with ``ast``: each top-level, undecorated ``def`` or
``class`` outside ``__init__.py`` must be referenced somewhere — as a
name, an attribute, an imported name or an identifier-shaped string
constant (registry lookups, ``getattr``) — in the package's other
modules, ``__spark_entry__.py``, ``bench.py``, ``perfbench/``,
``tools/`` or ``tests/``. A definition nothing references is dead code:
delete it, or name the path that needs it here.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "cincinnati_police_calls_for_service_etl_using_python_dask_spark"

# Public API that only the package's __init__ re-exports.
EXEMPT = {
    "stop_spark": "exported session API: the counterpart of get_spark",
    "read_parquet": "exported IO API: the north star's parquet input",
    "read_csv_with_schema": "exported IO API: the north star's typed CSV input",
}


def _modules() -> list[Path]:
    return sorted(p for p in PACKAGE.rglob("*.py") if p.name != "__init__.py")


def _definitions() -> dict[str, list[str]]:
    defs: dict[str, list[str]] = {}
    for path in _modules():
        for node in ast.parse(path.read_text(encoding="utf-8")).body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not node.decorator_list
            ):
                where = f"{path.relative_to(ROOT)}:{node.lineno}"
                defs.setdefault(node.name, []).append(where)
    return defs


def _referenced_names() -> set[str]:
    sources = _modules() + [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for d in ("perfbench", "tools", "tests"):
        sources += sorted((ROOT / d).rglob("*.py"))
    # this file names the exemptions as strings; they must not count
    sources.remove(Path(__file__).resolve())
    names: set[str] = set()
    for path in sources:
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.ImportFrom):
                names.update(a.name for a in node.names)
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and node.value.isidentifier()
            ):
                names.add(node.value)
    return names


def test_every_top_level_definition_is_referenced():
    defs = _definitions()
    refs = _referenced_names()
    unreferenced = {name: where for name, where in defs.items() if name not in refs}
    assert set(unreferenced) - set(EXEMPT) == set(), unreferenced
    # an exemption whose name gained a caller or lost its definition goes
    assert set(EXEMPT) <= set(unreferenced), set(EXEMPT) - set(unreferenced)
