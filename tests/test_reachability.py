"""Every top-level definition in the package has a product caller.

Parses the package with ``ast``: each top-level, undecorated ``def`` or
``class`` outside ``__init__.py`` must be referenced somewhere — as a
name, an attribute, an imported name or an identifier-shaped string
constant (registry lookups, ``getattr``) — in the package's other
modules, ``__spark_entry__.py``, ``bench.py``, ``perfbench/`` or
``tools/``. ``tests/`` does not count: a definition only tests call is
dead code with a test attached. Delete it, move it into the test module
that compares a kept path against it, or name the path that needs it
here.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "cincinnati_police_calls_for_service_etl_using_python_dask_spark"

# Public API that only an ``__init__`` re-exports, deployment plug-ins,
# and the codec/composed references the fused media paths are tested
# against.
EXEMPT = {
    "stop_spark": "exported session API: the counterpart of get_spark",
    "read_parquet": "exported IO API: the north star's parquet input",
    "read_csv_with_schema": "exported IO API: the north star's typed CSV input",
    "cfs_reference_pipeline": "the paper's dataflow, exported by plans/__init__.py",
    "pymongo_client_factory": "deployment MongoDB client for full_refresh_write",
    "refresh_join_view": "CadenceRunner view plug-in named in streaming/runner.py",
    "skew_rebuild_trigger": "CadenceRunner rebuild_if plug-in named in streaming/runner.py",
    "encode_png": "single-image reference of the batched PNG encoder",
    "decode_png": "single-image reference of the batched PNG decoder",
    "encode_jpeg_color": "reference encoder of the fused color-JPEG decode",
    "decode_jpeg_color": "reference decoder of the fused color-JPEG decode",
    "attach_png_payload": "composed reference of synth_decode_media and multimodal_pipeline",
    "decode_image_metadata": "composed reference of synth_decode_media",
    "attach_jpeg_payload": "composed reference of synth_decode_media",
    "decode_jpeg_metadata": "composed reference of synth_decode_media",
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
    for d in ("perfbench", "tools"):
        sources += sorted((ROOT / d).rglob("*.py"))
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
