"""Module boundaries of the package.

- No module imports another package module's `_`-prefixed name: a
  helper shared across modules has one public home (e.g.
  `session.persist_tracked`, `functions.hashing.md5_32`).
- The core path (cli, checkpoint, sinks, streaming, metrics,
  transcripts, the flagship plan) loads a fixed set of package
  modules, so an import added there cannot pull an operator family in
  unnoticed.
- Driver-side rows become a frame only through `session.local_frame`.
- Only `transcripts.py` names `TRANSCRIPT_SCHEMA`: it decides the
  transcript row type, and every other module takes the frames its
  entry points return as they are.
"""

from __future__ import annotations

import ast
import json
import os
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = "fluent_bit_spark"

CORE_IMPORTS = [
    "fluent_bit_spark.cli",
    "fluent_bit_spark.checkpoint",
    "fluent_bit_spark.sinks",
    "fluent_bit_spark.streaming",
    "fluent_bit_spark.metrics",
    "fluent_bit_spark.transcripts",
    "fluent_bit_spark.plans.flagship",
]

CORE_MODULES = {
    "fluent_bit_spark",
    "fluent_bit_spark.checkpoint",
    "fluent_bit_spark.cli",
    "fluent_bit_spark.metrics",
    "fluent_bit_spark.operators",
    "fluent_bit_spark.operators.aggregate",
    "fluent_bit_spark.operators.enrich",
    "fluent_bit_spark.operators.parse",
    "fluent_bit_spark.operators.route",
    "fluent_bit_spark.plans",
    "fluent_bit_spark.plans.flagship",
    "fluent_bit_spark.session",
    "fluent_bit_spark.sinks",
    "fluent_bit_spark.streaming",
    "fluent_bit_spark.transcripts",
}


def _module_name(path: pathlib.Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _private_reach_ins(path: pathlib.Path) -> list[str]:
    me = _module_name(path)
    found = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if not isinstance(node, ast.ImportFrom):
            continue
        mod = node.module or ""
        if node.level:
            base = me.split(".")
            if path.name != "__init__.py":
                base.pop()
            base = base[: len(base) - (node.level - 1)]
            mod = ".".join(base + ([mod] if mod else []))
        if mod.split(".")[0] != PKG or mod == me:
            continue
        found += [
            f"{path.relative_to(REPO)}:{node.lineno}: {mod}.{a.name}"
            for a in node.names
            if a.name.startswith("_")
        ]
    return found


def test_no_private_names_imported_across_modules():
    files = sorted((REPO / PKG).rglob("*.py")) + [REPO / "__spark_entry__.py"]
    found = [hit for f in files for hit in _private_reach_ins(f)]
    assert not found, "\n".join(found)


def test_core_path_loads_only_core_modules():
    code = (
        "import json, sys\n"
        + "".join(f"import {m}\n" for m in CORE_IMPORTS)
        + f"print(json.dumps(sorted(m for m in sys.modules if m.split('.')[0] == {PKG!r})))\n"
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [str(REPO), env.get("PYTHONPATH")]))
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=120, check=True,
    ).stdout
    loaded = set(json.loads(out.strip().splitlines()[-1]))
    assert loaded == CORE_MODULES, (
        f"extra: {sorted(loaded - CORE_MODULES)}, missing: {sorted(CORE_MODULES - loaded)}"
    )


def test_driver_rows_become_frames_only_through_local_frame():
    """Driver-side rows become a frame only through
    `session.local_frame`, the one path that plans a JVM-local relation:
    `createDataFrame(<list>)` plans a Python RDD scan whose first job
    spawns Python workers."""
    found = [
        f"{f.relative_to(REPO)}:{node.lineno}"
        for f in sorted((REPO / PKG).rglob("*.py"))
        if f != REPO / PKG / "session.py"
        for node in ast.walk(ast.parse(f.read_text(), str(f)))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]
    assert not found, "\n".join(found)


def test_only_transcripts_names_the_transcript_schema():
    """The transcript row type is decided in one module. A module that
    names `TRANSCRIPT_SCHEMA` is reading or re-typing transcripts on its
    own, which is how the per-caller timestamp casts came about."""
    files = sorted((REPO / PKG).rglob("*.py")) + [REPO / "__spark_entry__.py"]
    found = [
        f"{f.relative_to(REPO)}:{node.lineno}"
        for f in files
        if f != REPO / PKG / "transcripts.py"
        for node in ast.walk(ast.parse(f.read_text(), str(f)))
        if "TRANSCRIPT_SCHEMA"
        in (getattr(node, "id", None), getattr(node, "attr", None), getattr(node, "name", None))
    ]
    assert not found, "\n".join(found)
