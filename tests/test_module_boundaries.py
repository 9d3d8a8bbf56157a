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


# Pipeline modules whose options must each have a caller: a default a
# caller never overrides is a constant, not an option.
PIPELINE_MODULES = [
    "fluent_bit_spark/sources/__init__.py",
    "fluent_bit_spark/operators/parse.py",
    "fluent_bit_spark/operators/filters.py",
    "fluent_bit_spark/operators/enrich.py",
    "fluent_bit_spark/operators/route.py",
    "fluent_bit_spark/operators/aggregate.py",
    "fluent_bit_spark/operators/skew.py",
    "fluent_bit_spark/operators/grok.py",
    "fluent_bit_spark/sinks/__init__.py",
    "fluent_bit_spark/streaming/__init__.py",
    "fluent_bit_spark/metrics.py",
    "fluent_bit_spark/retry.py",
    "fluent_bit_spark/checkpoint.py",
    "fluent_bit_spark/cli.py",
    "fluent_bit_spark/config.py",
    "fluent_bit_spark/transcripts.py",
    "fluent_bit_spark/functions/record_accessor.py",
]

# (module, function, parameter) -> why the value stays settable
# although no package, entry-point or perfbench call sets it.
UNSET_OPTIONS_ALLOWED = {
    ("fluent_bit_spark/cli.py", "main", "argv"):
        "entry-point idiom: None reads sys.argv, tests pass a list",
    ("fluent_bit_spark/transcripts.py", "read_transcripts", "table_format"):
        "deployment setting: the table format (parquet or Iceberg) of the store",
    ("fluent_bit_spark/sinks/__init__.py", "es_logstash_index", "id_mode"):
        "the reference-exact Generate_ID (murmur3); dropping it is a product decision",
    ("fluent_bit_spark/config.py", "ConfigPipeline.__init__", "lua_functions"):
        "the Python functions a lua filter's Call names; a config file cannot carry them",
    ("fluent_bit_spark/operators/enrich.py", "asof_join", "left_ts"):
        "the time column of a frame the caller builds, not a pipeline column",
    ("fluent_bit_spark/operators/enrich.py", "asof_join", "right_ts"):
        "the time column of a frame the caller builds, not a pipeline column",
}


def _defaulted_params(path: pathlib.Path):
    """(function, parameter, call name, positional index or None) for
    every defaulted parameter of a public function or method; the index
    counts the arguments a call passes, so a method's skips `self`."""
    fns = []
    for node in ast.parse(path.read_text(), str(path)).body:
        if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
            fns.append((node.name, node.name, node, 0))
        elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
            for m in node.body:
                if not isinstance(m, ast.FunctionDef):
                    continue
                if m.name.startswith("_") and m.name != "__init__":
                    continue
                static = any(getattr(d, "id", None) == "staticmethod" for d in m.decorator_list)
                called_as = node.name if m.name == "__init__" else m.name
                fns.append((f"{node.name}.{m.name}", called_as, m, 0 if static else 1))
    for qual, called_as, fn, skip in fns:
        a = fn.args
        pos = a.posonlyargs + a.args
        first = len(pos) - len(a.defaults)
        for i, p in enumerate(pos[first:], start=first):
            yield qual, p.arg, called_as, i - skip
        for p, d in zip(a.kwonlyargs, a.kw_defaults):
            if d is not None:
                yield qual, p.arg, called_as, None


def _calls_by_name(files):
    """call name -> [(positional count, keywords, passes *args/**kwargs)]"""
    calls: dict[str, list] = {}
    for f in files:
        for node in ast.walk(ast.parse(f.read_text(), str(f))):
            if not isinstance(node, ast.Call):
                continue
            name = getattr(node.func, "id", None) or getattr(node.func, "attr", None)
            star = any(isinstance(a, ast.Starred) for a in node.args) or any(
                k.arg is None for k in node.keywords
            )
            calls.setdefault(name, []).append(
                (len(node.args), {k.arg for k in node.keywords}, star)
            )
    return calls


def test_every_pipeline_option_has_a_caller():
    """Every defaulted parameter of a public function in the pipeline
    modules is passed, by position or keyword, by some call in the
    package, `__spark_entry__.py` or perfbench (a call with `*args` or
    `**kwargs` counts as passing all), or is allowlisted with a reason.
    Calls match by name, so a same-named call elsewhere also counts.
    Tests do not count: a value only a test sets is a constant."""
    callers = (
        sorted((REPO / PKG).rglob("*.py"))
        + [REPO / "__spark_entry__.py"]
        + sorted((REPO / "perfbench").glob("*.py"))
    )
    calls = _calls_by_name(callers)
    unset = set()
    for mod in PIPELINE_MODULES:
        for qual, param, called_as, idx in _defaulted_params(REPO / mod):
            if not any(
                star or param in kws or (idx is not None and n > idx)
                for n, kws, star in calls.get(called_as, [])
            ):
                unset.add((mod, qual, param))
    found = sorted(unset - UNSET_OPTIONS_ALLOWED.keys())
    assert not found, f"{len(found)} options no caller sets:\n" + "\n".join(
        f"{m}: {q}({p}=)" for m, q, p in found
    )
    stale = sorted(UNSET_OPTIONS_ALLOWED.keys() - unset)
    assert not stale, f"allowlisted options that now have a caller or are gone: {stale}"
