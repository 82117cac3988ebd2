"""Every option of the operator, plan and source modules has a caller.

A defaulted parameter of a public function under ``operators/``,
``plans/`` or ``sources/`` that no call site in the repository passes
(package, registry, benchmark, tools or tests; by keyword or by
position) is a configuration nothing runs, or a fork kept beside the
default path.  It belongs in a module constant, or goes together with
the branch it selects.  The one exemption is ``txn``, the idempotency
key of the Delta writers.  ``streaming/`` is not scanned: its options
arrive through ``**kwargs``, which a call-site scan cannot follow.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark")
SCANNED = ("operators", "plans", "sources")
EXEMPT = {"txn"}
SKIP_DIRS = {".git", ".claude", "__pycache__", "spark-warehouse", ".perfbench_work"}


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _options() -> "list[tuple[str, str, str, int | None]]":
    """(module, function, parameter, position or None if keyword-only)
    for every defaulted parameter of a public module-level function."""
    out = []
    for sub in SCANNED:
        for name in sorted(os.listdir(os.path.join(PKG, sub))):
            if not name.endswith(".py"):
                continue
            for fn in _parse(os.path.join(PKG, sub, name)).body:
                if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                    continue
                a = fn.args
                pos = a.posonlyargs + a.args
                first = len(pos) - len(a.defaults)
                out += [(f"{sub}/{name}", fn.name, p.arg, first + i) for i, p in enumerate(pos[first:])]
                out += [
                    (f"{sub}/{name}", fn.name, p.arg, None)
                    for p, d in zip(a.kwonlyargs, a.kw_defaults)
                    if d is not None
                ]
    return out


def _calls() -> "tuple[dict[str, set[str]], dict[str, int]]":
    """Keywords passed to, and the most positional arguments given to,
    each called name (``f(...)`` or ``x.f(...)``) anywhere in the repo."""
    keywords: "dict[str, set[str]]" = {}
    positional: "dict[str, int]" = {}
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if x not in SKIP_DIRS]
        for f in files:
            if not f.endswith(".py"):
                continue
            for node in ast.walk(_parse(os.path.join(d, f))):
                if not isinstance(node, ast.Call):
                    continue
                fn = node.func
                name = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)
                if name is None:
                    continue
                keywords.setdefault(name, set()).update(k.arg for k in node.keywords if k.arg)
                positional[name] = max(positional.get(name, 0), len(node.args))
    return keywords, positional


def test_every_option_has_a_call_site():
    keywords, positional = _calls()
    unpassed = [
        f"{mod} {fn}({param})"
        for mod, fn, param, pos in _options()
        if param not in EXEMPT
        and param not in keywords.get(fn, ())
        and not (pos is not None and positional.get(fn, 0) > pos)
    ]
    assert not unpassed, f"{len(unpassed)} options no call site passes:\n" + "\n".join(unpassed)
