"""Ratchet: every defaulted parameter of a top-level package function is
set by some call in the repository.

A parameter that no caller varies is a configuration nobody runs: it
belongs in the function body as a constant. The scan is pure AST, so
it is exact and needs no Spark session:

- definitions: module-level ``def`` in ``crypto_etl_pipeline_spark/``
  (methods and nested functions are out of scope);
- calls: every ``.py`` file in the repository (package, tests,
  scripts, perfbench, ``bench.py``, ``__spark_entry__.py``), matched to
  definitions by name (or by a module-level alias such as
  ``pack_ffd = pack_bfd``), so a call to any function of the same name
  counts;
- a call sets a parameter by keyword, by position, or wholesale through
  ``*args`` (positional parameters) or ``**kw`` (all of them); passing
  the parameter's own default literal does not count as setting it.

Run ``python tests/test_unset_params.py`` to list the offenders.
"""

from __future__ import annotations

import ast
import os
import sys
from collections import defaultdict

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = "crypto_etl_pipeline_spark"

#: deployment settings (`get_spark`) and the outside-world REST
#: interface keep their knobs whether or not a caller in this repo
#: turns them
_ALLOW_FUNCS = {"get_spark"}
_ALLOW_MODULES = {f"{_PKG}/sources/rest.py"}


def _py_files(root: str):
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(
            x for x in dirs
            if not x.startswith(".") and x not in ("__pycache__", "spark-warehouse")
        )
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _defaulted(fn: ast.FunctionDef) -> list[tuple[str, int | None, ast.expr]]:
    """(name, positional index or None for keyword-only, default node)."""
    a = fn.args
    pos = a.posonlyargs + a.args
    out = []
    first = len(pos) - len(a.defaults)
    for i, (arg, d) in enumerate(zip(pos[first:], a.defaults), start=first):
        out.append((arg.arg, i, d))
    for arg, d in zip(a.kwonlyargs, a.kw_defaults):
        if d is not None:
            out.append((arg.arg, None, d))
    return out


def _same_literal(value: ast.expr, default: ast.expr) -> bool:
    try:
        v, d = ast.literal_eval(value), ast.literal_eval(default)
    except ValueError:
        return False
    return v == d and type(v) is type(d)


def unset_defaults(root: str = _REPO) -> list[str]:
    """Every `module.py::func(param)` whose default no call overrides."""
    defs = defaultdict(list)  # called name -> [(relpath, FunctionDef)]
    for path in _py_files(os.path.join(root, _PKG)):
        rel = os.path.relpath(path, root)
        if rel in _ALLOW_MODULES:
            continue
        body = _parse(path).body
        local = {}
        for node in body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if node.name not in _ALLOW_FUNCS and _defaulted(node):
                    local[node.name] = node
                    defs[node.name].append((rel, node))
        for node in body:  # module-level aliases: ``alias = func``
            if isinstance(node, ast.Assign) and isinstance(node.value, ast.Name):
                if node.value.id in local:
                    for t in node.targets:
                        if isinstance(t, ast.Name):
                            defs[t.id].append((rel, local[node.value.id]))

    set_params = defaultdict(set)  # (relpath, name) -> {param}
    for path in _py_files(root):
        for call in ast.walk(_parse(path)):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = f.id if isinstance(f, ast.Name) else (
                f.attr if isinstance(f, ast.Attribute) else None
            )
            if name not in defs:
                continue
            n_pos = len(call.args)
            star = any(isinstance(a, ast.Starred) for a in call.args)
            kws = {k.arg: k.value for k in call.keywords}
            for rel, fn in defs[name]:
                hit = set_params[(rel, fn.name)]
                for p, idx, default in _defaulted(fn):
                    if None in kws:  # **kw sets everything
                        hit.add(p)
                    elif p in kws:
                        if not _same_literal(kws[p], default):
                            hit.add(p)
                    elif idx is not None and (star or idx < n_pos):
                        if star or not _same_literal(call.args[idx], default):
                            hit.add(p)

    out = set()
    for entries in defs.values():
        for rel, fn in entries:
            for p, _, _ in _defaulted(fn):
                if p not in set_params[(rel, fn.name)]:
                    out.add(f"{rel}::{fn.name}({p})")
    return sorted(out)


def count_defaults(root: str = _REPO) -> int:
    """All defaulted parameters of top-level package functions."""
    return sum(
        len(_defaulted(node))
        for path in _py_files(os.path.join(root, _PKG))
        for node in _parse(path).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    )


def test_every_defaulted_parameter_is_set_by_some_call():
    unset = unset_defaults()
    assert not unset, (
        f"{len(unset)} defaulted parameter(s) that no call in the repo "
        "sets; make each a constant in the function body:\n  "
        + "\n  ".join(unset)
    )


def test_scan_sees_keyword_positional_and_splat_calls(tmp_path):
    pkg = tmp_path / _PKG
    pkg.mkdir()
    (pkg / "m.py").write_text(
        "def f(a, b=1, c=2, *, d=3, e=4):\n    pass\n"
        "def g(x=0):\n    pass\n"
        "def h(y=0):\n    pass\n"
        "h_alias = h\n"
    )
    (tmp_path / "use.py").write_text(
        "from m import f, g\n"
        "f(0, 5)\n"         # b positionally
        "f(0, d=3)\n"       # d only at its default: not set
        "m.f(0, e=9)\n"     # attribute call, e by keyword
        "g(**{'x': 1})\n"   # **kw sets every parameter
        "h_alias(y=2)\n"    # a call through a module-level alias
    )
    assert unset_defaults(str(tmp_path)) == [
        f"{_PKG}/m.py::f(c)",
        f"{_PKG}/m.py::f(d)",
    ]


if __name__ == "__main__":
    root = sys.argv[1] if len(sys.argv) > 1 else _REPO
    rows = unset_defaults(root)
    print("\n".join(rows))
    print(f"{len(rows)} unset of {count_defaults(root)} defaulted parameters", file=sys.stderr)
