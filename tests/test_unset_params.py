"""Ratchets on the parameters of top-level package functions.

A parameter that no caller varies is a configuration nobody runs: it
belongs in the function body as a constant. Three pure-AST scans, exact
and Spark-free, each pinned at zero:

- an unset default: no call anywhere in the repository overrides it;
- a one-valued fork: a defaulted parameter that the function's body
  tests in an ``if``, a conditional expression, a ``while`` or a
  comprehension filter, while every ENGINE call (a ``.py`` file outside
  ``tests/``) passes it the same value — so the other branch runs only
  under tests;
- a one-literal required parameter: every call, tests included, passes
  it the same literal.

Scope and matching:

- definitions: module-level ``def`` in ``crypto_etl_pipeline_spark/``
  (methods and nested functions are out of scope); registered query
  builders (decorated functions) are called through the registry and
  are skipped by the required-parameter scan;
- calls: every ``.py`` file in the repository (package, tests,
  scripts, perfbench, ``bench.py``, ``__spark_entry__.py``), matched to
  definitions by name, by a module-level alias (``pack_ffd =
  pack_bfd``) or by an import alias (``from m import f as g``), so a
  call to any function of the same name counts;
- the value a call passes: an omitted argument is the default, a
  literal is itself, and anything else — a non-literal expression,
  ``*args`` for positional parameters, ``**kw`` for all — is varied.

Run ``python tests/test_unset_params.py`` to list the offenders of
every scan, plus the one-valued defaults that select no branch
(thresholds, counts, column names), which are reported but not pinned.
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

#: one-valued forks that stay, each with its reason
_ALLOW_FORKS = {
    f"{_PKG}/plans/api.py::run_api_pipeline(fetch)":
        "tests substitute a fake for the REST call",
    f"{_PKG}/plans/api.py::run_api_pipeline(out_dir)":
        "deployment path",
    f"{_PKG}/streaming/incremental.py::run_available_now(progress_out)":
        "lets a test observe streaming progress",
    f"{_PKG}/plans/historical.py::clean_historical(order)":
        "'P' is the paper's production-DAG order, pinned by test_golden_parity",
}

#: the value of a call argument that is not a literal
_VARIED = "<varied>"


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


def _params(fn: ast.FunctionDef) -> list[tuple[str, int | None, ast.expr | None]]:
    """(name, positional index or None for keyword-only, default node or
    None when required) for every named parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [
        (arg.arg, i, a.defaults[i - first] if i >= first else None)
        for i, arg in enumerate(pos)
    ]
    out += [(arg.arg, None, d) for arg, d in zip(a.kwonlyargs, a.kw_defaults)]
    return out


def _defaulted(fn: ast.FunctionDef) -> list[tuple[str, int | None, ast.expr]]:
    return [p for p in _params(fn) if p[2] is not None]


def _literal(node: ast.expr) -> str:
    """A comparable key for a literal argument, ``_VARIED`` otherwise."""
    try:
        v = ast.literal_eval(node)
    except ValueError:
        return _VARIED
    return f"{type(v).__name__}:{v!r}"


def _default(node: ast.expr) -> str:
    """The value an omitted argument passes: its literal default, or one
    value of its own when the default is an expression."""
    v = _literal(node)
    return "<default>" if v == _VARIED else v


def _branch_names(fn: ast.FunctionDef) -> set[str]:
    """Names read by a branch test anywhere in ``fn`` (closures too)."""
    out = set()
    for node in ast.walk(fn):
        if isinstance(node, (ast.If, ast.IfExp, ast.While)):
            tests = [node.test]
        elif isinstance(node, ast.comprehension):
            tests = node.ifs
        else:
            continue
        for t in tests:
            out.update(x.id for x in ast.walk(t) if isinstance(x, ast.Name))
    return out


class _Scan:
    """Every package definition in scope and the values each call passes."""

    def __init__(self, root: str):
        self.fns = {}  # (relpath, name) -> FunctionDef
        by_name = defaultdict(list)  # called name -> [(relpath, name)]
        for path in _py_files(os.path.join(root, _PKG)):
            rel = os.path.relpath(path, root)
            if rel in _ALLOW_MODULES:
                continue
            body = _parse(path).body
            for node in body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    if node.name not in _ALLOW_FUNCS:
                        self.fns[(rel, node.name)] = node
                        by_name[node.name].append((rel, node.name))
            for node in body:  # module-level aliases: ``alias = func``
                if isinstance(node, ast.Assign) and isinstance(node.value, ast.Name):
                    if (rel, node.value.id) in self.fns:
                        for t in node.targets:
                            if isinstance(t, ast.Name):
                                by_name[t.id].append((rel, node.value.id))

        # (relpath, name, param) -> {"engine": {value}, "all": {value}}
        self.values = defaultdict(lambda: {"engine": set(), "all": set()})
        for path in _py_files(root):
            tree = _parse(path)
            engine = not os.path.relpath(path, root).startswith("tests" + os.sep)
            alias = {
                a.asname: a.name
                for node in ast.walk(tree)
                if isinstance(node, ast.ImportFrom)
                for a in node.names
                if a.asname and a.name in by_name
            }
            for call in ast.walk(tree):
                if not isinstance(call, ast.Call):
                    continue
                f = call.func
                name = f.id if isinstance(f, ast.Name) else (
                    f.attr if isinstance(f, ast.Attribute) else None
                )
                for key in by_name.get(alias.get(name, name), ()):
                    self._record(key, call, engine)

    def _record(self, key, call: ast.Call, engine: bool) -> None:
        star = any(isinstance(a, ast.Starred) for a in call.args)
        kws = {k.arg: k.value for k in call.keywords}
        for p, idx, default in _params(self.fns[key]):
            if None in kws:  # **kw may set everything
                v = _VARIED
            elif p in kws:
                v = _literal(kws[p])
            elif idx is not None and star:
                v = _VARIED
            elif idx is not None and idx < len(call.args):
                v = _literal(call.args[idx])
            elif default is not None:
                v = _default(default)
            else:
                continue  # a required parameter the call leaves out
            seen = self.values[key + (p,)]
            seen["all"].add(v)
            if engine:
                seen["engine"].add(v)

    def rows(self):
        """(label, FunctionDef, param, default node, values) per parameter."""
        for (rel, name), fn in sorted(self.fns.items()):
            for p, _, default in _params(fn):
                yield f"{rel}::{name}({p})", fn, p, default, self.values[(rel, name, p)]


def _one_valued(values: set[str]) -> bool:
    return len(values) <= 1 and _VARIED not in values


def unset_defaults(root: str = _REPO) -> list[str]:
    """Every `module.py::func(param)` whose default no call overrides."""
    return [
        label
        for label, _, _, default, seen in _Scan(root).rows()
        if default is not None and seen["all"] <= {_default(default)}
    ]


def one_valued_defaults(root: str = _REPO) -> tuple[list[str], list[str]]:
    """(forks, plain): defaulted parameters every engine call passes the
    same value, split by whether the body branches on them."""
    forks, plain = [], []
    for label, fn, p, default, seen in _Scan(root).rows():
        if default is not None and _one_valued(seen["engine"]):
            (forks if p in _branch_names(fn) else plain).append(label)
    return forks, plain


def one_valued_forks(root: str = _REPO) -> list[str]:
    """One-valued forks outside the allowlist."""
    return [f for f in one_valued_defaults(root)[0] if f not in _ALLOW_FORKS]


def one_literal_required(root: str = _REPO) -> list[str]:
    """Required parameters that every call passes the same literal."""
    return [
        label
        for label, fn, _, default, seen in _Scan(root).rows()
        if default is None
        and not fn.decorator_list
        and len(seen["all"]) == 1
        and _VARIED not in seen["all"]
    ]


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


def test_every_fork_has_an_engine_caller_for_each_branch():
    forks = one_valued_forks()
    assert not forks, (
        f"{len(forks)} branch-selecting parameter(s) that every engine "
        "call passes the same value; make each a constant and delete the "
        "branches only tests reach:\n  " + "\n  ".join(forks)
    )


def test_no_required_parameter_is_always_the_same_literal():
    same = one_literal_required()
    assert not same, (
        f"{len(same)} required parameter(s) that every call passes the "
        "same literal; make each a constant in the function body:\n  "
        + "\n  ".join(same)
    )


def test_scan_sees_keyword_positional_and_splat_calls(tmp_path):
    pkg = tmp_path / _PKG
    pkg.mkdir()
    (pkg / "m.py").write_text(
        "def f(a, b=1, c=2, *, d=3, e=4):\n    pass\n"
        "def g(x=0):\n    pass\n"
        "def h(y=0):\n    pass\n"
        "h_alias = h\n"
        # forks: k (only tests vary it), s (engine passes one non-default
        # literal), t (engine varies it); u is one-valued but no branch
        # tests it; r is required and always the same literal
        "def k(r, k=False, s=0, t=0, u=0):\n"
        "    if k or s > 1:\n        pass\n"
        "    return [x for x in r if x != t] + [u]\n"
    )
    (tmp_path / "use.py").write_text(
        "from m import f, g\n"
        "from m import k as kk\n"
        "f(0, 5)\n"         # b positionally
        "f(1, d=3)\n"       # d only at its default: not set
        "m.f(0, e=9)\n"     # attribute call, e by keyword
        "g(**{'x': 1})\n"   # **kw sets every parameter
        "h_alias(y=2)\n"    # a call through a module-level alias
        "kk('ab', s=7, t=1, u=2)\n"  # a call through an import alias
        "kk('ab', s=7, t=n, u=2)\n"
    )
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_m.py").write_text(
        "from m import k\n"
        "k('ab', k=True, s=3, u=5)\n"  # tests vary k, s, u: not engine calls
    )
    assert unset_defaults(str(tmp_path)) == [
        f"{_PKG}/m.py::f(c)",
        f"{_PKG}/m.py::f(d)",
    ]
    forks, plain = one_valued_defaults(str(tmp_path))
    assert forks == [f"{_PKG}/m.py::k(k)", f"{_PKG}/m.py::k(s)"]
    assert f"{_PKG}/m.py::k(u)" in plain
    assert f"{_PKG}/m.py::k(t)" not in forks + plain
    assert one_literal_required(str(tmp_path)) == [f"{_PKG}/m.py::k(r)"]


if __name__ == "__main__":
    root = sys.argv[1] if len(sys.argv) > 1 else _REPO
    forks, plain = one_valued_defaults(root)
    for title, rows in (
        ("unset defaults", unset_defaults(root)),
        ("one-valued forks outside the allowlist", one_valued_forks(root)),
        ("allowlisted one-valued forks", [f for f in forks if f in _ALLOW_FORKS]),
        ("one-literal required parameters", one_literal_required(root)),
        ("one-valued defaults that select no branch (not pinned)", plain),
    ):
        print(f"{title}: {len(rows)}")
        for r in rows:
            print(f"  {r}")
    print(f"{count_defaults(root)} defaulted parameters in all", file=sys.stderr)
