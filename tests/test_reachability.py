"""Every package definition is reached from a production root, and every
option of a public function is set by a production caller and takes two
values there, or is on an allow-list with its reason.

A name scan over the ``ast`` of the package (no Spark). Roots: the
``@query`` functions, ``@atexit.register`` callbacks and module-level code
of every package module, plus ``__main__.py``, ``__spark_entry__.py``,
``bench.py``, the non-test ``perfbench/*.py`` and ``tools/*.py``. Tests are
not roots. From the roots the scan follows every name a reached
definition mentions, so it over-reaches on shared names: it can miss dead
code but never reports code that a root calls by name.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "traderjoe_etl_spark"

# Unreached on purpose, keyed by module (every definition in it) or by
# module::name.
ALLOWED = {
    f"{PKG}/operators/observability.py": "ROADMAP item 5: observe() gates on the append",
    f"{PKG}/sources/rpc.py::default_web3_caller": "ROADMAP item 1: the production RPC client",
    f"{PKG}/plans/audit.py::plan_facts": "plan helper of tests/test_plan_shapes.py",
    f"{PKG}/plans/audit.py::PlanFacts": "plan helper of tests/test_plan_shapes.py",
}


# Defaulted parameters that production calls leave unset or set to one
# value, kept on purpose, keyed module::function(param) or by module
# (every option in it).
OPTIONS_ALLOWED = {
    f"{PKG}/operators/observability.py": "ROADMAP item 5 decides its options",
    f"{PKG}/plans/traderjoe.py::build_snapshot(strict_repr)":
        "ROADMAP item 9 removes it with the benchmark, which passes it by name",
    f"{PKG}/operators/windows.py::moving_agg(fn)": "perfbench/history.py passes it by position",
    f"{PKG}/session.py::get_spark(master)": "deployment setting: the cluster master",
    f"{PKG}/sources/rest.py::rest_snapshot_source(params)":
        "deployment setting: API key header and time window (main.py:30-34)",
    f"{PKG}/__main__.py::main(argv)": "seam: tests drive the CLI with an argv list",
    f"{PKG}/operators/prefix.py::global_running_agg(checkpoint)":
        "seam: tests/test_plan_shapes.py lints the checkpoint-free plan",
    f"{PKG}/operators/prefix.py::global_running_agg(n_parts)":
        "seam: tests/test_plan_shapes.py lints the checkpoint-free plan",
}


def _names(node: ast.AST) -> set[str]:
    return {
        n.id if isinstance(n, ast.Name)
        else n.attr if isinstance(n, ast.Attribute)
        else n.name.rsplit(".", 1)[-1]
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute, ast.alias))
    }


def _is_root_decorator(d: ast.expr) -> bool:
    target = d.func if isinstance(d, ast.Call) else d
    return ast.unparse(target) in ("query", "atexit.register")


def _parse(rel: str) -> ast.Module:
    with open(os.path.join(REPO, rel)) as f:
        return ast.parse(f.read())


def _package() -> list[str]:
    return sorted(
        os.path.relpath(p, REPO)
        for p in glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True)
    )


def _roots() -> list[str]:
    return [f"{PKG}/__main__.py", "__spark_entry__.py", "bench.py"] + sorted(
        os.path.relpath(p, REPO)
        for p in glob.glob(os.path.join(REPO, "perfbench", "*.py"))
        + glob.glob(os.path.join(REPO, "tools", "*.py"))
        if not os.path.basename(p).startswith("test_")
    )


def unreached() -> set[str]:
    """``module::name`` of every package definition no root reaches."""
    pkg, roots = _package(), _roots()
    defs: dict[tuple[str, str], set[str]] = {}
    seeds: set[str] = set()
    for p in pkg:
        for node in _parse(p).body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                defs[(p, node.name)] = _names(node)
                if any(_is_root_decorator(d) for d in node.decorator_list):
                    seeds |= {node.name} | _names(node)
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                seeds |= _names(node)
    for p in roots:
        seeds |= _names(_parse(p))
    reached: set[str] = set()
    todo = set(seeds)
    while todo:
        n = todo.pop()
        reached.add(n)
        for (_, d), refs in defs.items():
            if d == n:
                todo |= refs - reached
    return {
        f"{p}::{d}" for p, d in defs if d not in reached and not d.startswith("__")
    }


def test_every_definition_is_reached_or_allowed():
    found = unreached()
    allowed = {
        key for key in found
        if key in ALLOWED or key.split("::", 1)[0] in ALLOWED
    }
    assert found - allowed == set(), "unreached from every production root"
    stale = {k for k in ALLOWED if not any(f == k or f.startswith(k + "::") for f in found)}
    assert stale == set(), "allow-listed but reached (or gone): drop the entry"


def _defaulted() -> dict[tuple[str, str], tuple[str, int | None, ast.expr]]:
    """(function, param) -> (module, position or None, default) of every
    defaulted parameter of a public top-level package function."""
    options = {}
    for p in _package():
        for fn in _parse(p).body:
            if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                continue
            a = fn.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            for i, (x, d) in enumerate(zip(pos[first:], a.defaults)):
                options[(fn.name, x.arg)] = (p, first + i, d)
            for x, d in zip(a.kwonlyargs, a.kw_defaults):
                if d is not None:
                    options[(fn.name, x.arg)] = (p, None, d)
    return options


def _calls():
    """(called name, call) of every call in the package and the roots."""
    for p in _package() + _roots():
        for call in ast.walk(_parse(p)):
            if isinstance(call, ast.Call):
                f = call.func
                yield (f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None), call


def unset_options() -> set[str]:
    """``module::function(param)`` of every defaulted parameter of a public
    top-level package function that no call in the package or the roots
    sets, by keyword or by position. Calls match by name, like
    :func:`unreached`, so a shared name over-counts as set."""
    options = _defaulted()
    set_: set[tuple[str, str]] = set()
    for name, call in _calls():
        n_pos = len(call.args)
        for (fn, param), (_, i, _) in options.items():
            if fn != name:
                continue
            if any(k.arg in (param, None) for k in call.keywords) or (
                i is not None and (i < n_pos or any(isinstance(x, ast.Starred) for x in call.args))
            ):
                set_.add((fn, param))
    return {f"{options[k][0]}::{k[0]}({k[1]})" for k in options if k not in set_}


def _value(node: ast.expr):
    """A literal's (type, repr); a fresh object, equal to nothing, for any
    other expression."""
    try:
        v = ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return object()
    return (type(v).__name__, repr(v))


def single_valued_options() -> set[str]:
    """``module::function(param)`` of every defaulted parameter of a public
    top-level package function that takes one value at every call in the
    package and the roots: each call passes the same literal or leaves the
    default. A non-literal argument, ``*args`` or ``**kwargs`` counts as a
    second value. Calls match by name, like :func:`unset_options`."""
    options = _defaulted()
    values: dict[tuple[str, str], set] = {k: set() for k in options}
    for name, call in _calls():
        for (fn, param), (_, i, default) in options.items():
            if fn != name:
                continue
            kw = [k for k in call.keywords if k.arg in (param, None)]
            if kw:
                v = _value(kw[0].value) if kw[0].arg else object()
            elif i is not None and any(isinstance(x, ast.Starred) for x in call.args[: i + 1]):
                v = object()
            elif i is not None and i < len(call.args):
                v = _value(call.args[i])
            else:
                v = _value(default)
                if not isinstance(v, tuple):
                    v = ("default", ast.unparse(default))
            values[(fn, param)].add(v)
    return {
        f"{options[k][0]}::{k[0]}({k[1]})"
        for k, v in values.items()
        if len(v) <= 1 and all(isinstance(x, tuple) for x in v)
    }


def _allowed(found: set[str]) -> set[str]:
    return {k for k in found if k in OPTIONS_ALLOWED or k.split("::", 1)[0] in OPTIONS_ALLOWED}


def _stale_options() -> set[str]:
    found = single_valued_options()  # every unset option takes one value
    return {k for k in OPTIONS_ALLOWED if not any(f == k or f.startswith(k + "::") for f in found)}


def test_every_option_is_set_by_a_caller():
    found = unset_options()
    unset = sorted(found - _allowed(found))
    assert not unset, "options no production caller sets (make them constants):\n" + "\n".join(unset)
    assert _stale_options() == set(), "allow-listed but set to two values (or gone): drop the entry"


def test_every_option_takes_two_values():
    found = single_valued_options()
    single = sorted(found - _allowed(found))
    assert not single, "options every production call sets to one value (make them constants):\n" + "\n".join(single)
    assert _stale_options() == set(), "allow-listed but set to two values (or gone): drop the entry"
