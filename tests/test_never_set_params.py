"""Every parameter of the package is needed: each defaulted parameter
is set by some call site (tests included), and each parameter is read
by its function. A default nobody overrides is a constant wearing a
parameter's clothes, and a parameter nobody reads is a knob wired to
nothing; the sweeps that removed them should stay done.

The guard covers every module of ``json_ld_spark/`` outside ``core/``
(whose options mirror JSON-LD 1.1's ``JsonLdOptions``) plus
``__spark_entry__.py``."""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _guarded() -> "list[str]":
    out = ["__spark_entry__.py"]
    pkg = os.path.join(REPO, "json_ld_spark")
    for root, dirs, files in os.walk(pkg):
        dirs[:] = sorted(d for d in dirs if d not in ("core", "__pycache__"))
        out += [
            os.path.relpath(os.path.join(root, f), REPO)
            for f in sorted(files)
            if f.endswith(".py")
        ]
    return out


GUARDED = _guarded()

# defaulted parameters no call site sets, kept on purpose
NEVER_SET_EXEMPT = {
    # a deployment path: where the warehouse lives is the caller's
    "json_ld_spark/plans/session.py:build_session.warehouse",
    # the entry-point idiom: main() reads sys.argv, tests pass a list
    "json_ld_spark/cli.py:main.argv",
    # the bucketed-input writer's shape is open (ROADMAP item 10)
    "json_ld_spark/plans/bucketing.py:write_bucketed.sort_col",
    "json_ld_spark/plans/bucketing.py:write_bucketed.mode",
}


def _defaulted(fn: ast.FunctionDef) -> "tuple[list[str], list[str]]":
    a = fn.args
    pos = [x.arg for x in a.posonlyargs + a.args]
    dflt = pos[len(pos) - len(a.defaults):] if a.defaults else []
    dflt += [
        x.arg for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    ]
    return pos, dflt


def _sources():
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if not d.startswith(".")]
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(root, f), encoding="utf-8") as fh:
                    yield ast.parse(fh.read())


def _guarded_functions():
    """(module, top-level FunctionDef) for every module in GUARDED."""
    for rel in GUARDED:
        with open(os.path.join(REPO, rel), encoding="utf-8") as fh:
            for node in ast.parse(fh.read()).body:
                if isinstance(node, ast.FunctionDef):
                    yield rel, node


def _unset_defaults() -> "list[str]":
    """``module:function.param`` for each defaulted parameter of a
    top-level function in GUARDED that no call (matched by function
    name) passes, positionally or by keyword; a ``*args``/``**kw``
    call counts as passing all of them."""
    defs = {}
    for rel, node in _guarded_functions():
        defs.setdefault(node.name, []).append((rel, *_defaulted(node)))
    passed: "dict[str, set[str]]" = {}
    for tree in _sources():
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = (
                f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            )
            for _, pos, dflt in defs.get(name, ()):
                got = passed.setdefault(name, set())
                if any(isinstance(a, ast.Starred) for a in call.args) or any(
                    k.arg is None for k in call.keywords
                ):
                    got.update(dflt)
                got.update(pos[: len(call.args)])
                got.update(k.arg for k in call.keywords if k.arg)
    return [
        f"{rel}:{name}.{p}"
        for name, entries in sorted(defs.items())
        for rel, _, dflt in entries
        for p in dflt
        if p not in passed.get(name, set())
    ]


def never_set_parameters() -> "list[str]":
    """The unset defaults of GUARDED, exemptions left out."""
    return [x for x in _unset_defaults() if x not in NEVER_SET_EXEMPT]


def never_read_parameters() -> "list[str]":
    """``module:function.param`` for each parameter of a top-level
    function in GUARDED that its body (nested functions included)
    never reads. The ``(spark, sf_dir)`` signature of the ``q_*``
    query registry is exempt: a query that needs neither still takes
    both."""
    out = []
    for rel, fn in _guarded_functions():
        a = fn.args
        params = [
            x.arg
            for x in a.posonlyargs + a.args + a.kwonlyargs
            + [v for v in (a.vararg, a.kwarg) if v is not None]
        ]
        if fn.name.startswith("q_") and params == ["spark", "sf_dir"]:
            continue
        read = {
            n.id
            for stmt in fn.body
            for n in ast.walk(stmt)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
        }
        out += [f"{rel}:{fn.name}.{p}" for p in params if p not in read]
    return out


def test_no_never_set_parameters():
    assert never_set_parameters() == []


def test_never_set_exemptions_are_still_needed():
    """An exemption whose parameter is gone, or is now set by a
    caller, is stale."""
    assert NEVER_SET_EXEMPT <= set(_unset_defaults())


def test_no_never_read_parameters():
    assert never_read_parameters() == []
