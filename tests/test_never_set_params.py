"""Every defaulted parameter of the text-family and event modules is
set by some call site (tests included): one nobody sets is a constant
wearing a parameter's clothes, and the sweep that removed them should
stay done."""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GUARDED = [
    "json_ld_spark/operators/corpus.py",
    "json_ld_spark/operators/textstats.py",
    "json_ld_spark/operators/decontaminate.py",
    "json_ld_spark/operators/events.py",
    "json_ld_spark/functions/words.py",
]


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


def never_set_parameters() -> "list[str]":
    """``module:function.param`` for each defaulted parameter of a
    top-level function in GUARDED that no call (matched by function
    name) passes, positionally or by keyword; a ``*args``/``**kw``
    call counts as passing all of them."""
    defs = {}
    for rel in GUARDED:
        path = os.path.join(REPO, rel)
        if not os.path.exists(path):
            continue
        with open(path, encoding="utf-8") as fh:
            for node in ast.parse(fh.read()).body:
                if isinstance(node, ast.FunctionDef):
                    defs.setdefault(node.name, []).append(
                        (rel, *_defaulted(node))
                    )
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


def test_no_never_set_parameters():
    assert never_set_parameters() == []
