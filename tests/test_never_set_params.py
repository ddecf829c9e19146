"""Every parameter and every definition of the package is needed.

- Each defaulted parameter is set by some call site (tests included),
  and each parameter is read by its function. A default nobody
  overrides is a constant wearing a parameter's clothes, and a
  parameter nobody reads is a knob wired to nothing.
- Each top-level function, class and module constant is reached from
  a real entry point: a query, an oracle, the pipeline, the CLI,
  ``bench.py``, perfbench or a script. Code that only tests run is a
  second implementation nobody ships.
- No module of ``json_ld_spark/`` imports a name it does not use, so
  an import alone never keeps a definition alive.

The first two guards cover every module of ``json_ld_spark/`` outside
``core/`` (whose options and functions mirror JSON-LD 1.1's
``JsonLdOptions`` and API, exercised by the conformance harness) plus
``__spark_entry__.py``; the import guard covers ``core/`` too."""

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


# top-level definitions no entry point reaches, kept on purpose, each
# with its reason
UNREACHED_EXEMPT = {
    "json_ld_spark/plans/bucketing.py:write_bucketed":
        "zero-shuffle emission from bucketed input decides its shape"
        " (ROADMAP item 10)",
    "json_ld_spark/plans/bucketing.py:bucketed_join":
        "zero-shuffle emission from bucketed input decides its shape"
        " (ROADMAP item 10)",
}

# the entry points of GUARDED modules: every query, the oracles, the
# pipeline and the CLI
ENTRY_FUNCTIONS = {"queries", "oracle_sql", "main", "run_pipeline"}


def _parse(rel: str) -> ast.Module:
    with open(os.path.join(REPO, rel), encoding="utf-8") as fh:
        return ast.parse(fh.read())


def _names(node: ast.AST) -> "set[str]":
    """Every name ``node`` refers to: bare names, attribute names
    (``mod.fn`` reaches ``fn``) and the names a function-local
    ``from ... import`` brings in (``import x as y`` reaches ``x``)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
    return out


def _constant_names(stmt: ast.stmt) -> "list[str]":
    """The names a top-level ``X = ...`` / ``X: T = ...`` binds; none
    for any other statement (``a[k] = v`` and ``a.b = v`` bind none)."""
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    else:
        return []
    if not all(isinstance(t, ast.Name) for t in targets):
        return []
    return [t.id for t in targets]


def _root_files() -> "list[str]":
    """Files every statement of which is a root: ``bench.py``,
    perfbench (not its tests), the scripts and the JSON-LD core."""
    out = ["bench.py"]
    for d in ("perfbench", "scripts"):
        out += [
            f"{d}/{f}" for f in sorted(os.listdir(os.path.join(REPO, d)))
            if f.endswith(".py")
        ]
    core = os.path.join(REPO, "json_ld_spark", "core")
    out += [
        f"json_ld_spark/core/{f}" for f in sorted(os.listdir(core))
        if f.endswith(".py")
    ]
    return out


def _unreached() -> "list[tuple[str, ast.AST]]":
    """``(module:name, node)`` for each top-level function, class and
    module constant of GUARDED that no root reaches. Reach is by name:
    starting from the roots, a reached definition's body reaches every
    name it mentions, until nothing new is reached. Module-level
    imports are not roots, so an import never keeps a name alive;
    dunders (``__version__``) are the interpreter's, not ours."""
    defs: "dict[str, list[tuple[str, ast.AST]]]" = {}
    todo: "set[str]" = set(ENTRY_FUNCTIONS)
    for rel in GUARDED:
        for stmt in _parse(rel).body:
            if isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs.setdefault(stmt.name, []).append((rel, stmt))
                if stmt.name.startswith("q_"):
                    todo.add(stmt.name)
            elif _constant_names(stmt):
                for name in _constant_names(stmt):
                    defs.setdefault(name, []).append((rel, stmt))
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                todo |= _names(stmt)
    for rel in _root_files():
        todo |= _names(_parse(rel))
    reached: "set[str]" = set()
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, node in defs.get(name, ()):
            todo |= _names(node) - reached
    return sorted((
        (f"{rel}:{name}", node)
        for name, entries in defs.items()
        if name not in reached
        and not (name.startswith("__") and name.endswith("__"))
        for rel, node in entries
    ), key=lambda e: e[0])


def unreached_definitions() -> "list[str]":
    """The unreached top-level functions and classes."""
    return [x for x, node in _unreached() if not _constant_names(node)]


def unreached_constants() -> "list[str]":
    """The unreached module constants."""
    return [x for x, node in _unreached() if _constant_names(node)]


def _annotations(tree: ast.Module):
    """Every annotation in ``tree``: of parameters, returns and
    annotated assignments."""
    for n in ast.walk(tree):
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
            a = n.args
            yield from (
                x.annotation
                for x in a.posonlyargs + a.args + a.kwonlyargs
                + [v for v in (a.vararg, a.kwarg) if v is not None]
                if x.annotation is not None
            )
            if n.returns is not None:
                yield n.returns
        elif isinstance(n, ast.AnnAssign):
            yield n.annotation


def unused_imports() -> "list[str]":
    """``module:name`` for each name a module of ``json_ld_spark/``
    (``core/`` included) imports and never uses, ``__future__``
    features aside. Uses inside string annotations
    (``"list[Tuple[int, str]]"``) count; the package ``__init__`` files
    re-export on purpose and are skipped."""
    out = []
    pkg = os.path.join(REPO, "json_ld_spark")
    for root, dirs, files in os.walk(pkg):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for f in sorted(files):
            if not f.endswith(".py") or f == "__init__.py":
                continue
            rel = os.path.relpath(os.path.join(root, f), REPO)
            tree = _parse(rel)
            used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
            for ann in _annotations(tree):
                used |= {
                    n.id
                    for s in ast.walk(ann)
                    if isinstance(s, ast.Constant) and isinstance(s.value, str)
                    for n in ast.walk(ast.parse(s.value, mode="eval"))
                    if isinstance(n, ast.Name)
                }
            for n in ast.walk(tree):
                if isinstance(n, ast.ImportFrom) and n.module == "__future__":
                    continue
                if isinstance(n, (ast.Import, ast.ImportFrom)):
                    for a in n.names:
                        bound = a.asname or a.name.split(".")[0]
                        if bound not in used:
                            out.append(f"{rel}:{bound}")
    return out


def test_every_definition_is_reached():
    assert [
        x for x in unreached_definitions() if x not in UNREACHED_EXEMPT
    ] == []


def test_every_module_constant_is_reached():
    assert unreached_constants() == []


def test_unreached_exemptions_are_still_needed():
    """An exemption whose definition is gone, or that an entry point
    now reaches, is stale."""
    assert set(UNREACHED_EXEMPT) <= set(unreached_definitions())


def test_no_unused_imports():
    assert unused_imports() == []
