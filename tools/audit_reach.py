"""Reach audit: what in ``gondar_spark`` does product code actually use?

Product code is ``main.py``, ``__spark_entry__.py`` (the declared
queries), ``gondar_spark/pipeline.py`` and ``gondar_spark/streaming/
jobs.py``. Every top-level definition in those files, and the module-level
statements of every product file, are roots. From there the audit follows
names (``f(...)``, ``mod.f(...)``, ``f`` passed as a value) to top-level
functions and classes of the package, transitively. Tests, tools and the
benchmark harnesses are not product code.

It prints two lists:

* top-level ``gondar_spark`` functions no root reaches;
* defaulted parameters of reached top-level functions that no reached
  call sets. A call sets a parameter by keyword, by position, or through
  ``*args``/``**kwargs``. Forwarding a caller's own parameter of the same
  name (``f(x, mode=mode)``) counts only if that caller's
  parameter is itself set (or required). A ``*`` marks a
  path-selecting parameter: one a branch test (``if``, ``while``,
  conditional expression) of the function reads, or one the function
  forwards to a path-selecting parameter of another.

Methods of reached package classes (``Pipeline``, ``TableIO``,
``Scope``, ...) are audited the same way and listed as
``Class.method``; a call ``obj.method(...)`` binds positions after
``self``/``cls`` (none are skipped for a staticmethod), and ``Class(...)``
binds ``Class.__init__``.

Resolution is by name, so two package functions (or methods) that share
a name are reached together.

Usage: python tools/audit_reach.py [repo_root]
"""

from __future__ import annotations

import ast
import os
import sys

ENTRY_FILES = ("main.py", "__spark_entry__.py",
               "gondar_spark/pipeline.py", "gondar_spark/streaming/jobs.py")


def _py_files(root: str, pkg: str = "gondar_spark") -> list[str]:
    out = []
    for d, _, files in os.walk(os.path.join(root, pkg)):
        out += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return sorted(os.path.relpath(p, root) for p in out)


def _names(node: ast.AST) -> set[str]:
    """Every identifier a subtree refers to (bare names and attributes)."""
    got = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            got.add(n.id)
        elif isinstance(n, ast.Attribute):
            got.add(n.attr)
        elif isinstance(n, ast.alias):
            got.add(n.name.rsplit(".", 1)[-1])
    return got


def _defaults(fn: ast.FunctionDef) -> list[tuple[int | None, str]]:
    """(positional index or None for keyword-only, name) per defaulted
    parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(i, p.arg) for i, p in enumerate(pos) if i >= first]
    out += [(None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None]
    return out


def _branch_names(fn: ast.FunctionDef) -> set[str]:
    """Names read by the branch tests inside a function body."""
    got = set()
    for n in ast.walk(fn):
        if isinstance(n, (ast.If, ast.IfExp, ast.While)):
            got |= _names(n.test)
    return got


def audit(root: str) -> tuple[list[str], list[str], dict]:
    pkg_files = _py_files(root)
    trees = {}
    for rel in sorted(set(pkg_files) | set(ENTRY_FILES)):
        path = os.path.join(root, rel)
        if os.path.exists(path):
            with open(path) as fh:
                trees[rel] = ast.parse(fh.read(), rel)

    # top-level defs: name -> [(file, node)]
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: list[ast.AST] = []
    for rel, tree in trees.items():
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                defs.setdefault(node.name, []).append((rel, node))
                if rel in ENTRY_FILES:
                    roots.append(node)
            else:
                roots.append(node)

    reached: set[int] = set()
    stack = list(roots)
    while stack:
        node = stack.pop()
        if id(node) in reached:
            continue
        reached.add(id(node))
        for name in _names(node):
            stack += [d for _, d in defs.get(name, ())]

    funcs = [(rel, d) for name, ds in defs.items() for rel, d in ds
             if isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef))
             and rel.startswith("gondar_spark/")]
    unreached = sorted(f"{rel}:{d.name}" for rel, d in funcs
                       if id(d) not in reached)

    # calls inside reached code, with the top-level def enclosing each
    calls: list[tuple[ast.Call, ast.FunctionDef | None]] = []

    def collect(node, enclosing):
        for child in ast.iter_child_nodes(node):
            inner = child if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)) else enclosing
            if isinstance(child, ast.Call):
                calls.append((child, inner))
            collect(child, inner)

    for node in roots + [d for ds in defs.values() for _, d in ds
                         if id(d) in reached and d not in roots]:
        collect(node, node if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef)) else None)

    audited = {(rel, d.name): d for rel, d in funcs if id(d) in reached}
    # methods of reached package classes; ``shift`` = positions a bound
    # call does not pass (self/cls)
    shift: dict[tuple[str, str], int] = {}
    for name, ds in defs.items():
        for rel, cls in ds:
            if not (isinstance(cls, ast.ClassDef) and id(cls) in reached
                    and rel.startswith("gondar_spark/")):
                continue
            for m in cls.body:
                if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    key = (rel, f"{cls.name}.{m.name}")
                    audited[key] = m
                    shift[key] = 0 if "staticmethod" in {
                        getattr(d, "id", None) for d in m.decorator_list
                    } else 1
    key_of = {id(d): key for key, d in audited.items()}
    by_name: dict[str, list[tuple[str, str]]] = {}
    for key, d in audited.items():
        # ``Cls(...)`` binds ``Cls.__init__``
        name = (key[1].split(".")[0] if d.name == "__init__"
                and key in shift else d.name)
        by_name.setdefault(name, []).append(key)

    def params_of(fn) -> set[str]:
        a = fn.args
        return {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}

    def required(fn, pname) -> bool:
        return pname in params_of(fn) and pname not in {
            n for _, n in _defaults(fn)}

    def bound(call, key, pnames):
        """(param, value) pairs a call binds among ``pnames``; value is
        None when only a * or ** splat can bind it."""
        a = audited[key].args
        pos = [p.arg for p in a.posonlyargs + a.args][shift.get(key, 0):]
        splat = (any(isinstance(v, ast.Starred) for v in call.args)
                 or any(k.arg is None for k in call.keywords))
        kw = {k.arg: k.value for k in call.keywords if k.arg}
        for pname in pnames:
            if pname in kw:
                yield pname, kw[pname]
            elif pname in pos and pos.index(pname) < len(call.args):
                yield pname, call.args[pos.index(pname)]
            elif splat:
                yield pname, None

    def forwarded(value, enclosing):
        """The audited (file, func, param) a value forwards, if any."""
        if (isinstance(value, ast.Name) and id(enclosing) in key_of
                and value.id in params_of(enclosing)):
            return (*key_of[id(enclosing)], value.id)
        return None

    resolved = []
    for call, enclosing in calls:
        f = call.func
        name = f.id if isinstance(f, ast.Name) else (
            f.attr if isinstance(f, ast.Attribute) else None)
        resolved += [(call, enclosing, key) for key in by_name.get(name, ())]

    path = {(*key, p) for key, fn in audited.items()
            for p in params_of(fn) & _branch_names(fn)}
    is_set: set[tuple[str, str, str]] = set()
    changed = True
    while changed:
        changed = False
        for call, enclosing, key in resolved:
            fn = audited[key]
            for pname, value in bound(call, key, params_of(fn)):
                src = forwarded(value, enclosing)
                if src and (*key, pname) in path and src not in path:
                    path.add(src)
                    changed = True
            defaulted = [p for _, p in _defaults(fn)
                         if (*key, p) not in is_set]
            for pname, value in bound(call, key, defaulted):
                src = forwarded(value, enclosing)
                if src and not (src in is_set
                                or required(enclosing, value.id)):
                    continue
                is_set.add((*key, pname))
                changed = True

    options = [(rel, name, p) for (rel, name), fn in audited.items()
               for _, p in _defaults(fn)]
    unset = sorted(f"{rel}:{name}({p}=)" + (" *" if (rel, name, p) in path
                                            else "")
                   for rel, name, p in options if (rel, name, p) not in is_set)
    summary = {"functions": len(funcs), "methods": len(shift),
               "unreached": len(unreached),
               "defaulted_params": len(options),
               "path_params": sum(o in path for o in options),
               "unset_params": len(unset),
               "unset_path_params": sum(u.endswith("*") for u in unset)}
    return unreached, unset, summary


def main() -> None:
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    unreached, unset, summary = audit(root)
    print(f"# top-level functions no product code reaches ({len(unreached)})")
    print("\n".join(unreached))
    print(f"\n# defaulted parameters no product call sets ({len(unset)})")
    print("\n".join(unset))
    print("\n# summary:", " ".join(f"{k}={v}" for k, v in summary.items()))


if __name__ == "__main__":
    main()
