"""Gate discovery, code fingerprints and the driver's verification window.

A gate is one ``registry.register``-ed query.  Its fingerprint hashes its
oracle SQL with the source of every in-package function and module-level
binding it reaches (function-local imports included).  The green ledger,
``GREEN_LEDGER.json`` at the repo root (outside the package, so recording a
round leaves the engine tree alone), holds each gate's fingerprint and round
at its newest driver-green row.
"""

from __future__ import annotations

import ast
import hashlib
import importlib
import importlib.util
import json
import pkgutil
import sys
import types
from collections.abc import Mapping
from functools import cache
from pathlib import Path

PACKAGE = __name__.rpartition(".")[0]
PKG_DIR = Path(__file__).resolve().parent
LEDGER = PKG_DIR.parent / "GREEN_LEDGER.json"
_MISSING = object()


def discover() -> list[str]:
    """Import every ``registry*`` module in sorted order (each fills
    ``registry.QUERIES``/``ORACLES`` as it imports); return their names."""
    names = sorted(m.name for m in pkgutil.iter_modules([str(PKG_DIR)])
                   if m.name.startswith("registry"))
    for name in names:
        importlib.import_module(f"{PACKAGE}.{name}")
    return names


@cache
def _in_package(path: str | None) -> bool:
    return bool(path) and Path(path).resolve().is_relative_to(PKG_DIR)


@cache
def _parse(path: str) -> tuple[list[str], dict[int, ast.AST], dict[str, str]]:
    """Lines of a package file, its defs keyed by first line (decorators
    included, as ``co_firstlineno`` counts them) and the source of each
    module-level assignment or class keyed by the name it binds."""
    text = Path(path).read_text(encoding="utf-8")
    lines = text.splitlines(keepends=True)
    tree = ast.parse(text)
    defs, todo = {}, list(tree.body)
    for stmt in todo:  # statements only: defs never hide inside expressions
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
            defs[min([stmt.lineno] + [d.lineno for d in stmt.decorator_list])] = stmt
        for field in ("body", "orelse", "finalbody", "handlers"):
            todo.extend(getattr(stmt, field, ()))
    bindings = {}
    for stmt in tree.body:
        text = "".join(lines[stmt.lineno - 1:stmt.end_lineno])
        if isinstance(stmt, ast.ClassDef):
            bindings[stmt.name] = text
        elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
            bindings.update((n.id, text) for n in ast.walk(stmt)
                            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store))
    return lines, defs, bindings


def _names(node: ast.AST) -> tuple[dict[str, tuple[str, str]], list[list[str]]]:
    """Function-local ``from`` imports (alias -> (module, name)) and every
    dotted name chain (``a`` or ``a.b.c``) that ``node`` mentions."""
    imports, chains, todo = {}, [], [node]
    for n in todo:
        if isinstance(n, ast.ImportFrom):
            for a in n.names:
                imports[a.asname or a.name] = ("." * n.level + (n.module or ""), a.name)
            continue
        chain = []
        while isinstance(n, ast.Attribute):
            chain.append(n.attr)
            n = n.value
        if isinstance(n, ast.Name):
            chains.append([n.id, *reversed(chain)])
            continue
        for field in n._fields:
            v = getattr(n, field, None)
            if isinstance(v, list):
                todo.extend(x for x in v if isinstance(x, ast.AST))
            elif isinstance(v, ast.AST):
                todo.append(v)
    return imports, chains


def _module(module: str, attr: str, package: str):
    """Module a function-local import reads from; None outside the package."""
    name = importlib.util.resolve_name(module, package) if module.startswith(".") else module
    if not (name == PACKAGE or name.startswith(PACKAGE + ".")):
        return None
    try:
        mod = importlib.import_module(name)
        if not hasattr(mod, attr):
            importlib.import_module(f"{name}.{attr}")  # a submodule
    except ImportError:
        return None  # the gate fails on its own when run; ordering must not
    return mod


@cache
def _info(fn: types.FunctionType) -> tuple[dict[str, str], tuple]:
    """Source entries of ``fn`` (its own text plus the module-level
    bindings it reads) and the functions it refers to."""
    code, glb = fn.__code__, fn.__globals__
    wrapped = getattr(fn, "__wrapped__", None)
    follow = (wrapped,) if isinstance(wrapped, types.FunctionType) else ()
    if not _in_package(code.co_filename):
        return {}, follow
    lines, defs, _ = _parse(code.co_filename)
    node = defs.get(code.co_firstlineno)
    if node is None:  # a lambda
        return {}, follow
    entries = {f"{fn.__module__}.{fn.__qualname__}":
               "".join(lines[code.co_firstlineno - 1:node.end_lineno])}
    imports, chains = _names(node)
    for root, *rest in chains:
        owner, name = glb["__name__"], root
        if root in imports:
            value = _module(*imports[root], glb["__package__"])
            rest = [imports[root][1], *rest]
        else:
            value = glb.get(root, _MISSING)
        for attr in rest:
            if not isinstance(value, types.ModuleType):
                break
            owner, name, value = value.__name__, attr, getattr(value, attr, _MISSING)
        if isinstance(value, types.FunctionType):
            follow += (value,)
        elif value is not _MISSING and not isinstance(value, types.ModuleType):
            path = getattr(sys.modules.get(owner), "__file__", None)
            text = _parse(path)[2].get(name) if _in_package(path) else None
            if text is not None:
                entries[f"{owner}.{name}"] = text
    return entries, follow


def reach(fn) -> dict[str, str]:
    """Source text of everything in-package that ``fn`` reaches, by key."""
    out, seen, todo = {}, set(), [fn]
    for f in todo:
        if f not in seen:
            seen.add(f)
            entries, follow = _info(f)
            out.update(entries)
            todo.extend(follow)
    return out


def sources(queries: Mapping) -> dict[str, dict[str, str]]:
    """:func:`reach` of every gate; the parse caches are dropped afterwards."""
    try:
        return {name: reach(fn) for name, fn in queries.items()}
    finally:
        _parse.cache_clear()
        _info.cache_clear()


def fingerprint(oracle: str | None, src: Mapping[str, str]) -> str:
    h = hashlib.sha256((oracle or "").encode())
    for key in sorted(src):
        h.update(f"\0{key}\0{src[key]}".encode())
    return h.hexdigest()[:16]


def fingerprints(queries: Mapping, oracles: Mapping[str, str]) -> dict[str, str]:
    return {name: fingerprint(oracles.get(name), src) for name, src in sources(queries).items()}


def load_ledger() -> dict[str, dict]:
    return json.loads(LEDGER.read_text()) if LEDGER.exists() else {}


def is_current(row: dict | None, fp: str) -> bool:
    return row is not None and row["fingerprint"] == fp


def order(queries: Mapping, oracles: Mapping[str, str], fps: Mapping[str, str],
          ledger: Mapping[str, dict]) -> list[str]:
    """Verification order: gates changed since their green row (or never
    green) first, then green gates oldest round first, then rows-only
    gates; ties go by name, so import order cannot move a gate."""
    def rank(name):
        if name not in oracles:
            return 2, 0, name
        row = ledger.get(name)
        return (1, row["round"], name) if is_current(row, fps[name]) else (0, 0, name)

    return sorted(queries, key=rank)


def changed() -> list[str]:
    """Oracle gates changed since their green row (or never green), in
    window order: the gates a change must re-verify."""
    from . import registry

    discover()
    q, o = registry.QUERIES, registry.ORACLES
    fps, ledger = fingerprints(q, o), load_ledger()
    return [n for n in order(q, o, fps, ledger) if n in o and not is_current(ledger.get(n), fps[n])]
