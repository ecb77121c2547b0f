"""No option without a caller: every parameter with a default, in a
function defined under ``clip_retrieval_spark/`` or ``jobs/``, must be
set to something other than its default by at least one call site in
the repository (the package, ``jobs/``, ``tests/``, ``BENCH/``,
``bench*.py`` and ``kgbench/``). An option that only ever takes one
value is a constant with a name; this test keeps it from growing back.

Pure AST, no Spark. The rules of the scan:

- a call matches every function of the callee's name (``f(...)`` and
  ``x.f(...)`` alike, after ``import ... as`` aliases); ``Cls(...)``
  and ``cls(...)`` match ``Cls.__init__``, and a method call skips
  ``self``;
- an argument equal to the default (same literal, same constant name)
  does not set the option;
- a call that passes ``**kwargs`` sets every option of the callee;
- a ``*args`` argument fills only parameters without a default;
- an argument that forwards a bare name which is an option of the
  enclosing function sets the callee's option only if that outer option
  is itself set somewhere (a fixpoint).
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
DEFINED_IN = ("clip_retrieval_spark", "jobs")
CALLED_FROM = ("clip_retrieval_spark", "jobs", "tests", "BENCH", "kgbench")


def _files(dirs):
    for d in dirs:
        yield from sorted((ROOT / d).rglob("*.py"))
    yield from sorted(ROOT.glob("bench*.py"))


def _name(e: ast.expr) -> str | None:
    """``f`` of ``f`` and of ``x.f``; None for any other expression."""
    return (e.id if isinstance(e, ast.Name)
            else e.attr if isinstance(e, ast.Attribute) else None)


def _same(arg: ast.expr, default: ast.expr) -> bool:
    """The argument spells the default: the same literal or the same
    constant name (``N_HASHES`` and ``lsh.N_HASHES`` alike)."""
    try:
        a, d = ast.literal_eval(arg), ast.literal_eval(default)
        return type(a) is type(d) and a == d
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        pass
    return _name(arg) is not None and _name(arg) == _name(default)


class _Def:
    """One function: its options (name -> default) and positional order."""

    def __init__(self, node, where: str, is_method: bool, scanned: bool):
        a = node.args
        positional = a.posonlyargs + a.args
        self.where, self.scanned = where, scanned
        self.skip_self = is_method and not any(
            isinstance(d, ast.Name) and d.id == "staticmethod"
            for d in node.decorator_list)
        self.positional = [p.arg for p in positional]
        self.options = dict(zip(
            [p.arg for p in positional[len(positional) - len(a.defaults):]],
            a.defaults))
        self.options.update({p.arg: d for p, d in
                             zip(a.kwonlyargs, a.kw_defaults) if d is not None})


def _scan():
    defs: dict[str, list[_Def]] = {}
    calls = []  # (callee name, Call node, enclosing _Def | None)
    for path in _files(CALLED_FROM):
        rel = path.relative_to(ROOT).as_posix()
        scanned = rel.startswith(tuple(d + "/" for d in DEFINED_IN))
        tree = ast.parse(path.read_text(), filename=rel)
        aliases = {a.asname: a.name for n in ast.walk(tree)
                   if isinstance(n, (ast.Import, ast.ImportFrom))
                   for a in n.names if a.asname}

        def visit(node, outer, cls, in_body):
            # cls: the innermost class; in_body: node is that class's body
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    fn = _Def(child, f"{rel}:{child.name}", in_body, scanned)
                    init = in_body and child.name == "__init__"
                    defs.setdefault(cls if init else child.name, []).append(fn)
                    visit(child, fn, cls, False)
                elif isinstance(child, ast.ClassDef):
                    visit(child, outer, child.name, True)
                elif isinstance(child, ast.Lambda):
                    visit(child, None, cls, False)
                else:
                    if isinstance(child, ast.Call):
                        name = _name(child.func)
                        if name == "cls" and cls:
                            name = cls
                        if name:
                            calls.append((aliases.get(name, name), child, outer))
                    visit(child, outer, cls, in_body)

        visit(tree, None, None, False)
    return defs, calls


def _settings(defs, calls):
    """(callee _Def, option) <- None (set outright) or the outer
    (_Def, option) whose liveness it forwards."""
    out = []
    for name, call, outer in calls:
        for fn in defs.get(name, ()):
            if any(k.arg is None for k in call.keywords):
                out += [((fn, o), None) for o in fn.options]
                continue
            pos = fn.positional[1:] if fn.skip_self and isinstance(
                call.func, ast.Attribute) else fn.positional
            given = []
            for p, arg in zip(pos, call.args):
                if isinstance(arg, ast.Starred):
                    break
                given.append((p, arg))
            given += [(k.arg, k.value) for k in call.keywords]
            for p, arg in given:
                if p not in fn.options or _same(arg, fn.options[p]):
                    continue
                fwd = (isinstance(arg, ast.Name) and outer is not None
                       and arg.id in outer.options)
                out.append(((fn, p), (outer, arg.id) if fwd else None))
    return out


def dead_options() -> list[str]:
    defs, calls = _scan()
    settings = _settings(defs, calls)
    live: set = set()
    while True:
        new = {(id(f), p) for (f, p), src in settings
               if src is None or (id(src[0]), src[1]) in live} - live
        if not new:
            break
        live |= new
    return sorted(f"{fn.where}.{o}"
                  for fns in defs.values() for fn in fns if fn.scanned
                  for o in fn.options if (id(fn), o) not in live)


def test_every_option_has_a_caller_that_sets_it():
    dead = dead_options()
    assert not dead, (
        f"{len(dead)} option(s) that no call site sets to anything but "
        "the default; inline the default instead:\n" + "\n".join(dead))
