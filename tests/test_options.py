"""Every option needs a caller.

A Spark-free AST check over the operator layer (``operators``,
``functions``, ``sources``, ``streaming``, ``plans``) and the private
helpers of the ``queries_*`` modules. It audits the module-level
functions and class methods that carry no decorator, whose name is
defined once in the package and that are never used as a value (a
callback, a patched attribute). Such a function is reached only by
calls by name, so its calls in the package, ``perfbench/`` and
``__spark_entry__.py`` are all of its callers. Tests are not callers:
a value only a test needs is a module constant the test monkeypatches,
and a function only tests call is dead code.

A defaulted parameter counts as set when some call passes it by
keyword, or passes a positional argument at its index (a
``*args``/``**kwargs`` call sets them all). Passing the default is not
setting it: an argument that is a literal of the same type and value as
the parameter's literal default (both read with ``ast.literal_eval``)
does not count, so ``True`` still sets a default of ``1`` and ``2``
still sets a default of ``2.0``. Any other expression does count. The
check fails on a defaulted parameter that no call sets, and on an
audited function that nothing references.

The same file keeps the import count at 0: an imported name that
nothing in its scope (the module, or the function holding a local
import) loads, reads in an f-string, lists in ``__all__`` or names in
a string annotation is an unused import. An import line marked
``# noqa: F401`` (a deliberate re-export) is exempt. This covers the
package, ``perfbench/``, ``tests/`` and ``__spark_entry__.py``.

Run ``python tests/test_options.py`` to print the findings.
"""

from __future__ import annotations

import ast
import functools
import re
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "big_data_hw_23_24_spark"
AUDITED_DIRS = ("operators", "functions", "sources", "streaming", "plans")


def _caller_files() -> list[Path]:
    files = sorted(PKG.rglob("*.py"))
    files += sorted((ROOT / "perfbench").glob("*.py"))
    files.append(ROOT / "__spark_entry__.py")
    return files


def _import_checked_files() -> list[Path]:
    return _caller_files() + sorted((ROOT / "tests").glob("*.py"))


def _audited(rel: Path, name: str) -> bool:
    if rel.parts[0] in AUDITED_DIRS:
        return True
    return (len(rel.parts) == 1 and rel.name.startswith("queries_")
            and name.startswith("_"))


def _definitions(trees: dict[Path, ast.Module]):
    """(file, function, is_method) for each module-level function and
    class method in the package, plus the count of every def name."""
    defs, counts = [], defaultdict(int)
    for path, tree in trees.items():
        if PKG not in path.parents:
            continue
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                counts[node.name] += 1
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs.append((path, node, False))
            elif isinstance(node, ast.ClassDef) and not node.decorator_list:
                defs += [(path, f, True) for f in node.body
                         if isinstance(f, (ast.FunctionDef,
                                           ast.AsyncFunctionDef))]
    return defs, counts


def _uses(trees: dict[Path, ast.Module]):
    """Calls by function name, names used other than as a callee, and
    names imported or listed in ``__all__``."""
    calls, values, exported = defaultdict(list), set(), set()
    for tree in trees.values():
        callees = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                callees.add(id(node.func))
                f = node.func
                name = (f.id if isinstance(f, ast.Name)
                        else f.attr if isinstance(f, ast.Attribute)
                        else None)
                if name is not None:
                    calls[name].append(node)
        for node in ast.walk(tree):
            if id(node) in callees:
                continue
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                values.add(node.id)
            elif (isinstance(node, ast.Attribute)
                  and isinstance(node.ctx, ast.Load)):
                values.add(node.attr)
            elif isinstance(node, ast.ImportFrom):
                exported.update(a.name for a in node.names)
            elif (isinstance(node, ast.Assign)
                  and any(getattr(t, "id", None) == "__all__"
                          for t in node.targets)):
                exported.update(ast.literal_eval(node.value))
    return calls, values, exported


def _defaulted(fn: ast.FunctionDef, is_method: bool):
    """(positional index or None, name, default) of each defaulted
    parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    skip = 1 if is_method else 0
    first = len(pos) - len(a.defaults)
    out = [(i - skip, p.arg, a.defaults[i - first])
           for i, p in enumerate(pos) if i >= first]
    out += [(None, p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None]
    return out


def _literal(node: ast.expr):
    """(True, value) for a literal expression, else (False, None)."""
    try:
        return True, ast.literal_eval(node)
    except (ValueError, TypeError):
        return False, None


def _is_default(arg: ast.expr, default: ast.expr) -> bool:
    ok_a, a = _literal(arg)
    ok_d, d = _literal(default)
    return ok_a and ok_d and type(a) is type(d) and a == d


def _set_by(call: ast.Call, index: int | None, name: str,
            default: ast.expr) -> bool:
    for k in call.keywords:
        if k.arg is None:
            return True
        if k.arg == name:
            return not _is_default(k.value, default)
    if index is None:
        return False
    if any(isinstance(x, ast.Starred) for x in call.args):
        return True
    return (len(call.args) > index
            and not _is_default(call.args[index], default))


_NOQA_F401 = re.compile(r"#\s*noqa(?!:)|#\s*noqa:[^#]*\bF401\b")
_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)


def _loaded_names(scope: ast.AST) -> set[str]:
    """Names read anywhere under ``scope``: loads (f-string fields are
    ordinary expressions in the tree), ``__all__`` entries and the
    names inside string annotations."""
    names = set()
    for node in ast.walk(scope):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            names.add(node.id)
        elif (isinstance(node, ast.Assign)
              and any(getattr(t, "id", None) == "__all__"
                      for t in node.targets)):
            names.update(ast.literal_eval(node.value))
        note = (node.annotation if isinstance(node, (ast.arg, ast.AnnAssign))
                else node.returns
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                else None)
        if isinstance(note, ast.Constant) and isinstance(note.value, str):
            names |= _loaded_names(ast.parse(note.value, mode="eval"))
    return names


def unused_imports(source: str) -> list[tuple[int, str]]:
    """(line, name) of each imported name its scope never reads."""
    tree = ast.parse(source)
    lines = source.splitlines()
    parent = {child: node for node in ast.walk(tree)
              for child in ast.iter_child_nodes(node)}
    loaded: dict[ast.AST, set[str]] = {}
    out = []
    for node in ast.walk(tree):
        if (not isinstance(node, (ast.Import, ast.ImportFrom))
                or getattr(node, "module", None) == "__future__"
                or any(_NOQA_F401.search(line) for line
                       in lines[node.lineno - 1:node.end_lineno])):
            continue
        scope = parent[node]
        while scope is not tree and not isinstance(scope, _SCOPES):
            scope = parent[scope]
        if scope not in loaded:
            loaded[scope] = _loaded_names(scope)
        out += [(node.lineno, bound) for bound in
                (a.asname or a.name.split(".")[0] for a in node.names)
                if bound not in loaded[scope]]
    return out


@functools.cache
def import_audit() -> list[str]:
    """Unused imports as ``file:line name``."""
    return [f"{path.relative_to(ROOT).as_posix()}:{line} {name}"
            for path in _import_checked_files()
            for line, name in unused_imports(path.read_text())]


@functools.cache
def audit() -> tuple[list[str], list[str]]:
    """(never-set parameters as ``file::function.param``, functions
    with no reference as ``file::function``)."""
    trees = {p: ast.parse(p.read_text(), str(p)) for p in _caller_files()}
    defs, counts = _definitions(trees)
    calls, values, exported = _uses(trees)
    unset, dead = [], []
    for path, fn, is_method in defs:
        rel = path.relative_to(PKG)
        if (fn.decorator_list or counts[fn.name] != 1
                or fn.name in values or not _audited(rel, fn.name)):
            continue
        where = f"{rel.as_posix()}::{fn.name}"
        if not calls[fn.name]:
            if fn.name not in exported and not fn.name.startswith("__"):
                dead.append(where)
            continue
        unset += [f"{where}.{name}"
                  for index, name, default in _defaulted(fn, is_method)
                  if not any(_set_by(c, index, name, default)
                             for c in calls[fn.name])]
    return unset, dead


def test_every_defaulted_parameter_has_a_caller_that_sets_it():
    unset, _ = audit()
    assert not unset, (
        f"{len(unset)} defaulted parameters that no call sets; make each "
        "the constant it always is:\n" + "\n".join(unset))


def test_every_audited_function_has_a_reference():
    _, dead = audit()
    assert not dead, "functions nothing references:\n" + "\n".join(dead)


def test_no_unused_imports():
    unused = import_audit()
    assert not unused, "unused imports:\n" + "\n".join(unused)


def _calls_set(source: str) -> dict[str, bool]:
    """For each defaulted parameter of ``f`` in ``source``: does some
    call of ``f`` there set it?"""
    tree = ast.parse(source)
    fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef))
    calls = [n for n in ast.walk(tree) if isinstance(n, ast.Call)
             and getattr(n.func, "id", None) == fn.name]
    return {name: any(_set_by(c, index, name, default) for c in calls)
            for index, name, default in _defaulted(fn, False)}


def test_passing_the_default_is_not_setting_it():
    head = "def f(a, b=1, c=2.0, d='x', *, e=True, g=None): pass\n"
    assert _calls_set(head + "f(0, 1, 2.0, 'x', e=True, g=None)") == {
        "b": False, "c": False, "d": False, "e": False, "g": False}
    assert _calls_set(head + "f(0, 2, c=3.0, d='y', e=False, g=0)") == {
        "b": True, "c": True, "d": True, "e": True, "g": True}
    # a name or any other expression counts, even if it holds the default
    assert _calls_set(head + "B = 1\nf(0, B, c=1.0 * 2, d=str('x'))") == {
        "b": True, "c": True, "d": True, "e": False, "g": False}
    # the type counts too: True is not 1, 2 is not 2.0
    assert _calls_set(head + "f(0, True, 2, e=1)") == {
        "b": True, "c": True, "d": False, "e": True, "g": False}
    star = _calls_set(head + "f(*args)\nf(0, **kw)")
    assert star == {"b": True, "c": True, "d": True, "e": True, "g": True}


def test_unused_import_check_reads_fstrings_noqa_and_scopes():
    source = (
        "import os\n"
        "import re  # noqa: F401\n"
        "import sys\n"
        "from json import dumps, loads\n"
        "__all__ = ['loads']\n"
        "def f() -> 'sys.Path':\n"
        "    import math\n"
        "    import numpy as np\n"
        "    return f'{os.sep}{dumps(1)}{np.pi}'\n")
    assert unused_imports(source) == [(7, "math")]


if __name__ == "__main__":
    unset, dead = audit()
    print("\n".join(unset))
    print(f"{len(unset)} never-set parameters in "
          f"{len({u.rsplit('.', 1)[0] for u in unset})} functions across "
          f"{len({u.split('::')[0] for u in unset})} files")
    print("no reference:", *dead, sep="\n  ")
    print("unused imports:", *import_audit(), sep="\n  ")
