"""Every option needs a caller.

A Spark-free AST check over the operator layer (``operators``,
``functions``, ``sources``, ``streaming``, ``plans``) and the private
helpers of the ``queries_*`` modules. It audits the module-level
functions and class methods that carry no decorator, whose name is
defined once in the package and that are never used as a value (a
callback, a patched attribute). Such a function is reached only by
calls by name, so its calls in the package, ``perfbench/``, ``tests/``
and ``__spark_entry__.py`` are all of its callers.

A defaulted parameter counts as set when some call passes it by
keyword, or passes a positional argument at or past its index (a
``*args``/``**kwargs`` call sets them all). The check fails on a
defaulted parameter that no call sets, and on an audited function that
nothing references.

Run ``python tests/test_options.py`` to print the findings.
"""

from __future__ import annotations

import ast
import functools
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "big_data_hw_23_24_spark"
AUDITED_DIRS = ("operators", "functions", "sources", "streaming", "plans")


def _caller_files() -> list[Path]:
    files = sorted(PKG.rglob("*.py"))
    files += sorted((ROOT / "perfbench").glob("*.py"))
    files += sorted((ROOT / "tests").glob("*.py"))
    files.append(ROOT / "__spark_entry__.py")
    return files


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
    """(positional index or None, name) of each defaulted parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    skip = 1 if is_method else 0
    out = [(i - skip, p.arg) for i, p in enumerate(pos)
           if i >= len(pos) - len(a.defaults)]
    out += [(None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None]
    return out


def _set_by(call: ast.Call, index: int | None, name: str) -> bool:
    if any(k.arg is None or k.arg == name for k in call.keywords):
        return True
    if index is None:
        return False
    if any(isinstance(x, ast.Starred) for x in call.args):
        return True
    return len(call.args) > index


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
        unset += [f"{where}.{name}" for index, name in _defaulted(fn, is_method)
                  if not any(_set_by(c, index, name) for c in calls[fn.name])]
    return unset, dead


def test_every_defaulted_parameter_has_a_caller_that_sets_it():
    unset, _ = audit()
    assert not unset, (
        f"{len(unset)} defaulted parameters that no call sets; make each "
        "the constant it always is:\n" + "\n".join(unset))


def test_every_audited_function_has_a_reference():
    _, dead = audit()
    assert not dead, "functions nothing references:\n" + "\n".join(dead)


if __name__ == "__main__":
    unset, dead = audit()
    print("\n".join(unset))
    print(f"{len(unset)} never-set parameters in "
          f"{len({u.rsplit('.', 1)[0] for u in unset})} functions across "
          f"{len({u.split('::')[0] for u in unset})} files")
    print("no reference:", *dead, sep="\n  ")
