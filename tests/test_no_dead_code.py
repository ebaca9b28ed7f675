"""Every top-level function, class and assigned name of the engine is
used somewhere, and is reached from production code.

A use is a ``Name``, an attribute or a ``from … import`` alias in the
engine, ``tests/``, ``scripts/``, ``perfbench/`` or ``__spark_entry__.py``,
outside the definition itself. A re-export in an ``__init__.py``, a
string (``__all__``, docs) or a comment is not a use. Matching is by
name only, so a same-named use elsewhere keeps a definition alive: the
checks can miss dead code, but they never flag live code.

The second check counts only what production reaches: the roots are the
CLI (``__main__.py``), ``__spark_entry__.py``, ``scripts/*.py``,
``perfbench/*.py`` (not its ``test_*``) and the module-level code of the
engine's modules (the statements that define nothing, such as the
registry loop in ``operators/__init__.py``). A definition is reached when
a root, or a reached definition, uses its name; a use in ``tests/`` does
not count.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
ENGINE = ROOT / "poc_parquet_aggregator_spark"
SCOPE = [ENGINE, ROOT / "tests", ROOT / "scripts", ROOT / "perfbench", ROOT / "__spark_entry__.py"]
ROOTS = [
    ENGINE / "__main__.py",
    ROOT / "__spark_entry__.py",
    *sorted((ROOT / "scripts").glob("*.py")),
    *sorted(p for p in (ROOT / "perfbench").glob("*.py") if not p.name.startswith("test_")),
]


def _sources() -> list[Path]:
    files = []
    for p in SCOPE:
        files += [p] if p.is_file() else sorted(p.rglob("*.py")) if p.is_dir() else []
    return files


def _uses(tree: ast.AST, reexports_count: bool = True) -> Counter:
    uses = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            uses[node.id] += 1
        elif isinstance(node, ast.Attribute):
            uses[node.attr] += 1
        elif isinstance(node, ast.ImportFrom) and reexports_count:
            uses.update(a.name for a in node.names)
    return uses


def _defined(node: ast.stmt) -> list[str]:
    """The names a top-level statement defines: a function or class, or
    the plain and tuple targets of an assignment (dunders such as
    ``__all__`` excepted)."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    targets = node.targets if isinstance(node, ast.Assign) else []
    names = [e for t in targets for e in (t.elts if isinstance(t, ast.Tuple) else [t])]
    return [n.id for n in names if isinstance(n, ast.Name) and not n.id.startswith("__")]


def test_every_engine_definition_is_used():
    trees = {p: ast.parse(p.read_text(), str(p)) for p in _sources()}
    uses = Counter()
    for p, tree in trees.items():
        uses += _uses(tree, reexports_count=p.name != "__init__.py")
    unused = []
    for p, tree in trees.items():
        if ENGINE not in p.parents:
            continue
        for node in tree.body:
            for name in _defined(node):
                if uses[name] - _uses(node)[name] <= 0:
                    unused.append(f"{p.relative_to(ROOT)}:{node.lineno} {name}")
    assert not unused, "defined but never used:\n" + "\n".join(unused)


def test_every_engine_definition_is_reached_from_production():
    engine = {p: ast.parse(p.read_text(), str(p)) for p in sorted(ENGINE.rglob("*.py"))}
    defs: dict[str, list[ast.stmt]] = {}
    reached: set[str] = set()
    for tree in engine.values():
        for node in tree.body:
            names = _defined(node)
            for name in names:
                defs.setdefault(name, []).append(node)
            if not names:  # module-level code runs on import
                reached |= set(_uses(node, reexports_count=False))
    for p in ROOTS:
        reached |= set(_uses(ast.parse(p.read_text(), str(p))))
    todo = list(reached)
    while todo:
        for node in defs.get(todo.pop(), ()):
            new = set(_uses(node, reexports_count=False)) - reached
            reached |= new
            todo += new
    unreached = [
        f"{p.relative_to(ROOT)}:{node.lineno} {name}"
        for p, tree in engine.items()
        for node in tree.body
        for name in _defined(node)
        if name not in reached
    ]
    assert not unreached, "not reached from production code:\n" + "\n".join(unreached)
