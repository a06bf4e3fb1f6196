"""Dead-code guard: every top-level function and class in the package,
and every private constant, must be referenced somewhere — by the
package itself, the query registry in ``__spark_entry__.py``, the
tests, the tools, the benchmark (``perfbench/``, ``bench.py``). A
reference is a loaded ``Name``, an ``Attribute`` or an imported name;
assigning a name is not a use, and neither is being listed in
``__all__`` (a string is not a use). Pure AST, no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "lol_data_collection_system_spark"


def _referenced(tree: ast.AST) -> set[str]:
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update(a.name.rsplit(".", 1)[-1] for a in node.names)
    return names


def _guarded(node: ast.stmt) -> list[str]:
    """Names a top-level statement defines that must have a reader:
    functions and classes, and assigned constants when private. Public
    constants are exempt — the declared schemas in ``schemas.py``
    document the data model whether or not a query reads them."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    return [
        t.id
        for t in targets
        if isinstance(t, ast.Name)
        and t.id.startswith("_")
        and not t.id.endswith("__")
    ]


def unreferenced_definitions() -> list[str]:
    defs: list[tuple[str, str]] = []
    used: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        module = ".".join(path.relative_to(ROOT).with_suffix("").parts)
        defs.extend((module, name) for node in tree.body for name in _guarded(node))
        used |= _referenced(tree)
    # Outside the package only files that mention a still-unreferenced
    # name can change the verdict; parsing just those keeps this fast.
    others = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for sub in ("tests", "tools", "perfbench"):
        others.extend(sorted((ROOT / sub).rglob("*.py")))
    for path in others:
        pending = {name for _, name in defs if name not in used}
        text = path.read_text()
        if any(name in text for name in pending):
            used |= _referenced(ast.parse(text, filename=str(path)))
    return sorted(f"{m}.{name}" for m, name in defs if name not in used)


def test_every_definition_is_referenced():
    assert unreferenced_definitions() == []
