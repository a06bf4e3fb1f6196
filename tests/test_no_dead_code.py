"""Dead-code guard: every public top-level function in the package must
be referenced somewhere — by the package itself, the query registry in
``__spark_entry__.py``, the tests or the tools. A reference is a
``Name``, an ``Attribute`` or an imported name; being listed in
``__all__`` is not one (a string is not a use). Pure AST, no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "lol_data_collection_system_spark"


def _referenced(tree: ast.AST) -> set[str]:
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update(a.name.rsplit(".", 1)[-1] for a in node.names)
    return names


def unreferenced_functions() -> list[str]:
    defs: list[tuple[str, str]] = []
    used: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        module = ".".join(path.relative_to(ROOT).with_suffix("").parts)
        defs.extend(
            (module, node.name)
            for node in tree.body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and not node.name.startswith("_")
        )
        used |= _referenced(tree)
    # Outside the package only files that mention a still-unreferenced
    # name can change the verdict; parsing just those keeps this fast.
    others = [ROOT / "__spark_entry__.py"]
    for sub in ("tests", "tools"):
        others.extend(sorted((ROOT / sub).rglob("*.py")))
    for path in others:
        pending = {name for _, name in defs if name not in used}
        text = path.read_text()
        if any(name in text for name in pending):
            used |= _referenced(ast.parse(text, filename=str(path)))
    return sorted(f"{m}.{name}" for m, name in defs if name not in used)


def test_every_public_function_is_referenced():
    assert unreferenced_functions() == []
