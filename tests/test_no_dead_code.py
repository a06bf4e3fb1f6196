"""Dead-code guard: every top-level function, class and constant in the
package must be referenced somewhere — by the package itself, the query
registry in ``__spark_entry__.py``, the tests, the tools, the benchmark
(``perfbench/``, ``bench.py``). A reference is a loaded ``Name`` or an
``Attribute``. Assigning a name is not a use, importing or re-exporting
it is not a use, and neither is being listed in ``__all__`` (a string
is not a use).

A public function that only tests reference has no caller in the
program; it must be the reference implementation of a SURVEY §2 row, so
its name must appear in COVERAGE.md.

Two more guards keep a policy behind its owner module: the hardlink
carry of versioned stores behind ``sources/versioned.py`` (no other
package module calls ``os.link`` or names its internals), and the
freshness decision of stored artifacts behind ``sources/cache.py``.
Pure AST, no Spark."""

from __future__ import annotations

import ast
import re
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
    return names


def _guarded(node: ast.stmt) -> list[str]:
    """Names a top-level statement defines that must have a reader:
    functions, classes and assigned constants (dunders excepted)."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    return [t.id for t in targets if isinstance(t, ast.Name) and not t.id.endswith("__")]


def _scan() -> tuple[list[tuple[str, str, bool]], set[str], set[str]]:
    """The package's definitions as ``(module, name, is_public_function)``,
    the names the program references and the names the tests reference."""
    defs: list[tuple[str, str, bool]] = []
    used: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        module = ".".join(path.relative_to(ROOT).with_suffix("").parts)
        for node in tree.body:
            public_fn = isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef)
            ) and not node.name.startswith("_")
            defs.extend((module, name, public_fn) for name in _guarded(node))
        used |= _referenced(tree)
    # Outside the package only files that mention a still-unreferenced
    # name can change the verdict; parsing just those keeps this fast.
    program = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for sub in ("tools", "perfbench"):
        program.extend(sorted((ROOT / sub).rglob("*.py")))

    def fold(paths: list[Path], into: set[str]) -> None:
        for path in paths:
            known = used | into
            pending = {name for _, name, _ in defs if name not in known}
            text = path.read_text()
            if any(name in text for name in pending):
                into |= _referenced(ast.parse(text, filename=str(path)))

    fold(program, used)
    tested: set[str] = set()
    fold(sorted((ROOT / "tests").rglob("*.py")), tested)
    return defs, used, tested


def unreferenced_definitions() -> list[str]:
    defs, used, tested = _scan()
    return sorted(f"{m}.{n}" for m, n, _ in defs if n not in used | tested)


def uncovered_test_only_functions() -> list[str]:
    defs, used, tested = _scan()
    coverage = (ROOT / "COVERAGE.md").read_text()
    return sorted(
        f"{m}.{n}"
        for m, n, public_fn in defs
        if public_fn
        and n not in used
        and n in tested
        and not re.search(rf"\b{re.escape(n)}\b", coverage)
    )


def test_every_definition_is_referenced():
    assert unreferenced_definitions() == []


def test_every_test_only_function_is_named_in_coverage():
    assert uncovered_test_only_functions() == []


#: owner module -> the names only it may use. ``os.link`` and the
#: hardlink carry belong to `sources/versioned.py` (every other store
#: calls `versioned.carry_forward`); the freshness decision belongs to
#: `sources/cache.py` (every other artifact calls `cache.refresh_stored`).
_OWNED = {
    "sources/versioned.py": {"os.link", "link_or_copy", "_link_tree", "data_files"},
    "sources/cache.py": {"listing_fingerprint", "_fingerprints", "_is_fresh"},
}


def policy_leaks(owner: str) -> list[str]:
    """Package modules other than `owner` that name one of its owned
    names: a load, an attribute (``mod.name``) or an import."""
    owned = _OWNED[owner]
    leaks: list[str] = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == PACKAGE / owner:
            continue
        rel = path.relative_to(ROOT)
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, ast.Name):
                names = {node.id}
            elif isinstance(node, ast.Attribute):
                names = {node.attr, f"{getattr(node.value, 'id', '')}.{node.attr}"}
            elif isinstance(node, ast.ImportFrom):
                names = {f"{node.module}.{a.name}" for a in node.names}
            elif isinstance(node, ast.alias):
                names = {node.name.rsplit(".", 1)[-1]}
            else:
                continue
            leaks.extend(f"{rel}:{node.lineno} {n}" for n in sorted(names & owned))
    return leaks


def test_carry_policy_stays_in_versioned():
    assert policy_leaks("sources/versioned.py") == []


def test_freshness_policy_stays_in_cache():
    assert policy_leaks("sources/cache.py") == []
