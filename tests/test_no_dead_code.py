"""Dead-code guard: every top-level function and class in the package must
be referenced somewhere in the checkout.

A reference is an ``ast.Name``, an ``ast.Attribute`` or an imported name
anywhere in the package, the tests, the scripts, the benchmark or the
driver entry points — outside the definition's own body, so recursion does
not keep a helper alive. Names are matched, not resolved: a same-named
symbol elsewhere counts, which errs toward keeping code. Pure stdlib
``ast``; no Spark session.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "gnosis_ocr_spark"
SEARCH = [PACKAGE, ROOT / "tests", ROOT / "scripts", ROOT / "perfbench",
          ROOT / "bench.py", ROOT / "__spark_entry__.py"]

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _py_files(path: Path) -> list[Path]:
    if path.is_file():
        return [path]
    return sorted(path.rglob("*.py")) if path.is_dir() else []


def _referenced_names(node: ast.AST):
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            yield sub.id
        elif isinstance(sub, ast.Attribute):
            yield sub.attr
        elif isinstance(sub, (ast.Import, ast.ImportFrom)):
            for alias in sub.names:
                yield alias.name.rsplit(".", 1)[-1]


def unreferenced_definitions() -> list[str]:
    """``module:name`` for each top-level package def nobody references."""
    defs: list[tuple[Path, str]] = []
    # name -> the (file, enclosing top-level def) sites that reference it
    refs: dict[str, set[tuple[Path, str | None]]] = {}
    for path in {p for root in SEARCH for p in _py_files(root)}:
        tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
        for top in tree.body:
            owner = top.name if isinstance(top, _DEFS) else None
            if owner and PACKAGE in path.parents:
                defs.append((path, owner))
            for name in _referenced_names(top):
                refs.setdefault(name, set()).add((path, owner))
    return sorted(
        f"{path.relative_to(ROOT).with_suffix('').as_posix().replace('/', '.')}:{name}"
        for path, name in defs
        if not refs.get(name, set()) - {(path, name)}
    )


def test_every_package_definition_is_referenced():
    dead = unreferenced_definitions()
    assert dead == [], "unreferenced top-level definitions:\n" + "\n".join(dead)


def unused_imports() -> list[str]:
    """``module:line name`` for each import in a package module whose bound
    name the module never uses. ``__future__`` imports, ``__init__.py``
    re-exports and statements marked ``# noqa: F401`` (deliberate import
    probes) are exempt."""
    found: list[str] = []
    for path in _py_files(PACKAGE):
        if path.name == "__init__.py":
            continue
        src = path.read_text(encoding="utf-8")
        lines = src.splitlines()
        tree = ast.parse(src, filename=str(path))
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        module = path.relative_to(ROOT).with_suffix("").as_posix().replace("/", ".")
        for node in ast.walk(tree):
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if any("# noqa: F401" in line
                   for line in lines[node.lineno - 1:node.end_lineno]):
                continue
            for alias in node.names:
                bound = alias.asname or alias.name.split(".")[0]
                if bound != "*" and bound not in used:
                    found.append(f"{module}:{alias.lineno} {bound}")
    return sorted(found)


def test_every_package_import_is_used():
    unused = unused_imports()
    assert unused == [], "unused imports:\n" + "\n".join(unused)
