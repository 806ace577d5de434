"""Every library module is reached from a real entry point.

Walks `import` / `from ... import` statements with `ast` (no code is
executed) from the paths a user or the driver actually takes: the package
root, the operator package that registers every query, the ad-hoc SQL
entry point, the driver contract, the bench, the repo benchmark, the
scripts, and the Python examples in README.md. A module that none of them
reaches is dead weight: only its own tests would keep it alive."""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "cc_mapreducer_spark"

ROOT_MODULES = [
    PKG,
    f"{PKG}.operators",  # importing it registers every query
    f"{PKG}.sql",  # the ad-hoc SQL entry point; no query imports it
]


def _module_file(name: str) -> Path | None:
    base = REPO.joinpath(*name.split("."))
    for path in (base / "__init__.py", base.with_suffix(".py")):
        if path.is_file():
            return path
    return None


def _with_parents(name: str) -> list[str]:
    parts = name.split(".")
    return [".".join(parts[: i + 1]) for i in range(len(parts))]


def _imported_names(tree: ast.AST) -> set[str]:
    """Package modules named by the imports in `tree`, with their parent
    packages (importing `a.b.c` runs `a/__init__` and `a/b/__init__`)."""
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            targets = [alias.name for alias in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            # `from pkg import mod` may name a submodule, not an attribute
            targets = [node.module] + [f"{node.module}.{a.name}" for a in node.names]
        else:
            continue
        for target in targets:
            if target.split(".")[0] == PKG:
                names.update(n for n in _with_parents(target) if _module_file(n))
    return names


def _reached() -> set[Path]:
    readme = (REPO / "README.md").read_text()
    readme_imports = set().union(*(
        _imported_names(ast.parse(block))
        for block in re.findall(r"```python\n(.*?)```", readme, re.S)
    ))
    assert readme_imports, "README.md has no ```python example importing the package"
    todo = set(ROOT_MODULES) | readme_imports
    for path in [
        REPO / "__spark_entry__.py",
        REPO / "bench.py",
        *sorted((REPO / "perfbench").glob("*.py")),
        *sorted((REPO / "scripts").glob("*.py")),
    ]:
        todo |= _imported_names(ast.parse(path.read_text()))
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo |= _imported_names(ast.parse(_module_file(name).read_text()))
    return {_module_file(n).resolve() for n in seen}


def test_every_package_module_is_reached():
    reached = _reached()
    unreached = sorted(
        str(p.relative_to(REPO))
        for p in (REPO / PKG).rglob("*.py")
        if p.resolve() not in reached
    )
    assert not unreached, f"modules no entry point imports: {unreached}"
