"""Module-reachability guard: every package module must be imported,
directly or transitively, from one of the run paths — the batch pipeline
(`plans.pipeline`), the query catalog (`entry_queries`), the streaming
twins (`streaming.jobs`) or the driver contract (`__spark_entry__.py`).

A module that only its own tests import is code no run path reaches; this
test names it. The walk is static (stdlib `ast`, no Spark): it follows
every import statement, including function-local ones, and counts a
package `__init__` as reached whenever one of its submodules is."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "sts_opentelemetry_collector_spark"
ROOTS = (
    f"{PKG}.plans.pipeline",
    f"{PKG}.entry_queries",
    f"{PKG}.streaming.jobs",
)


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in (REPO / PKG).rglob("*.py"):
        parts = path.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imports(path: Path, module: str, mods: dict) -> set[str]:
    """Package modules named by the import statements of one file."""
    # the package a relative import is resolved against
    here = module.split(".")
    if path.name != "__init__.py":
        here = here[:-1]
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = here[: len(here) - node.level + 1] if node.level else []
            base = ".".join(base + (node.module.split(".") if node.module else []))
            found.add(base)
            # `from pkg import submodule` names a module, not an attribute
            found.update(f"{base}.{a.name}" for a in node.names)
    return {m for m in found if m in mods}


def _reachable() -> tuple[set[str], dict[str, Path]]:
    mods = _package_modules()
    seen: set[str] = set()
    todo = [("__spark_entry__", REPO / "__spark_entry__.py")]

    def push(dep: str) -> None:
        # importing a.b.c runs a/__init__ and a/b/__init__ first
        parts = dep.split(".")
        for i in range(1, len(parts) + 1):
            m = ".".join(parts[:i])
            if m in mods and m not in seen:
                todo.append((m, mods[m]))

    for root in ROOTS:
        push(root)
    while todo:
        name, path = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for dep in _imports(path, name, mods):
            push(dep)
    return seen, mods


def test_every_package_module_is_reachable_from_a_run_path():
    seen, mods = _reachable()
    unreached = sorted(set(mods) - seen)
    assert not unreached, (
        "package modules no run path imports (only tests reach them): "
        + ", ".join(m.removeprefix(PKG + ".") for m in unreached)
    )

