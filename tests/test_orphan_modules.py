"""Every package module has a caller outside the tests: a module that only
tests import (or nothing does) is dead code the suite keeps alive."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "snowplow_s3_loader_spark"
# entry points and the store fakes Spark workers import by name
EXEMPT = {f"{PACKAGE}.app", f"{PACKAGE}.testing"}


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported(path: Path) -> set[str]:
    """Dotted names `path` imports: modules, and `from m import x` as both m
    and m.x (x may be a submodule). Relative imports are resolved."""
    package = _module_name(path).split(".")
    if path.name != "__init__.py":
        package = package[:-1]
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package[: len(package) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def test_every_package_module_is_imported_outside_tests():
    callers = [
        *(ROOT / PACKAGE).rglob("*.py"),
        *(ROOT / "scripts").rglob("*.py"),
        *(ROOT / "examples").rglob("*.py"),
        *(ROOT / "perfbench").rglob("*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]
    imported_by: dict[str, set[str]] = {}
    for path in callers:
        caller = _module_name(path) if path.is_relative_to(ROOT / PACKAGE) else str(path)
        for name in _imported(path):
            imported_by.setdefault(name, set()).add(caller)

    orphans = []
    for path in sorted((ROOT / PACKAGE).rglob("*.py")):
        name = _module_name(path)
        if path.name == "__init__.py" or any(
            name == e or name.startswith(e + ".") for e in EXEMPT
        ):
            continue
        if not imported_by.get(name, set()) - {name}:
            orphans.append(name)
    assert orphans == [], f"imported by no non-test file: {orphans}"
