"""Every ``pytimetk_spark`` import in the shipped code and the tests
resolves, including the lazy ones inside function bodies, which otherwise
fail only when the function is first called (or never, in a skipped
test)."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SOURCES = [
    *(p for d in ("pytimetk_spark", "jobs", "tools", "rollbench", "tests")
      for p in sorted((REPO / d).rglob("*.py"))),
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
]


def _package_imports(path):
    """(module, name) per imported pytimetk_spark target; name is None
    for a plain ``import``."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            yield from ((a.name, None) for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            yield from ((node.module, a.name) for a in node.names)


def test_package_imports_resolve():
    broken = []
    for path in SOURCES:
        for module, name in _package_imports(path):
            if module.split(".")[0] != "pytimetk_spark":
                continue
            where = f"{path.relative_to(REPO)}: {module}"
            try:
                mod = importlib.import_module(module)
            except ImportError as e:
                broken.append(f"{where} ({e})")
                continue
            if name is None or hasattr(mod, name):
                continue
            try:  # ``from pkg import submodule``
                importlib.import_module(f"{module}.{name}")
            except ImportError:
                broken.append(f"{where} has no {name!r}")
    assert not broken, "\n".join(broken)
