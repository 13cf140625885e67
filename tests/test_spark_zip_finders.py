"""``config.drop_spark_zip_finders``: what it drops (in-process, no Spark),
and a static guard that every Python UDF body the package hands Spark
calls it first, so a new Python stage cannot bring back the per-task
re-read of Spark's zips (see the helper's docstring)."""

from __future__ import annotations

import ast
import importlib
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from pytimetk_spark.config import drop_spark_zip_finders

REPO = Path(__file__).resolve().parent.parent
UDF_METHODS = {"mapInArrow", "mapInPandas", "applyInPandas", "applyInPandasWithState"}
HOOK = "drop_spark_zip_finders"


def _zip(path: Path, pkg: str, modules: list[str]) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{pkg}/__init__.py", "")
        for m in modules:
            z.writestr(f"{pkg}/{m}.py", f"NAME = {m!r}\n")
    return str(path)


def _finders_over(archive: str) -> list[str]:
    return [k for k, f in sys.path_importer_cache.items()
            if getattr(f, "archive", None) == archive]


@pytest.fixture
def zips(tmp_path, monkeypatch):
    """Spark's pyspark.zip and spark-core jar and a ``--py-files`` zip on
    sys.path, one package each; everything they add is undone after."""
    spark_zip = _zip(tmp_path / "spark/python/lib/pyspark.zip", "zf_spark", ["a", "b"])
    core_jar = _zip(tmp_path / "spark/jars/spark-core_2.13-9.9.jar", "zf_core", [])
    user_zip = _zip(tmp_path / "userFiles-1/deps.zip", "zf_user", ["a"])
    for p in (spark_zip, core_jar, user_zip):
        monkeypatch.syspath_prepend(p)
    yield spark_zip, core_jar, user_zip
    for name in [m for m in sys.modules if m.split(".")[0].startswith("zf_")]:
        del sys.modules[name]
    for p in (spark_zip, core_jar, user_zip):
        for k in _finders_over(p):
            del sys.path_importer_cache[k]
        zipimport._zip_directory_cache.pop(p, None)


def test_drops_only_spark_zip_finders(zips, monkeypatch):
    spark_zip, core_jar, user_zip = zips
    importlib.import_module("zf_spark.a")
    importlib.import_module("zf_core")
    importlib.import_module("zf_user.a")
    # the zip root and the package directory inside it each get a finder
    assert len(_finders_over(spark_zip)) == 2
    assert _finders_over(core_jar) and len(_finders_over(user_zip)) == 2

    drop_spark_zip_finders()
    assert _finders_over(spark_zip) == [] and _finders_over(core_jar) == []
    assert len(_finders_over(user_zip)) == 2

    read = []
    real = zipimport._read_directory

    def counting(archive):
        read.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    mine = [a for a in read if a in zips]
    # CPython 3.12+ re-reads a zip lazily, on its next lookup
    assert mine == ([user_zip] * 2 if sys.version_info < (3, 12) else [])

    # the dropped archive still imports, from its already-read directory
    read.clear()
    assert importlib.import_module("zf_spark.b").NAME == "b"
    assert spark_zip not in read and _finders_over(spark_zip)


def _hook_first(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> bool:
    body = fn.body
    if isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        body = body[1:]  # docstring
    first = body[0] if body else None
    return (
        isinstance(first, ast.Expr)
        and isinstance(first.value, ast.Call)
        and isinstance(first.value.func, ast.Name)
        and first.value.func.id == HOOK
    )


def _scope_defs(scope: ast.AST) -> dict[str, ast.FunctionDef]:
    """Functions defined directly in ``scope`` (not in nested defs)."""
    defs, todo = {}, list(ast.iter_child_nodes(scope))
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            defs[node.name] = node
        elif not isinstance(node, ast.ClassDef):
            todo.extend(ast.iter_child_nodes(node))
    return defs


def _unhooked_udfs(source: str, where: str) -> tuple[list[str], set[str]]:
    """(UDF call sites whose function does not call the hook first,
    UDF methods seen)."""
    tree = ast.parse(source)
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}

    def resolve(name: str, node: ast.AST):
        while node is not None:
            node = parents.get(node)
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Module)):
                fn = _scope_defs(node).get(name)
                if fn is not None:
                    return fn
        return None

    bad, seen = [], set()
    for call in ast.walk(tree):
        if not (isinstance(call, ast.Call) and isinstance(call.func, ast.Attribute)
                and call.func.attr in UDF_METHODS):
            continue
        seen.add(call.func.attr)
        arg = call.args[0] if call.args else next(
            (k.value for k in call.keywords if k.arg == "func"), None)
        # a lambda passes through to the one function it calls
        if isinstance(arg, ast.Lambda) and isinstance(arg.body, ast.Call):
            arg = arg.body.func
        fn = resolve(arg.id, call) if isinstance(arg, ast.Name) else None
        if fn is None or not _hook_first(fn):
            bad.append(f"{where}:{call.lineno} {call.func.attr}")
    return bad, seen


def test_guard_flags_an_unhooked_body():
    src = (
        "def ok(it):\n    drop_spark_zip_finders()\n    yield from it\n"
        "def plain(it):\n    yield from it\n"
        "df.mapInArrow(ok, s)\n"
        "df.mapInArrow(lambda it: ok(it), s)\n"
        "df.mapInPandas(plain, s)\n"
        "df.mapInPandas(lambda it: it, s)\n"
    )
    bad, _ = _unhooked_udfs(src, "m")
    assert bad == ["m:8 mapInPandas", "m:9 mapInPandas"]


def test_every_udf_body_drops_spark_zip_finders():
    sources = [*sorted((REPO / "pytimetk_spark").rglob("*.py")),
               *sorted((REPO / "jobs").rglob("*.py")), REPO / "__spark_entry__.py"]
    bad, seen = [], set()
    for path in sources:
        b, s = _unhooked_udfs(path.read_text(), str(path.relative_to(REPO)))
        bad += b
        seen |= s
    assert seen == UDF_METHODS  # the guard found every kind of call site
    assert not bad, "UDF bodies that do not call drop_spark_zip_finders() first:\n" + "\n".join(bad)
