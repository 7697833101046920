"""Import guard: every import statement in the package and the driver
contract resolves, including the function-local ones that only run
when their function is called. A dangling ``from ..x import y`` would
otherwise pass every test that never reaches it."""

import ast
import importlib
import importlib.util
import os

import pytest

pytestmark = pytest.mark.engine

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "correctocr_spark"


def _sources():
    for dirpath, _dirs, files in os.walk(os.path.join(REPO, PACKAGE)):
        for name in sorted(files):
            if name.endswith(".py"):
                yield os.path.join(dirpath, name)
    yield os.path.join(REPO, "__spark_entry__.py")


def _module_name(path):
    rel = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
    if rel[-1] == "__init__":
        rel = rel[:-1]
    return ".".join(rel)


def _optional(tree):
    """Import nodes guarded by ``try: ... except ImportError`` (an
    optional dependency the code handles being absent)."""
    guarded = set()
    for node in ast.walk(tree):
        if not isinstance(node, ast.Try):
            continue
        caught = set()
        for h in node.handlers:
            types = h.type.elts if isinstance(h.type, ast.Tuple) else [h.type]
            caught |= {t.id for t in types if isinstance(t, ast.Name)}
        if caught & {"ImportError", "ModuleNotFoundError"}:
            for stmt in node.body:
                guarded |= {id(n) for n in ast.walk(stmt)}
    return guarded


def _imports():
    """``(file:line, module, imported names)`` for every import statement."""
    for path in _sources():
        modname = _module_name(path)
        is_pkg = path.endswith("__init__.py")
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        guarded = _optional(tree)
        for node in ast.walk(tree):
            if id(node) in guarded:
                continue
            where = f"{os.path.relpath(path, REPO)}:{getattr(node, 'lineno', 0)}"
            if isinstance(node, ast.Import):
                for alias in node.names:
                    yield where, alias.name, []
            elif isinstance(node, ast.ImportFrom):
                if node.module == "__future__":
                    continue
                if node.level:
                    base = modname if is_pkg else modname.rpartition(".")[0]
                    for _ in range(node.level - 1):
                        base = base.rpartition(".")[0]
                    module = f"{base}.{node.module}" if node.module else base
                else:
                    module = node.module
                yield where, module, [a.name for a in node.names]


def _spec(module):
    try:
        return importlib.util.find_spec(module)
    except (ImportError, AttributeError, ValueError):
        # a missing parent package, or a parent that is not a package
        return None


def test_every_import_resolves():
    imports = list(_imports())
    files = {where.rsplit(":", 1)[0] for where, _m, _n in imports}
    assert "__spark_entry__.py" in files
    assert os.path.join(PACKAGE, "spark", "pipeline.py") in files
    missing = []
    for where, module, names in imports:
        if _spec(module) is None:
            missing.append(f"{where}: no module {module}")
            continue
        if not names:
            continue
        mod = importlib.import_module(module)
        for name in names:
            if name == "*" or hasattr(mod, name):
                continue
            if _spec(f"{module}.{name}") is None:
                missing.append(f"{where}: {module} has no {name}")
    assert not missing, "\n".join(missing)
