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


def _py_files(*parts):
    for dirpath, _dirs, files in os.walk(os.path.join(REPO, *parts)):
        for name in sorted(files):
            if name.endswith(".py"):
                yield os.path.join(dirpath, name)


def _sources():
    yield from _py_files(PACKAGE)
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


def _imports(paths=None, include_optional=False):
    """``(file:line, module, imported names)`` for every import statement
    in ``paths`` (default: :func:`_sources`); those guarded by ``except
    ImportError`` only when ``include_optional``."""
    for path in _sources() if paths is None else paths:
        modname = _module_name(path)
        is_pkg = path.endswith("__init__.py")
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        guarded = set() if include_optional else _optional(tree)
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


def test_engine_does_not_import_ops():
    """The dependency runs one way: ``ops/`` may use the engine
    (``kernels/``, ``spark/``), never the reverse, so the engine stands
    without ``ops/``."""
    ops = f"{PACKAGE}.ops"
    paths = [*_py_files(PACKAGE, "kernels"), *_py_files(PACKAGE, "spark")]
    imports = list(_imports(paths, include_optional=True))
    assert {where.rsplit(":", 1)[0] for where, _m, _n in imports} >= {
        os.path.join(PACKAGE, "kernels", "pipeline.py"),
        os.path.join(PACKAGE, "spark", "streaming.py"),
    }
    named = [
        f"{where}: {module}"
        for where, module, names in imports
        if module == ops
        or module.startswith(ops + ".")
        or (module == PACKAGE and "ops" in names)
    ]
    assert not named, "\n".join(named)
