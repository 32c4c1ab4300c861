"""Every package module is reached from a product root.

The product roots are the driver contract (``__spark_entry__.py``), the
dashboard server (``serve.py``), the bench CLI (``bench.py``), the repo
benchmark (``perfbench/``) and the runnable ``examples/``. This test walks
their imports with stdlib ``ast`` — no module is imported, so it needs no
Spark — and asserts that every module under ``learn_etl_data_warehouse_spark/``
is reached. A module only tests import is dead weight: give it a production
caller or delete it with its tests.

Imports anywhere in a file count, including function-local ones, because
the engine defers heavy imports into the functions that need them.
"""

from __future__ import annotations

import ast
import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = "learn_etl_data_warehouse_spark"

# Library surfaces kept without a product caller; README names each with
# its reason.
_LIBRARY_SURFACES = {
    # SURVEY S3 dialect-CSV reader; test_denorm_golden.py reads with it.
    f"{_PKG}.sources.csv_dialect",
    # SURVEY §2.7 pandas_udf twins; the native cleaning expressions are
    # conformance-tested against them.
    f"{_PKG}.functions.cleaning_pandas",
}


def _module_path(name: str) -> str | None:
    base = os.path.join(_REPO, *name.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _package_of(name: str, path: str) -> str:
    return name if path.endswith("__init__.py") else name.rpartition(".")[0]


def _imports(name: str, path: str) -> set[str]:
    """Module names that ``path`` (module ``name``) imports, resolved
    against the repo; names that are not repo modules are kept and
    dropped later by ``_module_path``."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    package = _package_of(name, path)
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = package.split(".")
                base_parts = parts[: len(parts) - (node.level - 1)]
                base = ".".join(base_parts + ([node.module] if node.module else []))
            else:
                base = node.module or ""
            out.add(base)
            # ``from pkg import mod`` imports the submodule ``pkg.mod``.
            out.update(f"{base}.{alias.name}" for alias in node.names)
    return out


def _with_parents(name: str) -> list[str]:
    """Importing ``a.b.c`` also runs ``a/__init__`` and ``a/b/__init__``."""
    parts = name.split(".")
    return [".".join(parts[: i + 1]) for i in range(len(parts))]


def _roots() -> list[tuple[str, str]]:
    roots = [
        ("__spark_entry__", os.path.join(_REPO, "__spark_entry__.py")),
        ("serve", os.path.join(_REPO, "serve.py")),
        ("bench", os.path.join(_REPO, "bench.py")),
    ]
    for folder in ("perfbench", "examples"):
        for fname in sorted(os.listdir(os.path.join(_REPO, folder))):
            if fname.endswith(".py") and not fname.startswith("test_"):
                roots.append((f"{folder}.{fname[:-3]}", os.path.join(_REPO, folder, fname)))
    return roots


def reached_modules() -> set[str]:
    seen: set[str] = set()
    todo = _roots()
    while todo:
        name, path = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for imported in _imports(name, path):
            for mod in _with_parents(imported):
                mod_path = _module_path(mod)
                if mod_path is not None and mod not in seen:
                    todo.append((mod, mod_path))
    return seen


def package_modules() -> set[str]:
    out = set()
    for dirpath, _dirs, files in os.walk(os.path.join(_REPO, _PKG)):
        rel = os.path.relpath(dirpath, _REPO).replace(os.sep, ".")
        for fname in files:
            if fname == "__init__.py":
                out.add(rel)
            elif fname.endswith(".py"):
                out.add(f"{rel}.{fname[:-3]}")
    return out


def test_every_package_module_is_reached_from_a_product_root():
    unreached = package_modules() - reached_modules() - _LIBRARY_SURFACES
    assert not unreached, (
        "package modules no product root imports (give each a production "
        f"caller or delete it with its tests): {sorted(unreached)}"
    )


def test_library_surfaces_exist_and_are_unreached():
    """An exemption that no longer names a file, or names one a product
    root now reaches, is stale and must go."""
    reached = reached_modules()
    for mod in sorted(_LIBRARY_SURFACES):
        assert _module_path(mod) is not None, f"{mod} no longer exists"
        assert mod not in reached, f"{mod} is now reached; drop its exemption"
