"""Every package module and every package definition is reached from a
product root.

The product roots are the driver contract (``__spark_entry__.py``), the
dashboard server (``serve.py``), the bench CLI (``bench.py``), the repo
benchmark (``perfbench/``) and ``examples/quickstart.py``. Other examples
are not roots: code that only an example runs is not kept for it (a
slow-tier test runs ``examples/llm_pipeline.py``). This test walks
them with stdlib ``ast`` — nothing is imported, so it needs no Spark — at
three grains:

- *Modules.* Every module under ``learn_etl_data_warehouse_spark/`` is
  imported by a root, directly or through other modules. Imports anywhere
  in a file count, including function-local ones, because the engine
  defers heavy imports into the functions that need them.
- *Definitions.* Every top-level function and class of a package module is
  live. A definition is live if a root uses its name, or if module-level
  code of a package module uses it; liveness then spreads through the
  bodies of live definitions until nothing changes. A re-export in an
  ``__init__.py`` is not a use, and neither is a docstring or a comment
  (they are not names to ``ast``).
- *Parameters.* Every parameter with a default, of every live top-level
  function, is set by at least one call in a product root or a package
  module: by keyword, or positionally at or past its index. Calls match
  by bare or attribute name, and a call with ``*args`` or ``**kwargs``
  sets every parameter. A function whose name is also loaded as a value
  (a dict of builders, a wrapped callback) is skipped, because its call
  sites cannot be seen.

A module, definition or parameter only tests reach is dead weight: give
it a production caller or delete it with its tests. The exemptions below
are the only ones; README names each with its reason, and a test checks
that it does.
"""

from __future__ import annotations

import ast
import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = "learn_etl_data_warehouse_spark"

# Whole modules kept without a product caller; README names each with its
# reason. Their definitions are exempt too.
_LIBRARY_SURFACES = {
    # SURVEY S3 dialect-CSV reader; test_denorm_golden.py reads with it.
    f"{_PKG}.sources.csv_dialect",
    # SURVEY §2.7 pandas_udf twins; the native cleaning expressions are
    # conformance-tested against them.
    f"{_PKG}.functions.cleaning_pandas",
}

# Top-level definitions kept without a product caller, as qualified names
# relative to the package; README names each with its reason.
_DEFINITION_EXEMPTIONS = {
    # Safety code: heals a crash between the catalog swap and the
    # per-table manifest flips.
    "plans.catalog.repair_catalog_tables",
    # Safety code: detects torn snapshots.
    "plans.manifest_warehouse.fsck_table",
    # The reference's EP1 dimension path (Excel dims, denormalised view),
    # which no root runs yet.
    "plans.warehouse.load_ojol_dims",
    "plans.warehouse.build_denorm",
    "plans.warehouse._excel_serial_to_date",
    # The reference's S1 Excel reader, used by the EP1 dimension path.
    "sources.excel.read_excel",
    # The reference's S4 warehouse sink.
    "sources.sqlite.write_sqlite_table",
    # Reference derivation P8.
    "functions.cleaning.is_male",
}

# Defaulted parameters kept without a product caller, as
# ``module.function.parameter`` relative to the package; README names
# each with its reason.
_PARAMETER_EXEMPTIONS = {
    # Partition upsert: the backfill of the planned catalog-backed load.
    "plans.catalog.catalog_commit.replace",
    # Keeps the versions a reader pinned to an older txn can still read.
    "plans.manifest_warehouse.vacuum.keep_last",
    # Pins a reader (one request) to one catalog txn.
    "plans.catalog.register_catalog_views.as_of",
    # Test seam: a short lock wait raises ConcurrentWriteError at once.
    "plans.manifest_warehouse._commit_lock.timeout",
    # Exercises the sqlite3 shim when the JDBC jar is on the classpath.
    "sources.sqlite.read_sqlite_table.force_shim",
}


def _module_path(name: str) -> str | None:
    base = os.path.join(_REPO, *name.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _package_of(name: str, path: str) -> str:
    return name if path.endswith("__init__.py") else name.rpartition(".")[0]


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _import_base(node: ast.ImportFrom, package: str) -> str:
    if not node.level:
        return node.module or ""
    parts = package.split(".")
    base_parts = parts[: len(parts) - (node.level - 1)]
    return ".".join(base_parts + ([node.module] if node.module else []))


def _imports(name: str, path: str) -> set[str]:
    """Module names that ``path`` (module ``name``) imports, resolved
    against the repo; names that are not repo modules are kept and
    dropped later by ``_module_path``."""
    package = _package_of(name, path)
    out: set[str] = set()
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Import):
            out.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = _import_base(node, package)
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
        # The only caller of the manifest/catalog commit layer until the
        # product load commits through it; drop this root when it does.
        ("examples.quickstart", os.path.join(_REPO, "examples", "quickstart.py")),
    ]
    folder = "perfbench"
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


# --- function grain ---------------------------------------------------------

_DEF_TYPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


class _Module:
    """One parsed file: its top-level definitions and the names it binds
    by import (local name -> module, or -> (module, attribute))."""

    def __init__(self, name: str, path: str):
        self.name = name
        self.is_init = path.endswith("__init__.py")
        self.tree = _parse(path)
        self.defs = {
            node.name: node for node in self.tree.body if isinstance(node, _DEF_TYPES)
        }
        package = _package_of(name, path)
        self.module_alias: dict[str, str] = {}
        self.from_alias: dict[str, tuple[str, str]] = {}
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.asname:
                        self.module_alias[alias.asname] = alias.name
                    else:
                        top = alias.name.split(".")[0]
                        self.module_alias[top] = top
            elif isinstance(node, ast.ImportFrom):
                base = _import_base(node, package)
                for alias in node.names:
                    local = alias.asname or alias.name
                    if _module_path(f"{base}.{alias.name}") is not None:
                        self.module_alias[local] = f"{base}.{alias.name}"
                    else:
                        self.from_alias[local] = (base, alias.name)

    def module_level(self) -> list[ast.AST]:
        """Top-level statements other than definitions and imports."""
        return [
            node
            for node in self.tree.body
            if not isinstance(node, _DEF_TYPES + (ast.Import, ast.ImportFrom))
        ]


class _Index:
    def __init__(self):
        self._modules: dict[str, _Module | None] = {}

    def module(self, name: str) -> _Module | None:
        if name not in self._modules:
            path = _module_path(name)
            self._modules[name] = _Module(name, path) if path else None
        return self._modules[name]

    def resolve(self, module: str, attr: str, depth: int = 0) -> str | None:
        """The qualified top-level definition that ``module.attr`` names,
        following ``__init__`` re-exports to where it is defined."""
        mod = self.module(module)
        if mod is None or depth > 8:
            return None
        if attr in mod.defs:
            return f"{module}.{attr}"
        if attr in mod.from_alias:
            return self.resolve(*mod.from_alias[attr], depth + 1)
        return None

    def uses(self, mod: _Module, nodes: list[ast.AST]) -> set[str]:
        """Qualified package definitions that ``nodes`` (code of ``mod``)
        name, as a bare name or as an attribute of an imported module."""
        out: set[str] = set()
        for top in nodes:
            for node in ast.walk(top):
                target = None
                if isinstance(node, ast.Name):
                    if node.id in mod.defs:
                        target = f"{mod.name}.{node.id}"
                    elif node.id in mod.from_alias:
                        target = self.resolve(*mod.from_alias[node.id])
                elif isinstance(node, ast.Attribute):
                    base = _dotted(node.value)
                    if base is not None:
                        head, _, rest = base.partition(".")
                        if head in mod.module_alias:
                            module = mod.module_alias[head] + (f".{rest}" if rest else "")
                            target = self.resolve(module, node.attr)
                if target is not None and target.startswith(f"{_PKG}."):
                    out.add(target)
        return out


def _dotted(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        base = _dotted(node.value)
        return None if base is None else f"{base}.{node.attr}"
    return None


def package_definitions() -> dict[str, int]:
    """Qualified name -> line count of every top-level package
    definition."""
    index = _Index()
    out = {}
    for name in sorted(package_modules()):
        for attr, node in index.module(name).defs.items():
            out[f"{name}.{attr}"] = node.end_lineno - node.lineno + 1
    return out


def live_definitions(exemptions: set[str] = _DEFINITION_EXEMPTIONS) -> set[str]:
    index = _Index()
    todo: set[str] = set()
    for name, _path in _roots():
        mod = index.module(name)
        todo |= index.uses(mod, mod.tree.body)
    for name in package_modules():
        mod = index.module(name)
        if name in _LIBRARY_SURFACES:
            todo |= {f"{name}.{attr}" for attr in mod.defs}
        if not mod.is_init:
            todo |= index.uses(mod, mod.module_level())
    todo |= {f"{_PKG}.{q}" for q in exemptions}
    live: set[str] = set()
    while todo:
        qual = todo.pop()
        if qual in live:
            continue
        live.add(qual)
        module, _, attr = qual.rpartition(".")
        mod = index.module(module)
        if mod is not None and attr in mod.defs:
            todo |= index.uses(mod, [mod.defs[attr]]) - live
    return live


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


def test_every_package_definition_is_reached_from_a_product_root():
    defs = package_definitions()
    dead = sorted(set(defs) - live_definitions())
    assert not dead, (
        "top-level package definitions no product root reaches (give each a "
        "production caller or delete it with its tests): "
        + ", ".join(f"{q} ({defs[q]} lines)" for q in dead)
    )


def test_definition_exemptions_exist_and_are_otherwise_unreached():
    """An exemption that no longer names a definition, or names one a
    product root now reaches without it, is stale and must go."""
    defs = package_definitions()
    live = live_definitions(exemptions=set())
    for qual in sorted(_DEFINITION_EXEMPTIONS):
        assert f"{_PKG}.{qual}" in defs, f"{qual} no longer exists"
        assert f"{_PKG}.{qual}" not in live, f"{qual} is now reached; drop its exemption"


def test_readme_names_every_exemption():
    with open(os.path.join(_REPO, "README.md")) as f:
        readme = f.read()
    names = {mod.removeprefix(f"{_PKG}.") for mod in _LIBRARY_SURFACES}
    names |= _DEFINITION_EXEMPTIONS | _PARAMETER_EXEMPTIONS
    missing = sorted(n for n in names if f"`{n}`" not in readme)
    assert not missing, f"README does not name these exemptions: {missing}"


# --- parameter grain --------------------------------------------------------


def _called_name(func: ast.AST) -> str | None:
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _defaulted(node: ast.FunctionDef) -> list[tuple[str, int | None]]:
    """(name, positional index or None if keyword-only) of every parameter
    of ``node`` that has a default."""
    positional = node.args.posonlyargs + node.args.args
    first = len(positional) - len(node.args.defaults)
    out = [(arg.arg, i) for i, arg in enumerate(positional) if i >= first]
    out += [
        (arg.arg, None)
        for arg, default in zip(node.args.kwonlyargs, node.args.kw_defaults)
        if default is not None
    ]
    return out


def unset_parameters(exemptions: set[str] = _PARAMETER_EXEMPTIONS) -> list[str]:
    """``module.func.param`` (relative to the package) of every defaulted
    parameter of a live top-level package function that no call in a
    product root or package module sets. A call sets a parameter by
    keyword or positionally at or past its index, and a call with
    ``*args`` or ``**kwargs`` sets them all; calls match by bare or
    attribute name. A function whose name is also loaded as a value (a
    dict entry, a callback) is skipped: its call sites cannot be seen."""
    index = _Index()
    calls: dict[str, list[ast.Call]] = {}
    called: set[int] = set()
    values: set[str] = set()
    for module in [name for name, _path in _roots()] + sorted(package_modules()):
        nodes = list(ast.walk(index.module(module).tree))
        for node in nodes:
            if isinstance(node, ast.Call):
                name = _called_name(node.func)
                if name is not None:
                    calls.setdefault(name, []).append(node)
                    called.add(id(node.func))
        for node in nodes:
            if isinstance(node, (ast.Name, ast.Attribute)) and id(node) not in called:
                if isinstance(node.ctx, ast.Load):
                    values.add(_called_name(node))
    out = []
    for qual in sorted(live_definitions()):
        module, _, fname = qual.rpartition(".")
        node = index.module(module).defs.get(fname)
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) or fname in values:
            continue
        sites = calls.get(fname, [])
        if any(
            any(isinstance(a, ast.Starred) for a in call.args)
            or any(kw.arg is None for kw in call.keywords)
            for call in sites
        ):
            continue
        for param, pos in _defaulted(node):
            name = f"{qual.removeprefix(_PKG + '.')}.{param}"
            if name in exemptions:
                continue
            if any(
                any(kw.arg == param for kw in call.keywords)
                or (pos is not None and len(call.args) > pos)
                for call in sites
            ):
                continue
            out.append(name)
    return out


def test_every_defaulted_parameter_is_set_by_a_product_caller():
    unset = unset_parameters()
    assert not unset, (
        "defaulted parameters no product root or package call sets (inline "
        "the default and delete the parameter, with the tests that set "
        f"it): {unset}"
    )


def test_parameter_exemptions_exist_and_are_otherwise_unset():
    """An exemption that no longer names a defaulted parameter of a live
    function, or names one a product caller now sets, is stale."""
    unset = set(unset_parameters(exemptions=set()))
    for name in sorted(_PARAMETER_EXEMPTIONS):
        assert name in unset, f"{name} is gone or now set by a product caller"
