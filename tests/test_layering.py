"""Import-layering gates, checked from source with ``ast`` (nothing is
imported, so a forbidden import is caught even on a path no other test
executes)."""

from __future__ import annotations

import ast
import functools
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "exam_pdf_parser_spark"

# The scripts kept as tools, each a production root of the walk below.
# A new script joins this list on purpose or it fails
# test_scripts_are_the_named_tools.
TOOLS = ("crosscheck", "sf1_crosscheck", "xcheck_x_sf1", "make_goldens",
         "make_xoracle_tables", "scaling_bench", "_extract_job",
         "determinism_check", "calibrate_anchors", "giant_stress_bench",
         "hot_bucket_bench", "explain_audit")

# Package symbols no root reaches that stay anyway, with the reason.
UNREACHED_ON_PURPOSE = {
    f"{PKG}.sources.report.load_golden_json":
        "pairs with dump_golden_json; the goldens gate reads through it",
    f"{PKG}.corpus.frozen_r02.generate_rows":
        "the module is byte-frozen and bench.py fingerprints its source",
}


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _package_of(path: Path) -> list[str]:
    name = _module_name(path).split(".")
    return name if path.name == "__init__.py" else name[:-1]


def _from_module(node: ast.ImportFrom, package: list[str]) -> str:
    """The absolute module name of ``from X import ...``."""
    if not node.level:
        return node.module
    base = package[:len(package) - node.level + 1]
    return ".".join(base + [node.module] if node.module else base)


def _imported_modules(path: Path) -> set[str]:
    """Absolute names of every module PATH imports, relative imports
    resolved.  ``from X import y`` yields both ``X`` and ``X.y``, since
    ``y`` may be a submodule."""
    package = _package_of(path)
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            mod = _from_module(node, package)
            out.add(mod)
            out.update(f"{mod}.{a.name}" for a in node.names)
    return out


def _roots() -> list[Path]:
    """Every file that runs in production: the driver contract, the
    CLI, the headline bench, the repo benchmark and the named tools."""
    return ([ROOT / "__spark_entry__.py", ROOT / PKG / "__main__.py",
             ROOT / "bench.py"]
            + sorted((ROOT / "perfbench").glob("*.py"))
            + [ROOT / "scripts" / f"{t}.py" for t in TOOLS])


def _defined(stmt: ast.stmt) -> list[str]:
    """The top-level names STMT defines; none for a statement that only
    runs on import, which includes a ``@register(...)`` def (the
    decorator files it in a registry the roots read)."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                         ast.ClassDef)):
        registers = any(isinstance(d, ast.Call)
                        and getattr(d.func, "id", None) == "register"
                        for d in stmt.decorator_list)
        return [] if registers else [stmt.name]
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
        targets = [stmt.target]
    else:
        return []
    names = [e for t in targets
             for e in (t.elts if isinstance(t, ast.Tuple) else [t])]
    if not all(isinstance(e, ast.Name) for e in names):
        return []
    return [e.id for e in names]


class _Source:
    """One parsed file: its top-level definitions, the statements that
    run when it is imported, and the local names bound to modules."""

    def __init__(self, path: Path, modules: set[str]):
        self.name = _module_name(path)
        self.package = _package_of(path)
        self.tree = ast.parse(path.read_text(), str(path))
        self.defs: dict[str, list[ast.stmt]] = {}
        self.body: list[ast.stmt] = []
        for stmt in self.tree.body:
            names = _defined(stmt)
            for n in names:
                self.defs.setdefault(n, []).append(stmt)
            if not names:
                self.body.append(stmt)
        self.module_names: dict[str, str] = {}
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    top = a.name.split(".")[0]
                    self.module_names[a.asname or top] = \
                        a.name if a.asname else top
            elif isinstance(node, ast.ImportFrom):
                mod = _from_module(node, self.package)
                for a in node.names:
                    if f"{mod}.{a.name}" in modules:
                        self.module_names[a.asname or a.name] = \
                            f"{mod}.{a.name}"

    def uses(self, node: ast.AST):
        """(module, symbol) pairs NODE uses; symbol None means only the
        import of the module."""
        for n in ast.walk(node):
            if isinstance(n, ast.Import):
                yield from ((a.name, None) for a in n.names)
            elif isinstance(n, ast.ImportFrom):
                mod = _from_module(n, self.package)
                yield mod, None
                for a in n.names:
                    yield mod, a.name
                    yield f"{mod}.{a.name}", None
            elif isinstance(n, ast.Name):
                yield self.name, n.id
            elif isinstance(n, ast.Attribute):
                chain = [n.attr]
                base = n.value
                while isinstance(base, ast.Attribute):
                    chain.insert(0, base.attr)
                    base = base.value
                if (isinstance(base, ast.Name)
                        and base.id in self.module_names):
                    owner = ".".join([self.module_names[base.id]]
                                     + chain[:-1])
                    yield owner, chain[-1]
                    yield f"{owner}.{chain[-1]}", None


@functools.cache
def _walk() -> tuple[dict[str, _Source], set[str], set[tuple[str, str]]]:
    """Walk uses transitively from the roots, symbol by symbol.  A use
    is a bare name in its own module, ``from X import y`` (also inside
    a function), a ``mod.attr`` chain through an imported module, or
    any module-level statement that is not a definition, which runs
    once the module is imported.  Importing a module also imports its
    parent packages.  Returns the package sources, the modules reached
    and the (module, symbol) pairs reached."""
    modules = {_module_name(p): p for p in (ROOT / PKG).rglob("*.py")}
    names = set(modules)
    sources = {m: _Source(p, names) for m, p in modules.items()}
    reached_modules: set[str] = set()
    reached: set[tuple[str, str]] = set()
    todo: list[tuple[_Source, ast.AST]] = []
    for path in _roots():
        name = _module_name(path)
        src = sources.get(name) or _Source(path, names)
        todo.append((src, src.tree))
        if name in modules:
            reached_modules.add(name)
    while todo:
        src, node = todo.pop()
        for mod, sym in src.uses(node):
            parts = mod.split(".")
            for i in range(1, len(parts) + 1):
                parent = ".".join(parts[:i])
                if parent in sources and parent not in reached_modules:
                    reached_modules.add(parent)
                    todo.extend((sources[parent], s)
                                for s in sources[parent].body)
            if (mod in sources and sym in sources[mod].defs
                    and (mod, sym) not in reached):
                reached.add((mod, sym))
                todo.extend((sources[mod], s) for s in sources[mod].defs[sym])
    return sources, reached_modules, reached


def test_scripts_are_the_named_tools():
    """Every script is a named tool, so it is a root on purpose."""
    assert sorted(p.stem for p in (ROOT / "scripts").glob("*.py")) == \
        sorted(TOOLS)


def test_every_package_module_reached_from_an_entry_point():
    """Every package module is reached from a root: code only tests
    import is dead.  A module counts as reached when any of its
    symbols or module-level statements is."""
    sources, reached_modules, _ = _walk()
    # the scan really covers the tree: the entry points and the core
    # of the package are all found
    assert {f"{PKG}.__main__", f"{PKG}.operators.extract",
            f"{PKG}.sources.manifest", f"{PKG}.core.assemble"} <= set(sources)
    assert set(sources) - reached_modules == set()


def test_every_package_symbol_reached_from_an_entry_point():
    """Every top-level function, class and constant of the package is
    reached from a root, except the named few.  Dunder names are not
    checked."""
    sources, _, reached = _walk()
    unreached = {f"{m}.{s}" for m, src in sources.items() for s in src.defs
                 if (m, s) not in reached
                 and not (s.startswith("__") and s.endswith("__"))}
    assert unreached == set(UNREACHED_ON_PURPOSE)


# PEP 594: deprecated in 3.11, removed from the standard library in 3.13.
REMOVED_IN_3_13 = {
    "aifc", "audioop", "cgi", "cgitb", "chunk", "crypt", "imghdr",
    "mailcap", "msilib", "nis", "nntplib", "ossaudiodev", "pipes",
    "sndhdr", "spwd", "sunau", "telnetlib", "uu", "xdrlib"}


def test_no_import_of_stdlib_modules_removed_in_3_13():
    """Nothing the suite runs imports a module Python 3.13 no longer
    ships, so the package, its tests and its tools keep running there."""
    scope = sorted((ROOT / PKG).rglob("*.py"))
    scope += sorted((ROOT / "tests").rglob("*.py"))
    scope += sorted((ROOT / "scripts").rglob("*.py"))
    scope += sorted((ROOT / "perfbench").rglob("*.py"))
    scope += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    assert len(scope) > 80            # the scan really covers the tree
    found = {str(p.relative_to(ROOT)):
             sorted(m for m in _imported_modules(p)
                    if m.split(".")[0] in REMOVED_IN_3_13)
             for p in scope}
    assert {k: v for k, v in found.items() if v} == {}
