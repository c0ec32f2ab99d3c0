"""Import-layering gates, checked from source with ``ast`` (nothing is
imported, so a forbidden import is caught even on a path no other test
executes)."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "exam_pdf_parser_spark"


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _imported_modules(path: Path) -> set[str]:
    """Absolute names of every module PATH imports, relative imports
    resolved.  ``from X import y`` yields both ``X`` and ``X.y``, since
    ``y`` may be a submodule."""
    name = _module_name(path).split(".")
    package = name if path.name == "__init__.py" else name[:-1]
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package[:len(package) - node.level + 1]
                mod = ".".join(base + [node.module] if node.module
                               else base)
            else:
                mod = node.module
            out.add(mod)
            out.update(f"{mod}.{a.name}" for a in node.names)
    return out


def _entry_points() -> list[Path]:
    """Every file that runs in production: the driver contract, the
    CLI, the headline bench, the repo benchmark and the scripts."""
    return ([ROOT / "__spark_entry__.py", ROOT / PKG / "__main__.py",
             ROOT / "bench.py"]
            + sorted((ROOT / "perfbench").rglob("*.py"))
            + sorted((ROOT / "scripts").rglob("*.py")))


def test_every_package_module_reached_from_an_entry_point():
    """Walk package imports transitively from the entry points.  Every
    package module must be reached: code only tests import is dead.
    Importing a module also runs its parents' ``__init__``, so a
    package counts as reached when any module under it is."""
    modules = {_module_name(p): p for p in (ROOT / PKG).rglob("*.py")}
    # the scan really covers the tree: the entry points and the core
    # of the package are all found
    assert {f"{PKG}.__main__", f"{PKG}.operators.extract",
            f"{PKG}.sources.manifest", f"{PKG}.core.assemble"} <= set(modules)
    todo = _entry_points()
    reached = {_module_name(p) for p in todo} & set(modules)  # __main__ itself
    while todo:
        for name in _imported_modules(todo.pop()):
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in modules and mod not in reached:
                    reached.add(mod)
                    todo.append(modules[mod])
    assert set(modules) - reached == set()


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
