"""Every module under rc_scanner_spark/ is reached from something that
ships: the query registry, the CLI, the rcstream source, the streaming
pipeline, the tools, bench.py, perfbench or the driver contract.

The import graph is read from the source with ``ast``: every import
statement counts, function-local and relative ones included, and a
module pulls in the ``__init__`` of each package that holds it.  No
Spark session starts.  A module that only tests import fails here:
give it a caller the scanner's job needs, or delete it with its tests.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "rc_scanner_spark"


def _roots() -> list[Path]:
    return [
        PACKAGE / "queries" / "__init__.py",
        PACKAGE / "cli.py",
        PACKAGE / "sources" / "sse.py",
        PACKAGE / "streaming" / "pipeline.py",
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
        *sorted((ROOT / "tools").glob("*.py")),
        *sorted((ROOT / "perfbench").glob("*.py")),
    ]


def _with_packages(f: Path) -> set[Path]:
    """``f`` and the ``__init__.py`` of every package holding it."""
    out = {f}
    d = f.parent
    while d != ROOT and (d / "__init__.py").is_file():
        out.add(d / "__init__.py")
        d = d.parent
    return out


def _imports(f: Path) -> set[Path]:
    """Repo files that ``f`` imports anywhere in its body."""
    # A script outside a package (tools/, perfbench/) runs with its own
    # directory on sys.path, so it also imports its siblings by name.
    scripts = [] if (f.parent / "__init__.py").is_file() else [f.parent]
    found: set[Path] = set()

    def resolve(dotted: str, bases: list[Path]) -> None:
        for base in bases:
            p = base.joinpath(*dotted.split("."))
            for m in (p.with_suffix(".py"), p / "__init__.py"):
                if m.is_file():
                    found.update(_with_packages(m))
                    return

    for node in ast.walk(ast.parse(f.read_text(encoding="utf-8"), str(f))):
        if isinstance(node, ast.Import):
            for alias in node.names:
                resolve(alias.name, [ROOT, *scripts])
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                bases = [f.parents[node.level - 1]]
            else:
                bases = [ROOT, *scripts]
            prefix = f"{node.module}." if node.module else ""
            if node.module:
                resolve(node.module, bases)
            # ``from pkg import name`` imports pkg.name when it is a module
            for alias in node.names:
                resolve(prefix + alias.name, bases)
    return found


def reached() -> set[Path]:
    seen: set[Path] = set()
    todo = [m for f in _roots() for m in _with_packages(f)]
    while todo:
        f = todo.pop()
        if f not in seen:
            seen.add(f)
            todo.extend(_imports(f) - seen)
    return seen


def test_every_package_module_is_reached():
    unreached = sorted(
        p.relative_to(ROOT).as_posix()
        for p in set(PACKAGE.rglob("*.py")) - reached()
    )
    assert not unreached, (
        "modules nothing outside tests/ imports (give each a caller or "
        f"delete it with its tests): {unreached}"
    )
