"""Every module of ``kgtk_spark`` is imported, directly or through other
modules, from an entry point: ``bench.py``, ``__spark_entry__.py``, the
CLI (``kgtk_spark/__main__.py``, ``kgtk_spark/cli.py``), the query
catalog (``kgtk_spark/queries.py``), the benchmark harness
(``perfbench/*.py`` but its tests) or ``tools/*.py``. A module only tests
import is dead weight; this walk names it. Pure AST, no Spark session."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "kgtk_spark"


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


MODULES = {_module_name(p): p for p in PKG.rglob("*.py")}


def _imports(path: Path) -> set[str]:
    """The ``kgtk_spark`` modules ``path`` imports, with their parent
    packages (importing ``a.b.c`` runs ``a/__init__`` and ``a/b/__init__``)."""
    here = _module_name(path).split(".")
    if path.name != "__init__.py":
        here = here[:-1]
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                base = ".".join(here[: len(here) - node.level + 1] + [base]).strip(".")
            names |= {base} | {f"{base}.{a.name}" for a in node.names}
    out = set()
    for name in names:
        parts = name.split(".")
        out |= {".".join(parts[:i]) for i in range(1, len(parts) + 1)}
    return out & MODULES.keys()


def test_every_kgtk_spark_module_is_reached_from_an_entry_point():
    entries = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    entries += [PKG / "__main__.py", PKG / "cli.py", PKG / "queries.py"]
    entries += [p for p in (ROOT / "perfbench").glob("*.py") if not p.name.startswith("test_")]
    entries += list((ROOT / "tools").glob("*.py"))
    todo = {_module_name(p) for p in entries if p.is_relative_to(PKG)}
    for p in entries:
        todo |= _imports(p)
    reached: set[str] = set()
    while todo:
        name = todo.pop()
        reached.add(name)
        todo |= _imports(MODULES[name]) - reached
    unreached = sorted(MODULES.keys() - reached)
    assert not unreached, f"no entry point imports {', '.join(unreached)}"
