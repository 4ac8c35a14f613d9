"""Every module of ``kgtk_spark`` is imported, directly or through other
modules, from an entry point: ``bench.py``, ``__spark_entry__.py``, the
CLI (``kgtk_spark/__main__.py``, ``kgtk_spark/cli.py``), the query
catalog (``kgtk_spark/queries.py``), the benchmark harness
(``perfbench/*.py`` but its tests) or ``tools/*.py``. A module only tests
import is dead weight; this walk names it. A second walk does the same for
each top-level name, counting an AST reference as a use and an import or a
package ``__all__`` entry as none. Pure AST, no Spark session."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "kgtk_spark"


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


MODULES = {_module_name(p): p for p in PKG.rglob("*.py")}
ENTRIES = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
ENTRIES += [PKG / "__main__.py", PKG / "cli.py", PKG / "queries.py"]
ENTRIES += [p for p in (ROOT / "perfbench").glob("*.py") if not p.name.startswith("test_")]
ENTRIES += list((ROOT / "tools").glob("*.py"))


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
    todo = {_module_name(p) for p in ENTRIES if p.is_relative_to(PKG)}
    for p in ENTRIES:
        todo |= _imports(p)
    reached: set[str] = set()
    while todo:
        name = todo.pop()
        reached.add(name)
        todo |= _imports(MODULES[name]) - reached
    unreached = sorted(MODULES.keys() - reached)
    assert not unreached, f"no entry point imports {', '.join(unreached)}"


# Top-level names of kgtk_spark that only tests use, each on purpose.
ONLY_TESTS = {
    # the Python reference of the KGTK string escapes: the JVM kernel
    # (sources.cskg.stringify_col) is compared against it
    "kgtk_spark.values.stringify",
    # the only implementation of the parsed ``mustoccur`` rule; the CLI's
    # validate-properties does not take a dataset-level rule set
    "kgtk_spark.operators.validate_properties.dataset_violations",
}


def _definitions() -> dict[str, list[tuple[str, ast.AST]]]:
    """name → [(qualified name, node)] for every top-level function, class
    and assigned name of every ``kgtk_spark`` module (dunders aside, so a
    package ``__all__`` defines nothing)."""
    out: dict[str, list[tuple[str, ast.AST]]] = {}
    for mod, path in MODULES.items():
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [t.id for t in targets if isinstance(t, ast.Name)]
            else:
                continue
            for name in names:
                if not name.startswith("__"):
                    out.setdefault(name, []).append((f"{mod}.{name}", node))
    return out


def _uses(node: ast.AST) -> set[str]:
    """Names ``node`` reads: loaded identifiers and attribute names. An
    import is not a use, so neither is a package's re-export."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _body(node: ast.AST) -> ast.AST | None:
    """What a definition reads: an assignment's value, a def's whole node
    (its own name is not a use of itself)."""
    return node.value if isinstance(node, (ast.Assign, ast.AnnAssign)) else node


def _reach(uses: set[str], defs: dict, reached: set[str]) -> set[str]:
    """``reached`` grown by the definitions ``uses`` names and, through
    their bodies, to a fixpoint. Names match by identifier, so a use
    reaches every definition of that name."""
    reached, todo, seen = set(reached), set(uses), set()
    while todo:
        name = todo.pop()
        seen.add(name)
        for qual, node in defs.get(name, ()):
            if qual not in reached:
                reached.add(qual)
                if _body(node) is not None:
                    todo |= _uses(_body(node)) - seen
    return reached


def test_every_kgtk_spark_name_is_reached_from_an_entry_point():
    """Each top-level name is reached from an entry point (the same as the
    module walk's), or is in ONLY_TESTS, or only an ONLY_TESTS name uses it."""
    defs = _definitions()
    uses = set().union(*(_uses(ast.parse(p.read_text())) for p in ENTRIES))
    # what a module runs on import, outside its definitions, and every
    # definition of an entry module
    defining = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Assign, ast.AnnAssign)
    for path in MODULES.values():
        uses |= set().union(*(_uses(n) for n in ast.parse(path.read_text()).body
                              if not isinstance(n, defining)))
    entry_mods = {_module_name(p) for p in ENTRIES if p.is_relative_to(PKG)}
    reached = _reach(uses, defs, {q for v in defs.values() for q, _ in v
                                  if q.rsplit(".", 1)[0] in entry_mods})
    tested = set().union(*(_uses(ast.parse(p.read_text())) for p in (ROOT / "tests").glob("*.py")))
    tested |= set().union(*(_uses(ast.parse(p.read_text()))
                            for p in (ROOT / "perfbench").glob("test_*.py")))
    only_tests = {q for name in tested for q, _ in defs.get(name, ())} - reached
    assert only_tests == ONLY_TESTS, (
        f"used only by tests: {', '.join(sorted(only_tests - ONLY_TESTS)) or '-'}; "
        f"reached from an entry point now: {', '.join(sorted(ONLY_TESTS - only_tests)) or '-'}")
    unused = {q for v in defs.values() for q, _ in v} - _reach(
        {q.rsplit(".", 1)[1] for q in ONLY_TESTS}, defs, reached)
    assert not unused, f"used by nothing: {', '.join(sorted(unused))}"
