"""Every package module must be reachable from an entry point.

The product is one extraction job, driven by the CLI, streaming ingest
and the Python worker daemon Spark loads by name. A module that none of
those imports, directly or through other modules, is dead code; this
test names it so it is deleted (or wired in) rather than left to grow.

The one exception is ``RETIRED``: the query library that only the
retired round-8 driver (``__spark_entry__.py``) called. Those modules
still have their own tests and go one family at a time; the list may
only shrink, and no script outside ``tests/`` may import from it again.

The walk is static: it parses every module with ``ast`` and follows
``import`` / ``from ... import`` statements anywhere in the file,
including the lazy imports inside functions. Importing ``a.b.c`` also
imports the packages ``a`` and ``a.b`` (their ``__init__`` runs), so
those count as reached too.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = "ocr_agent_spark"
REPO = Path(__file__).resolve().parent.parent
PACKAGE_DIR = REPO / PACKAGE

# ``worker_daemon`` is never imported by the package: Spark starts it
# by name through ``spark.python.daemon.module`` (see ``session.py``).
ROOTS = (
    f"{PACKAGE}.__main__",
    f"{PACKAGE}.pipeline",
    f"{PACKAGE}.worker_daemon",
)

# Reached only from their own tests. Delete a family (and its tests)
# or wire a module into the job, then take its names off this list.
RETIRED = frozenset(
    f"{PACKAGE}.{name}"
    for name in (
        "corpus",
        "sources.bucketed",
        "sources.sized_writer",
        # media and link kernels
        "kernel.avivideo",
        "kernel.imagemeta",
        "kernel.jpegdecode",
        "kernel.links",
        "kernel.mediacontainer",
        "kernel.riff",
        "kernel.tiffimage",
        "kernel.wavaudio",
        # the query functions
        "functions.asof",
        "functions.bpe",
        "functions.bpe_merges",
        "functions.budget",
        "functions.chunking",
        "functions.dedup_index",
        "functions.drift",
        "functions.dsir",
        "functions.embed",
        "functions.extracteval",
        "functions.imagededup",
        "functions.linededup",
        "functions.links",
        "functions.lmscore",
        "functions.metadata",
        "functions.mirrors",
        "functions.mojibake",
        "functions.multimodal",
        "functions.packing",
        "functions.pagerank",
        "functions.paragraphs",
        "functions.qualityclf",
        "functions.redirects",
        "functions.retrieval",
        "functions.sampling",
        "functions.sessions",
        "functions.similarity",
        "functions.spandedup",
        "functions.tfidf",
        "functions.urlfilter",
        "functions.urlnorm",
        "functions.urlseen",
        "functions.webquality",
    )
)


def _package_modules() -> dict[str, Path]:
    modules = {}
    for path in PACKAGE_DIR.rglob("*.py"):
        parts = list(path.relative_to(PACKAGE_DIR.parent).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        modules[".".join(parts)] = path
    return modules


def _imported_names(name: str, path: Path) -> set[str]:
    """Every dotted name an import statement in ``path`` may load: the
    module itself and, for ``from m import x``, ``m.x`` (x may be a
    submodule)."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            module = node.module or ""
            if node.level:
                base = name.split(".")
                if path.name != "__init__.py":
                    base.pop()
                base = base[: len(base) - node.level + 1]
                module = ".".join(base + ([module] if module else []))
            names.add(module)
            names.update(f"{module}.{alias.name}" for alias in node.names)
    return names


def _reachable(modules: dict[str, Path], roots) -> set[str]:
    seen: set[str] = set()
    stack = list(roots)
    while stack:
        name = stack.pop()
        if name in seen or name not in modules:
            continue
        seen.add(name)
        stack.extend(_imported_names(name, modules[name]))
        # importing a.b.c runs a/__init__ and a/b/__init__ first
        parts = name.split(".")
        stack.extend(".".join(parts[:i]) for i in range(1, len(parts)))
    return seen


def _entry_point_reach(modules: dict[str, Path]) -> set[str]:
    streaming = [m for m in modules if m.startswith(f"{PACKAGE}.streaming")]
    roots = [*ROOTS, *streaming]
    assert all(r in modules for r in roots), sorted(set(roots) - set(modules))
    return _reachable(modules, roots)


def _scripts() -> list[Path]:
    """Every Python file in the repo outside the package and the tests."""
    return [
        path
        for path in REPO.rglob("*.py")
        if not path.is_relative_to(PACKAGE_DIR)
        and not path.is_relative_to(REPO / "tests")
        and not any(part.startswith(".") for part in path.relative_to(REPO).parts)
    ]


def test_every_package_module_is_reachable_from_an_entry_point():
    modules = _package_modules()
    unreached = sorted(set(modules) - _entry_point_reach(modules) - RETIRED)
    assert not unreached, (
        f"{len(unreached)} package module(s) are imported by no entry point "
        f"({', '.join(ROOTS)}, {PACKAGE}.streaming.*): {unreached}"
    )


def test_retired_list_names_only_unreached_modules():
    modules = _package_modules()
    gone = sorted(RETIRED - set(modules))
    assert not gone, f"deleted, take off RETIRED: {gone}"
    wired = sorted(RETIRED & _entry_point_reach(modules))
    assert not wired, f"reached from an entry point, take off RETIRED: {wired}"


def test_no_script_imports_a_retired_module():
    modules = _package_modules()
    callers = {}
    for path in _scripts():
        imported = _imported_names(path.stem, path)
        for name in sorted(_reachable(modules, imported) & RETIRED):
            callers.setdefault(name, str(path.relative_to(REPO)))
    assert not callers, f"retired module(s) imported outside tests/: {callers}"
