"""Every package module, and every public function and class in a
reached module, must be reachable from an entry point.

The product is one extraction job, driven by the CLI, the two streaming
ingest drivers (pages parquet, WARC manifests) and the Python worker
daemon Spark loads by name. A module that none of those imports,
directly or through other modules, is dead code; this test names it so
it is deleted (or wired in) rather than left to grow.

The one module-level exception is ``RETIRED``: the query library that
only the retired round-8 driver (``__spark_entry__.py``) called, and
the stream-side column helpers (``streaming/{dedup,stateful,windows}``)
with the text functions only they reach, and ``cache``, whose only
callers are those retired modules. Those modules still have
their own tests and go one family at a time; the list only shrinks,
and no script outside ``tests/`` may import from it again.

The walk is static: it parses every module with ``ast`` and follows
``import`` / ``from ... import`` statements anywhere in the file,
including the lazy imports inside functions. Importing ``a.b.c`` also
imports the packages ``a`` and ``a.b`` (their ``__init__`` runs), so
those count as reached too.

A reached module can still carry functions only tests call. So every
public top-level ``def``/``class`` of a reached, non-retired module
(``fixtures``, the package's test data, and the entry points, whose
public names are the package's surface, aside) must be referred to by
name from another reached, non-retired module other than a package
``__init__`` (a re-export is not a use), from ``perfbench/``, or from
its own module: by code outside its public definitions, or by one of
them that is itself used. The exceptions are listed in ``TEST_ONLY``,
which, like ``RETIRED``, only shrinks.
The check is by name, not by call graph: a reference is any name,
attribute, imported name or identifier-shaped string constant.
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
    f"{PACKAGE}.streaming.ingest",
    f"{PACKAGE}.streaming.warc",
)

# Reached only from their own tests. Delete a family (and its tests)
# or wire a module into the job, then take its names off this list.
RETIRED = frozenset(
    f"{PACKAGE}.{name}"
    for name in (
        "corpus",
        # the tracked-persist helpers, named only by the query functions
        "cache",
        # stream-side column helpers and the text functions they reach
        "streaming.dedup",
        "streaming.stateful",
        "streaming.windows",
        "functions.dedup",
        "functions.itercut",
        "functions.text",
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


# Public functions and classes of reached modules that only tests call.
# Delete one (and its tests) or wire it into the job, then take it off
# this list.
TEST_ONLY = frozenset(
    f"{PACKAGE}.{name}"
    for name in (
        # the WET and sitemap readers and the WARC export
        "sources.warc.read_sitemaps",
        "sources.warc.read_wet",
        "sources.warc.sitemap_children",
        "sources.warc.write_pages_warc",
        "sources.warc.write_wet_shards",
        "kernel.sitemap.build_sitemap",
        "kernel.warcfile.build_warc",
        # the robots.txt table functions
        "functions.robots.robots_crawl_delays",
        "functions.robots.robots_rules_table",
        "functions.robots.robots_sitemaps",
        "kernel.robots.is_allowed",
        "kernel.robots.rule_matches",
        # monitoring and skew helpers
        "operators.metrics.heavy_hitter_hosts",
        "operators.metrics.latest_failed_error",
        "operators.metrics.salted_host_counts",
        "operators.skew.detect_skewed_keys",
        "operators.skew.salted_repartition",
        "operators.skew.surt_key",
        "operators.triage.classify_path_column",
        "operators.triage.triage_counts",
        # called only from the retired query functions
        "partitioning.scan_partitions",
        "partitioning.widen_if_narrow",
        # the PDF kernel's per-page and builder helpers, re-exported by
        # ``kernel/__init__`` for tests; the job uses ``PdfDocument``
        "kernel.minipdf.build_pdf_positioned",
        "kernel.minipdf.extract_pdf_page_text",
        "kernel.minipdf.extract_pdf_page_text_columns",
        "kernel.minipdf.pdf_page_count",
    )
)

# The package's test-data module: its helpers are for tests by design.
FIXTURES = f"{PACKAGE}.fixtures"


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
    assert all(r in modules for r in ROOTS), sorted(set(ROOTS) - set(modules))
    return _reachable(modules, ROOTS)


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
        f"({', '.join(ROOTS)}): {unreached}"
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


def _referenced_names(tree: ast.AST, skip: tuple[ast.AST, ...] = ()) -> set[str]:
    """Every name ``tree`` refers to, outside the subtrees ``skip``: bare
    names, attribute names, imported names and identifier-shaped string
    constants (``__all__``, ``getattr`` targets)."""
    names: set[str] = set()
    stack = [tree]
    while stack:
        node = stack.pop()
        if node in skip:
            continue
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.alias):
            names.add(node.name.rsplit(".", 1)[-1])
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and node.value.isidentifier()):
            names.add(node.value)
        stack.extend(ast.iter_child_nodes(node))
    return names


def _public_definitions(tree: ast.Module):
    for node in tree.body:
        if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not node.name.startswith("_")):
            yield node


def _function_check() -> tuple[set[str], set[str]]:
    """(qualified names of every checked public definition, those of
    them that nothing outside ``tests/`` refers to)."""
    modules = _package_modules()
    trees = {name: ast.parse(path.read_text(), filename=str(path))
             for name, path in modules.items()}
    live = _entry_point_reach(modules) - RETIRED
    # A retired caller or a package re-export is not a use.
    refs = {name: _referenced_names(trees[name]) for name in live
            if modules[name].name != "__init__.py"}
    bench: set[str] = set()
    for path in (REPO / "perfbench").rglob("*.py"):
        bench |= _referenced_names(ast.parse(path.read_text(), filename=str(path)))
    checked, unused = set(), set()
    # The entry points' public names are the package's surface.
    for module in sorted(live - set(ROOTS) - {FIXTURES}):
        tree = trees[module]
        elsewhere = bench.union(*(r for m, r in refs.items() if m != module))
        defs = {node.name: node for node in _public_definitions(tree)}
        checked.update(f"{module}.{name}" for name in defs)
        # Used: named by another module, by this module's code outside
        # its public definitions, or by a used definition of this module.
        own = _referenced_names(tree, skip=tuple(defs.values()))
        used = set(defs) & (elsewhere | own)
        stack = list(used)
        while stack:
            for name in (_referenced_names(defs[stack.pop()]) & set(defs)) - used:
                used.add(name)
                stack.append(name)
        unused.update(f"{module}.{name}" for name in set(defs) - used)
    return checked, unused


def test_every_public_function_is_used_outside_tests():
    _, unused = _function_check()
    test_only = sorted(unused - TEST_ONLY)
    assert not test_only, (
        f"{len(test_only)} public function(s) or class(es) of reached modules "
        f"are referred to only by tests: {test_only}"
    )


def test_test_only_list_names_only_unused_definitions():
    checked, unused = _function_check()
    gone = sorted(TEST_ONLY - checked)
    assert not gone, f"deleted or no longer checked, take off TEST_ONLY: {gone}"
    used = sorted(TEST_ONLY - unused)
    assert not used, f"used outside tests, take off TEST_ONLY: {used}"
