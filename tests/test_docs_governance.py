"""Documentation-governance gates (no Spark session needed).

ADVICE.md resolution state (VERDICT r9 item 4): every medium+ advisor
finding must carry an explicit ``**Status ...**`` line (``fixed <commit>``
or ``rejected <why>``) so closure never has to be re-derived from source.
"""

import ast
import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from check_advice import unresolved  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_advice_medium_plus_findings_have_status():
    path = os.path.join(REPO, "ADVICE.md")
    if not os.path.exists(path):
        return
    with open(path) as fh:
        text = fh.read()
    bad = unresolved(text)
    assert not bad, (
        "ADVICE.md medium+ findings missing a **Status** line "
        f"(fixed <commit> / rejected <why>): {bad}"
    )


def test_checker_detects_missing_status():
    """The gate itself must not be vacuous."""
    text = (
        "- **medium** foo.py:1 — a problem\n  _fix it_\n"
        "- **low** bar.py:2 — minor\n"
        "- **high** baz.py:3 — bad\n  **Status (r10): fixed abc1234.**\n"
    )
    assert unresolved(text) == ["medium foo.py:1"]


def test_checker_chunk_ends_at_heading():
    """review r10: a trailing section containing the literal **Status
    (a legend, appended docs) must not mark the LAST open finding
    resolved — the chunk ends at the next heading."""
    text = (
        "- **high** baz.py:3 — bad, still open\n  _fix it_\n"
        "\n## Status legend\n\nFindings gain **Status** lines when closed.\n"
    )
    assert unresolved(text) == ["high baz.py:3"]


# Modules no other code imports, each with the reason it stays.
UNIMPORTED_BY_DESIGN = {
    # the CLI entry point: run as `python -m billing_data_pipeline_spark`
    "billing_data_pipeline_spark.__main__",
    # the broadcast checker tests/test_broadcast_guard.py runs over the
    # whole catalog; it inspects plans, it builds none
    "billing_data_pipeline_spark.plans.guard",
}

# Top-level definitions only tests reach, each with the reason it stays.
TEST_ONLY_BY_DESIGN = {
    "billing_data_pipeline_spark.operators.similarity.cosine_topk": (
        "the exact top-k reference that test_operators and "
        "test_scale_patterns compare the matmul, IVF and vectorized tiers "
        "against"
    ),
    "billing_data_pipeline_spark.plans.guard.forced_broadcast_violations": (
        "the catalog-wide broadcast check test_broadcast_guard runs"
    ),
}

PACKAGE = "billing_data_pipeline_spark"

# Code outside the package whose use of it counts; tests/ never does.
IMPORTER_TOPS = ("bench.py", "__spark_entry__.py", "perfbench", "tools")


def _module_name(path, root=REPO):
    rel = os.path.relpath(path, root)[: -len(".py")].split(os.sep)
    if rel[-1] == "__init__":
        rel = rel[:-1]
    return ".".join(rel)


def _py_files(top, root=REPO):
    if top.endswith(".py"):
        yield os.path.join(root, top)
        return
    for dirpath, dirnames, filenames in os.walk(os.path.join(root, top)):
        dirnames[:] = [d for d in dirnames if not d.startswith(".")]
        yield from (os.path.join(dirpath, f) for f in filenames if f.endswith(".py"))


def _parse(path):
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _package_of(path, root=REPO):
    name = _module_name(path, root)
    return name if path.endswith("__init__.py") else name.rpartition(".")[0]


def _from_base(node, package):
    """The absolute module a ``from ... import`` statement in ``package``
    imports from."""
    base = node.module or ""
    if node.level:
        parts = package.split(".")
        parts = parts[: len(parts) - node.level + 1]
        base = ".".join(parts + ([base] if base else []))
    return base


def _imported_modules(path):
    """Every dotted module an ``import`` or ``from`` statement anywhere in
    ``path`` (function bodies included) may load, with relative imports
    resolved and each parent package counted, as Python loads them."""
    package = _package_of(path)
    targets = []
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Import):
            targets += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = _from_base(node, package)
            targets.append(base)
            # `from pkg import name` loads pkg.name when it is a module
            targets += [f"{base}.{a.name}" for a in node.names]
    out = set()
    for t in targets:
        parts = t.split(".")
        out.update(".".join(parts[: i + 1]) for i in range(len(parts)))
    return out


def _importers(files, importer_tops, root=REPO):
    """The package's modules other than ``__init__.py``, then every file
    under ``importer_tops``."""
    return [p for p in files.values() if not p.endswith("__init__.py")] + [
        p for top in importer_tops for p in _py_files(top, root)
    ]


def test_every_package_module_has_an_importer():
    """A package module reachable only from tests is dead code: delete it
    with its tests, or give it a caller. Importers are the package itself,
    bench.py, __spark_entry__.py, perfbench/ and tools/. A package
    ``__init__.py`` is no importer: re-exporting a module is no use of it."""
    package = {_module_name(p): p for p in _py_files(PACKAGE)}
    imported = set()
    for p in _importers(package, IMPORTER_TOPS):
        imported |= _imported_modules(p) - {_module_name(p)}
    orphans = sorted(set(package) - imported - UNIMPORTED_BY_DESIGN)
    assert not orphans, f"package modules nothing outside tests/ imports: {orphans}"
    assert UNIMPORTED_BY_DESIGN <= set(package), "a listed exception no longer exists"


def _uses(path, modules, root):
    """The ``(module, name)`` pairs ``path`` takes from ``modules``: each
    ``from m import f`` that imports no submodule, and each ``a.f`` where
    ``a`` is bound to module ``m`` by an import anywhere in the file."""
    package = _package_of(path, root)
    tree = _parse(path)
    bound, uses = {}, set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                # `import a.b` binds `a`; `import a.b as x` binds `a.b`
                name = a.name if a.asname else a.name.partition(".")[0]
                bound[a.asname or name] = name
        elif isinstance(node, ast.ImportFrom):
            base = _from_base(node, package)
            for a in node.names:
                if f"{base}.{a.name}" in modules:
                    bound[a.asname or a.name] = f"{base}.{a.name}"
                else:
                    uses.add((base, a.name))

    def module_of(expr):
        if isinstance(expr, ast.Name):
            return bound.get(expr.id)
        if isinstance(expr, ast.Attribute):
            parent = module_of(expr.value)
            if f"{parent}.{expr.attr}" in modules:
                return f"{parent}.{expr.attr}"
        return None

    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute):
            m = module_of(node.value)
            if m is not None:
                uses.add((m, node.attr))
    return uses


def _reexports(path, modules, root):
    """``(package, name) -> (module, name)`` for each definition a package
    ``__init__.py`` imports from one of its modules."""
    package = _module_name(path, root)
    out = {}
    for node in _parse(path).body:
        if isinstance(node, ast.ImportFrom):
            base = _from_base(node, package)
            for a in node.names:
                if f"{base}.{a.name}" not in modules:
                    out[(package, a.asname or a.name)] = (base, a.name)
    return out


def _definitions(path):
    """The undecorated top-level functions and classes of ``path``, and the
    names the module references outside each definition's own body."""
    defs, referenced = set(), set()
    for stmt in _parse(path).body:
        names = {n.id for n in ast.walk(stmt) if isinstance(n, ast.Name)}
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.discard(stmt.name)
            if not stmt.decorator_list:
                defs.add(stmt.name)
        referenced |= names
    return defs, referenced


def _unreached_definitions(root, package, importer_tops):
    """Dotted names of the undecorated top-level functions and classes of
    ``package``'s modules that neither their own module nor any importer
    uses. Importers are the package's modules other than ``__init__.py``,
    whose re-exports are followed to the defining module, and the files
    under ``importer_tops``. Uses are resolved through imports, so a name
    that only matches another module's attribute is no use."""
    files = {_module_name(p, root): p for p in _py_files(package, root)}
    modules = set(files)
    inits = [p for p in files.values() if p.endswith("__init__.py")]
    reexports = {}
    for p in inits:
        reexports.update(_reexports(p, modules, root))
    used = set()
    for p in _importers(files, importer_tops, root):
        for use in _uses(p, modules, root):
            while use in reexports:
                use = reexports[use]
            used.add(use)
    unreached = []
    for name, p in files.items():
        if p not in inits:
            defs, referenced = _definitions(p)
            unreached += [
                f"{name}.{d}" for d in defs - referenced if (name, d) not in used
            ]
    return sorted(unreached)


def test_every_package_definition_has_a_caller():
    """A top-level function or class that only tests reach is dead code:
    delete it with its tests, give it a caller, or list it with its reason
    in TEST_ONLY_BY_DESIGN. Decorated definitions (the catalog's ``@register``
    query functions) count as reached."""
    unreached = set(_unreached_definitions(REPO, PACKAGE, IMPORTER_TOPS))
    orphans = sorted(unreached - set(TEST_ONLY_BY_DESIGN))
    stale = sorted(set(TEST_ONLY_BY_DESIGN) - unreached)
    assert not orphans and not stale, (
        f"package definitions nothing outside tests/ uses: {orphans}; "
        f"listed exceptions that are gone or now have a caller: {stale}"
    )


def test_definition_gate_resolves_imports(tmp_path):
    """The gate itself must not be vacuous: of a test-only def whose name
    matches another module's attribute, a def reached only through a
    package re-export and a def reached through a module alias, exactly
    the test-only one is flagged."""
    files = {
        "pkg/__init__.py": "from .text import normalize\n",
        "pkg/urls.py": "def parse_url(url):\n    return url.split('/')\n",
        "pkg/text.py": "def normalize(s):\n    return s.lower()\n",
        "pkg/store.py": "def load(path):\n    return open(path).read()\n",
        "bench.py": (
            "from pyspark.sql import functions as F\n"
            "from pkg import normalize\n"
            "from pkg import store as st\n"
            "print(F.parse_url('u', 'HOST'), normalize('X'), st.load('p'))\n"
        ),
        "tests/test_urls.py": "from pkg.urls import parse_url\n",
    }
    for rel, text in files.items():
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text(text)
    assert _unreached_definitions(str(tmp_path), "pkg", ("bench.py",)) == [
        "pkg.urls.parse_url"
    ]
