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

# Defaulted parameters only tests set: seams a test needs to reach an
# at-scale plan on a small fixture, each with its reason.
SET_BY_TESTS_BY_DESIGN = {
    "billing_data_pipeline_spark.__main__.main(argv)": (
        "the CLI reads sys.argv; test_cli passes its arguments"
    ),
    "billing_data_pipeline_spark.operators.similarity.stride_seed_rows"
    "(small_collect_bytes)": (
        "test_scale_patterns sets it to 0 to force the distributed seed pick"
    ),
    "billing_data_pipeline_spark.operators.text.doc_top_terms"
    "(max_broadcast_terms)": (
        "test_operators lowers it to force the distributed idf join"
    ),
    "billing_data_pipeline_spark.operators.text.doc_top_terms"
    "(stats_fallback_bytes)": (
        "test_operators moves it to force either side of the stats fallback"
    ),
    "billing_data_pipeline_spark.operators.dedup.editdist_overflow_blocks"
    "(block_cap)": "test_operators lowers it to fire the overflow path",
    "billing_data_pipeline_spark.operators.dedup.editdist_overflow_oracle_sql"
    "(block_cap)": "the oracle twin of the overflow seam above",
    "billing_data_pipeline_spark.operators.dedup.shingle_overflow_postings"
    "(shingle_cap)": "test_operators lowers it to fire the overflow path",
    "billing_data_pipeline_spark.operators.dedup.shingle_overflow_oracle_sql"
    "(shingle_cap)": "the oracle twin of the overflow seam above",
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


def _bindings(path, modules, root):
    """Names ``path`` binds by import, anywhere in the file, to a module
    (``name -> module``) or to a module attribute (``name -> (module, attr)``)."""
    package = _package_of(path, root)
    mods, attrs = {}, {}
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Import):
            for a in node.names:
                # `import a.b` binds `a`; `import a.b as x` binds `a.b`
                name = a.name if a.asname else a.name.partition(".")[0]
                mods[a.asname or name] = name
        elif isinstance(node, ast.ImportFrom):
            base = _from_base(node, package)
            for a in node.names:
                if f"{base}.{a.name}" in modules:
                    mods[a.asname or a.name] = f"{base}.{a.name}"
                else:
                    attrs[a.asname or a.name] = (base, a.name)
    return mods, attrs


def _module_of(expr, mods, modules):
    """The module ``expr`` (a name or a dotted attribute chain) is bound to."""
    if isinstance(expr, ast.Name):
        return mods.get(expr.id)
    if isinstance(expr, ast.Attribute):
        parent = _module_of(expr.value, mods, modules)
        if f"{parent}.{expr.attr}" in modules:
            return f"{parent}.{expr.attr}"
    return None


def _uses(path, modules, root):
    """The ``(module, name)`` pairs ``path`` takes from ``modules``: each
    ``from m import f`` that imports no submodule, and each ``a.f`` where
    ``a`` is bound to module ``m`` by an import anywhere in the file."""
    mods, attrs = _bindings(path, modules, root)
    uses = set(attrs.values())
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Attribute):
            m = _module_of(node.value, mods, modules)
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
    """The undecorated top-level functions and classes of ``path``, the
    names its top-level ``NAME = ...`` statements bind, and the names the
    module references outside each definition's own statement."""
    defs, referenced = set(), set()
    for stmt in _parse(path).body:
        names = {n.id for n in ast.walk(stmt) if isinstance(n, ast.Name)}
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.discard(stmt.name)
            if not stmt.decorator_list:
                defs.add(stmt.name)
        elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
            targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
            bound = {t.id for t in targets if isinstance(t, ast.Name)}
            names -= bound
            defs |= bound
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


def _defaulted(fn, method):
    """The parameters of ``fn`` in calling order (``self`` dropped from a
    method), and the names of those that carry a default."""
    a = fn.args
    positional = [p.arg for p in a.posonlyargs + a.args]
    defaulted = positional[len(positional) - len(a.defaults) :]
    defaulted += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return (positional[1:] if method else positional), defaulted


def _signatures(path):
    """``{(qualname, is_method): fn}`` for the undecorated top-level
    functions of ``path`` and the methods of its top-level classes."""
    out = {}
    for stmt in _parse(path).body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if not stmt.decorator_list:
                out[(stmt.name, False)] = stmt
        elif isinstance(stmt, ast.ClassDef):
            for m in stmt.body:
                if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    out[(f"{stmt.name}.{m.name}", True)] = m
    return out


def _unset_parameters(root, package, importer_tops, skip=()):
    """``module.func(param)`` for each defaulted parameter of the package's
    undecorated top-level functions and class methods that no importer's
    call sets. A call sets a parameter by keyword or by position; a ``*`` or
    ``**`` splat sets them all, and so does any use of the function as a
    value. Calls resolve through imports and package re-exports;
    ``Cls(...)`` sets ``Cls.__init__``, and ``x.m(...)`` every method ``m``,
    since the receiver's type is unknown. ``skip`` holds dotted definitions
    left out of the scan."""
    files = {_module_name(p, root): p for p in _py_files(package, root)}
    modules = set(files)
    inits = [p for p in files.values() if p.endswith("__init__.py")]
    reexports = {}
    for p in inits:
        reexports.update(_reexports(p, modules, root))
    sigs, methods = {}, {}
    for name, p in files.items():
        if p in inits:
            continue
        for (qual, method), fn in _signatures(p).items():
            if f"{name}.{qual}" in skip:
                continue
            sigs[(name, qual)] = _defaulted(fn, method)
            if method:
                methods.setdefault(qual.rpartition(".")[2], []).append((name, qual))
    set_ = set()

    def mark(target, call):
        positional, defaulted = sigs[target]
        if call is None or any(isinstance(a, ast.Starred) for a in call.args) or any(
            k.arg is None for k in call.keywords
        ):
            names = defaulted
        else:
            names = positional[: len(call.args)] + [k.arg for k in call.keywords]
        set_.update((target, n) for n in names)

    for p in _importers(files, importer_tops, root):
        mods, attrs = _bindings(p, modules, root)
        own = _module_name(p, root) if p in files.values() else None

        def resolve(expr):
            """The ``(module, qualname)`` targets ``expr`` may name."""
            if isinstance(expr, ast.Name) and expr.id in attrs:
                key = attrs[expr.id]
            elif isinstance(expr, ast.Name) and own:
                key = (own, expr.id)
            elif isinstance(expr, ast.Attribute):
                mod = _module_of(expr.value, mods, modules)
                if mod is None:
                    return methods.get(expr.attr, [])
                key = (mod, expr.attr)
            else:
                return []
            while key in reexports:
                key = reexports[key]
            init = (key[0], f"{key[1]}.__init__")
            return [k for k in (key, init) if k in sigs]

        tree = _parse(p)
        callees = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                callees.add(id(node.func))
                for target in resolve(node.func):
                    mark(target, node)
        for node in ast.walk(tree):
            loaded = isinstance(node, ast.Attribute) or (
                isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load)
            )
            if loaded and id(node) not in callees:
                for target in resolve(node):
                    mark(target, None)
    return sorted(
        f"{m}.{q}({n})"
        for (m, q), (_, defaulted) in sigs.items()
        for n in defaulted
        if ((m, q), n) not in set_
    )


def _parameter_findings(root, package, importer_tops, allowed, skip=()):
    """The defaulted parameters no importer sets that ``allowed`` does not
    list, and the ``allowed`` entries that an importer now sets or that no
    test sets."""
    unset = set(_unset_parameters(root, package, importer_tops, skip))
    unset_by_tests = set(
        _unset_parameters(root, package, (*importer_tops, "tests"), skip)
    )
    return sorted(unset - set(allowed)), sorted(set(allowed) - (unset - unset_by_tests))


def test_every_defaulted_parameter_has_a_setter():
    """A default no caller outside tests/ overrides is a constant: drop the
    parameter and read a module constant, delete the branch only another
    value reaches, or list a seam tests need in SET_BY_TESTS_BY_DESIGN.
    Definitions in TEST_ONLY_BY_DESIGN are skipped."""
    orphans, stale = _parameter_findings(
        REPO, PACKAGE, IMPORTER_TOPS, SET_BY_TESTS_BY_DESIGN, set(TEST_ONLY_BY_DESIGN)
    )
    assert not orphans and not stale, (
        f"defaulted parameters nothing outside tests/ sets: {orphans}; "
        f"listed seams that now have a setter or no test sets: {stale}"
    )


def _write_tree(root, files):
    for rel, text in files.items():
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        (root / rel).write_text(text)


def test_parameter_gate_resolves_setters(tmp_path):
    """The parameter gate must not be vacuous: of parameters set by
    keyword through ``from m import f``, by position through a module
    alias, through a package re-export, on a function passed as a value,
    behind a ``**kwargs`` splat, by ``Cls(...)`` and by ``obj.m(x=1)``,
    and one set only by a test, exactly the test-only one is flagged; an
    allowlisted parameter that has a setter, or that no test sets, is
    reported."""
    core = (
        "def keyed(a, b=1):\n    return a\n"
        "def positional(a, b=1):\n    return a\n"
        "def exported(a, *, b=1):\n    return a\n"
        "def callback(a, b=1):\n    return a\n"
        "def splatted(a, b=1):\n    return a\n"
        "def test_only(a, b=1):\n    return a\n"
        "class Store:\n"
        "    def __init__(self, path='p'):\n        self.path = path\n"
        "    def put(self, k, x=0):\n        return k\n"
    )
    _write_tree(
        tmp_path,
        {
            "pkg/__init__.py": "from .core import exported\n",
            "pkg/core.py": core,
            "pkg/user.py": (
                "from .core import keyed\n"
                "from . import core as c\n"
                "def run(**kw):\n"
                "    keyed(1, b=2)\n"
                "    c.positional(1, 2)\n"
                "    c.splatted(1, **kw)\n"
                "    return list(map(c.callback, [1]))\n"
            ),
            "bench.py": (
                "from pkg import exported\n"
                "from pkg.core import Store\n"
                "exported(1, b=3)\n"
                "Store(path='q').put('k', x=1)\n"
            ),
            "tests/test_core.py": (
                "from pkg.core import test_only\nassert test_only(1, b=2) == 1\n"
            ),
        },
    )
    root, tops = str(tmp_path), ("bench.py",)
    assert _unset_parameters(root, "pkg", tops) == ["pkg.core.test_only(b)"]
    seam = {"pkg.core.test_only(b)": "a seam"}
    assert _parameter_findings(root, "pkg", tops, seam) == ([], [])
    assert _parameter_findings(root, "pkg", tops, {**seam, "pkg.core.keyed(b)": ""}) == (
        [],
        ["pkg.core.keyed(b)"],
    )
    (tmp_path / "pkg/core.py").write_text(core + "def never(a, b=1):\n    return a\n")
    assert _parameter_findings(root, "pkg", tops, seam) == (["pkg.core.never(b)"], [])
    assert _parameter_findings(root, "pkg", tops, {**seam, "pkg.core.never(b)": ""}) == (
        [],
        ["pkg.core.never(b)"],
    )


def test_definition_gate_resolves_imports(tmp_path):
    """The gate itself must not be vacuous: of a test-only def whose name
    matches another module's attribute, a def reached only through a
    package re-export, a def reached through a module alias, a constant
    its own module reads and a constant only a test reads, exactly the
    test-only ones are flagged."""
    files = {
        "pkg/__init__.py": "from .text import normalize\n",
        "pkg/urls.py": "SEP = '/'\ndef parse_url(url):\n    return url.split('/')\n",
        "pkg/text.py": "def normalize(s):\n    return s.lower()\n",
        "pkg/store.py": (
            "MODE: str = 'r'\n"
            "def load(path):\n    return open(path, MODE).read()\n"
        ),
        "bench.py": (
            "from pyspark.sql import functions as F\n"
            "from pkg import normalize\n"
            "from pkg import store as st\n"
            "print(F.parse_url('u', 'HOST'), normalize('X'), st.load('p'))\n"
        ),
        "tests/test_urls.py": "from pkg.urls import SEP, parse_url\n",
    }
    _write_tree(tmp_path, files)
    assert _unreached_definitions(str(tmp_path), "pkg", ("bench.py",)) == [
        "pkg.urls.SEP",
        "pkg.urls.parse_url",
    ]
