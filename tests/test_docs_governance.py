"""Documentation-governance gates (no Spark session needed).

ADVICE.md resolution state (VERDICT r9 item 4): every medium+ advisor
finding must carry an explicit ``**Status ...**`` line (``fixed <commit>``
or ``rejected <why>``) so closure never has to be re-derived from source.
"""

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
    # user-facing sources MIGRATION.md points users to: the executor-side
    # URL fetch for endpoints with no Hadoop connector (SURVEY S2/S5) and
    # the Hive-partitioned lake writer; no package code writes or fetches
    # through them
    "billing_data_pipeline_spark.sources.http_csv_source",
    "billing_data_pipeline_spark.sources.partitioned_sink",
}


def _module_name(path):
    rel = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
    if rel[-1] == "__init__":
        rel = rel[:-1]
    return ".".join(rel)


def _py_files(top):
    if top.endswith(".py"):
        yield os.path.join(REPO, top)
        return
    for dirpath, dirnames, filenames in os.walk(os.path.join(REPO, top)):
        dirnames[:] = [d for d in dirnames if not d.startswith(".")]
        yield from (os.path.join(dirpath, f) for f in filenames if f.endswith(".py"))


def _imported_modules(path):
    """Every dotted module an ``import`` or ``from`` statement anywhere in
    ``path`` (function bodies included) may load, with relative imports
    resolved and each parent package counted, as Python loads them."""
    import ast

    name = _module_name(path)
    package = name if path.endswith("__init__.py") else name.rpartition(".")[0]
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    targets = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            targets += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = package.split(".")
                parts = parts[: len(parts) - node.level + 1]
                base = ".".join(parts + ([base] if base else []))
            targets.append(base)
            # `from pkg import name` loads pkg.name when it is a module
            targets += [f"{base}.{a.name}" for a in node.names]
    out = set()
    for t in targets:
        parts = t.split(".")
        out.update(".".join(parts[: i + 1]) for i in range(len(parts)))
    return out


def test_every_package_module_has_an_importer():
    """A package module reachable only from tests is dead code: delete it
    with its tests, or give it a caller. Importers are the package itself,
    bench.py, __spark_entry__.py, perfbench/ and tools/."""
    package = {_module_name(p): p for p in _py_files("billing_data_pipeline_spark")}
    importers = list(package.values()) + [
        p
        for top in ("bench.py", "__spark_entry__.py", "perfbench", "tools")
        for p in _py_files(top)
    ]
    imported = set()
    for p in importers:
        imported |= _imported_modules(p) - {_module_name(p)}
    orphans = sorted(set(package) - imported - UNIMPORTED_BY_DESIGN)
    assert not orphans, f"package modules nothing outside tests/ imports: {orphans}"
    assert UNIMPORTED_BY_DESIGN <= set(package), "a listed exception no longer exists"
