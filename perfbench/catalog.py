"""The ``catalog_mix`` workload: a fixed set of read-only catalog queries.

The query list and its operator families live in ``spec.json`` beside this
file, so a later change of the registry's ``bench`` tags cannot change the
workload. One untimed pass collects every query and checks its row count and
value hash against the DuckDB oracle's; it also warms the JIT. Timed passes
follow, each in a seed-permuted order, every query written to the ``noop``
sink, until the run's time is used and every query has been timed at least
once.

Oracle hashes depend only on the input tables. They are looked up by a
fingerprint of those tables, first in ``oracle_hashes.json`` beside this file,
then in the run cache; a miss computes them with DuckDB once and caches them.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys
import time

from .common import Context, geomean, median, schedule, value_hash

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(HERE, "spec.json")) as _f:
    SPEC = json.load(_f)["catalog_mix"]
QUERIES: list[str] = SPEC["queries"]
FAMILIES: dict[str, list[str]] = SPEC["families"]


def per_layer_names() -> dict[str, str]:
    names = {
        "catalog.pass_s": "s",
        "catalog.pass_cpu_s": "s",
        "catalog.geomean_s": "s",
        "catalog.build_s": "s",
        "catalog.exec_s": "s",
        "catalog.spark.jobs": "count",
        "catalog.spark.tasks": "count",
        "catalog.spark.failed_tasks": "count",
    }
    names.update({f"family.{f}_s": "s" for f in FAMILIES})
    names.update({f"q.{q}_s": "s" for q in QUERIES})
    return names


def fingerprint(sf_dir: str) -> str:
    h = hashlib.md5()
    for name in sorted(os.listdir(sf_dir)):
        path = os.path.join(sf_dir, name)
        if os.path.isfile(path):
            h.update(name.encode())
            with open(path, "rb") as f:
                for chunk in iter(lambda: f.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()


def compute_oracle_hashes(sf_dir: str) -> dict[str, list]:
    """[rows, value hash] per query from its DuckDB oracle."""
    from billing_data_pipeline_spark.registry import load_catalog
    from billing_data_pipeline_spark.sources.tables import duckdb_connect

    catalog = load_catalog()
    con = duckdb_connect(sf_dir)
    try:
        out = {}
        for q in QUERIES:
            res = con.execute(catalog[q].oracle)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            out[q] = [len(rows), value_hash(cols, rows)]
        return out
    finally:
        con.close()


def oracle_hashes(ctx: Context, sf_dir: str) -> dict[str, list]:
    fp = fingerprint(sf_dir)
    cached = os.path.join(ctx.cache, f"oracle-{fp}.json")
    for path in (os.path.join(HERE, "oracle_hashes.json"), cached):
        if os.path.exists(path):
            with open(path) as f:
                known = json.load(f)
            if fp in known and set(QUERIES) <= set(known[fp]):
                return known[fp]
    print(f"# computing oracle hashes for {sf_dir}", file=sys.stderr)
    hashes = compute_oracle_hashes(sf_dir)
    with open(cached + ".tmp", "w") as f:
        json.dump({fp: hashes}, f)
    os.replace(cached + ".tmp", cached)
    return hashes


def cold_pass(ctx: Context, sf_dir: str, order: list[str], expected) -> dict:
    """Each query's first run in the process, collected and checked against
    the oracle. Returns the wall and CPU time of building and collecting
    each query; the check is not timed."""
    from billing_data_pipeline_spark.registry import load_catalog

    catalog = load_catalog()
    times: dict[str, dict[str, float]] = {"wall": {}, "cpu": {}}
    for q in order:
        want_rows, want_hash = expected[q]
        if ctx.tamper and q == order[0]:
            want_hash = "0" * 32
        t0 = time.perf_counter()
        c0 = ctx.cpu.read()
        try:
            df = catalog[q].fn(ctx.spark, sf_dir)
            collected = df.collect()
        except Exception as exc:  # a failed query is a failed operation
            ctx.check(False, f"{q} raised {type(exc).__name__}: {exc}"[:300])
            continue
        times["cpu"][q] = ctx.cpu.read() - c0
        times["wall"][q] = time.perf_counter() - t0
        rows = [tuple(r) for r in collected]
        got = value_hash(df.columns, rows)
        ctx.check(len(rows) == want_rows and got == want_hash,
                  f"{q}: {len(rows)} rows / {got}, oracle {want_rows} / {want_hash}")
    return times


def testdata_dir(tiny: bool) -> str:
    """The testdata scale to read, beside the one the package's smoke check
    uses."""
    from __spark_entry__ import SMOKE_SF_DIR

    scale = SPEC["inputs"]["tiny" if tiny else "default"]["scale"]
    return os.path.join(os.path.dirname(SMOKE_SF_DIR), scale)


def run(ctx: Context, trace: bool) -> dict:
    from billing_data_pipeline_spark.registry import load_catalog

    catalog = load_catalog()
    sf = testdata_dir(ctx.tiny)
    rng = random.Random(ctx.seed)
    expected = oracle_hashes(ctx, sf)
    # the cold pass keeps the listed order: the first queries pay the
    # process's one-time costs, and a fixed order charges them to the same
    # queries in every run
    cold = cold_pass(ctx, sf, QUERIES, expected)

    tracer = ctx.tracer
    passes: list[dict[str, dict[str, float]]] = []
    traced_pass = None
    tracer.enabled = trace
    for index in schedule(ctx.seconds, trace, at_least=2):
        tracer.run_id = f"pass{index}"
        times, cpus = {}, {}
        with tracer.span("catalog.pass") as pass_span:
            for q in rng.sample(QUERIES, len(QUERIES)):
                t0 = time.perf_counter()
                c0 = ctx.cpu.read(jit=False)
                try:
                    with tracer.span(f"q.{q}"):
                        with tracer.span("catalog.build"):
                            df = catalog[q].fn(ctx.spark, sf)
                        with tracer.span("catalog.exec"):
                            df.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # a failed query is a failed operation
                    ctx.check(False, f"{q} raised {type(exc).__name__}: {exc}"[:300])
                    continue
                ctx.attempted += 1
                times[q] = time.perf_counter() - t0
                cpus[q] = ctx.cpu.read(jit=False) - c0
        if pass_span is not None:
            pass_span.counts["pass_cpu_s"] = sum(cpus.values())
            traced_pass = pass_span
        print(f"# pass {index}: {sum(times.values()):.3f} s, "
              f"cpu {sum(cpus.values()):.3f} s", file=sys.stderr)
        passes.append({"wall": times, "cpu": cpus})
        if ctx.failed:
            break
    tracer.enabled = False
    print(f"# catalog_mix: {len(passes)} timed passes over {len(QUERIES)} queries "
          f"at {sf}", file=sys.stderr)

    def summary(ps) -> dict[str, float]:
        """Sum and geometric mean of per-query medians over the timed passes
        (``catalog_*``, wall and CPU without JIT) and of the cold pass
        (``cycle_*`` and ``geomean_*``, wall and CPU)."""
        out = {}
        for kind, suffix in (("wall", "_s"), ("cpu", "_cpu_s")):
            meds = [median(p[kind][q] for p in ps if q in p[kind]) for q in QUERIES]
            firsts = [cold[kind].get(q, 0.0) for q in QUERIES]
            out.update({
                f"catalog_pass{suffix}": sum(meds),
                f"catalog_geomean{suffix}": geomean(meds),
                f"cycle{suffix}": sum(firsts),
                f"geomean{suffix}": geomean(firsts),
            })
        return out

    if not trace:
        return {"summary": summary(passes)}
    tracer.collect_spark_counts()
    layers = _layers(ctx, traced_pass)
    layers["trace.overhead_s"] = tracer.overhead
    return {"layers": layers}


def _layers(ctx: Context, root) -> dict[str, float]:
    tracer = ctx.tracer
    spans = tracer.subtree(root, tracer.children())
    q_time = {s.name[2:]: s.duration for s in spans if s.name.startswith("q.")}

    def counted(key: str) -> float:
        return sum(s.counts.get(key, 0) for s in spans)

    vals = {
        "catalog.pass_s": sum(q_time.values()),
        "catalog.pass_cpu_s": root.counts["pass_cpu_s"],
        "catalog.geomean_s": geomean(q_time.values()),
        "catalog.build_s": sum(s.duration for s in spans if s.name == "catalog.build"),
        "catalog.exec_s": sum(s.duration for s in spans if s.name == "catalog.exec"),
        "catalog.spark.jobs": counted("spark.jobs"),
        "catalog.spark.tasks": counted("spark.tasks"),
        "catalog.spark.failed_tasks": counted("spark.failed_tasks"),
    }
    for fam, qs in FAMILIES.items():
        vals[f"family.{fam}_s"] = sum(q_time.get(q, 0.0) for q in qs)
    for q, t in q_time.items():
        vals[f"q.{q}_s"] = t
    return vals
