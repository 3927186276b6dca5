"""The ``billing_pipeline`` workload: the product's incremental ETL.

One cycle starts from an empty warehouse and a lake holding the backfill
days, then:

- backfill: ``BillingPipeline.run()`` ingests every backfill day;
- daily: each remaining day lands alone and is followed by ``run()``;
- no-op: one more ``run()`` finds nothing new.

Cycles repeat, each on a fresh warehouse, until the run's time is used and
at least one cycle is complete. Each ``run()`` is checked against the
generator's expectations from the metrics it returns; after the loop the
last cycle's warehouse is checked against a DuckDB recompute over the same
CSV files.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

from .common import Context, geomean, median, schedule, value_hash
from .lake import Lake, LakeSize, cached_lake, land
from .trace import self_time

with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "spec.json")) as _f:
    _INPUTS = json.load(_f)["billing_pipeline"]["inputs"]
SIZE = LakeSize(**_INPUTS["default"])
TINY = LakeSize(**_INPUTS["tiny"])
PHASES = ("backfill", "daily", "noop")

# per-run layer metrics; the no-op run never appends or records, so the
# metrics of those calls are reported for backfill and daily only
LAYER_KEYS = {
    "run_s": "s",
    "run_cpu_s": "s",
    "pipeline.ingest_s": "s",
    "pipeline.aggregates_s": "s",
    "pipeline.insights_s": "s",
    "ledger.scan_s": "s",
    "ledger.record_s": "s",
    "ledger.files_hashed": "count",
    "ledger.useful_hash_ratio": "ratio",
    "ingest.append_s": "s",
    "ingest.rows_appended": "count",
    "ingest.new_row_ratio": "ratio",
    "snapshot.commit_s": "s",
    "snapshot.vacuum_s": "s",
    "warehouse.raw_files": "count",
    "warehouse.bytes": "bytes",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
}
NOOP_SKIP = {
    "ledger.record_s",
    "ledger.useful_hash_ratio",
    "ingest.append_s",
    "ingest.rows_appended",
    "ingest.new_row_ratio",
}


def per_layer_names() -> dict[str, str]:
    names = {
        f"{p}.{k}": u
        for p in PHASES
        for k, u in LAYER_KEYS.items()
        if not (p == "noop" and k in NOOP_SKIP)
    }
    names["storage_amp"] = "bytes/byte"
    return names


def _data_files(path: str) -> int:
    """Data files under ``path``, hidden/underscore entries skipped."""
    files = 0
    for _, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        files += sum(not n.startswith((".", "_")) for n in names)
    return files


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, n))
        for root, _, names in os.walk(path)
        for n in names
    )


class Cycle:
    def __init__(self, ctx: Context, lake: Lake, index: int):
        from billing_data_pipeline_spark.pipeline import BillingPipeline

        self.dir = os.path.join(ctx.work, f"cycle{index}")
        self.lake_root = os.path.join(self.dir, "lake")
        self.pipe = BillingPipeline(ctx.spark, os.path.join(self.dir, "warehouse"))
        self.landed = 0
        self.index = index

    def land_until(self, lake: Lake, days: int) -> int:
        """Land days up to ``days``; returns the data rows newly landed."""
        rows = 0
        while self.landed < days:
            land(lake, self.lake_root, self.landed)
            rows += lake.rows_per_file[self.landed]
            self.landed += 1
        return rows


def _run_cycle(ctx: Context, lake: Lake, cycle: Cycle, times, traced_runs) -> bool:
    size = lake.size
    steps = [("backfill", size.backfill_days)]
    steps += [("daily", size.backfill_days + k + 1) for k in range(size.daily_days)]
    steps.append(("noop", size.days))
    before = 0
    report = None
    tracer = ctx.tracer
    for i, (phase, upto) in enumerate(steps):
        new_rows = cycle.land_until(lake, upto)
        expected = lake.unique_after[upto - 1] - before
        before = lake.unique_after[upto - 1]
        tracer.run_id = f"{phase}-c{cycle.index}-{i}"
        t0 = time.perf_counter()
        c0 = ctx.cpu.read()
        try:
            with tracer.span("run") as span:
                m = cycle.pipe.run(cycle.lake_root)
        except Exception as exc:  # a failed run is a failed operation
            ctx.check(False, f"{phase} run raised {type(exc).__name__}: {exc}"[:300])
            return False
        dt = time.perf_counter() - t0
        cpu = ctx.cpu.read() - c0
        ing = m["ingest"]
        ok = ing["rows_appended"] == expected
        if phase == "noop":
            ok = ok and ing["files_new_or_changed"] == 0
            ok = ok and m["report_markdown"] == report
        if not ctx.check(ok, f"{phase} run of cycle {cycle.index}: appended "
                         f"{ing['rows_appended']}, expected {expected}"):
            return False
        report = m["report_markdown"]
        times["wall"][phase].append(dt)
        times["cpu"][phase].append(cpu)
        print(f"# cycle {cycle.index} {phase}: {dt:.3f} s, cpu {cpu:.3f} s", file=sys.stderr)
        if span is not None:
            span.counts.update(
                {
                    "run_cpu_s": cpu,
                    "files_new": ing["files_new_or_changed"],
                    "rows_in_new_files": new_rows,
                    "warehouse.raw_files": _data_files(cycle.pipe.table_path("raw_billing")),
                    "warehouse.bytes": _tree_bytes(cycle.pipe.warehouse),
                }
            )
            traced_runs.append((phase, span))
    return True


# --- correctness against a DuckDB recompute ---------------------------------

# table -> (group columns, integer/distinct columns); total_usage rides along
AGGREGATES = {
    "daily_aggs": (
        ["year", "month", "day"],
        {
            "unique_users": "COUNT(DISTINCT user_id)",
            "unique_resources": "COUNT(DISTINCT resource_id)",
            "success_count": "SUM(CASE WHEN success THEN 1 ELSE 0 END)",
            "failure_count": "SUM(CASE WHEN NOT success THEN 1 ELSE 0 END)",
        },
    ),
    "user_aggs": (
        ["user_id"],
        {
            "unique_resources": "COUNT(DISTINCT resource_id)",
            "resource_types_used": "COUNT(DISTINCT resource_type)",
            "operation_types_used": "COUNT(DISTINCT operation_type)",
            "regions_used": "COUNT(DISTINCT region)",
        },
    ),
    "service_aggs": (
        ["service_tier", "resource_type", "operation_type"],
        {
            "unique_users": "COUNT(DISTINCT user_id)",
            "success_count": "SUM(CASE WHEN success THEN 1 ELSE 0 END)",
            "failure_count": "SUM(CASE WHEN NOT success THEN 1 ELSE 0 END)",
        },
    ),
    "region_aggs": (
        ["region"],
        {
            "unique_users": "COUNT(DISTINCT user_id)",
            "resource_types_used": "COUNT(DISTINCT resource_type)",
            "operation_types_used": "COUNT(DISTINCT operation_type)",
        },
    ),
}

_CSV_COLUMNS = (
    "{'timestamp': 'TIMESTAMP', 'resource_id': 'VARCHAR', 'user_id': 'VARCHAR', "
    "'credit_usage': 'DOUBLE', 'region': 'VARCHAR', 'service_tier': 'VARCHAR', "
    "'operation_type': 'VARCHAR', 'success': 'BOOLEAN', 'resource_type': 'VARCHAR', "
    "'invoice_id': 'VARCHAR', 'currency': 'VARCHAR'}"
)


def _oracle_raw_sql(lake_root: str) -> str:
    """raw_billing as the pipeline must build it: the first-landed copy of
    each natural key, plus every row with a NULL key column."""
    keys = "timestamp, resource_id, user_id, invoice_id"
    null_key = " OR ".join(f"{k} IS NULL" for k in keys.split(", "))
    return f"""
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY {keys} ORDER BY year, month, day) AS _rn
            FROM read_csv('{lake_root}/year=*/month=*/day=*/billing.csv',
                header = true, hive_partitioning = true,
                hive_types = {{'year': INTEGER, 'month': INTEGER, 'day': INTEGER}},
                columns = {_CSV_COLUMNS})
        ) WHERE _rn = 1 OR {null_key}
    """


def verify_warehouse(ctx: Context, cycle: Cycle, lake: Lake) -> None:
    from billing_data_pipeline_spark.plans._util import dsum_sql
    from billing_data_pipeline_spark.session import default_parallelism
    import duckdb

    pipe = cycle.pipe
    n = pipe.read("raw_billing").count()
    ctx.check(n == lake.unique_after[cycle.landed - 1],
              f"raw_billing holds {n} rows, expected {lake.unique_after[cycle.landed - 1]}")
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {default_parallelism()}")
        con.execute(f"CREATE TEMP VIEW raw AS {_oracle_raw_sql(cycle.lake_root)}")
        for table, (groups, ints) in AGGREGATES.items():
            cols = groups + ["transaction_count", "total_usage"] + list(ints)
            exprs = groups + [
                "COUNT(*) AS transaction_count",
                f"{dsum_sql('credit_usage')} AS total_usage",
            ] + [f"{e} AS {a}" for a, e in ints.items()]
            res = con.execute(
                f"SELECT {', '.join(exprs)} FROM raw GROUP BY {', '.join(groups)}"
            )
            want = res.fetchall()
            got = [tuple(r) for r in pipe.read(table).select(*cols).collect()]
            ctx.check(
                len(got) == len(want) and value_hash(cols, got) == value_hash(cols, want),
                f"{table}: {len(got)} rows vs {len(want)} recomputed, or values differ",
            )
    finally:
        con.close()


def _drop_one_raw_row(ctx: Context, cycle: Cycle) -> None:
    """Self-test hook: rewrite raw_billing without one of its rows."""
    path = cycle.pipe.table_path("raw_billing")
    df = ctx.spark.read.parquet(path)
    victim = df.orderBy("invoice_id", "timestamp").limit(1)
    tmp = path + ".tampered"
    df.exceptAll(victim).write.parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)


# --- the workload -------------------------------------------------------------


def _phase_layers(ctx: Context, traced_runs) -> dict[str, float]:
    tracer = ctx.tracer
    kids = tracer.children()
    per_phase: dict[str, dict[str, list[float]]] = {p: {} for p in PHASES}
    for phase, root in traced_runs:
        spans = tracer.subtree(root, kids)

        def total(name: str) -> float:
            return sum(s.duration for s in spans if s.name == name)

        def counted(key: str) -> float:
            return sum(s.counts.get(key, 0) for s in spans)

        hashed = counted("ledger.files_hashed")
        new_rows = root.counts["rows_in_new_files"]
        vals = {
            "run_s": root.duration,
            "run_cpu_s": root.counts["run_cpu_s"],
            "pipeline.ingest_s": total("pipeline.ingest"),
            "pipeline.aggregates_s": total("pipeline.aggregates"),
            "pipeline.insights_s": total("pipeline.insights"),
            "ledger.scan_s": sum(
                self_time(s, kids.get(s.id, [])) for s in spans if s.name == "pipeline.ingest"
            ),
            "ledger.record_s": total("ledger.record"),
            "ledger.files_hashed": hashed,
            "ledger.useful_hash_ratio": root.counts["files_new"] / hashed if hashed else 0.0,
            "ingest.append_s": total("ingest.append"),
            "ingest.rows_appended": counted("ingest.rows_appended"),
            "ingest.new_row_ratio": counted("ingest.rows_appended") / new_rows if new_rows else 0.0,
            "snapshot.commit_s": total("snapshot.commit"),
            "snapshot.vacuum_s": total("snapshot.vacuum"),
            "warehouse.raw_files": root.counts["warehouse.raw_files"],
            "warehouse.bytes": root.counts["warehouse.bytes"],
            "spark.jobs": counted("spark.jobs"),
            "spark.tasks": counted("spark.tasks"),
            "spark.failed_tasks": counted("spark.failed_tasks"),
        }
        for k, v in vals.items():
            per_phase[phase].setdefault(k, []).append(v)
    names = per_layer_names()
    return {
        f"{p}.{k}": median(vs)
        for p, d in per_phase.items()
        for k, vs in d.items()
        if f"{p}.{k}" in names
    }


def _summary(times, size: LakeSize) -> dict[str, float]:
    """Per-step medians and their cycle total and geometric mean, for wall
    time (``*_s``) and CPU time (``*_cpu_s``)."""
    out = {}
    for kind, suffix in (("wall", "_s"), ("cpu", "_cpu_s")):
        b, d, n = (median(times[kind][p]) for p in PHASES)
        out.update({
            f"backfill{suffix}": b,
            f"daily_run{suffix}": d,
            f"noop_run{suffix}": n,
            f"cycle{suffix}": b + size.daily_days * d + n,
            f"geomean{suffix}": geomean([b, d, n]),
        })
    return out


def run(ctx: Context, trace: bool) -> dict:
    """Measure the workload; returns the summary or, traced, the layers."""
    size = TINY if ctx.tiny else SIZE
    lake = cached_lake(os.path.join(ctx.cache, "lakes"), size, ctx.seed)
    cycles: list[dict[str, dict[str, list[float]]]] = []
    traced_runs: list = []
    last = None
    ctx.tracer.enabled = trace
    for index in schedule(ctx.seconds, trace):
        cycle = Cycle(ctx, lake, index)
        times = {kind: {p: [] for p in PHASES} for kind in ("wall", "cpu")}
        ok = _run_cycle(ctx, lake, cycle, times, traced_runs)
        cycles.append(times)
        if last is not None:
            shutil.rmtree(last.dir, ignore_errors=True)
        last = cycle
        if not ok:
            break
    ctx.tracer.enabled = False
    if ctx.tamper:
        _drop_one_raw_row(ctx, last)
    if last.landed == size.days:
        verify_warehouse(ctx, last, lake)
    amp = _tree_bytes(last.pipe.warehouse) / lake.csv_bytes(last.landed)
    print(f"# billing_pipeline: {len(cycles)} cycles, {size}, "
          f"{lake.csv_bytes() / 1e6:.1f} MB CSV", file=sys.stderr)

    if not trace:
        pooled = {
            kind: {p: [t for c in cycles for t in c[kind][p]] for p in PHASES}
            for kind in ("wall", "cpu")
        }
        return {"summary": {**_summary(pooled, size), "storage_amp": amp}}
    ctx.tracer.collect_spark_counts()
    layers = _phase_layers(ctx, traced_runs)
    layers["storage_amp"] = amp
    layers["trace.overhead_s"] = ctx.tracer.overhead
    return {"layers": layers}
