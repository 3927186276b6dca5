#!/usr/bin/env python
"""Headline benchmark: runs the bench-tagged catalog queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed to FULL materialization of every result column: the
Spark side writes to the `noop` sink (all columns computed and serialized to
InternalRow, nothing shipped to the driver), the DuckDB side fetches the
complete Arrow result table. A bare count() would let Catalyst prune the
aggregate expressions and value columns out of the timed plan — measuring
Spark doing strictly less work than the baseline — and fetchall() would
charge DuckDB for per-row Python object construction that Spark's sink
never pays; noop-write vs arrow-fetch is the symmetric footing (review r4).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from billing_data_pipeline_spark.registry import load_catalog
from billing_data_pipeline_spark.session import dir_input_bytes, get_spark, input_sized_conf


def _trailing_floor_median(sf) -> float | None:
    """Median spark_scan_sec across prior rounds' BENCH_r*.json artifacts
    AT THE SAME SF — the trailing baseline the load gate compares this
    run's calibration probe against (VERDICT r9 item 3: a probe >25% over
    its own history means the box is loaded and the artifact would fail
    the gate on noise). Same-sf only: the probe scans the fact table, so
    an sf0.001 dev run against sf0.1 history would always 'pass'."""
    import glob
    import re
    import statistics

    root = os.path.dirname(os.path.abspath(__file__))
    vals: list[float] = []
    for path in sorted(glob.glob(os.path.join(root, "BENCH_r*.json"))):
        # driver artifacts only — bench's own BENCH_r{N}_detail.json also
        # matches the glob and must not feed the median it is gated by
        # (review r10: they were excluded only by lacking a 'parsed' key)
        if not re.search(r"BENCH_r(\d+)\.json$", os.path.basename(path)):
            continue
        try:
            with open(path) as fh:
                doc = json.load(fh)
        except (OSError, ValueError):
            continue
        parsed = doc.get("parsed") if isinstance(doc, dict) else None
        if not isinstance(parsed, dict) or parsed.get("sf") != sf:
            continue
        cal = parsed.get("calibration")
        if isinstance(cal, dict):
            v = cal.get("spark_scan_sec")
            if isinstance(v, (int, float)) and v > 0:
                vals.append(float(v))
    return statistics.median(vals) if vals else None


def _scan_probe(spark, sf_dir: str, runs: int = 5) -> float | None:
    """min-of-N trivial single-column fact scan to the noop sink — the
    Spark half of the fixed calibration pair. Factored out (VERDICT r10
    item 2) so the SAME probe can run at start/middle/end of the query
    loop: the r10 driver artifact was captured after a 150 s load-gate
    wait with a clean start probe, yet every wall came out ~1.47x the
    builder's quiet capture — contention arrived MID-run and a
    start-only sample could not prove it. Three samples make a
    contaminated capture self-evident from the artifact alone."""
    try:
        probe_df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey"
        )
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            probe_df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return best
    except Exception:
        # a dataset without the fact table must not destroy the artifact —
        # the probe (and the ratio table that depends on it) is diagnostic
        return None


def _loadavg_1m() -> float | None:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:
        return None


def _next_round() -> int | None:
    """1 + the highest existing BENCH_r*.json round — the round number the
    driver will stamp on THIS run's artifact, so bench.py can persist
    BENCH_r{N}_detail.json itself (VERDICT r9 item 5: the latest-only detail
    file loses per-round ratio history outside git)."""
    import glob
    import re

    root = os.path.dirname(os.path.abspath(__file__))
    rounds = []
    for path in glob.glob(os.path.join(root, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", os.path.basename(path))
        if m:
            rounds.append(int(m.group(1)))
    return max(rounds) + 1 if rounds else None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    # Box-load gate (VERDICT r9 item 3): the r9 loaded-box sample (2.40x,
    # 1-min load 1.9) showed an artifact captured under load fails the 2x
    # gate on noise alone. Wait for the 1-min loadavg to drop below the
    # threshold before measuring anything; give up after the budget and
    # record that the artifact is load-contaminated rather than blocking
    # the driver forever.
    load_max = float(os.environ.get("SPARK_GRAFT_LOAD_MAX", "0.5"))
    load_wait_budget = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT_SEC", "300"))
    load_waited = 0.0
    try:
        load_1m = os.getloadavg()[0]
        while load_1m > load_max and load_waited < load_wait_budget:
            print(
                f"# load gate: 1-min loadavg {load_1m:.2f} > {load_max}, "
                f"waiting 30s ({load_waited:.0f}s/{load_wait_budget:.0f}s)",
                file=sys.stderr,
            )
            time.sleep(30)
            load_waited += 30
            load_1m = os.getloadavg()[0]
    except OSError:
        load_1m = None
    catalog = load_catalog()
    bench_specs = {n: s for n, s in sorted(catalog.items()) if s.bench}

    # Size the shuffle from the input's file statistics (see
    # session.input_sized_conf): static partition count + AQE off below
    # 1 GiB, AQE back on with 2x-cores partitions above it.
    spark = get_spark(
        app_name="bdp-spark-bench",
        extra_conf=input_sized_conf(dir_input_bytes(sf_dir)),
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # session warm-up

    # NO dimension-table cache here (r11): the bench contract requires
    # every timed invocation to compute from the parquet inputs — pinning
    # base tables in the columnar cache outside the timed region (the old
    # "warm-warehouse posture", r4-r10) pre-materializes part of the
    # queries' work. The bench scans dims per run like everything else
    # (measured cost ~10-40 ms on the dim-join rows; the per-query warm-up
    # still provides OS page-cache warmth, which is the same footing the
    # DuckDB baseline gets from its own warm runs).

    # Start-of-run calibration probe (VERDICT r10 item 2): first of the
    # three start/middle/end samples. The min across all three is the
    # session's job floor; their SPREAD is the contamination detector.
    probe_samples: dict[str, float] = {}
    load_samples: dict[str, float] = {}
    p = _scan_probe(spark, sf_dir)
    if p is not None:
        probe_samples["start"] = round(p, 5)
    l = _loadavg_1m()
    if l is not None:
        load_samples["start"] = l

    # Per-query warm-up IMMEDIATELY before its timed run: whole-stage
    # codegen compilation + JIT cost ~1-2 s per novel plan shape, and
    # Spark's compiled-class cache is bounded (~100 entries), so warming all
    # queries up front evicts the early ones again (measured: minhash 2.4 s
    # with batch warm-up vs 0.4 s with adjacent warm-up). Warm on the bench
    # data itself: one untimed run takes the generated loops to C2 and
    # pulls the parquet into page cache, so the timed region measures
    # steady-state engine execution — the same warm-vs-warm footing as the
    # DuckDB comparison table in PLANS.md (a cold first run measures the
    # JIT compiler, not the plan; measured steady state is ~2x faster than
    # a sf0.01-warmed first run).
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", sf_dir)
    warm = os.path.isdir(warm_dir)

    timings: dict[str, float] = {}
    job_counts: dict[str, int] = {}
    query_errors: dict[str, str] = {}
    query_loads: dict[str, float] = {}
    total = 0.0
    mid_index = len(bench_specs) // 2
    for q_index, (name, spec) in enumerate(bench_specs.items()):
        if q_index == mid_index and q_index > 0:
            # mid-run calibration sample (VERDICT r10 item 2) — ~0.3 s of
            # probe cost buys mid-run contention visibility
            p = _scan_probe(spark, sf_dir, runs=3)
            if p is not None:
                probe_samples["mid"] = round(p, 5)
            l = _loadavg_1m()
            if l is not None:
                load_samples["mid"] = l
        if warm:
            try:
                # warm with the SAME terminal operator as the timed loop so
                # whole-stage codegen compiles the un-pruned plan
                spec.fn(spark, warm_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:
                pass
        # best-of-3 timed runs: single-shot numbers at these (sub-second)
        # magnitudes carry ±0.2-0.5 s of GC/JIT/scheduler noise per query,
        # which dominates round-over-round comparisons; the min of three
        # warm runs measures the plan, not the jitter.
        best = float("inf")
        try:
            for run in range(3):
                if run == 2:
                    # count Spark jobs launched by ONE materialization (the
                    # last timed run rides a job group) — the denominator
                    # the floor-bound classifier below multiplies by
                    spark.sparkContext.setJobGroup(f"bench:{name}", name)
                t0 = time.perf_counter()
                df = spec.fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
                if run == 2:
                    spark.sparkContext.setJobGroup("bench:idle", "")
                    tracker = spark.sparkContext.statusTracker()
                    job_counts[name] = len(
                        tracker.getJobIdsForGroup(f"bench:{name}")
                    )
            rows = df.count()  # untimed, diagnostic only
        except Exception as exc:  # report per-query, keep the artifact
            query_errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            print(f"# {name}: FAILED {query_errors[name]}", file=sys.stderr)
            continue
        timings[name] = round(best, 4)
        total += best
        # per-row 1-min loadavg at query completion (VERDICT r10 item 2).
        # Bench's own 32 threads contribute, so the absolute value runs
        # 3-15 by construction mid-run; the signal is RELATIVE — a row
        # whose load reads far above its neighbors' band marks where
        # external contention arrived.
        l = _loadavg_1m()
        if l is not None:
            query_loads[name] = l
        print(f"# {name}: {best:.3f}s ({rows} rows)", file=sys.stderr)

    # DuckDB co-measure (same parquet, same warm-session footing): per-query
    # oracle seconds, so the round artifact carries a machine-readable
    # Spark/DuckDB ratio instead of depending on PLANS.md prose. Disable
    # with SPARK_GRAFT_NO_BASELINE=1.
    baseline: dict[str, float] = {}
    baseline_errors: list[str] = []
    baseline_fatal: str | None = None
    duckdb_cal: float | None = None
    if not os.environ.get("SPARK_GRAFT_NO_BASELINE"):
        con = None
        try:
            from billing_data_pipeline_spark.plans._util import de_instrument_sql
            from billing_data_pipeline_spark.sources.tables import duckdb_connect

            con = duckdb_connect(sf_dir)
            for name, spec in bench_specs.items():
                if name in query_errors:
                    # the Spark side failed and contributed 0 s to `value`
                    # — timing its oracle anyway would keep the cost in
                    # baseline_total while dropping it from the Spark
                    # total, skewing the headline ratio in Spark's favor
                    # (review r5)
                    continue
                # bench_baseline_sql: same-ALGORITHM DuckDB twin for queries
                # whose correctness oracle deliberately recomputes from
                # scratch (see registry.QuerySpec) — result-identical,
                # asserted in tests/test_oracle_parity.py. Either way the
                # timed SQL is de-instrumented: the parity-only per-row
                # STRING->DECIMAL route costs DuckDB 10-100x on scan-heavy
                # sums and would inflate the co-measure in Spark's favor
                # (result-identical on bench data, asserted in the same
                # test module).
                raw_sql = spec.bench_baseline_sql or spec.oracle
                if not raw_sql:
                    continue
                try:
                    baseline_sql = de_instrument_sql(raw_sql)
                    # full-materialization fetch (Arrow table: every value
                    # computed, no per-row Python objects — the symmetric
                    # twin of the Spark noop write above)
                    con.execute(baseline_sql).fetch_arrow_table()  # warm
                    # min-of-3, matching the Spark loop above and the
                    # documented protocol (PLANS.md / tools/audit_plans.py)
                    best = float("inf")
                    for _ in range(3):
                        t0 = time.perf_counter()
                        con.execute(baseline_sql).fetch_arrow_table()
                        best = min(best, time.perf_counter() - t0)
                    baseline[name] = round(best, 4)
                except Exception:
                    # surfaced in the artifact: a dropped query must not
                    # silently shrink the baseline the totals compare against
                    baseline_errors.append(name)
            # DuckDB half of the fixed calibration pair (VERDICT r8
            # item 2): one canonical scan-agg, identical every round, so
            # cross-round ratio drift on this box (±15-25% Spark-wall
            # swings while cache-resident DuckDB barely moves) can be
            # normalized mechanically instead of re-litigated in prose.
            try:
                cal_sql = (
                    "SELECT l_returnflag, count(*) AS n, "
                    "sum(l_quantity) AS s FROM lineitem GROUP BY l_returnflag"
                )
                con.execute(cal_sql).fetch_arrow_table()  # warm
                best = float("inf")
                for _ in range(5):
                    t0 = time.perf_counter()
                    con.execute(cal_sql).fetch_arrow_table()
                    best = min(best, time.perf_counter() - t0)
                duckdb_cal = round(best, 5)
            except Exception:
                duckdb_cal = None
        except Exception as exc:
            # loop-level failure: keep whatever was measured, record why
            # the rest is missing (a silently-partial baseline would skew
            # the headline ratio with no trace in the artifact)
            baseline_fatal = f"{type(exc).__name__}: {exc}"[:200]
        finally:
            if con is not None:
                con.close()

    # Measured per-job floor for THIS machine/session: ONE trivial job of
    # the same shape the bench queries are built from — a single-column
    # scan of the largest fact table, noop-written (job launch + real
    # scan-task round trip on warm page cache; a synthetic range/shuffle
    # probe measures ~2x lower because it touches no file source, and an
    # empty action ~6x lower). Queries within one such floor PER JOB are
    # dominated by fixed per-job cost, not plan work — the artifact flags
    # them so a >2x DuckDB ratio on a 0.15 s query reads as the floor
    # artifact it is (VERDICT r5 #8); tools/scale_probe.py carries the
    # flat-growth evidence. At harness scale this floor is overhead; at
    # real scale the same probe grows with the data and nothing sub-ratio
    # gets flagged — exactly the intended semantics.
    # The same probe doubles as the Spark half of the calibration pair
    # (min-of-5 to match the DuckDB half above).
    trailing: float | None = None
    p = _scan_probe(spark, sf_dir)
    if p is not None:
        probe_samples["end"] = round(p, 5)
    l = _loadavg_1m()
    if l is not None:
        load_samples["end"] = l
    # the floor is the session's BEST observed trivial job — min across
    # the start/mid/end samples (a loaded end probe must not inflate the
    # floor-bound classification of queries measured earlier)
    floor = min(probe_samples.values()) if probe_samples else float("inf")
    if floor != float("inf"):
        # second half of the load gate (VERDICT r9 item 3): a probe >25%
        # over its trailing cross-round median means the box is loaded
        # RIGHT NOW even if loadavg looked fine at start — retry once
        # after a settle pause, keep the min, warn if still above.
        trailing = _trailing_floor_median(
            float(sf) if sf.replace(".", "").isdigit() else sf
        )
        if trailing is not None and floor > 1.25 * trailing:
            print(
                f"# load gate: spark probe {floor:.4f}s > 1.25x trailing "
                f"median {trailing:.4f}s — settling 15s and re-probing",
                file=sys.stderr,
            )
            time.sleep(15)
            p = _scan_probe(spark, sf_dir)
            if p is not None:
                probe_samples["settle"] = round(p, 5)
                floor = min(floor, p)

    out = {
        "metric": "bench_total_sec",
        "value": round(total, 4),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # Harness-methodology version (ADVICE r11): 1 = r4-r10 (dim-table
        # columnar cache pinned outside the timed region), 2 = r11+ (cache
        # removed — every timed invocation computes from the parquet
        # inputs). Machine-readable so cross-round ratio comparisons can
        # detect the footing change without reading VERDICT prose.
        "harness_version": 2,
    }
    if query_errors:
        out["query_errors"] = query_errors
    if baseline:
        out["baseline_engine"] = "duckdb"
        out["baseline_queries"] = baseline
        out["baseline_total_sec"] = round(sum(baseline.values()), 4)
        if floor != float("inf"):
            out["job_floor_sec"] = round(floor, 4)
        ratio_table = []
        for name in timings:
            if name not in baseline or baseline[name] <= 0:
                continue
            spec = bench_specs[name]
            is_stream = any("stream" in t for t in spec.tags)
            row = {
                "query": name,
                "spark_sec": timings[name],
                "duckdb_sec": baseline[name],
                "ratio": round(timings[name] / baseline[name], 2),
            }
            if name in query_loads:
                row["load_1m"] = query_loads[name]
            if is_stream:
                # StreamExecution overrides the thread-local job group, so
                # job counting is blind to micro-batch jobs — n_jobs /
                # floor_bound would be wrong; the stream_floor marker (a
                # drain carries the 0.6-0.8 s micro-batch floor) is the
                # honest classification for these rows (review r6)
                row["stream_floor"] = True
            elif floor != float("inf"):
                n_jobs = max(1, job_counts.get(name, 1))
                row["n_jobs"] = n_jobs
                # within one measured trivial-scan floor per job: fixed
                # overhead dominates (see floor probe comment above)
                row["floor_bound"] = timings[name] <= n_jobs * floor
            ratio_table.append(row)
        out["ratio_table"] = sorted(
            ratio_table, key=lambda r: -r["ratio"]
        )
    if baseline_errors:
        # emitted even when EVERY oracle failed — a silently-empty
        # baseline must be distinguishable from a disabled one
        out["baseline_errors"] = baseline_errors
    if baseline_fatal:
        out["baseline_fatal"] = baseline_fatal
    # Fixed calibration pair (VERDICT r8 item 2): raw seconds of the two
    # canonical probes ride the FINAL compact line (~120 bytes — survives
    # the driver's tail window), so any round's ratios can be
    # drift-normalized against any other round's mechanically:
    # normalized_ratio = (spark_total / spark_cal) / (duckdb_total /
    # duckdb_cal) — each engine's wall in units of its own fixed probe.
    cal: dict[str, float] = {}
    if floor != float("inf"):
        cal["spark_scan_sec"] = round(floor, 5)
    # `is not None`, not truthiness (review r9): a warmed min-of-5 that
    # rounds to 0.0 is a measurement, not a failed probe
    if duckdb_cal is not None:
        cal["duckdb_scanagg_sec"] = duckdb_cal
    if cal:
        # explicit missing-probe AND divide-by-zero guards (ADVICE r9:
        # the gate below used truthiness on duckdb_cal and no zero guard
        # on floor, contradicting the is-not-None rule just stated)
        if (
            baseline
            and floor != float("inf")
            and floor > 0
            and duckdb_cal is not None
            and duckdb_cal > 0
        ):
            # SAME query set on both sides (review r9): queries whose
            # oracle errored contribute spark seconds but no duckdb
            # seconds — summing `total` against a shrunken baseline
            # would re-introduce the cross-round incomparability this
            # normalizer exists to remove
            spark_matched = sum(
                timings[q] for q in baseline if q in timings
            )
            bt = sum(baseline.values())
            if bt > 0 and spark_matched > 0:
                cal["normalized_ratio"] = round(
                    (spark_matched / floor) / (bt / duckdb_cal), 3
                )
        # load-gate evidence rides the compact final line (VERDICT r9
        # item 3: "BENCH_r10.json records loadavg and the artifact was
        # captured under the threshold")
        # the value at gate exit, BEFORE the session spun up — bench's own
        # 32 threads drive the end-of-run loadavg to 5-15 by construction,
        # so a fresh reading here would always read "contaminated"
        if load_1m is not None:
            cal["loadavg_1m"] = round(load_1m, 2)
        if load_waited:
            cal["load_gate_waited_sec"] = round(load_waited, 0)
        # mechanical mid-run-contention verdict (VERDICT r10 item 2): a
        # mid/end trivial-scan probe >25% over the start probe means
        # contention arrived DURING the run — exactly the BENCH_r10.json
        # failure mode (clean start probe, walls 1.47x a quiet capture of
        # the same commit). The raw start/mid/end samples plus per-query
        # load_1m rows ride the detail artifact (below) to localize when
        # it arrived; only the boolean rides the compact final line.
        base_probe = probe_samples.get("start")
        if base_probe:
            cal["capture_contaminated"] = any(
                probe_samples.get(k, 0.0) > 1.25 * base_probe
                for k in ("mid", "end")
            )
        if (
            trailing is not None
            and floor != float("inf")
            and floor > 1.25 * trailing
        ):
            cal["spark_scan_warn"] = True
        out["calibration"] = cal
    # The driver parses the LAST ~2000 chars of stdout; the ratio_table
    # (~4.5 kB at 37 queries) pushed the headline metric out of that
    # window in r6 (BENCH_r06.json parsed:null — ADVICE r6). Emit the
    # bulky diagnostics on a leading "bench_detail" line and keep the
    # FINAL line compact: metric/value/unit/sf/queries/baseline_total.
    detail_keys = (
        "ratio_table",
        "baseline_queries",
        "job_floor_sec",
        "query_errors",
        "baseline_errors",
        "baseline_fatal",
    )
    detail = {"metric": "bench_detail"}
    # raw start/mid/end calibration samples (VERDICT r10 item 2): bulky,
    # diagnostic-only — detail artifact, not the compact final line
    if probe_samples:
        detail["spark_scan_samples"] = probe_samples
    if load_samples:
        detail["loadavg_samples"] = load_samples
    for key in detail_keys:
        if key in out:
            detail[key] = out.pop(key)
    # Persist the FULL diagnostics next to the repo (VERDICT r8 item 3):
    # the driver's stdout tail truncated the ratio/floor table out of
    # BENCH_r08.json, making the floor-bound classification
    # unrecoverable from the artifact alone. The file round-trips
    # everything; round-end copies it to BENCH_rN_detail.json.
    detail_path = os.environ.get(
        "SPARK_GRAFT_DETAIL_PATH",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "bench_detail_latest.json",
        ),
    )
    # Also stamp the per-ROUND copy (VERDICT r9 item 5): the driver writes
    # BENCH_r{N}.json after this process exits, so at run time the next
    # round number is 1 + the highest existing artifact; mid-round re-runs
    # overwrite the same file and the driver's round-end run wins.
    detail_paths = [detail_path]
    # only the CANONICAL SF stamps the round file (review r10: a dev
    # probe at another SF ran _next_round() too and silently replaced
    # the committed round detail with sf0.001 numbers; the driver's
    # per-round run is at the default sf0.1 whether or not it spells
    # the env var out). realpath-compare, not literal string compare
    # (ADVICE r10): a symlinked or trailing-slash spelling of the same
    # canonical dataset must still stamp the round artifact.
    canonical = os.path.realpath(sf_dir) == os.path.realpath(
        "/root/testdata/sf0.1"
    )
    rnd = _next_round()
    if rnd is not None and canonical:
        detail_paths.append(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                f"BENCH_r{rnd:02d}_detail.json",
            )
        )
    for path in detail_paths:
        try:
            with open(path, "w") as fh:
                # detail first, out last: out's metric="bench_total_sec" must
                # win the key collision (review r9 — the first artifact
                # shipped mislabeled as metric="bench_detail")
                json.dump({**detail, **out}, fh, indent=1)
                fh.write("\n")
        except OSError as exc:
            print(f"# detail file not written ({path}): {exc}", file=sys.stderr)
    if len(detail) > 1:
        print(json.dumps(detail))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
