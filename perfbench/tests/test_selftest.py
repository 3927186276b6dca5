"""Self-test of the benchmark at tiny scale (sf0.001 and a three-day lake).

Run from the repository root:

    python3 -m pytest perfbench/tests -q

The Spark-backed tests start the benchmark as a subprocess, as a user would,
and take a few minutes in all.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import common, lake, run
from perfbench.trace import Span, self_time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)
USER_METRICS = {  # printed by name with unit across the two workloads
    "setup_s", "backfill_s", "daily_run_s", "noop_run_s", "catalog_pass_s",
    "catalog_geomean_s", "failed_ratio", "peak_rss_mb", "storage_amp",
}


def _bench(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--tiny", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )
    return p.returncode, p.stdout.splitlines()


def _results(lines: list[str]) -> list[dict]:
    return [json.loads(line) for line in lines if line.startswith("{")]


def _printed(lines: list[str]) -> dict[str, tuple[float, str]]:
    out = {}
    for line in lines:
        parts = line.split()
        if len(parts) == 4 and parts[0] in run.WORKLOADS:
            out[parts[1]] = (float(parts[2]), parts[3])
    return out


# --- without Spark ------------------------------------------------------------


def test_lake_expectation_matches_keys(tmp_path):
    size = lake.LakeSize(backfill_days=2, daily_days=2, rows_per_day=300)
    lk = lake.cached_lake(str(tmp_path), size, seed=7)
    assert lake.cached_lake(str(tmp_path), size, seed=7) == lk  # reused
    seen, unique, nulls, dup_in_file = set(), 0, 0, False
    for i, rel in enumerate(lk.day_dirs):
        with open(os.path.join(lk.root, rel, "billing.csv")) as f:
            rows = [line.rstrip("\n").split(",") for line in f][1:]
        assert len(rows) == lk.rows_per_file[i]
        in_file = set()
        for r in rows:
            key = (r[0], r[1], r[2], r[9])
            if r[9] == "":
                unique += 1
                nulls += 1
            elif key not in seen:
                seen.add(key)
                unique += 1
            dup_in_file |= key in in_file and r[9] != ""
            in_file.add(key)
        assert unique == lk.unique_after[i]
    assert nulls > 0 and dup_in_file
    assert lk.unique_after[-1] < sum(lk.rows_per_file)  # cross-file copies


def test_value_hash_ignores_row_and_column_order():
    rows = [(1, "a", None), (2, "b", 1.5)]
    flipped = [(r[2], r[1], r[0]) for r in reversed(rows)]
    assert common.value_hash(["x", "y", "z"], rows) == common.value_hash(
        ["z", "y", "x"], flipped
    )
    assert common.value_hash(["x", "y", "z"], rows[:1]) != common.value_hash(
        ["x", "y", "z"], rows
    )


def test_self_time_subtracts_the_union_of_children():
    parent = Span(0, "p", None, "r", 0.0, 10.0)
    kids = [Span(1, "a", 0, "r", 1.0, 4.0), Span(2, "b", 0, "r", 3.0, 5.0),
            Span(3, "c", 0, "r", 8.0, 12.0)]
    assert self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 2.0)


def test_schedule_runs_at_least_the_minimum():
    assert list(common.schedule(0.0, False, at_least=2)) == [0, 1]
    assert list(common.schedule(100.0, True, at_least=3)) == [0]


def test_benchmark_json_names_are_the_printed_ones():
    assert {m["name"] for m in BENCHMARK["end_to_end"]} == set(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]} == run.per_layer_names()
    assert {w["name"] for w in BENCHMARK["workloads"]} == set(run.WORKLOADS)


# --- with Spark ---------------------------------------------------------------


def test_every_metric_is_printed_with_its_unit():
    code, lines = _bench()
    assert code == 0, lines[-5:]
    results = _results(lines)
    assert len(results) == 2 and all(r["correct"] and r["failed"] == 0 for r in results)
    want = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    for r in results:
        assert {k: v["unit"] for k, v in r["metrics"].items()} == want
        assert all(v["value"] > 0 for v in r["metrics"].values())
    printed = _printed(lines)
    assert USER_METRICS <= set(printed)
    assert all(unit for _, unit in printed.values())


def test_traced_run_prints_every_per_layer_metric():
    code, lines = _bench("--trace", "1")
    assert code == 0, lines[-5:]
    want = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    results = _results(lines)
    for r in results:
        assert {k: v["unit"] for k, v in r["metrics"].items()} == want
    billing, catalog = (r["metrics"] for r in results)
    assert billing["backfill.spark.jobs"]["value"] > 0
    assert billing["daily.ledger.useful_hash_ratio"]["value"] == pytest.approx(1 / 3)
    assert billing["trace.overhead_s"]["value"] > 0
    assert catalog["catalog.spark.tasks"]["value"] > 0


def test_tampered_outputs_fail_the_checks():
    code, lines = _bench("--tamper")
    assert code == 1
    results = _results(lines)
    assert len(results) == 2
    assert all(not r["correct"] and r["failed"] >= 1 for r in results)
    ratios = [float(l.split()[2]) for l in lines if " failed_ratio " in l]
    assert len(ratios) == 2 and all(x > 0 for x in ratios)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, lines = _bench(cwd=str(tmp_path))
    assert code != 0 and not _results(lines)
