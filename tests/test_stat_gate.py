"""The ledger's driver-side discovery path: a poll that finds nothing new
runs no Spark job, and a file is hashed only when its stat moved."""

from __future__ import annotations

import contextlib
import json
import os
import pathlib
import time

import pytest

from billing_data_pipeline_spark import pipeline
from billing_data_pipeline_spark.operators import ledger
from billing_data_pipeline_spark.pipeline import BillingPipeline
from tests.test_pipeline_e2e import CSV_HEADER, _ledger_counts, _write_lake


def _day_file(root, day):
    return pathlib.Path(root) / "year=2025" / "month=04" / f"day={day}" / "billing.csv"


def _land_day_24(root):
    p = _day_file(root, 24)
    p.parent.mkdir(parents=True)
    p.write_text(
        CSV_HEADER
        + "2025-04-24 10:00:00,res-9,user-9,2.5,us,pro,inference,true,gpu,inv-24-0,USD\n"
    )
    return p


@pytest.fixture
def hashed_paths(monkeypatch):
    """The paths of every ``hash_files`` call that ingest makes, one list
    per call."""
    calls = []
    real = pipeline.hash_files

    def spy(spark, paths):
        calls.append(sorted(ledger.file_key(p) for p in paths))
        return real(spark, paths)

    monkeypatch.setattr(pipeline, "hash_files", spy)
    return calls


def test_noop_run_launches_no_spark_job(spark, spark_jobs, tmp_path):
    root, _ = _write_lake(tmp_path)
    pipe = BillingPipeline(spark, str(tmp_path / "wh"))
    m1 = pipe.run(root)

    m2, jobs = spark_jobs(lambda: pipe.run(root))
    assert jobs == 0
    assert m2["ingest"]["files_new_or_changed"] == 0
    assert m2["report_markdown"] == m1["report_markdown"]


def test_unchanged_lake_hashes_nothing(spark, tmp_path, monkeypatch, hashed_paths):
    monkeypatch.setattr(ledger, "RACY_WINDOW_NS", 0)
    root, _ = _write_lake(tmp_path)
    pipe = BillingPipeline(spark, str(tmp_path / "wh"))
    pipe.run(root)
    assert len(hashed_paths[0]) == 2

    m = pipe.run(root)
    assert hashed_paths[1:] == [[]]
    assert m["ingest"]["files_hashed"] == 0
    assert m["ingest"]["files_new_or_changed"] == 0


def test_touched_file_is_rehashed_until_an_ingest_commit_refreshes_it(
    spark, tmp_path, monkeypatch, hashed_paths
):
    """A touch moves the stat but not the content: the file is hashed,
    not re-ingested, and raw_billing's version stays. No commit is made
    for the stat alone, so it is hashed again on every poll until a new
    file's commit carries its refreshed entry."""
    monkeypatch.setattr(ledger, "RACY_WINDOW_NS", 0)
    root, _ = _write_lake(tmp_path)
    pipe = BillingPipeline(spark, str(tmp_path / "wh"))
    m1 = pipe.run(root)
    touched = _day_file(root, 23)
    before = pipe.ledger().latest()[str(touched)]
    os.utime(touched)

    for _ in range(2):
        hashed_paths.clear()
        m = pipe.run(root)
        assert hashed_paths == [[str(touched)]]
        assert m["ingest"]["files_new_or_changed"] == 0
        assert m["raw_version"] == pipe.raw_version() == m1["raw_version"]

    new = _land_day_24(root)
    hashed_paths.clear()
    m = pipe.run(root)
    assert hashed_paths == [sorted([str(touched), str(new)])]
    assert m["ingest"]["files_new_or_changed"] == 1
    after = pipe.ledger().latest()[str(touched)]
    assert after["stat"] != before["stat"] and after["stat"] is not None
    assert {**after, "stat": None} == {**before, "stat": None}

    hashed_paths.clear()
    pipe.run(root)
    assert hashed_paths == [[]]


def test_same_size_rewrite_with_mtime_restored_is_reprocessed(
    spark, tmp_path, monkeypatch, hashed_paths
):
    """With every stat trusted, a rewrite that keeps the size and puts the
    mtime back still moves ctime, so the gate hashes the file and the
    ledger sees the new content."""
    monkeypatch.setattr(ledger, "RACY_WINDOW_NS", 0)
    root, _ = _write_lake(tmp_path)
    pipe = BillingPipeline(spark, str(tmp_path / "wh"))
    pipe.run(root)

    f = _day_file(root, 23)
    header, *rows = f.read_text().splitlines(keepends=True)
    st = f.stat()
    f.write_text(header + "".join(reversed(rows)))
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert (f.stat().st_size, f.stat().st_mtime_ns) == (st.st_size, st.st_mtime_ns)

    hashed_paths.clear()
    m = pipe.run(root)
    assert hashed_paths == [[str(f)]]
    assert m["ingest"]["files_new_or_changed"] == 1
    assert m["ingest"]["rows_appended"] == 0
    assert _ledger_counts(pipe) == {"day=22": 6, "day=23": 0}


def test_just_written_file_is_recorded_with_a_null_stat(spark, tmp_path):
    """A stat taken within the racy window of the file's last write is not
    trusted: the entry's stat is null, so the next poll hashes it."""
    root, _ = _write_lake(tmp_path)
    pipe = BillingPipeline(spark, str(tmp_path / "wh"))
    pipe.run(root)
    entries = pipe.ledger().latest().values()
    assert len(entries) == 2 and all(e["stat"] is None for e in entries)


def test_stat_less_entry_is_hashed_then_refreshed_by_the_next_ingest_commit(
    spark, tmp_path, hashed_paths
):
    """An entry written before stats were recorded has no ``stat``: its
    file is hashed on every poll, and no commit is made for it, until a
    new file's ingest commit carries it refreshed with its stat."""
    root, _ = _write_lake(tmp_path)
    pipe = BillingPipeline(spark, str(tmp_path / "wh"))
    m1 = pipe.run(root)
    manifest = os.path.join(pipe.table_path("raw_billing"), "_latest")
    with open(manifest) as f:
        man = json.load(f)
    for c in man["commits"]:
        for e in c["meta"]["files"]:
            del e["stat"]
    with open(manifest, "w") as f:
        json.dump(man, f)
    old = [str(_day_file(root, d)) for d in (22, 23)]
    before = pipe.ledger().latest()
    time.sleep(ledger.RACY_WINDOW_NS / 1e9 + 0.1)  # the lake's stats are trusted now

    for _ in range(2):
        hashed_paths.clear()
        m = pipe.run(root)
        assert hashed_paths == [old]
        assert m["raw_version"] == pipe.raw_version() == m1["raw_version"]

    new = str(_land_day_24(root))
    hashed_paths.clear()
    m = pipe.run(root)
    assert hashed_paths == [sorted(old + [new])]
    assert m["raw_version"] == m1["raw_version"] + 1
    (commit,) = [c for c in pipe.ledger().table.commits() if c["v"] == m["raw_version"]]
    recorded = {e["filename"]: e for e in commit["meta"]["files"]}
    assert recorded[new]["stat"] is None  # just written: racy
    for f in old:
        assert recorded[f]["stat"] == ledger.file_stat(f)
        assert {k: v for k, v in recorded[f].items() if k != "stat"} == before[f]

    hashed_paths.clear()
    pipe.run(root)
    assert hashed_paths == [[new]]


@pytest.mark.parametrize("where", ["stat", "hash", "hash-distributed"])
def test_file_removed_between_listing_and_hashing_is_skipped(
    spark, tmp_path, monkeypatch, where
):
    """A lake file removed after the listing, at its stat or just before
    hashing, on either hashing tier: run() succeeds, ingests the rest and
    records no entry for the removed file."""
    root, _ = _write_lake(tmp_path)
    victim = str(_day_file(root, 23))

    def remove_victim():
        with contextlib.suppress(FileNotFoundError):
            os.remove(victim)

    if where == "stat":
        real_stat = os.stat

        def stat(path, *args, **kwargs):
            if os.fspath(path) == victim:
                remove_victim()
            return real_stat(path, *args, **kwargs)

        monkeypatch.setattr(os, "stat", stat)
    else:
        real_hash = pipeline.hash_files

        def hash_files(spark, paths):
            remove_victim()
            return real_hash(spark, paths)

        monkeypatch.setattr(pipeline, "hash_files", hash_files)
        if where == "hash-distributed":
            monkeypatch.setattr(ledger, "DRIVER_HASH_MAX_BYTES", 0)

    pipe = BillingPipeline(spark, str(tmp_path / "wh"))
    m = pipe.run(root)
    assert not os.path.exists(victim)
    assert m["ingest"]["files_discovered"] == 2
    assert m["ingest"]["files_new_or_changed"] == 1
    assert m["ingest"]["rows_appended"] == 6
    assert _ledger_counts(pipe) == {"day=22": 6}
    assert pipe.read("raw_billing").count() == 6


def test_file_names_that_need_uri_escapes_are_ingested_and_gated(
    spark, tmp_path, monkeypatch, hashed_paths
):
    """Spark lists ``bill ing.csv`` as ``bill%20ing.csv``: the stat and
    the hash open the decoded path, the ledger keeps the encoded one that
    the lake read's file names match."""
    monkeypatch.setattr(ledger, "RACY_WINDOW_NS", 0)
    root, n_rows = _write_lake(tmp_path)
    for day in (22, 23):
        f = _day_file(root, day)
        f.rename(f.with_name("bill ing [v2] 100%.csv"))
    pipe = BillingPipeline(spark, str(tmp_path / "wh"))
    m = pipe.run(root)
    assert m["ingest"]["rows_appended"] == n_rows
    assert sorted(_ledger_counts(pipe).values()) == [6, 8]
    assert all("%20" in name for name in pipe.ledger().latest())

    hashed_paths.clear()
    m = pipe.run(root)
    assert hashed_paths == [[]]
    assert m["ingest"]["files_new_or_changed"] == 0
