"""Multi-PROCESS durability sweep (VERDICT r6 #7): hammer one warehouse
from N real OS processes running randomized commit / append / vacuum /
read loops — plus mid-commit process kills — and assert the exactly-once
invariants the kit promises:

- no torn reads: every successfully-resolved snapshot is fully readable
  and every data directory it references contains EXACTLY the rows its
  commit wrote (uid-tagged, count-embedded);
- no lost updates: every commit() that returned a version is present in
  the final manifest (minus those vacuumed by retention) and its data
  reads back bit-complete;
- no swept in-flight staging: a commit in flight during a concurrent
  vacuum completes intact, never publishes dangling references;
- crash containment: a worker killed with os._exit mid-commit leaves
  only unreferenced orphans that the next vacuum with no commit in
  flight removes;
- kernel-held locks: a process SIGKILLed while holding ``_lock`` blocks
  no later commit, and a live commit's staging directory survives every
  vacuum until its process dies.

Runs against the POSIX ``SnapshotTable`` (rename + flock), the one
snapshot protocol every warehouse uses. Workers are plain-Python (pyarrow
writers through the commit_files seam) — a JVM per process would test
Spark's launcher, not the protocol.

One more test runs the pipeline itself: a plain-Python reader process
pins one ``billing_insights`` version per read while ``run()`` rebuilds
it over and over, and every read must see the four aggregate tables and
``report.md`` built from that version's one ``raw_billing`` version.
"""

from __future__ import annotations

import fcntl
import multiprocessing as mp
import os
import random
import re
import signal
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from billing_data_pipeline_spark.sources.versioned_sink import SnapshotTable

N_WORKERS = 4
OPS_PER_WORKER = 10


def _writer(uid: str, count: int, crash: bool = False):
    def write(target: str) -> None:
        os.makedirs(target, exist_ok=True)
        half = count // 2
        for i, (lo, hi) in enumerate([(0, half), (half, count)]):
            pq.write_table(
                pa.table({
                    "uid": pa.array([uid] * (hi - lo)),
                    "n": pa.array(range(lo, hi), pa.int64()),
                    "count": pa.array([count] * (hi - lo), pa.int64()),
                }),
                os.path.join(target, f"part-{i}.parquet"),
            )
            if crash and i == 0:
                os._exit(17)  # simulated hard crash mid-write

    return write


def _validate_snapshot(dirs: list[str]) -> None:
    """Torn-read oracle: every referenced dir must read completely and
    contain exactly the rows its commit wrote."""
    by_uid: dict[str, list[int]] = {}
    counts: dict[str, int] = {}
    for d in dirs:
        names = [n for n in os.listdir(d) if n.endswith(".parquet")]
        assert names, f"referenced dir {d} has no data files (torn publish)"
        for name in names:
            t = pq.read_table(os.path.join(d, name))
            for u, n, c in zip(t["uid"].to_pylist(), t["n"].to_pylist(),
                               t["count"].to_pylist()):
                by_uid.setdefault(u, []).append(n)
                counts[u] = c
    for u, ns in by_uid.items():
        assert sorted(ns) == list(range(counts[u])), (
            f"commit {u}: read {len(ns)} rows, wrote {counts[u]} — torn read"
        )


def _storm_worker(path: str, seed: int, q) -> None:
    rng = random.Random(seed)
    table = SnapshotTable(None, path)
    committed = []  # (version, uid, count)
    for _ in range(OPS_PER_WORKER):
        op = rng.choices(["overwrite", "append", "vacuum", "read"],
                         weights=[3, 3, 1, 3])[0]
        if op in ("overwrite", "append"):
            uid = uuid.uuid4().hex
            count = rng.randrange(2, 40)
            v = table.commit_files(_writer(uid, count), mode=op)
            committed.append((v, uid, count))
        elif op == "vacuum":
            table.vacuum(keep=3)
        else:
            # resolve and validate in SEPARATE try blocks:
            # a FileNotFoundError from _validate_snapshot is the
            # primary symptom of a dangling publish and must hit the
            # retained-or-pruned oracle, not the empty-table pass;
            # and `dirs` must be bound before the oracle uses it.
            try:
                dirs = table.resolve_dirs()
            except FileNotFoundError:
                continue  # empty table: legal
            try:
                _validate_snapshot(dirs)
            except (FileNotFoundError, OSError,
                    pa.ArrowInvalid, AssertionError) as exc:
                if isinstance(exc, AssertionError) and \
                        "torn read of a RETAINED" in str(exc):
                    raise
                # legal ONLY if retention pruned the version mid-read
                still = set()
                try:
                    still = set(table.resolve_dirs())
                except FileNotFoundError:
                    pass
                if any(d in still for d in dirs):
                    raise AssertionError(
                        f"torn read of a RETAINED snapshot: {exc}"
                    )
    q.put(("ok", committed))


def _crash_worker(path: str) -> None:
    table = SnapshotTable(None, path)
    # dies inside the data write via os._exit — no cleanup runs at all
    table.commit_files(_writer(uuid.uuid4().hex, 10, crash=True),
                       mode="append")


def _run_storm(warehouse: str):
    ctx = mp.get_context("spawn")  # no inherited JVM/session state
    q = ctx.Queue()
    procs = [
        ctx.Process(target=_storm_worker, args=(warehouse, 1000 + i, q))
        for i in range(N_WORKERS)
    ]
    crashers = [ctx.Process(target=_crash_worker, args=(warehouse,))
                for _ in range(2)]
    for p in procs + crashers:
        p.start()
    results = [q.get(timeout=120) for _ in procs]
    for p in procs:
        p.join(60)
        assert p.exitcode == 0
    for p in crashers:
        p.join(60)
        assert p.exitcode == 17  # really died mid-write

    committed = [c for status, cs in results for c in cs if status == "ok"]
    assert committed, "storm made no commits — test is vacuous"
    versions = [v for v, _, _ in committed]
    assert len(versions) == len(set(versions)), "two commits shared a version"

    table = SnapshotTable(None, warehouse)
    # every commit still in the final manifest reads back bit-complete
    final_commits = {c["v"] for c in table._load()["commits"]}
    by_version = {v: (u, n) for v, u, n in committed}
    assert final_commits <= set(by_version), (
        "manifest references a version no worker successfully committed"
    )
    for v in sorted(final_commits):
        _validate_snapshot(table.resolve_dirs(v))
    # full-history validation of the final snapshot
    _validate_snapshot(table.resolve_dirs())

    # crash orphans: invisible now, swept by the first vacuum that runs
    # with no commit in flight
    table.vacuum(keep=1)
    strays = [n for n in os.listdir(warehouse) if n.startswith("_staging_")]
    assert strays == [], f"unswept staging orphans: {strays}"
    # and the retained snapshot still reads clean after the sweep
    _validate_snapshot(table.resolve_dirs())


def test_posix_snapshot_multiprocess_storm(tmp_path):
    _run_storm(str(tmp_path / "warehouse"))


def _lock_holder(path: str, held) -> None:
    table = SnapshotTable(None, path)
    table._ensure_dir()
    with table._mutate_lock():
        held.set()
        time.sleep(600)  # inside the manifest lock until SIGKILLed


def _stalled_committer(path: str, entered) -> None:
    def write(target: str) -> None:
        _writer(uuid.uuid4().hex, 4)(target)
        entered.set()
        time.sleep(600)  # inside the data write until SIGKILLed

    SnapshotTable(None, path).commit_files(write, mode="append")


def _kill(p) -> None:
    p.kill()
    p.join(60)
    assert p.exitcode == -signal.SIGKILL


def test_killed_lock_holder_blocks_no_commit(tmp_path):
    """A process SIGKILLed inside ``_lock`` leaves the file on disk but
    holds nothing: the next commit goes through at once instead of
    waiting out ``LOCK_TIMEOUT_SECS``."""
    path = str(tmp_path / "warehouse")
    ctx = mp.get_context("spawn")
    held = ctx.Event()
    p = ctx.Process(target=_lock_holder, args=(path, held))
    p.start()
    try:
        assert held.wait(60)
        # the lock is really held until the kill
        fd = os.open(os.path.join(path, "_lock"), os.O_RDONLY)
        try:
            with pytest.raises(BlockingIOError):
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        finally:
            os.close(fd)
    finally:
        _kill(p)
    assert os.path.exists(os.path.join(path, "_lock"))

    table = SnapshotTable(None, path)
    t0 = time.monotonic()
    v = table.commit_files(_writer(uuid.uuid4().hex, 4))
    assert time.monotonic() - t0 < 10, "commit waited on a dead holder"
    assert v == 0
    _validate_snapshot(table.resolve_dirs())


def test_live_staging_survives_vacuum_until_its_writer_dies(tmp_path):
    """A commit stalled inside its data write keeps its staging directory
    through any number of vacuums; once its process is SIGKILLed, the
    next vacuum removes it, and an old-format ``.inprogress`` marker file
    with it."""
    path = str(tmp_path / "warehouse")
    table = SnapshotTable(None, path)
    table.commit_files(_writer(uuid.uuid4().hex, 4))
    marker = os.path.join(path, "_staging_0123abcd.inprogress")
    with open(marker, "w") as f:
        f.write("123")

    ctx = mp.get_context("spawn")
    entered = ctx.Event()
    p = ctx.Process(target=_stalled_committer, args=(path, entered))
    p.start()
    try:
        assert entered.wait(60)
        (live,) = [
            os.path.join(path, n)
            for n in os.listdir(path)
            if n.startswith("_staging_") and not n.endswith(".inprogress")
        ]
        for _ in range(2):
            table.vacuum(keep=1)
            assert sorted(os.listdir(live)) == ["part-0.parquet", "part-1.parquet"]
        assert os.path.exists(marker)  # no sweep at all while a commit runs
    finally:
        _kill(p)

    table.vacuum(keep=1)
    strays = [n for n in os.listdir(path) if n.startswith("_staging_")]
    assert strays == [], f"unswept staging entries: {strays}"
    assert table.latest_version() == 0
    _validate_snapshot(table.resolve_dirs())


# -- the pipeline's derived commit under a concurrent reader -----------------

AGGREGATES = ("daily_aggs", "user_aggs", "service_aggs", "region_aggs")


def _pinned_reader(warehouse: str, ready, stop, q) -> None:
    """Until ``stop``: pin the latest billing_insights version and read it
    whole. Puts one ``(raw_version, [sum of transaction_count per
    table], records in report.md)`` per read, or ``("error", detail)``."""
    table = SnapshotTable(None, os.path.join(warehouse, "billing_insights"))
    reads = []
    ready.set()
    try:
        while not stop.is_set():
            time.sleep(0.005)
            commits = table.commits()
            if not commits:
                continue
            pinned = commits[-1]
            try:
                (d,) = table.resolve_dirs(pinned["v"])
                sums = [
                    sum(pq.read_table(os.path.join(d, t), columns=["transaction_count"])
                        ["transaction_count"].to_pylist())
                    for t in AGGREGATES
                ]
                with open(os.path.join(d, "report.md"), encoding="utf-8") as f:
                    report = f.read()
            except (OSError, pa.ArrowInvalid):
                if any(c["v"] == pinned["v"] for c in table.commits()):
                    raise
                continue  # vacuumed by two newer rebuilds mid-read: legal
            records = int(re.search(r"records ingested: (\d+)", report).group(1))
            reads.append((pinned["meta"]["raw_version"], sums, records))
        q.put(reads)
    except Exception as exc:  # the failed read is the finding
        q.put(("error", repr(exc)))


def test_a_reader_pinning_one_derived_version_sees_one_raw_version(spark, tmp_path):
    """While run() rebuilds the derived commit five times, each over one
    more landed day, every read that pins one billing_insights version
    sees all four tables and report.md at that version's raw_version."""
    from billing_data_pipeline_spark.pipeline import BillingPipeline
    from tests.test_pipeline_e2e import CSV_HEADER

    lake, wh = tmp_path / "lake", str(tmp_path / "wh")
    pipe = BillingPipeline(spark, wh)
    ctx = mp.get_context("spawn")
    ready, stop, q = ctx.Event(), ctx.Event(), ctx.Queue()
    reader = ctx.Process(target=_pinned_reader, args=(wh, ready, stop, q))
    reader.start()
    expected, total = {}, 0
    try:
        assert ready.wait(60)
        for day in range(1, 6):
            p = lake / "year=2025" / "month=04" / f"day={day:02d}"
            p.mkdir(parents=True)
            rows = [
                f"2025-04-{day:02d} 10:00:{i:02d},res-{i % 3},user-{i % 4},{1.5 * i},"
                f"{'eu' if i % 2 else 'us'},pro,inference,true,gpu,inv-{day}-{i},USD\n"
                for i in range(day + 2)
            ]
            (p / "billing.csv").write_text(CSV_HEADER + "".join(rows))
            total += len(rows)
            expected[pipe.run(str(lake))["raw_version"]] = total
        time.sleep(0.5)  # the reader sees the last version too
    finally:
        stop.set()
        reads = q.get(timeout=60)
        reader.join(60)
    assert reader.exitcode == 0 and isinstance(reads, list), reads
    for raw_version, sums, records in reads:
        assert sums == [expected[raw_version]] * 4 == [records] * 4, (raw_version, sums, records)
    assert len({r[0] for r in reads}) >= 3, "the reader saw too few rebuilds"
