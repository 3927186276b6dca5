"""Object-store commit protocol (VERDICT r6 #1): ObjectStoreSnapshotTable
must give SnapshotTable's semantics — atomic publish, multi-writer
safety, epoch idempotence, time travel, vacuum — using ONLY conditional
PUT + strongly-consistent get + possibly-lagging list, under injected
object-store pathologies (non-atomic/no rename, list-after-write lag,
crashes between protocol steps)."""

from __future__ import annotations

import json
import os
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from billing_data_pipeline_spark.sources.objectstore import (
    LocalObjectStore,
    SimulatedObjectStore,
)
from billing_data_pipeline_spark.sources.os_snapshot import (
    CommitAborted,
    ObjectStoreSnapshotTable,
)


def _w(vals):
    """writer= callable producing a one-column parquet file of ``vals``."""

    def write(url):
        os.makedirs(url, exist_ok=True)
        pq.write_table(pa.table({"x": pa.array(vals, pa.int64())}),
                       os.path.join(url, "part-0.parquet"))

    return write


@pytest.fixture(params=["local", "simulated"])
def make_store(request, tmp_path):
    """ONE parameterized store factory for every impl-generic contract
    test (VERDICT r7 #8): the commit/epoch/concurrency/vacuum semantics
    are properties of the ObjectStore CONTRACT (conditional PUT +
    strongly-consistent get + possibly-lagging list), not of one impl —
    a future S3/GCS subclass drops into this fixture's params and
    inherits the whole suite. Pathology-injection tests (list lag,
    crash hooks) stay SimulatedObjectStore-only below."""
    cls = {"local": LocalObjectStore, "simulated": SimulatedObjectStore}[
        request.param
    ]

    def factory(name: str = "store"):
        return cls(str(tmp_path / name))

    return factory


def _rows(tbl, version=None):
    out = []
    for url in tbl.resolve_urls(version):
        for name in sorted(os.listdir(url)):
            if name.endswith(".parquet"):
                out.extend(
                    pq.read_table(os.path.join(url, name))["x"].to_pylist()
                )
    return sorted(out)


def test_commit_meta_rides_in_the_log_on_both_duals(make_store, tmp_path):
    """Both tables snapshot_table_for can return keep one interface: a
    commit's JSON ``meta`` is published in its log entry and read back,
    oldest first, through ``commits()``; a commit without one reads
    None."""
    from billing_data_pipeline_spark.sources.versioned_sink import SnapshotTable

    posix = SnapshotTable(None, str(tmp_path / "posix"))
    duals = [
        (ObjectStoreSnapshotTable(None, make_store()), lambda t, w, **k: t.commit(writer=w, **k)),
        (posix, lambda t, w, **k: t.commit_files(w, **k)),
    ]
    for table, commit in duals:
        assert table.commits() == []
        commit(table, _w([1]), mode="append", meta={"files": [{"filename": "a"}]})
        commit(table, _w([2]), mode="append")
        assert [(c["v"], c["meta"]) for c in table.commits()] == [
            (0, {"files": [{"filename": "a"}]}),
            (1, None),
        ]


def test_commit_read_append_time_travel_vacuum(make_store):
    store = make_store()
    t = ObjectStoreSnapshotTable(None, store)
    assert t.latest_version() is None
    with pytest.raises(FileNotFoundError):
        t.resolve_urls()

    v0 = t.commit(writer=_w([1, 2]), mode="overwrite")
    v1 = t.commit(writer=_w([3]), mode="append")
    v2 = t.commit(writer=_w([9]), mode="overwrite")
    v3 = t.commit(writer=_w([10]), mode="append")
    assert (v0, v1, v2, v3) == (0, 1, 2, 3)
    assert _rows(t) == [9, 10]
    assert _rows(t, 1) == [1, 2, 3]  # time travel across the overwrite
    assert _rows(t, 0) == [1, 2]

    removed = t.vacuum(keep=1, stale_staging_secs=0.0)
    assert removed == [0, 1]
    assert _rows(t) == [9, 10]  # retained read unaffected
    with pytest.raises(FileNotFoundError):
        t.resolve_urls(1)  # vacuumed version unreadable, by contract
    # vacuumed versions' data prefixes are physically gone
    live = {c["dir"] for c in json.loads(
        store.get(sorted(store.list("_log/"))[-1]))["commits"]}
    on_disk = {k.split("/", 1)[1].split("/", 1)[0].removesuffix(".begin")
               for k in store.list("data/")}
    assert on_disk == live


def test_epoch_idempotence_and_reset_guard(make_store):
    store = make_store()
    t = ObjectStoreSnapshotTable(None, store)
    v0 = t.commit(writer=_w([1]), mode="overwrite", epoch=7)
    assert t.commit(writer=_w([999]), mode="append", epoch=7) == v0  # replay
    assert _rows(t) == [1]
    assert t.epochs() == {7}
    with pytest.raises(RuntimeError, match="checkpoint was reset"):
        t.commit(writer=_w([2]), mode="append", epoch=3)


def test_concurrent_committers_no_lost_update(make_store):
    """N racing committers on the SAME store: the conditional PUT must
    arbitrate — every committer gets a distinct version and every
    committed row set is readable afterwards."""
    store = make_store()
    results = []
    barrier = threading.Barrier(6)

    def committer(i):
        t = ObjectStoreSnapshotTable(None, store)
        barrier.wait()
        results.append(t.commit(writer=_w([i]), mode="append"))

    threads = [threading.Thread(target=committer, args=(i,)) for i in range(6)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert sorted(results) == [0, 1, 2, 3, 4, 5]  # no version lost or reused
    t = ObjectStoreSnapshotTable(None, store)
    assert _rows(t) == [0, 1, 2, 3, 4, 5]  # all appends present


def test_list_lag_head_resolution_and_commit(tmp_path):
    """A listing that hides EVERY fresh log entry must not fool readers
    (forward ``get`` probes find the real head) nor committers (the
    conditional PUT still refuses an existing key)."""
    store = SimulatedObjectStore(str(tmp_path / "store"), list_lag_secs=9999.0)
    t = ObjectStoreSnapshotTable(None, store)
    t.commit(writer=_w([1]), mode="overwrite")
    t.commit(writer=_w([2]), mode="append")
    assert store.list("_log/") == []  # the lag is real
    assert t.latest_version() == 1  # ...and the probe defeats it
    assert _rows(t) == [1, 2]
    assert t.commit(writer=_w([3]), mode="append") == 2
    assert _rows(t) == [1, 2, 3]
    # settle the listing and confirm nothing double-allocated
    store.settle()
    assert [k for k in store.list("_log/")] == [
        "_log/00000000000000000000.json",
        "_log/00000000000000000001.json",
        "_log/00000000000000000002.json",
    ]


def test_crash_before_log_put_leaves_invisible_orphan(tmp_path):
    """Dying after the data write but before the log PUT must leave the
    table exactly as it was (readers never see the orphan), and vacuum
    sweeps the orphan once it is stale."""
    store = SimulatedObjectStore(str(tmp_path / "store"))
    t = ObjectStoreSnapshotTable(None, store)
    t.commit(writer=_w([1]), mode="overwrite")

    boom = RuntimeError("simulated crash")
    store.hooks["before_log_put"] = lambda: (_ for _ in ()).throw(boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        t.commit(writer=_w([666]), mode="append")
    store.hooks.clear()

    assert t.latest_version() == 0
    assert _rows(t) == [1]
    # orphan data exists but is unreferenced
    prefixes = {k.split("/")[1] for k in store.list("data/")}
    assert len(prefixes) == 2
    t.vacuum(keep=10, stale_staging_secs=0.0)
    prefixes = {k.split("/")[1] for k in store.list("data/")}
    assert len(prefixes) == 1  # orphan swept, committed data kept
    assert _rows(t) == [1]


def test_vacuum_spares_live_inflight_commit(tmp_path):
    """A slow in-flight commit (data written, log PUT not yet issued) has
    a fresh begin marker + fresh data objects: vacuum must not sweep it,
    and the commit completes afterwards."""
    store = SimulatedObjectStore(str(tmp_path / "store"))
    t = ObjectStoreSnapshotTable(None, store)
    t.commit(writer=_w([1]), mode="overwrite")

    paused = threading.Event()
    resume = threading.Event()

    def pause():
        paused.set()
        assert resume.wait(10.0)

    store.hooks["before_log_put"] = pause
    done = []
    th = threading.Thread(
        target=lambda: done.append(t.commit(writer=_w([2]), mode="append"))
    )
    th.start()
    assert paused.wait(10.0)
    # stale threshold generous: the in-flight marker/data are fresh
    t.vacuum(keep=10, stale_staging_secs=3600.0)
    store.hooks.clear()
    resume.set()
    th.join(10.0)
    assert done == [1]
    assert _rows(t) == [1, 2]


def test_swept_inflight_commit_aborts_instead_of_dangling(tmp_path):
    """The frozen-committer hazard, caught at the last moment: when
    vacuum (treating the commit as dead past the stale lease) has
    tombstoned the begin marker, the awakening committer must ABORT
    rather than publish a log entry referencing swept data."""
    store = SimulatedObjectStore(str(tmp_path / "store"))
    t = ObjectStoreSnapshotTable(None, store)
    t.commit(writer=_w([1]), mode="overwrite")

    paused = threading.Event()
    resume = threading.Event()

    def pause():
        paused.set()
        assert resume.wait(10.0)

    store.hooks["after_data_write"] = pause
    errs = []

    def run():
        try:
            t.commit(writer=_w([2]), mode="append")
        except CommitAborted as e:
            errs.append(e)

    th = threading.Thread(target=run)
    th.start()
    assert paused.wait(10.0)
    # vacuum with a zero lease: the frozen committer is presumed dead
    t2 = ObjectStoreSnapshotTable(None, store)
    t2.vacuum(keep=10, stale_staging_secs=0.0)
    store.hooks.clear()
    resume.set()
    th.join(10.0)
    assert len(errs) == 1  # aborted, did NOT publish
    assert t.latest_version() == 0
    assert _rows(t) == [1]  # table intact, no dangling reference


def test_heartbeat_never_resurrects_vacuum_tombstone(tmp_path):
    """Review r7: the commit heartbeat must CHECK the begin marker before
    refreshing it. A blind re-put after vacuum's tombstone (frozen
    committer, zero lease here) would re-create the marker, let the
    last-moment liveness check pass, and publish a reference to swept
    data. With many heartbeat periods elapsing after the tombstone, the
    marker must stay absent and the commit must abort."""
    import time

    store = SimulatedObjectStore(str(tmp_path / "store"))
    t = ObjectStoreSnapshotTable(None, store)
    t._HEARTBEAT_SECS = 0.05
    t.commit(writer=_w([1]), mode="overwrite")

    paused = threading.Event()
    resume = threading.Event()

    def pause():
        paused.set()
        assert resume.wait(10.0)

    store.hooks["after_data_write"] = pause
    errs = []

    def run():
        try:
            t.commit(writer=_w([2]), mode="append")
        except CommitAborted as e:
            errs.append(e)

    th = threading.Thread(target=run)
    th.start()
    assert paused.wait(10.0)
    markers = [k for k in store.list("data/") if k.endswith(".begin")]
    assert len(markers) == 1
    t2 = ObjectStoreSnapshotTable(None, store)
    t2.vacuum(keep=10, stale_staging_secs=0.0)
    assert store.get(markers[0]) is None  # tombstoned
    time.sleep(0.4)  # ~8 heartbeat periods fire while frozen
    assert store.get(markers[0]) is None, (
        "heartbeat resurrected the vacuum tombstone"
    )
    store.hooks.clear()
    resume.set()
    th.join(10.0)
    assert len(errs) == 1  # aborted, did NOT publish
    assert t.latest_version() == 0 and _rows(t) == [1]


def test_latest_version_is_manifest_version_after_pruning_vacuum(make_store):
    """Review r7: vacuum publishes its pruned state as a NEW log entry
    with `version` unchanged, so latest_version must report the manifest
    version (POSIX-dual semantics), never the log head index — and
    read(latest_version()) must resolve."""
    store = make_store()
    t = ObjectStoreSnapshotTable(None, store)
    for i in range(4):
        t.commit(writer=_w([i]), mode="overwrite")
    assert t.latest_version() == 3
    assert t.vacuum(keep=1) == [0, 1, 2]
    assert t.latest_version() == 3  # head index is now 4; version is 3
    assert _rows(t, t.latest_version()) == [3]


def test_stale_cas_temp_orphans_swept_fresh_ones_spared(make_store):
    """Review r7: crash-orphaned _cas_/_put_ temp files are hidden from
    list() by design, so vacuum reclaims them store-side past the same
    staleness threshold — while a live writer's fresh temp survives."""
    store = make_store()
    t = ObjectStoreSnapshotTable(None, store)
    t.commit(writer=_w([1]), mode="overwrite")
    log_dir = os.path.join(store.root, "_log")
    orphan = os.path.join(log_dir, "_cas_orphan")
    with open(orphan, "wb") as f:
        f.write(b"torn")
    orphan2 = os.path.join(store.root, "data", "_put_orphan")
    with open(orphan2, "wb") as f:
        f.write(b"torn")
    assert not any("_cas_" in k or "_put_" in k for k in store.list(""))
    t.vacuum(keep=1, stale_staging_secs=3600.0)  # fresh: spared
    assert os.path.exists(orphan) and os.path.exists(orphan2)
    old = (0, 0)
    os.utime(orphan, old)
    os.utime(orphan2, old)
    t.vacuum(keep=1, stale_staging_secs=3600.0)  # aged past the lease
    assert not os.path.exists(orphan) and not os.path.exists(orphan2)
    assert _rows(t) == [1]


def test_put_if_absent_idempotent_on_identical_content(make_store):
    """Review r7 (NFS lost-LINK-reply quirk): a retried conditional PUT
    that already landed must read back as a WIN when the existing bytes
    equal ours — commit payloads embed a per-attempt uuid, so equality
    can only mean this caller's own earlier success."""
    store = make_store()
    assert store.put_if_absent("k", b"x") is True
    assert store.put_if_absent("k", b"x") is True  # replayed own write
    assert store.put_if_absent("k", b"y") is False  # genuine loss


def test_vacuum_concurrent_with_commit_no_torn_state(make_store):
    """vacuum's pruned-state PUT races a commit for the same log slot:
    whoever loses recomputes. Either serialization must leave all
    retained data readable and the new commit present."""
    store = make_store()
    t = ObjectStoreSnapshotTable(None, store)
    for i in range(4):
        t.commit(writer=_w([i]), mode="overwrite")

    start = threading.Barrier(2)
    out = {}

    def committer():
        start.wait()
        out["v"] = t.commit(writer=_w([100]), mode="append")

    def vacuumer():
        start.wait()
        out["removed"] = ObjectStoreSnapshotTable(None, store).vacuum(
            keep=1, stale_staging_secs=3600.0
        )

    ths = [threading.Thread(target=committer), threading.Thread(target=vacuumer)]
    for th in ths:
        th.start()
    for th in ths:
        th.join(20.0)
    # the commit always lands; vacuum pruned some strict prefix of history
    assert 100 in _rows(t)
    assert 3 in _rows(t)  # latest overwrite retained
    for v in out["removed"]:
        with pytest.raises(FileNotFoundError):
            t.resolve_urls(v)


def test_spark_round_trip(spark, make_store):
    """The Spark data plane over the same protocol: df commits, snapshot
    isolation across overwrite, mergeSchema across appends."""
    store = make_store()
    t = ObjectStoreSnapshotTable(spark, store)
    t.commit(spark.range(5).toDF("n"), mode="overwrite")
    t.commit(spark.range(5, 8).toDF("n"), mode="append")
    assert sorted(r["n"] for r in t.read().collect()) == list(range(8))
    t.commit(spark.range(2).toDF("n"), mode="overwrite")
    assert sorted(r["n"] for r in t.read().collect()) == [0, 1]
    assert sorted(r["n"] for r in t.read(1).collect()) == list(range(8))


def test_read_with_a_known_schema_on_both_duals(spark, make_store, tmp_path):
    """read(schema=...) applies the given schema across an append chain
    instead of reading it from the footers, on both factory duals."""
    from billing_data_pipeline_spark.sources.versioned_sink import SnapshotTable

    for t in (
        ObjectStoreSnapshotTable(spark, make_store()),
        SnapshotTable(spark, str(tmp_path / "posix")),
    ):
        t.commit(spark.range(3).toDF("n"), mode="append")
        t.commit(spark.range(3, 5).toDF("n"), mode="append")
        df = t.read(schema="n long")
        assert df.schema == t.read().schema
        assert sorted(r["n"] for r in df.collect()) == list(range(5))


def test_snapshot_table_factory_dispatch(tmp_path):
    from billing_data_pipeline_spark.sources.os_snapshot import (
        snapshot_table_for,
    )
    from billing_data_pipeline_spark.sources.versioned_sink import (
        SnapshotTable,
    )

    t = snapshot_table_for(None, str(tmp_path / "w"))
    assert isinstance(t, SnapshotTable)
    t2 = snapshot_table_for(None, f"file://{tmp_path}/w2")
    assert isinstance(t2, SnapshotTable) and t2.path == f"{tmp_path}/w2"
    # closed-world dispatch: EVERY non-local scheme fails closed, not
    # just a hardcoded object-store allowlist (review r7 — hdfs:// and
    # uppercase S3A:// fell through to the POSIX rename protocol)
    for url in (
        "s3a://bucket/warehouse/t",
        "S3A://bucket/warehouse/t",
        "hdfs://nn/warehouse/t",
        "dbfs://x/t",
        "gs://b/t",
    ):
        with pytest.raises(NotImplementedError, match="conditional PUT"):
            snapshot_table_for(None, url)
    # file URL with a remote authority must not resolve CWD-relative
    with pytest.raises(ValueError, match="authority"):
        snapshot_table_for(None, "file://host/share")
    store = LocalObjectStore(str(tmp_path / "store"))
    t3 = snapshot_table_for(None, "s3a://bucket/warehouse/t", store=store)
    assert isinstance(t3, ObjectStoreSnapshotTable)
