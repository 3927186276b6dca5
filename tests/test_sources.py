"""Source-layer tests: the reference's unit-test contract for URL/path
helpers (reference: tests/pipeline/test_s3_utils.py:18-146, re-specified in
FIXTURES.md §5) plus Hive-partitioned reads with pruning evidence."""

from __future__ import annotations

from datetime import date, timedelta

from billing_data_pipeline_spark.sources.csv_source import (
    RAW_BILLING_SCHEMA,
    generate_partition_paths,
    latest_partition_date,
    parse_hive_partition_keys,
    parse_url,
    read_partition_paths,
    read_partition_root,
)


def test_parse_url_variants():
    assert parse_url("https://example.com/bucket/path") == parse_url(
        "https://example.com/bucket/path"
    )
    u = parse_url("s3://my-bucket/data")
    assert (u.protocol, u.domain, u.path) == ("s3", "my-bucket", "data")
    u = parse_url("example.com/x")
    assert (u.protocol, u.domain, u.path) == ("https", "example.com", "x")
    u = parse_url("")
    assert (u.protocol, u.domain, u.path) == ("https", "", "")
    u = parse_url("example.com")
    assert (u.protocol, u.domain, u.path) == ("https", "example.com", "")


def test_parse_hive_partition_keys():
    assert parse_hive_partition_keys("year=2025/month=04/day=23") == {
        "year": "2025", "month": "04", "day": "23"
    }
    assert parse_hive_partition_keys("") == {}
    assert parse_hive_partition_keys("year=2025/raw/day=23") == {
        "year": "2025", "day": "23"
    }


def test_generate_partition_paths_explicit_range():
    parts = generate_partition_paths(
        "s3://b/data", date(2025, 4, 22), date(2025, 4, 24)
    )
    assert [p["path"] for p in parts] == [
        "s3://b/data/year=2025/month=04/day=22",
        "s3://b/data/year=2025/month=04/day=23",
        "s3://b/data/year=2025/month=04/day=24",
    ]
    assert parts[0]["files"] == ["s3://b/data/year=2025/month=04/day=22/billing.csv"]


def test_generate_partition_paths_default_range():
    parts = generate_partition_paths("s3://b/data")
    today = date.today()
    assert len(parts) == 2
    assert parts[0]["year"] == str((today - timedelta(days=1)).year)
    assert parts[-1]["day"] == f"{today.day:02d}"


CSV_BODY = (
    "timestamp,resource_id,user_id,credit_usage,region,service_tier,"
    "operation_type,success,resource_type,invoice_id,currency\n"
)


def _write_lake(tmp_path, days):
    root = tmp_path / "lake"
    for d, n_rows in days.items():
        p = root / f"year={d.year}" / f"month={d.month:02d}" / f"day={d.day:02d}"
        p.mkdir(parents=True)
        rows = "".join(
            f"2025-04-{d.day:02d} 10:00:{i:02d},r-{i},u-{i},1.5,eu,pro,inf,true,gpu,inv-{d.day}-{i},USD\n"
            for i in range(n_rows)
        )
        (p / "billing.csv").write_text(CSV_BODY + rows)
    return str(root)


def test_partition_root_read_types_partition_columns(spark, tmp_path):
    root = _write_lake(
        tmp_path, {date(2025, 4, 22): 3, date(2025, 4, 23): 4, date(2025, 4, 24): 5}
    )
    df = read_partition_root(spark, root)
    assert df.count() == 12
    assert dict(df.dtypes)["year"] == "int"
    assert {r["day"] for r in df.select("day").distinct().collect()} == {22, 23, 24}


def test_partition_window_prunes_scan(spark, tmp_path):
    """The backfill window must reach the scan as partition filters —
    pruning by construction (OPT1), visible in the physical plan."""
    root = _write_lake(
        tmp_path, {date(2025, 4, 22): 3, date(2025, 4, 23): 4, date(2025, 4, 24): 5}
    )
    df = read_partition_root(
        spark, root, from_date=date(2025, 4, 23), to_date=date(2025, 4, 23)
    )
    assert df.count() == 4
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_read_partition_paths_unions_files(spark, tmp_path):
    root = _write_lake(tmp_path, {date(2025, 4, 22): 3, date(2025, 4, 23): 4})
    parts = generate_partition_paths(
        f"file://{root}", date(2025, 4, 22), date(2025, 4, 23)
    )
    df = read_partition_paths(spark, parts, RAW_BILLING_SCHEMA)
    assert df.count() == 7
    assert {r["day"] for r in df.select("day").distinct().collect()} == {22, 23}


def test_latest_partition_date(spark, tmp_path):
    root = _write_lake(tmp_path, {date(2025, 4, 22): 1, date(2025, 4, 24): 1})
    assert latest_partition_date(spark, root) == date(2025, 4, 24)


def test_corrupt_rows_contained_permissive(spark, tmp_path):
    """OPT7 error containment: malformed rows null out instead of failing
    the read (PERMISSIVE mode), and well-formed rows survive intact."""
    root = tmp_path / "lake"
    p = root / "year=2025" / "month=04" / "day=23"
    p.mkdir(parents=True)
    (p / "billing.csv").write_text(
        CSV_BODY
        + "2025-04-23 10:00:00,r-1,u-1,1.5,eu,pro,inf,true,gpu,inv-1,USD\n"
        + "NOT_A_TIMESTAMP,r-2,u-2,NOT_A_DOUBLE,eu,pro,inf,NOT_A_BOOL,gpu,inv-2,USD\n"
        + "2025-04-23 11:00:00,r-3,u-3,2.5,eu,pro,inf,false,gpu,inv-3,USD\n"
    )
    df = read_partition_root(spark, str(root))
    rows = {r["invoice_id"]: r for r in df.collect()}
    assert len(rows) == 3  # no row lost the whole read
    assert rows["inv-1"]["credit_usage"] == 1.5
    assert rows["inv-2"]["timestamp"] is None  # malformed cell -> NULL
    assert rows["inv-2"]["credit_usage"] is None
    assert rows["inv-3"]["success"] is False


def test_partitioned_sink_dynamic_overwrite_and_pruning(spark, tmp_path):
    """Dynamic partition overwrite rewrites only touched partitions (the
    incremental-backfill semantic); static mode truncates the table (the
    reference's full-refresh). Read-back prunes on partition predicates."""
    from pyspark.sql import functions as F

    from billing_data_pipeline_spark.sources.partitioned_sink import (
        read_hive_partitioned,
        write_hive_partitioned,
    )

    path = str(tmp_path / "lake")
    base = spark.createDataFrame(
        [(1, 2025, 1), (2, 2025, 1), (3, 2025, 2), (4, 2025, 3)],
        "id long, year int, month int",
    )
    write_hive_partitioned(base, path, ["year", "month"])
    assert read_hive_partitioned(spark, path).count() == 4

    # backfill month=2 only: months 1 and 3 must survive
    fix = spark.createDataFrame([(30, 2025, 2), (31, 2025, 2)], "id long, year int, month int")
    write_hive_partitioned(fix, path, ["year", "month"], dynamic=True)
    after = read_hive_partitioned(spark, path)
    assert after.count() == 5
    assert sorted(
        r["id"] for r in after.filter("month = 2").collect()
    ) == [30, 31]

    # partition predicate shows up as PartitionFilters, not a data filter
    pruned = after.filter(F.col("month") == 1)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(month" in plan

    # static mode: the same fix write truncates everything else
    write_hive_partitioned(fix, path, ["year", "month"], dynamic=False)
    assert read_hive_partitioned(spark, path).count() == 2

    # small-files control: month=2 holds exactly one parquet file
    import glob

    files = glob.glob(f"{path}/year=2025/month=2/*.parquet")
    assert len(files) == 1


def test_sorted_write_clusters_row_groups(spark, tmp_path):
    """sortWithinPartitions must produce parquet files whose row-group
    min-max ranges on the sort key are disjoint-ish (clustered), enabling
    row-group skipping for range predicates."""
    import pyarrow.parquet as pq
    import glob

    from billing_data_pipeline_spark.sources.partitioned_sink import (
        write_hive_partitioned_sorted,
    )

    df = (
        spark.range(0, 100_000)
        .selectExpr("id", "cast(id % 7 as int) AS grp", "(99999 - id) AS k")
    )
    path = str(tmp_path / "sorted_lake")
    write_hive_partitioned_sorted(df, path, ["grp"], ["k"])

    f = glob.glob(f"{path}/grp=0/*.parquet")[0]
    md = pq.ParquetFile(f).metadata
    kidx = next(
        i for i in range(len(md.schema)) if md.schema.column(i).name == "k"
    )
    mins = [md.row_group(rg).column(kidx).statistics.min for rg in range(md.num_row_groups)]
    assert mins == sorted(mins)  # clustered: monotonically increasing row groups

    # file-level min-max covers the partition's k range exactly
    stats = md.row_group(0).column(kidx).statistics
    assert stats.has_min_max


def test_compaction_merges_microbatch_files(spark, tmp_path):
    """Append-heavy trees compact to one file per partition with identical
    data (count + sum invariants)."""
    import glob

    from billing_data_pipeline_spark.sources.partitioned_sink import (
        compact_partitions,
        read_hive_partitioned,
    )

    path = str(tmp_path / "appendy")
    for batch in range(4):  # simulate 4 micro-batch appends
        spark.createDataFrame(
            [(batch * 10 + i, 2025, 1 + (i % 2)) for i in range(10)],
            "id long, year int, month int",
        ).write.mode("append").partitionBy("year", "month").parquet(path)

    before = read_hive_partitioned(spark, path)
    n_before, sum_before = before.count(), before.agg({"id": "sum"}).first()[0]
    assert len(glob.glob(f"{path}/year=2025/month=1/*.parquet")) >= 4

    compact_partitions(spark, path, ["year", "month"], sort_cols=["id"])
    after = read_hive_partitioned(spark, path)
    assert after.count() == n_before
    assert after.agg({"id": "sum"}).first()[0] == sum_before
    assert len(glob.glob(f"{path}/year=2025/month=1/*.parquet")) == 1


def test_orc_roundtrip_preserves_schema_and_rows(spark, tmp_path):
    """ORC sink/source round-trip (the second columnar format Spark ships
    natively): schema and contents survive, predicates push down."""
    from billing_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    out = str(tmp_path / "events_orc")
    ev.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    assert back.schema == ev.schema
    assert back.count() == ev.count()
    plan = (
        back.filter("event_id = 42")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "event_id" in plan


def test_snapshot_table_concurrent_commits_lose_nothing(spark, tmp_path):
    """Two threads appending concurrently must not lose a commit record:
    the _lock file serializes the manifest read-modify-write (VERDICT r3
    #5 — pre-lock, last-writer-wins dropped commits from the log)."""
    import threading

    from billing_data_pipeline_spark.sources.versioned_sink import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "snap_mt"))
    t.commit(spark.range(1).withColumnRenamed("id", "k"))  # base overwrite
    per_thread, errors = 4, []

    def writer(tag: int):
        try:
            for i in range(per_thread):
                t.commit(
                    spark.range(tag * 100 + i, tag * 100 + i + 1)
                    .withColumnRenamed("id", "k"),
                    mode="append",
                    epoch=f"w{tag}-{i}",
                )
        except Exception as exc:  # pragma: no cover - failure detail
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(tag,)) for tag in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    man_epochs = t.epochs()
    assert man_epochs == {f"w{tag}-{i}" for tag in (1, 2) for i in range(per_thread)}
    assert t.latest_version() == 2 * per_thread  # base + 8 appends, none lost
    # every appended row is readable from the latest snapshot
    got = sorted(r["k"] for r in t.read().collect())
    want = sorted(
        [0] + [tag * 100 + i for tag in (1, 2) for i in range(per_thread)]
    )
    assert got == want
    # lock is released afterwards: an immediate commit must not block
    t.commit(spark.range(1).withColumnRenamed("id", "k"), mode="append")


def test_snapshot_table_stale_lock_is_broken(spark, tmp_path):
    """A lock file left by a crashed writer (old mtime) must be broken
    rather than deadlocking every future commit."""
    import os
    import time as _time

    from billing_data_pipeline_spark.sources.versioned_sink import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "snap_stale"))
    t._ensure_dir()  # init no longer mkdirs (review r7: read purity)
    lock = os.path.join(t.path, "_lock")
    with open(lock, "w") as f:
        f.write("99999")
    old = _time.time() - 10_000
    os.utime(lock, (old, old))
    v = t.commit(spark.range(2).withColumnRenamed("id", "k"))
    assert v == 0 and not os.path.exists(lock)


def test_snapshot_table_release_respects_other_holders_lock(spark, tmp_path):
    """A holder whose lock was broken (stale lease) and re-acquired by a
    NEWER writer must not unlink the new holder's lock on release — the
    release path verifies the acquisition token (review r4: a bare
    finally-unlink sheared whoever held the lock at exit time)."""
    import os

    from billing_data_pipeline_spark.sources.versioned_sink import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "snap_tok"))
    t._ensure_dir()  # init no longer mkdirs (review r7: read purity)
    lock = os.path.join(t.path, "_lock")
    with t._mutate_lock():
        # simulate a break + re-acquire happening while we hold the lock
        os.unlink(lock)
        with open(lock, "w") as f:
            f.write("someone-else's-token")
    # our release must have left the new holder's lock in place
    with open(lock) as f:
        assert f.read() == "someone-else's-token"
    os.unlink(lock)


def test_snapshot_table_vacuum_sweeps_stale_staging_orphans(spark, tmp_path):
    """A _staging_* dir from a crashed commit (older than the lock lease)
    is unreferenced by construction and must be swept by vacuum; a FRESH
    staging dir (possible in-flight commit) must be left alone."""
    import os
    import time as _time

    from billing_data_pipeline_spark.sources.versioned_sink import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "snap_stage"))
    t.commit(spark.range(1).withColumnRenamed("id", "k"))
    stale = os.path.join(t.path, "_staging_deadbeef")
    fresh = os.path.join(t.path, "_staging_cafebabe")
    # in-flight long write: the top-level dir mtime went stale long ago,
    # but Spark tasks keep landing files under _temporary/ (advice r4 —
    # the old top-level-only check swept exactly this shape mid-commit)
    inflight = os.path.join(t.path, "_staging_12345678")
    os.makedirs(stale)
    os.makedirs(fresh)
    os.makedirs(os.path.join(inflight, "_temporary", "0"))
    old = _time.time() - 10_000
    with open(os.path.join(stale, "part-0.parquet"), "w") as f:
        f.write("x")
    task_file = os.path.join(inflight, "_temporary", "0", "part-0.parquet")
    with open(task_file, "w") as f:
        f.write("x")
    for p in (
        stale,
        os.path.join(stale, "part-0.parquet"),
        inflight,
        os.path.join(inflight, "_temporary"),
        os.path.join(inflight, "_temporary", "0"),
    ):
        os.utime(p, (old, old))
    # task_file keeps its fresh mtime: ONE fresh entry anywhere in the
    # tree must protect the whole staging dir
    t.vacuum(keep=1)
    assert not os.path.exists(stale)
    assert os.path.exists(fresh)
    assert os.path.exists(inflight)
    # once the write truly dies (everything idle past the threshold) the
    # orphan goes — with the threshold now a parameter, not the lock lease
    os.utime(task_file, (old, old))
    t.vacuum(keep=1, stale_staging_secs=5_000)
    assert not os.path.exists(inflight)
    assert os.path.exists(fresh)


def test_snapshot_inprogress_marker_protects_idle_staging(spark, tmp_path):
    """The tree-idle check alone cannot tell 'crashed writer' from 'write
    finished, commit waiting on the lock' (review r5): a staging tree goes
    quiet the moment the parquet job completes. A fresh ``.inprogress``
    marker must protect a fully-idle staging dir; a STALE marker (crashed
    holder stopped heart-beating) must not, and the marker is swept with
    the dir."""
    import os
    import time as _time

    from billing_data_pipeline_spark.sources.versioned_sink import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "snap_marker"))
    t.commit(spark.range(1).withColumnRenamed("id", "k"))
    old = _time.time() - 10_000

    protected = os.path.join(t.path, "_staging_aaaa0001")
    os.makedirs(protected)
    with open(os.path.join(protected, "part-0.parquet"), "w") as f:
        f.write("x")
    for p in (protected, os.path.join(protected, "part-0.parquet")):
        os.utime(p, (old, old))  # entire tree idle — write finished
    with open(protected + ".inprogress", "w") as f:
        f.write("123")  # fresh marker: commit alive, waiting on the lock

    crashed = os.path.join(t.path, "_staging_aaaa0002")
    os.makedirs(crashed)
    os.utime(crashed, (old, old))
    with open(crashed + ".inprogress", "w") as f:
        f.write("456")
    os.utime(crashed + ".inprogress", (old, old))  # heartbeat died long ago

    t.vacuum(keep=1)
    assert os.path.exists(protected), "live marker must protect idle staging"
    assert os.path.exists(protected + ".inprogress")
    assert not os.path.exists(crashed), "stale marker does not protect"
    assert not os.path.exists(crashed + ".inprogress"), "marker swept with dir"

    # orphan marker whose dir is already gone ages out too
    orphan_marker = os.path.join(t.path, "_staging_aaaa0003.inprogress")
    with open(orphan_marker, "w") as f:
        f.write("789")
    os.utime(orphan_marker, (old, old))
    t.vacuum(keep=1)
    assert not os.path.exists(orphan_marker)


def test_snapshot_vacuum_racing_slow_commit_loses_nothing(spark, tmp_path, monkeypatch):
    """THE r5 verdict race, run for real: a commit whose parquet write is
    slow (sleeping Arrow batches) while an aggressive vacuum loop sweeps
    with a tiny stale_staging_secs. The heartbeat marker must keep the
    staging dir alive through the write AND the lock wait; the commit must
    publish every row."""
    import os
    import threading
    import time as _time

    from billing_data_pipeline_spark.sources.versioned_sink import SnapshotTable

    monkeypatch.setattr(SnapshotTable, "_HEARTBEAT_SECS", 0.05)
    t = SnapshotTable(spark, str(tmp_path / "snap_race"))
    t.commit(spark.range(1).withColumnRenamed("id", "k"))

    def slow_batches(it):
        import time as _t

        for pdf in it:
            _t.sleep(1.5)  # >> stale_staging_secs below
            yield pdf

    slow_df = (
        spark.range(1, 4)
        .withColumnRenamed("id", "k")
        .coalesce(1)
        .mapInPandas(slow_batches, "k long")
    )

    stop = threading.Event()
    # Record every rmtree on a staging path: with the heartbeat marker the
    # vacuum loop must never touch the live staging dir (commit's own
    # cleanup is guarded by os.path.exists and fires only on failure).
    import shutil as _shutil

    real_rmtree = _shutil.rmtree
    swept = []

    def spying_rmtree(path, *a, **kw):
        if str(path).startswith(os.path.join(t.path, "_staging_")):
            swept.append(str(path))
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(_shutil, "rmtree", spying_rmtree)

    def vacuum_loop():
        while not stop.is_set():
            t.vacuum(keep=10, stale_staging_secs=0.3)
            _time.sleep(0.1)

    v = threading.Thread(target=vacuum_loop)
    v.start()
    try:
        version = t.commit(slow_df, mode="append")
    finally:
        stop.set()
        v.join()
    assert version == 1
    assert not swept, f"a staging dir was rmtree'd mid-commit: {swept}"
    got = sorted(r["k"] for r in t.read().collect())
    assert got == [0, 1, 2, 3]
    # no staging debris or markers left behind
    leftovers = [n for n in os.listdir(t.path) if n.startswith("_staging_")]
    assert leftovers == []


def test_snapshot_table_commit_time_travel_vacuum(spark, tmp_path):
    """SnapshotTable: atomic manifest publish, version monotonicity, time
    travel to any retained version, vacuum pruning, and crash-orphan
    handling (an unpublished v=N dir is invisible to readers and removed by
    vacuum)."""
    import os

    from billing_data_pipeline_spark.sources.versioned_sink import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "snap"))
    assert t.latest_version() is None

    v0 = t.commit(spark.range(3).withColumnRenamed("id", "k"))
    v1 = t.commit(spark.range(5).withColumnRenamed("id", "k"))
    assert (v0, v1) == (0, 1)
    assert t.read().count() == 5            # latest
    assert t.read(version=0).count() == 3   # time travel

    # crash leftover ABOVE latest: invisible to reads, and LEFT ALONE by
    # vacuum (review r4: vacuum's post-lock delete of a latest+k orphan
    # could race a concurrent commit claiming that number — orphans above
    # latest belong to commit's self-heal); an orphan AT OR BELOW latest
    # is vacuumed as before.
    spark.range(9).write.parquet(os.path.join(t.path, "v=7"))
    assert t.read().count() == 5
    removed = t.vacuum(keep=1)
    assert 0 in removed and 7 not in removed
    assert os.path.exists(os.path.join(t.path, "v=7"))
    assert t.read().count() == 5
    # commit's self-heal shunts the orphan aside when its number comes up
    for _ in range(6):
        t.commit(spark.range(1).withColumnRenamed("id", "k"), mode="append")
    assert t.latest_version() == 7  # reused the orphan's number safely
    # base overwrite (5 rows) + 6 one-row appends — the 9-row orphan's
    # data never leaks into the healed version
    assert t.read(version=7).count() == 11
    import pytest

    with pytest.raises(Exception):
        t.read(version=0)  # vacuumed away


def _write_x(vals):
    """commit_files writer producing a one-column parquet file of ``vals``."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(target):
        os.makedirs(target, exist_ok=True)
        pq.write_table(pa.table({"x": pa.array(vals, pa.int64())}),
                       os.path.join(target, "part-0.parquet"))

    return write


def test_snapshot_commit_meta_rides_in_the_log(tmp_path):
    """A commit's JSON ``meta`` is published in its manifest entry and read
    back, oldest first, through ``commits()``; a commit without one reads
    None."""
    from billing_data_pipeline_spark.sources.versioned_sink import SnapshotTable

    t = SnapshotTable(None, str(tmp_path / "snap_meta"))
    assert t.commits() == []
    t.commit_files(_write_x([1]), mode="append",
                   meta={"files": [{"filename": "a"}]})
    t.commit_files(_write_x([2]), mode="append")
    assert [(c["v"], c["meta"]) for c in t.commits()] == [
        (0, {"files": [{"filename": "a"}]}),
        (1, None),
    ]


def test_snapshot_read_with_a_known_schema(spark, tmp_path):
    """read(schema=...) applies the given schema across an append chain
    instead of reading it from the footers."""
    from billing_data_pipeline_spark.sources.versioned_sink import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "snap_schema"))
    t.commit(spark.range(3).toDF("n"), mode="append")
    t.commit(spark.range(3, 5).toDF("n"), mode="append")
    df = t.read(schema="n long")
    assert df.schema == t.read().schema
    assert sorted(r["n"] for r in df.collect()) == list(range(5))


def test_snapshot_table_factory_dispatch(tmp_path):
    import pytest

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
    # just a hardcoded object-store allowlist (hdfs:// and uppercase
    # S3A:// once fell through to the POSIX rename protocol)
    for url in (
        "s3a://bucket/warehouse/t",
        "S3A://bucket/warehouse/t",
        "hdfs://nn/warehouse/t",
        "dbfs://x/t",
        "gs://b/t",
    ):
        with pytest.raises(NotImplementedError, match="file:///"):
            snapshot_table_for(None, url)
    # file URL with a remote authority must not resolve CWD-relative
    with pytest.raises(ValueError, match="authority"):
        snapshot_table_for(None, "file://host/share")


def test_diff_snapshots_classifies_changes(spark):
    """diff_snapshots: insert/delete/update classification with null-safe
    column comparison (a NULL -> value transition is an update, value ->
    identical value is silent)."""
    from billing_data_pipeline_spark.operators.cdc import diff_snapshots

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "c", 3.0)],
        "k int, s string, x double",
    )
    new = spark.createDataFrame(
        [(2, "b", 2.0), (3, "c", 3.0), (4, "d", 4.0)],
        "k int, s string, x double",
    )
    got = {
        r["k"]: (r["change"], r["old_x"], r["new_x"])
        for r in diff_snapshots(old, new, ["k"]).collect()
    }
    assert got == {
        1: ("delete", 1.0, None),
        2: ("update", None, 2.0),   # NULL -> 2.0 is a change
        4: ("insert", None, 4.0),
    }  # k=3 unchanged -> absent


def test_diff_snapshots_plan_time_guards(spark):
    """Review r7: keys=[] and output/scratch-name collisions fail loudly
    at plan time instead of an opaque reduce() TypeError / silent
    duplicate 'change' columns."""
    import pytest

    from billing_data_pipeline_spark.operators.cdc import diff_snapshots

    df = spark.createDataFrame([(1, "a")], "k int, s string")
    with pytest.raises(ValueError, match="at least one key"):
        diff_snapshots(df, df, [])
    clash = spark.createDataFrame([(1, 2.0)], "change int, x double")
    with pytest.raises(ValueError, match="collide"):
        diff_snapshots(clash, clash, ["change"])


def test_diff_snapshots_null_keys_classified_by_side(spark):
    """NULL join keys never match (SQL join semantics), so a NULL-keyed row
    appears once per side it exists on — and classification must follow the
    SIDE (presence marker), not key nullness: old-only NULL-keyed rows are
    deletes, new-only ones inserts. change_deltas then debits/credits the
    right groups. (ADVICE r2: key-nullness classification read an old-only
    NULL-keyed row as an 'insert' with NULL new columns.)"""
    from billing_data_pipeline_spark.operators.cdc import (
        change_deltas,
        diff_snapshots,
    )

    old = spark.createDataFrame(
        [(None, "g1", 5.0), (1, "g1", 1.0)], "k int, g string, x double"
    )
    new = spark.createDataFrame(
        [(None, "g2", 7.0), (1, "g1", 1.0)], "k int, g string, x double"
    )
    changes = diff_snapshots(old, new, ["k"])
    got = sorted(
        (r["change"], r["old_x"], r["new_x"]) for r in changes.collect()
    )
    assert got == [("delete", 5.0, None), ("insert", None, 7.0)]

    deltas = {
        (r["g"], r["d_count"], r["d_measure"])
        for r in change_deltas(changes, "g", "x").collect()
    }
    assert deltas == {("g1", -1, -5.0), ("g2", 1, 7.0)}


def test_snapshot_schema_evolution_across_versions(spark, tmp_path):
    """Schema evolution across snapshot versions: a later commit may add
    columns; time travel returns each version's own schema, and a merged
    read (mergeSchema over the retained version dirs) yields the union
    schema with NULLs for pre-evolution rows — the plain-parquet form of
    additive evolution."""
    from billing_data_pipeline_spark.sources.versioned_sink import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "snap_evo"))
    t.commit(spark.createDataFrame([(1, "x")], "k int, s string"))
    t.commit(spark.createDataFrame([(2, "y", 9.5)], "k int, s string, score double"))

    assert t.read(version=0).columns == ["k", "s"]
    assert t.read(version=1).columns == ["k", "s", "score"]

    merged = (
        spark.read.option("mergeSchema", True)
        .parquet(*[f"{t.path}/v={v}" for v in t.versions()])
    )
    assert set(merged.columns) == {"k", "s", "score"}
    rows = {r["k"]: r["score"] for r in merged.collect()}
    assert rows == {1: None, 2: 9.5}


def test_maintain_rollup_handles_group_key_churn(spark):
    """Incremental view maintenance under group-key churn: an update that
    MOVES a row between groups must debit the old group and credit the new
    one; a group emptied by deletes disappears, exactly as a recompute
    would."""
    from pyspark.sql import functions as F

    from billing_data_pipeline_spark.operators.cdc import (
        diff_snapshots,
        maintain_rollup,
    )

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)],
        "k int, g string, x double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "c", 20.0), (4, "a", 5.0)],  # 2 moved a->c, 3 gone
        "k int, g string, x double",
    )
    base = old.groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(30,6)")).alias("total"),
    )
    changes = diff_snapshots(old, new, ["k"], ["g", "x"])
    got = {
        r["g"]: (r["n"], float(r["total"]))
        for r in maintain_rollup(
            base, changes, "g", count_col="n", sum_col="total", measure_col="x"
        ).collect()
    }
    direct = {
        r["g"]: (r["n"], float(r["total"]))
        for r in new.groupBy("g")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("x").cast("decimal(30,6)"))
            .cast("double")
            .alias("total"),
        )
        .collect()
    }
    assert got == direct == {"a": (2, 15.0), "c": (1, 20.0)}  # 'b' vanished


def test_snapshot_cdc_drives_incremental_rollup(spark):
    """The full incremental loop: version the table with SnapshotTable,
    recover per-version changes with diff_snapshots, fold them into the
    rollup with maintain_rollup — after every version the maintained
    rollup equals a direct recompute of that snapshot. The table is never
    rescanned after the first version; each step costs O(|changes|)."""
    import tempfile

    from pyspark.sql import functions as F

    from billing_data_pipeline_spark.operators.cdc import (
        diff_snapshots,
        maintain_rollup,
    )
    from billing_data_pipeline_spark.sources.versioned_sink import SnapshotTable

    schema = "k int, g string, x double"
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="snap_cdc_"))
    t.commit(spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], schema))
    t.commit(spark.createDataFrame([(3, "a", 3.0)], schema), mode="append")
    t.commit(spark.createDataFrame([(4, "b", 4.0), (5, "a", 5.0)], schema), mode="append")

    def rollup_of(df, final=True):
        total = F.sum(F.col("x").cast("decimal(30,6)"))
        if final:
            total = total.cast("double")
        return df.groupBy("g").agg(
            F.count("*").alias("n"), total.alias("total")
        )

    maintained = rollup_of(t.read(version=0), final=False)
    for v in (1, 2):
        changes = diff_snapshots(t.read(version=v - 1), t.read(version=v), ["k"])
        maintained = maintain_rollup(
            maintained, changes, "g", count_col="n", sum_col="total", measure_col="x"
        )
        direct = rollup_of(t.read(version=v))
        got = {r["g"]: (r["n"], r["total"]) for r in maintained.collect()}
        want = {r["g"]: (r["n"], r["total"]) for r in direct.collect()}
        assert got == want, f"diverged at version {v}"
        # re-feed: output of maintain_rollup is double; recast for next fold
        maintained = maintained.select(
            "g", "n", F.col("total").cast("decimal(30,6)").alias("total")
        )


def test_snapshot_commit_self_heals_orphan_dir(spark, tmp_path):
    """A crash between the v=N data write and the manifest publish leaves
    an unpublished orphan dir; the next commit (e.g. a replayed epoch)
    must overwrite it instead of failing errorifexists forever
    (review r3)."""
    from billing_data_pipeline_spark.sources.versioned_sink import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "heal"))
    t.commit(spark.createDataFrame([(1, "a")], "k int, s string"))
    # simulate the crashed attempt at version 1
    spark.createDataFrame([(99, "junk")], "k int, s string").write.parquet(
        f"{t.path}/v=1"
    )
    v = t.commit(spark.createDataFrame([(2, "b")], "k int, s string"))
    assert v == 1
    assert {r["k"] for r in t.read().collect()} == {2}
    assert {r["k"] for r in t.read(version=0).collect()} == {1}


def test_streaming_rollup_survives_torn_state_attempt(spark, tmp_path):
    """Rollup state is versioned + pointer-published: a junk/partial v-dir
    from a crashed merge attempt must not break or reset the rollup on
    replay (review r3: the old overwrite-in-place design lost all history
    on a torn live dir)."""
    from billing_data_pipeline_spark.streaming.rollup_stream import StreamingRollup

    ev = spark.createDataFrame(
        [("a", 1.0, 1), ("a", 2.0, 2), ("b", 3.0, 3)],
        "event_type string, value double, user_id long",
    )
    r = StreamingRollup(
        spark, str(tmp_path / "roll"), ["event_type"], "value",
        {"unique_users": "user_id"},
    )
    r.merge_batch(ev, 0)
    before = {row["event_type"]: row["total_usage"]
              for row in r.read_finalized().collect()}
    # crashed attempt at batch 1: unpublished garbage dir
    (tmp_path / "roll" / "v=1").mkdir()
    (tmp_path / "roll" / "v=1" / "part-junk.parquet").write_bytes(b"torn")
    # state still reads fine (pointer is the truth)
    assert {row["event_type"]: row["total_usage"]
            for row in r.read_finalized().collect()} == before
    r.merge_batch(ev, 1)  # replaces the orphan, merges on top of batch 0
    after = {row["event_type"]: row["total_usage"]
             for row in r.read_finalized().collect()}
    assert after == {k: v * 2 for k, v in before.items()}
    # replayed batch id: no-op
    r.merge_batch(ev, 1)
    assert {row["event_type"]: row["total_usage"]
            for row in r.read_finalized().collect()} == after


def test_streaming_rollup_keep_versions_and_reset_guard(spark, tmp_path):
    """keep_versions must be honored beyond 2 (review r5: the old prune
    kept a hardcoded {current, prior} pair), and a batch id BELOW the
    merged high-water mark — a reset/relocated checkpoint re-delivering
    from 0 — must raise instead of silently freezing the rollup."""
    import os

    import pytest

    from billing_data_pipeline_spark.streaming.rollup_stream import StreamingRollup

    ev = spark.createDataFrame(
        [("a", 1.0, 1)], "event_type string, value double, user_id long"
    )
    r = StreamingRollup(
        spark, str(tmp_path / "roll"), ["event_type"], "value",
        {"unique_users": "user_id"}, keep_versions=3,
    )
    for b in range(5):
        r.merge_batch(ev, b)
    vdirs = sorted(
        int(n[2:]) for n in os.listdir(r.path) if n.startswith("v=")
    )
    assert vdirs == [2, 3, 4]  # newest keep_versions=3, not a pair
    # replay of the LAST batch is the legitimate restart shape: no-op
    r.merge_batch(ev, 4)
    assert r.read_finalized().collect()[0]["transaction_count"] == 5
    # a LOWER id means the checkpoint was reset: fail loudly
    with pytest.raises(RuntimeError, match="checkpoint was reset"):
        r.merge_batch(ev, 1)


def test_strict_read_failfast_and_missing_partition_skip(spark, tmp_path):
    """permissive=False must actually enforce FAILFAST (Spark's CSV
    default is already permissive, so the old flag was a no-op — review
    r5), and read_partition_paths must skip enumerated files that do not
    exist yet (the default yesterday->today window always contains
    today's still-open file) instead of failing the whole read."""
    import pytest

    from py4j.protocol import Py4JJavaError

    root = _write_lake(tmp_path, {date(2025, 4, 22): 2})
    bad = tmp_path / "lake" / "year=2025" / "month=04" / "day=23"
    bad.mkdir(parents=True)
    (bad / "billing.csv").write_text(
        CSV_BODY + "NOT_A_TIMESTAMP,r-2,u-2,NOT_A_DOUBLE,eu,pro,inf,x,gpu,i,USD\n"
    )
    with pytest.raises((Py4JJavaError, Exception), match="(?i)malformed|FAILFAST"):
        read_partition_root(spark, root, permissive=False).collect()

    parts = generate_partition_paths(
        f"file://{root}", date(2025, 4, 21), date(2025, 4, 22)
    )  # day=21 was never written
    df = read_partition_paths(spark, parts, RAW_BILLING_SCHEMA)
    assert df.count() == 2
    assert {r["day"] for r in df.select("day").distinct().collect()} == {22}

    # an all-missing window returns an empty, fully-typed frame
    none = generate_partition_paths(
        f"file://{root}", date(2024, 1, 1), date(2024, 1, 2)
    )
    empty = read_partition_paths(spark, none, RAW_BILLING_SCHEMA)
    assert empty.count() == 0
    assert "day" in empty.columns


def test_strict_read_missing_root_raises_permissive_returns_empty(
    spark, tmp_path
):
    """Review r7: the empty-frame PATH_NOT_FOUND fallback is a PERMISSIVE
    containment behavior — a FAILFAST validation read of a missing root
    must fail, not report 'validated 0 rows'."""
    import pytest

    missing = str(tmp_path / "no_such_lake")
    empty = read_partition_root(spark, missing, permissive=True)
    assert empty.count() == 0 and "day" in empty.columns
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        read_partition_root(spark, missing, permissive=False)


def test_s3a_conf_anonymous_provider_seam(monkeypatch):
    """O3 resource seam (VERDICT r5 #6): the reference reads its public
    bucket with s3fs anon=True; the S3A equivalent must be emitted by
    session.s3a_conf — explicitly, via env, and not at all by default."""
    from billing_data_pipeline_spark.session import s3a_conf

    monkeypatch.delenv("SPARK_GRAFT_S3_ANON", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_S3_ENDPOINT", raising=False)
    assert s3a_conf() == {}
    anon = s3a_conf(public_bucket=True)
    assert (
        anon["spark.hadoop.fs.s3a.aws.credentials.provider"]
        == "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider"
    )
    monkeypatch.setenv("SPARK_GRAFT_S3_ANON", "1")
    assert s3a_conf() == anon
    # explicit False beats the env (authenticated default chain)
    assert s3a_conf(public_bucket=False) == {}
    monkeypatch.setenv("SPARK_GRAFT_S3_ENDPOINT", "http://minio.local:9000")
    ep = s3a_conf(public_bucket=False)
    assert ep["spark.hadoop.fs.s3a.endpoint"] == "http://minio.local:9000"
    assert ep["spark.hadoop.fs.s3a.path.style.access"] == "true"


def test_diff_snapshots_null_key_identical_rows_net_out(spark):
    """Review r6 (reproduced): a NULL-keyed row identical in both
    snapshots emitted a phantom delete+insert pair on every diff — the
    plain key join can never match NULL keys. NULL-keyed rows now diff as
    a row-level multiset: identical copies net out, surplus copies emit,
    and NULL-keyed rows never produce 'update' (no identity)."""
    from billing_data_pipeline_spark.operators.cdc import (
        diff_snapshots,
        diff_snapshots_oracle_sql,
    )

    old = spark.createDataFrame(
        [(None, "same", 5.0), (None, "gone", 1.0), (1, "keyed", 2.0)],
        "k int, g string, x double",
    )
    new = spark.createDataFrame(
        [(None, "same", 5.0), (None, "fresh", 9.0), (1, "keyed", 3.0)],
        "k int, g string, x double",
    )
    got = {
        (r["k"], r["change"], r["old_g"], r["new_g"])
        for r in diff_snapshots(old, new, ["k"], ["g", "x"]).collect()
    }
    assert got == {
        (None, "delete", "gone", None),
        (None, "insert", None, "fresh"),
        (1, "update", "keyed", "keyed"),
    }
    # the oracle twin agrees (including presence-only mode being valid SQL)
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE oldt AS SELECT * FROM (VALUES (NULL, 'same', 5.0), (NULL, 'gone', 1.0), (1, 'keyed', 2.0)) t(k, g, x)")
    con.execute("CREATE TABLE newt AS SELECT * FROM (VALUES (NULL, 'same', 5.0), (NULL, 'fresh', 9.0), (1, 'keyed', 3.0)) t(k, g, x)")
    sql = diff_snapshots_oracle_sql(
        "SELECT * FROM oldt", "SELECT * FROM newt", ["k"], ["g", "x"]
    )
    rows = {
        (r[0], r[1], r[2], r[4]) for r in con.execute(sql).fetchall()
    }
    assert rows == got
    # presence-only mode renders valid SQL (old renderer: 'WHEN  THEN')
    sql2 = diff_snapshots_oracle_sql(
        "SELECT * FROM oldt", "SELECT * FROM newt", ["k"], []
    )
    con.execute(sql2).fetchall()
    con.close()
