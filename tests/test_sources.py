"""Source-layer tests: Hive-partitioned reads of the lake, snapshot tables
and their change feeds."""

from __future__ import annotations

from datetime import date

from billing_data_pipeline_spark.sources.csv_source import (
    list_partition_files,
    read_partition_files,
)


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


def _read_lake(spark, root, from_date=None, to_date=None):
    return read_partition_files(
        spark, root, list_partition_files(spark, root, from_date, to_date)
    )


def test_partition_root_read_types_partition_columns(spark, tmp_path):
    root = _write_lake(
        tmp_path, {date(2025, 4, 22): 3, date(2025, 4, 23): 4, date(2025, 4, 24): 5}
    )
    df = _read_lake(spark, root)
    assert df.count() == 12
    assert dict(df.dtypes)["year"] == "int"
    assert {r["day"] for r in df.select("day").distinct().collect()} == {22, 23, 24}


def test_partition_window_prunes_scan(spark, tmp_path):
    """The backfill window prunes the listing walk (OPT1), so the scan
    opens only the window's files."""
    root = _write_lake(
        tmp_path, {date(2025, 4, 22): 3, date(2025, 4, 23): 4, date(2025, 4, 24): 5}
    )
    df = _read_lake(spark, root, date(2025, 4, 23), date(2025, 4, 23))
    assert df.count() == 4
    assert [f.split("/")[-2] for f in df.inputFiles()] == ["day=23"]


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
    df = _read_lake(spark, str(root))
    rows = {r["invoice_id"]: r for r in df.collect()}
    assert len(rows) == 3  # no row lost the whole read
    assert rows["inv-1"]["credit_usage"] == 1.5
    assert rows["inv-2"]["timestamp"] is None  # malformed cell -> NULL
    assert rows["inv-2"]["credit_usage"] is None
    assert rows["inv-3"]["success"] is False


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
                    meta={"tag": f"w{tag}-{i}"},
                )
        except Exception as exc:  # pragma: no cover - failure detail
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(tag,)) for tag in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    tags = {c["meta"]["tag"] for c in t.commits() if c["meta"]}
    assert tags == {f"w{tag}-{i}" for tag in (1, 2) for i in range(per_thread)}
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
    """A leftover ``_lock`` file of any age, fresh or old, with an old
    writer's token in it, does not block a commit: only a held ``flock``
    does, and the kernel drops that when its holder dies."""
    import os
    import time as _time

    from billing_data_pipeline_spark.sources.versioned_sink import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "snap_stale"))
    t._ensure_dir()  # init no longer mkdirs (review r7: read purity)
    lock = os.path.join(t.path, "_lock")
    with open(lock, "w") as f:
        f.write("99999")
    for age in (0, 10_000):
        then = _time.time() - age
        os.utime(lock, (then, then))
        t0 = _time.monotonic()
        v = t.commit(spark.range(2).withColumnRenamed("id", "k"))
        assert _time.monotonic() - t0 < 60, "commit waited on a dead lock"
    assert v == 1 and t.latest_version() == 1


def test_snapshot_vacuum_racing_slow_commit_loses_nothing(spark, tmp_path, monkeypatch):
    """THE r5 verdict race, run for real: a commit whose parquet write is
    slow (sleeping Arrow batches) while a vacuum loop runs every 0.1 s.
    The commit's shared ``_writers`` lock must keep its staging dir alive
    through the write AND the ``_lock`` wait; the commit must publish
    every row."""
    import os
    import threading
    import time as _time

    from billing_data_pipeline_spark.sources.versioned_sink import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "snap_race"))
    t.commit(spark.range(1).withColumnRenamed("id", "k"))

    def slow_batches(it):
        import time as _t

        for pdf in it:
            _t.sleep(1.5)  # >> the vacuum loop's period below
            yield pdf

    slow_df = (
        spark.range(1, 4)
        .withColumnRenamed("id", "k")
        .coalesce(1)
        .mapInPandas(slow_batches, "k long")
    )

    stop = threading.Event()
    # Record every rmtree on a staging path: with the commit holding
    # _writers the vacuum loop must never touch the live staging dir
    # (commit's own cleanup is guarded by os.path.exists and fires only
    # on failure).
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
            t.vacuum(keep=10)
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
    # no staging debris left behind
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
    an unpublished orphan dir; the next commit (e.g. a rerun after the
    crash) must overwrite it instead of failing errorifexists forever
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


def test_missing_lake_root_raises_and_ingest_continues_on_empty(spark, tmp_path):
    """A missing lake root fails the listing in Spark's PATH_NOT_FOUND words;
    ingest treats it as an empty lake (the reference's sensors continue on
    empty) and reads nothing."""
    import pytest

    from billing_data_pipeline_spark.pipeline import BillingPipeline

    missing = str(tmp_path / "no_such_lake")
    with pytest.raises(FileNotFoundError, match="PATH_NOT_FOUND"):
        list_partition_files(spark, missing)
    m = BillingPipeline(spark, str(tmp_path / "wh")).ingest(missing)
    assert m["files_discovered"] == 0 and m["rows_appended"] == 0


def test_s3a_conf_anonymous_provider_seam(monkeypatch):
    """O3 resource seam (VERDICT r5 #6): the reference reads its public
    bucket with s3fs anon=True; the S3A equivalent must be emitted by
    session.s3a_conf — via env, and not at all by default."""
    from billing_data_pipeline_spark.session import s3a_conf

    monkeypatch.delenv("SPARK_GRAFT_S3_ANON", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_S3_ENDPOINT", raising=False)
    assert s3a_conf() == {}
    monkeypatch.setenv("SPARK_GRAFT_S3_ANON", "1")
    anon = s3a_conf()
    assert anon == {
        "spark.hadoop.fs.s3a.aws.credentials.provider":
        "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider"
    }
    # a falsy value keeps the authenticated default chain
    monkeypatch.setenv("SPARK_GRAFT_S3_ANON", "0")
    monkeypatch.setenv("SPARK_GRAFT_S3_ENDPOINT", "http://minio.local:9000")
    assert s3a_conf() == {
        "spark.hadoop.fs.s3a.endpoint": "http://minio.local:9000",
        "spark.hadoop.fs.s3a.path.style.access": "true",
    }


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
