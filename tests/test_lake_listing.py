"""The lake is listed on the driver and each run reads only the files it
ingests: the listing launches no Spark job at any lake size, the batch
scans only the new files, and the listing's ledger keys are the keys
Spark's own file index gives, so no recorded file ever looks new."""

from __future__ import annotations

import pathlib
from datetime import date, timedelta

from pyspark.sql import functions as F

from billing_data_pipeline_spark import pipeline
from billing_data_pipeline_spark.operators.ingest import append_new_rows_per_file
from billing_data_pipeline_spark.operators.ledger import (
    file_key,
    hash_files,
    ledger_key,
)
from billing_data_pipeline_spark.pipeline import BillingPipeline
from billing_data_pipeline_spark.sources.csv_source import (
    RAW_BILLING_KEYS,
    RAW_BILLING_TABLE_SCHEMA,
    list_partition_files,
    read_partition_files,
)
from tests.test_pipeline_e2e import CSV_HEADER


def _land(root, day: date, name="billing.csv", invoices=("a",)):
    d = pathlib.Path(root, f"year={day.year}", f"month={day.month:02d}")
    d = d / f"day={day.day:02d}"
    d.mkdir(parents=True, exist_ok=True)
    rows = "".join(
        f"{day} 10:00:{i:02d},res-{i},user-{i},{1.5 * (i + 1)},eu,pro,inference,"
        f"true,gpu,{inv},USD\n"
        for i, inv in enumerate(invoices)
    )
    (d / name).write_text(CSV_HEADER + rows)
    return d / name


def _lake(tmp_path, days: int, root="lake"):
    start = date(2025, 3, 1)
    for k in range(days):
        _land(tmp_path / root, start + timedelta(days=k), invoices=(f"inv-{k}",))
    return str(tmp_path / root)


def test_noop_run_launches_no_job_past_the_parallel_listing_threshold(
    spark, spark_jobs, tmp_path
):
    """40 day directories: more than the 32 past which Spark's file index
    lists a glob with a parallel job."""
    days = 40
    root = _lake(tmp_path, days)
    pipe = BillingPipeline(spark, str(tmp_path / "wh"))
    assert pipe.run(root)["ingest"]["rows_appended"] == days

    m, jobs = spark_jobs(lambda: pipe.run(root))
    assert jobs == 0
    assert m["ingest"]["files_discovered"] == days
    assert m["ingest"]["files_new_or_changed"] == 0


def test_daily_batch_scans_only_the_files_it_ingests(spark, tmp_path, monkeypatch):
    root = _lake(tmp_path, 3)
    pipe = BillingPipeline(spark, str(tmp_path / "wh"))
    pipe.run(root)
    new = _land(root, date(2025, 3, 4), invoices=("x", "y"))

    batches = []
    real = pipeline.append_new_rows_per_file

    def spy(batch, *args, **kwargs):
        batches.append(batch)
        return real(batch, *args, **kwargs)

    monkeypatch.setattr(pipeline, "append_new_rows_per_file", spy)
    assert pipe.run(root)["ingest"]["rows_appended"] == 2
    (batch,) = batches
    assert [file_key(f) for f in batch.inputFiles()] == [str(new)]
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryFileIndex(1 paths)" in plan


def test_window_prunes_the_walk(spark, tmp_path):
    root = _lake(tmp_path, 40)  # 2025-03-01 .. 2025-04-09
    got = list_partition_files(spark, root, date(2025, 3, 31), date(2025, 4, 2))
    assert [f.split("/")[-4:-1] for f in got] == [
        ["year=2025", "month=03", "day=31"],
        ["year=2025", "month=04", "day=01"],
        ["year=2025", "month=04", "day=02"],
    ]
    assert len(list_partition_files(spark, root, from_date=date(2025, 4, 9))) == 1
    assert len(list_partition_files(spark, root, to_date=date(2025, 2, 28))) == 0


# Names whose URI needs percent-encoding: a space, '%', '#', a non-ASCII
# letter, glob metacharacters, and a no-break space (a non-ASCII space
# character, which java.net.URI does encode).
ODD_NAMES = ("bill ing #1 100%.csv", "día [v2].csv", "u\u00a0v{x}.csv")


def _odd_lake(tmp_path):
    root = tmp_path / "lake dir"
    for k, name in enumerate(ODD_NAMES):
        # a NULL-key row (empty invoice_id) in every file: no anti-join can
        # match it, so a file that looked new would append it again
        _land(root, date(2025, 4, 22 + k), name, invoices=(f"inv-{k}", ""))
    _land(root, date(2025, 4, 22), ".hidden.csv")
    _land(root, date(2025, 4, 22), "_SUCCESS")
    return str(root)


def _glob_read(spark, root):
    """The lake as the glob read saw it, with Spark's own file index."""
    return (
        spark.read.option("header", True)
        .option("basePath", root)
        .schema(RAW_BILLING_TABLE_SCHEMA)
        .csv(f"{root}/year=*/month=*/day=*")
    )


def test_listing_keys_equal_the_glob_reads_keys(spark, tmp_path):
    root = _odd_lake(tmp_path)
    want = sorted(file_key(f) for f in _glob_read(spark, root).inputFiles())
    assert len(want) == len(ODD_NAMES)
    for r in (root, "file://" + root):
        assert [file_key(f) for f in list_partition_files(spark, r)] == want


def test_bare_root_resolves_against_the_default_filesystem(spark, tmp_path):
    """A root without a scheme is listed and read where Spark resolves it,
    on ``fs.defaultFS``, not on the local disk. Here the default is a
    viewfs mount table that maps /billing-lake-mnt onto tmp_path."""
    _lake(tmp_path, 3)
    conf = spark._jsc.hadoopConfiguration()
    saved = {k: conf.get(k) for k in ("fs.defaultFS", "fs.viewfs.impl.disable.cache")}
    link = "fs.viewfs.mounttable.billing-test.link./billing-lake-mnt"
    conf.set(link, tmp_path.as_uri())
    conf.set("fs.viewfs.impl.disable.cache", "true")
    conf.set("fs.defaultFS", "viewfs://billing-test/")
    try:
        assert not pathlib.Path("/billing-lake-mnt").exists()
        files = list_partition_files(spark, "/billing-lake-mnt/lake")
        assert [f.split("/")[-4:-1] for f in files] == [
            ["year=2025", "month=03", f"day={d:02d}"] for d in (1, 2, 3)
        ]
        assert all(f.startswith("viewfs://billing-test/") for f in files)
        assert read_partition_files(spark, "/billing-lake-mnt/lake", files).count() == 3
    finally:
        conf.unset(link)
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_warehouse_ledgered_by_the_glob_read_appends_nothing(spark, tmp_path):
    """A warehouse whose ledger was keyed from the glob read's file index,
    as every warehouse written before the driver listing: its first run
    under the listing finds every file known and appends no row."""
    root = _odd_lake(tmp_path)
    pipe = BillingPipeline(spark, str(tmp_path / "wh"))
    ledger = pipe.ledger()
    lake = _glob_read(spark, root)
    hashed = hash_files(spark, lake.inputFiles())
    n, per_file = append_new_rows_per_file(
        lake.withColumn("_lk", ledger_key(F.input_file_name())),
        ledger,
        list(RAW_BILLING_KEYS),
        "_lk",
        {r["filename"]: {"file_hash": r["file_hash"]} for r in hashed},
    )
    assert n == 2 * len(ODD_NAMES) and all(v == 2 for v in per_file.values())

    m = pipe.run(root)
    assert m["ingest"]["files_discovered"] == len(ODD_NAMES)
    assert m["ingest"]["files_new_or_changed"] == 0
    assert m["ingest"]["rows_appended"] == 0
    assert pipe.read("raw_billing").count() == n
