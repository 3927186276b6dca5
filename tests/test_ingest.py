"""Idempotent-ingest operator tests (SURVEY.md §5.3-5.4): the invariants the
reference enforced with DB constraints, now operator guarantees."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from billing_data_pipeline_spark.operators.ingest import (
    assert_unique,
    dedup_append,
    dedup_within_batch,
)
from billing_data_pipeline_spark.operators.ledger import FileLedger, hash_files

KEYS = ["timestamp", "resource_id", "user_id", "invoice_id"]
SCHEMA = "timestamp timestamp, resource_id string, user_id string, invoice_id string, credit_usage double"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _row(i, usage=1.0):
    return (datetime(2025, 4, 23, 10, 0, i % 60), f"r-{i}", f"u-{i}", f"inv-{i}", usage)


def _entry(filename, file_hash, record_count=1):
    return {"filename": filename, "file_hash": file_hash, "record_count": record_count}


def test_dedup_append_drops_existing_keys(spark):
    existing = _df(spark, [_row(i) for i in range(5)])
    batch = _df(spark, [_row(i) for i in range(3, 8)])
    out = dedup_append(batch, existing, KEYS)
    assert sorted(r["invoice_id"] for r in out.collect()) == [
        "inv-5", "inv-6", "inv-7"
    ]


def test_dedup_append_keeps_the_batch_column_order(spark):
    """The anti-join must not move the key columns first: every append to
    a table has to land in the batch's column order, the order its first
    append (``dedup_within_batch``) wrote."""
    batch = _df(spark, [_row(i) for i in range(3, 8)]).select(
        "credit_usage", "invoice_id", "timestamp", "user_id", "resource_id"
    )
    existing = _df(spark, [_row(i) for i in range(5)])
    for kwargs in ({}, {"dedup_batch": False}, {"strict": True}):
        out = dedup_append(batch, existing, KEYS, **kwargs)
        assert out.columns == batch.columns, kwargs
    assert dedup_within_batch(batch, KEYS).columns == batch.columns


def test_null_keys_always_append(spark):
    """SQL join semantics: a NULL key column never matches, so NULL-key rows
    pass the anti-join even when an identical NULL-key row already exists —
    the reference behaves the same (LEFT JOIN .. IS NULL)."""
    null_row = (datetime(2025, 4, 23, 10, 0, 0), None, "u-0", "inv-0", 1.0)
    existing = _df(spark, [null_row])
    batch = _df(spark, [null_row])
    assert dedup_append(batch, existing, KEYS).count() == 1


def test_intra_batch_duplicates_collapse(spark):
    """The reference lets intra-batch dupes trip the UNIQUE constraint and
    fail; this engine dedups them (documented divergence, SURVEY.md §2.3)."""
    batch = _df(spark, [_row(1), _row(1, usage=2.0), _row(2)])
    out = dedup_within_batch(batch, KEYS)
    assert out.count() == 2


def test_persisted_dedup_plan_fits_the_plan_string_limit(spark):
    """The pipeline persists the deduplicated batch (the raw columns plus
    the file key). Its aggregate must stay under Spark's 25-field limit
    for plan strings, or each persist logs a truncation WARN."""
    from billing_data_pipeline_spark.sources.csv_source import (
        RAW_BILLING_KEYS,
        RAW_BILLING_TABLE_SCHEMA,
    )

    batch = spark.createDataFrame([], RAW_BILLING_TABLE_SCHEMA).withColumn("_lk", F.lit("f"))
    out = dedup_within_batch(batch, list(RAW_BILLING_KEYS)).persist()
    try:
        plan = out._jdf.queryExecution().optimizedPlan().treeString()
        assert "InMemoryRelation" in plan and "more fields" not in plan
    finally:
        out.unpersist()


def test_intra_batch_null_key_rows_never_collapse(spark):
    """Review r7: dropDuplicates treats NULL == NULL, but SQL UNIQUE (the
    reference's constraint, and this module's stated contract) says
    NULL-key rows are never duplicates of each other — two distinct
    transactions sharing a NULL invoice_id must BOTH survive the
    intra-batch dedup."""
    ts = datetime(2025, 4, 23, 10, 0, 0)
    batch = _df(
        spark,
        [
            (ts, "r-1", "u-1", None, 1.0),
            (ts, "r-1", "u-1", None, 2.0),  # same key cols, NULL invoice
            (ts, "r-2", "u-2", "inv-2", 3.0),
            (ts, "r-2", "u-2", "inv-2", 4.0),  # true duplicate: collapses
        ],
    )
    out = dedup_within_batch(batch, KEYS)
    assert out.count() == 3
    assert out.filter(F.col("invoice_id").isNull()).count() == 2


def test_hash_files_concrete_path_with_glob_metachars(spark, tmp_path):
    """Review r7: a CONCRETE filename containing '[...]' (from
    lake.inputFiles()) must hash verbatim, not expand as a glob character
    class that matches nothing — the file silently never ingested."""
    p = tmp_path / "billing[v2].csv"
    p.write_text("a,b\n1,2\n")
    got = hash_files(spark, [str(p)])
    assert len(got) == 1 and got[0]["filename"].endswith("billing[v2].csv")


def test_file_ledger_rejects_remote_scheme_normalizes_file_url(spark, tmp_path):
    """Review r7: the ledger's os-level pointer/lock on an 's3a://...'
    path silently split state between a cwd-relative 's3a:' junk tree
    and the real store — fail closed; file:/// normalizes."""
    import pytest

    with pytest.raises(NotImplementedError, match="local"):
        FileLedger(spark, "s3a://bucket/wh/processed_files")
    led = FileLedger(spark, f"file://{tmp_path}/processed_files")
    assert led.table.path == f"{tmp_path}/processed_files"


def test_assert_unique_raises_on_dupes(spark):
    df = _df(spark, [_row(1), _row(1)])
    try:
        assert_unique(df, KEYS)
    except AssertionError:
        pass
    else:
        raise AssertionError("expected duplicate-key failure")


def test_ledger_skips_unchanged_reprocesses_changed(spark, tmp_path):
    """ST5: (filename, md5) match => skip; changed hash => reprocess."""
    f1 = tmp_path / "billing-1.csv"
    f2 = tmp_path / "billing-2.csv"
    f1.write_text("a,b\n1,2\n")
    f2.write_text("a,b\n3,4\n")

    ledger = FileLedger(spark, str(tmp_path / "ledger"))
    cands = hash_files(spark, [str(f1), str(f2)])
    todo = ledger.filter_unprocessed(cands)
    assert len(todo) == 2

    hashes = {r["filename"]: r["file_hash"] for r in cands}
    ledger.record([_entry(n, h) for n, h in hashes.items()], spark.range(0))
    assert len(ledger.filter_unprocessed(hash_files(spark, [str(f1), str(f2)]))) == 0

    # Modify f2 in place: name matches, hash differs -> reprocess only f2.
    # Ledger keys are partition-qualified full paths, not basenames.
    f2.write_text("a,b\n3,5\n")
    redo = ledger.filter_unprocessed(hash_files(spark, [str(f1), str(f2)]))
    assert [r["filename"] for r in redo] == [str(f2)]

    # Ledger upsert keeps one row per filename (latest hash wins).
    new_hash = {r["filename"]: r["file_hash"] for r in hash_files(spark, [str(f2)])}
    ledger.record([_entry(str(f2), new_hash[str(f2)])], spark.range(0))
    led = ledger.latest()
    assert len(led) == 2
    assert led[str(f2)]["file_hash"] == new_hash[str(f2)]


def test_ledger_keys_distinguish_hive_partitions(spark, tmp_path):
    """Regression (ADVICE r1, medium): every Hive partition's file is named
    'billing.csv'; a basename-keyed ledger evicts all other partitions'
    entries on each upsert. Keys must be partition-qualified, and a third
    run over unchanged files must skip everything."""
    paths = []
    for day in (1, 2, 3):
        d = tmp_path / "year=2025" / "month=04" / f"day=0{day}"
        d.mkdir(parents=True)
        f = d / "billing.csv"
        f.write_text(f"a,b\n{day},x\n")
        paths.append(str(f))

    ledger = FileLedger(spark, str(tmp_path / "ledger"))
    # Day 1 arrives first, days 2-3 on a later run (separate record calls,
    # like the pipeline's successive ingests).
    c1 = hash_files(spark, paths[:1])
    todo1 = ledger.filter_unprocessed(c1)
    assert len(todo1) == 1
    ledger.record([_entry(*r) for r in todo1], spark.range(0))

    c23 = hash_files(spark, paths)
    todo2 = ledger.filter_unprocessed(c23)
    assert sorted(r["filename"] for r in todo2) == sorted(paths[1:])
    ledger.record([_entry(*r) for r in todo2], spark.range(0))

    # Third run: NOTHING is re-processed and no entry was evicted.
    assert len(ledger.filter_unprocessed(hash_files(spark, paths))) == 0
    assert len(ledger.latest()) == 3


def test_strict_dedup_append_replicates_unique_violation(spark):
    """strict=True aborts on intra-batch duplicate keys (the reference's
    UNIQUE constraint, ingest.py:190); NULL-keyed rows never count as
    duplicates (SQL UNIQUE semantics)."""
    import pytest

    from billing_data_pipeline_spark.operators.ingest import dedup_append

    existing = spark.createDataFrame([], "k string, v int")
    dup_batch = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "k string, v int"
    )
    with pytest.raises(ValueError, match="duplicate natural key"):
        dedup_append(dup_batch, existing, ["k"], strict=True)

    null_batch = spark.createDataFrame(
        [(None, 1), (None, 2), ("b", 3)], "k string, v int"
    )
    assert dedup_append(null_batch, existing, ["k"], strict=True).count() == 3


def test_bloom_prefilter_exactness_and_pruning(spark):
    """bloom_prefiltered_new_rows == the plain anti-join on adversarial
    overlap, and the bloom actually prunes: the definitely-new branch
    carries most of a mostly-new batch past the join."""
    from pyspark.sql import functions as F

    from billing_data_pipeline_spark.operators.ingest import (
        bloom_prefiltered_new_rows,
    )

    existing = spark.range(0, 2000).select(
        F.concat(F.lit("k"), (F.col("id") * 3).cast("string")).alias("key")
    )
    batch = spark.range(0, 3000).select(
        F.col("id").alias("row_id"),
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("key"),
    )
    got = {
        r["row_id"]
        for r in bloom_prefiltered_new_rows(batch, existing, "key").collect()
    }
    expect = {
        r["row_id"]
        for r in batch.join(
            existing.withColumnRenamed("key", "ek"),
            F.col("key") == F.col("ek"),
            "left_anti",
        ).collect()
    }
    assert got == expect and 0 < len(got) < 3000


def test_hash_files_relative_path_records_absolute_key(spark, tmp_path, monkeypatch):
    """Advice r5: a relative local input must be recorded under its
    ABSOLUTE ledger key — hash_files opened via abspath but recorded the
    caller's string verbatim, so a relative path yielded a key that could
    never match ingest's absolute ledger_key(input_file_name()) keys,
    silently defeating hash-skip."""
    import os

    f = tmp_path / "rel-billing.csv"
    f.write_text("a,b\n1,2\n")
    monkeypatch.chdir(tmp_path)
    rows = hash_files(spark, ["rel-billing.csv"])
    assert len(rows) == 1
    assert rows[0]["filename"] == str(f)
    assert os.path.isabs(rows[0]["filename"])


def test_hash_files_driver_and_distributed_tiers_agree(
    spark, spark_jobs, tmp_path, monkeypatch
):
    """Small local lakes hash on the driver, with no Spark job; with the
    tier's threshold at 0 the same inputs hash in the distributed kernel.
    Both must return the same (filename, file_hash) rows: for a concrete
    filename with glob metachars, a relative path, and a file spanning
    several 8 MiB md5 chunks."""
    import hashlib
    import random

    from billing_data_pipeline_spark.operators import ledger

    odd = tmp_path / "billing[v2].csv"
    odd.write_text("a,b\n1,2\n")
    (tmp_path / "rel-billing.csv").write_text("a,b\n3,4\n")
    big = tmp_path / "big.csv"
    big.write_bytes(random.Random(0).randbytes((8 << 20) + 12345))
    monkeypatch.chdir(tmp_path)
    paths = [str(odd), "rel-billing.csv", str(big)]

    def run():
        rows, jobs = spark_jobs(lambda: ledger.hash_files(spark, paths))
        return sorted((r["filename"], r["file_hash"]) for r in rows), jobs

    driver, driver_jobs = run()
    monkeypatch.setattr(ledger, "DRIVER_HASH_MAX_BYTES", 0)
    distributed, distributed_jobs = run()
    assert driver_jobs == 0 and distributed_jobs >= 1
    assert driver == distributed
    assert driver == sorted(
        (str(p), hashlib.md5(p.read_bytes()).hexdigest())
        for p in (odd, tmp_path / "rel-billing.csv", big)
    )
