"""Hive-partitioned CSV sources (SURVEY.md §2.1 S1-S5).

The reference walks an S3 bucket laid out as
``year=YYYY/month=MM/day=DD/billing.csv`` with s3fs, downloads files locally,
then scans them with read_csv_auto (reference: pipeline/s3_utils.py:63-157,
159-246; pipeline/assets/ingest.py:237-240). Spark needs none of that
machinery: executors read s3a/file paths directly and Hive-style partition
discovery types the year/month/day columns automatically.

One read path, the one ``BillingPipeline.ingest`` takes: list the root's
``year=/month=/day=`` tree on the driver, pruned to the backfill window as
the walk descends (``list_partition_files``: the reference's "generate
paths instead of listing the bucket" optimization, OPT1, reference:
ingest.py:95-98), then read exactly the files the ledger finds new
(``read_partition_files``).

Explicit schema at the edge: the reference relies on CSV sniffing + an
implicit positional cast at INSERT time (ingest.py:248-250). Here the
declared schema is applied at read so the positional-cast hazard is gone
(SURVEY.md §1.3).
"""

from __future__ import annotations

import re
from datetime import date
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# The reference fact-table schema (reference: pipeline/assets/ingest.py:174-192;
# user_id is VARCHAR per the DDL, which wins over README.md:320's "integer").
RAW_BILLING_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("resource_id", T.StringType(), True),
        T.StructField("user_id", T.StringType(), True),
        T.StructField("credit_usage", T.DoubleType(), True),
        T.StructField("region", T.StringType(), True),
        T.StructField("service_tier", T.StringType(), True),
        T.StructField("operation_type", T.StringType(), True),
        T.StructField("success", T.BooleanType(), True),
        T.StructField("resource_type", T.StringType(), True),
        T.StructField("invoice_id", T.StringType(), True),
        T.StructField("currency", T.StringType(), True),
    ]
)

# Natural key / dedup keys (reference: ingest.py:190, 252-255).
RAW_BILLING_KEYS = ("timestamp", "resource_id", "user_id", "invoice_id")


#: raw_billing as the pipeline stores it and ingest reads it: the fact
#: columns plus the lake's year/month/day partition columns.
RAW_BILLING_TABLE_SCHEMA = T.StructType(
    list(RAW_BILLING_SCHEMA.fields)
    + [
        T.StructField("year", T.IntegerType(), True),
        T.StructField("month", T.IntegerType(), True),
        T.StructField("day", T.IntegerType(), True),
    ]
)


def list_partition_files(
    spark: SparkSession,
    root: str,
    from_date: date | None = None,
    to_date: date | None = None,
) -> list[str]:
    """The data files directly in ``root``'s ``year=/month=/day=``
    directories within the window, sorted, as the URIs Spark's file index
    lists (so ``operators.ledger.file_key`` of each is its ledger key).

    Runs on the driver through Hadoop's ``FileSystem`` in the driver's JVM:
    metadata calls, no Spark job at any lake size. The root resolves as
    Spark's reads resolve it, a bare path against ``fs.defaultFS``. The
    window prunes years, months and days as the walk descends; under a
    window a directory whose value is not an integer is skipped. Files Spark
    never reads as data (``_SUCCESS``, ``.crc``) are left out. A missing
    root raises ``FileNotFoundError`` in Spark's ``PATH_NOT_FOUND`` words."""
    top = spark._jvm.org.apache.hadoop.fs.Path(root)
    fs = top.getFileSystem(spark._jsc.hadoopConfiguration())
    top = fs.makeQualified(top)
    if not fs.isDirectory(top):
        raise FileNotFoundError(f"[PATH_NOT_FOUND] Path does not exist: {root}.")
    lo = (from_date.year, from_date.month, from_date.day) if from_date else None
    hi = (to_date.year, to_date.month, to_date.day) if to_date else None

    def ls(d):
        # (name, path, is_dir) of each entry of directory d
        return [
            (p.getName(), p, s.isDirectory())
            for s in fs.listStatus(d)
            for p in [s.getPath()]
        ]

    def kept(parts: tuple, value: str) -> tuple | None:
        # parts + this level's value while (year, month, day) can still be
        # in the window; None prunes the directory
        if lo is None and hi is None:
            return ()
        try:
            t = (*parts, int(value))
        except ValueError:
            return None
        return None if (lo and t < lo[: len(t)]) or (hi and t > hi[: len(t)]) else t

    dirs = [(top, ())]
    for key in ("year=", "month=", "day="):
        dirs = [
            (child, t)
            for d, parts in dirs
            for name, child, is_dir in ls(d)
            if is_dir and name.startswith(key)
            for t in [kept(parts, name[len(key):])]
            if t is not None
        ]
    return sorted(
        p.toUri().toString()
        for d, _ in dirs
        for name, p, is_dir in ls(d)
        if not is_dir and _data(name)
    )


def _data(name: str) -> bool:
    """Spark's file-index filter (``shouldFilterOutPathName``): False for
    names it never reads as data."""
    hidden = name[:1] == "." or name.endswith("._COPYING_")
    hidden |= name[:1] == "_" and "=" not in name
    return not hidden or name.startswith(("_common_metadata", "_metadata"))


def read_partition_files(spark: SparkSession, root: str, files: list[str]) -> DataFrame:
    """Read exactly ``files``, URIs under the lake ``root`` as
    ``list_partition_files`` gives them, with ``RAW_BILLING_SCHEMA``;
    year/month/day are typed partition columns from the directory names.
    Spark opens a path string unquoted and expands glob characters in it,
    so each URI is decoded and its ``{}[]*?\\`` escaped."""
    return (
        spark.read.option("header", True)
        .option("basePath", root)
        .schema(RAW_BILLING_TABLE_SCHEMA)
        # Per-file/row error containment (reference: ingest.py:131-135 —
        # continue past bad partitions). Both as PER-READ datasource
        # options: a session-wide conf.set would silently make every
        # later, unrelated read tolerate vanished files (review r3).
        .option("mode", "PERMISSIVE")
        .option("ignoreMissingFiles", "true")
        .csv([re.sub(r"([{}\[\]*?\\])", r"\\\1", unquote(f)) for f in files])
    )
