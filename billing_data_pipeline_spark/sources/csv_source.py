"""Hive-partitioned CSV sources (SURVEY.md §2.1 S1-S6).

The reference walks an S3 bucket laid out as
``year=YYYY/month=MM/day=DD/billing.csv`` with s3fs, downloads files locally,
then scans them with read_csv_auto (reference: pipeline/s3_utils.py:63-157,
159-246; pipeline/assets/ingest.py:237-240). Spark needs none of that
machinery: executors read s3a/file paths directly and Hive-style partition
discovery types the year/month/day columns automatically.

Two read strategies, mirroring the reference's two listing strategies:
- ``read_partition_root``: list the root's ``year=/month=/day=`` tree on
  the driver, pruned to the backfill window as the walk descends
  (``list_partition_files``: the reference's "generate paths instead of
  listing the bucket" optimization, OPT1, reference: ingest.py:95-98),
  then read exactly the listed files (``read_partition_files``).
- ``generate_partition_paths``: listing-free explicit path enumeration for
  sources without a listable root (kept for parity with
  s3_utils.py:329-410 and its unit-test contract).

Explicit schema at the edge: the reference relies on CSV sniffing + an
implicit positional cast at INSERT time (ingest.py:248-250). Here the
declared schema is applied at read so the positional-cast hazard is gone
(SURVEY.md §1.3).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from datetime import date, timedelta
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


def _with_partition_cols(schema: T.StructType) -> T.StructType:
    """``schema`` + the year/month/day partition columns — ONE definition
    (review r7: three hand-built copies could drift, diverging the
    empty-lake frame's schema from the populated read on first-run
    edges). Copies before extending — StructType.add mutates in place,
    and the base schema is a shared module constant."""
    return T.StructType(
        list(schema.fields)
        + [
            T.StructField("year", T.IntegerType(), True),
            T.StructField("month", T.IntegerType(), True),
            T.StructField("day", T.IntegerType(), True),
        ]
    )


#: raw_billing as the pipeline stores it: the fact columns plus the lake's
#: year/month/day partition columns.
RAW_BILLING_TABLE_SCHEMA = _with_partition_cols(RAW_BILLING_SCHEMA)


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


def read_partition_files(
    spark: SparkSession,
    root: str,
    files: list[str],
    schema: T.StructType = RAW_BILLING_SCHEMA,
    permissive: bool = True,
) -> DataFrame:
    """Read exactly ``files``, URIs under the lake ``root`` as
    ``list_partition_files`` gives them; year/month/day are typed partition
    columns from the directory names. Spark opens a path string unquoted
    and expands glob characters in it, so each URI is decoded and its
    ``{}[]*?\`` escaped. No files: an empty frame of the declared schema."""
    cols = _with_partition_cols(schema)
    if not files:
        return spark.createDataFrame([], cols)
    reader = spark.read.option("header", True).option("basePath", root).schema(cols)
    if permissive:
        # Per-file/row error containment (reference: ingest.py:131-135 —
        # continue past bad partitions). Both as PER-READ datasource
        # options: a session-wide conf.set would silently make every
        # later, unrelated read tolerate vanished files (review r3).
        reader = reader.option("mode", "PERMISSIVE").option(
            "ignoreMissingFiles", "true"
        )
    else:
        # Spark's CSV default is ALREADY permissive — without an explicit
        # FAILFAST the strict flag silently passed corrupt NULLs through
        # (review r5): the validation caller got exactly the containment
        # it asked to turn off.
        reader = reader.option("mode", "FAILFAST")
    return reader.csv([re.sub(r"([{}\[\]*?\\])", r"\\\1", unquote(f)) for f in files])


def read_partition_root(
    spark: SparkSession,
    root: str,
    schema: T.StructType = RAW_BILLING_SCHEMA,
    from_date: date | None = None,
    to_date: date | None = None,
    permissive: bool = True,
) -> DataFrame:
    """The lake's files within the backfill window: ``list_partition_files``
    then ``read_partition_files``. A missing root reads as an empty frame
    (continue-on-empty), except under FAILFAST: a validation read of a
    mistyped root must fail, not report "validated 0 rows" (review r7)."""
    try:
        files = list_partition_files(spark, root, from_date, to_date)
    except FileNotFoundError:
        if not permissive:
            raise
        files = []
    return read_partition_files(spark, root, files, schema, permissive)


def latest_partition_date(spark: SparkSession, root: str) -> date | None:
    """Max (year, month, day) over the lake's files (parity: S6), from the
    driver-side listing: no file read, no Spark job. None when empty."""
    try:
        files = list_partition_files(spark, root)
    except FileNotFoundError:
        return None
    latest: date | None = None
    for path in files:
        keys = parse_hive_partition_keys(path)
        try:
            d = date(int(keys["year"]), int(keys["month"]), int(keys["day"]))
        except (KeyError, ValueError):
            continue
        if latest is None or d > latest:
            latest = d
    return latest


# ---------------------------------------------------------------------------
# Pure-path helpers, keeping the reference's unit-test contract
# (tests/pipeline/test_s3_utils.py:18-146 — semantics reimplemented from the
# test spec in FIXTURES.md §5, not copied).
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class UrlParts:
    protocol: str
    domain: str
    path: str


def parse_url(url: str) -> UrlParts:
    """Split protocol/domain/path; protocol defaults to https when absent."""
    if not url:
        return UrlParts("https", "", "")
    protocol, sep, rest = url.partition("://")
    if not sep:
        protocol, rest = "https", url
    domain, _slash, path = rest.partition("/")
    return UrlParts(protocol, domain, path)


def parse_hive_partition_keys(path: str) -> dict[str, str]:
    """Extract ``key=value`` segments from a path ('year=2025/month=04/...')."""
    out: dict[str, str] = {}
    for seg in path.split("/"):
        key, sep, value = seg.partition("=")
        if sep and key and value:
            out[key] = value
    return out


def generate_partition_paths(
    base_url: str,
    from_date: date | None = None,
    to_date: date | None = None,
    filename: str = "billing.csv",
) -> list[dict]:
    """Enumerate partition dicts for a date range without listing storage.

    Default range is yesterday -> today, matching the reference's backfill
    default. Each entry: {year, month, day, path, files}.
    """
    today = date.today()
    start = from_date or (today - timedelta(days=1))
    end = to_date or today
    out = []
    d = start
    while d <= end:
        path = f"{base_url}/year={d.year}/month={d.month:02d}/day={d.day:02d}"
        out.append(
            {
                "year": str(d.year),
                "month": f"{d.month:02d}",
                "day": f"{d.day:02d}",
                "path": path,
                "files": [f"{path}/{filename}"],
            }
        )
        d += timedelta(days=1)
    return out


def read_partition_paths(
    spark: SparkSession,
    partitions: list[dict],
    schema: T.StructType = RAW_BILLING_SCHEMA,
) -> DataFrame:
    """Declarative union-all over enumerated partition files (replaces the
    reference's per-file Python append loop, SURVEY.md §2.7): one multi-path
    read, partition values from the path (``read_partition_files``).

    Missing enumerated files are SKIPPED (review r5): the generated range
    routinely includes partitions not yet written — the default
    yesterday->today window always contains today's still-open file — and
    Spark fails the whole multi-path read at resolution time on one
    absent path (PERMISSIVE/ignoreMissingFiles only cover row parsing and
    post-listing vanishing). The per-path existence probe is a HEAD, not
    a LIST — still listing-free, at one driver-side round-trip per
    enumerated path (the same probes the reference's per-file loop made);
    paths whose filesystem cannot be probed are kept so the read surfaces
    the real error. An all-missing range returns an empty, fully-typed
    frame."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()

    def _exists(jpath) -> bool:
        try:
            return jpath.getFileSystem(hconf).exists(jpath)
        except Exception:
            return True  # unprobeable scheme: let the read raise the truth

    paths = (jvm.org.apache.hadoop.fs.Path(f) for p in partitions for f in p["files"])
    files = [jp.toUri().toString() for jp in paths if _exists(jp)]
    base = partitions[0]["path"].rsplit("/year=", 1)[0] if partitions else ""
    return read_partition_files(spark, base, files, schema)
