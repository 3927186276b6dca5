"""Hive-partitioned CSV sources (SURVEY.md §2.1 S1-S6).

The reference walks an S3 bucket laid out as
``year=YYYY/month=MM/day=DD/billing.csv`` with s3fs, downloads files locally,
then scans them with read_csv_auto (reference: pipeline/s3_utils.py:63-157,
159-246; pipeline/assets/ingest.py:237-240). Spark needs none of that
machinery: executors read s3a/file paths directly and Hive-style partition
discovery types the year/month/day columns automatically.

Two read strategies, mirroring the reference's two listing strategies:
- ``read_partition_root``: read the root once, push the backfill window as
  *filters on partition columns* -> Catalyst partition pruning lists only
  matching directories (the declarative form of the reference's
  "generate paths instead of listing the bucket" optimization, OPT1,
  reference: ingest.py:95-98).
- ``generate_partition_paths``: listing-free explicit path enumeration for
  sources without a listable root (kept for parity with
  s3_utils.py:329-410 and its unit-test contract).

Explicit schema at the edge: the reference relies on CSV sniffing + an
implicit positional cast at INSERT time (ingest.py:248-250). Here the
declared schema is applied at read so the positional-cast hazard is gone
(SURVEY.md §1.3).
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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


def read_partition_root(
    spark: SparkSession,
    root: str,
    schema: T.StructType = RAW_BILLING_SCHEMA,
    from_date: date | None = None,
    to_date: date | None = None,
    permissive: bool = True,
) -> DataFrame:
    """Read a Hive-partitioned CSV lake with partition-pruned backfill window.

    year/month/day arrive as typed partition columns from directory names;
    the date-range filter compiles to partition pruning (directories outside
    the window are never listed into the scan).
    """
    reader = (
        spark.read.option("header", True)
        .option("basePath", root)
        .schema(_with_partition_cols(schema))
    )
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
    try:
        df = reader.csv(f"{root}/year=*/month=*/day=*")
    except Exception as exc:  # AnalysisException lacks a stable subclass path
        if "PATH_NOT_FOUND" not in str(exc) or not permissive:
            # The empty-frame fallback is a PERMISSIVE containment
            # behavior (review r7): a FAILFAST validation read of a
            # mistyped/missing root must fail, not report "validated 0
            # rows" — the caller explicitly turned containment off.
            raise
        # A lake with no year=*/ partitions yet (first run before the
        # producer writes one): the glob itself raises PATH_NOT_FOUND
        # before any downstream empty-guard can run (review r4) — the
        # continue-on-empty contract (pipeline.run, latest_partition_date
        # -> None) needs an empty frame with the declared schema instead.
        return spark.createDataFrame([], _with_partition_cols(schema))
    if from_date or to_date:
        d = F.make_date("year", "month", "day")
        if from_date:
            df = df.filter(d >= F.lit(from_date))
        if to_date:
            df = df.filter(d <= F.lit(to_date))
    return df


def latest_partition_date(spark: SparkSession, root: str) -> date | None:
    """Max (year, month, day) across discovered partitions (parity: S6).

    GENUINELY metadata-only: the max comes from the file index's paths
    (``inputFiles`` — the same listing the scan planner does), parsed as
    ``key=value`` segments. The previous ``max()`` over the partition
    columns executed a full scan of every CSV in the lake — CSV has no
    row-group stats and Spark's metadata-only aggregate rule is off by
    default, so "read a date" cost O(lake) (review r3)."""
    files = read_partition_root(spark, root).inputFiles()
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
    read, partition values projected from the path.

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
    paths = [f for p in partitions for f in p["files"]]
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()

    def _exists(p: str) -> bool:
        try:
            jpath = jvm.org.apache.hadoop.fs.Path(p)
            return jpath.getFileSystem(hconf).exists(jpath)
        except Exception:
            return True  # unprobeable scheme: let the read raise the truth

    paths = [p for p in paths if _exists(p)]
    if not paths:
        return spark.createDataFrame([], _with_partition_cols(schema))
    df = (
        spark.read.option("header", True)
        .schema(schema)
        .option("mode", "PERMISSIVE")
        .csv(paths)
        .withColumn("_path", F.input_file_name())
    )
    return (
        df.withColumn(
            "year", F.regexp_extract("_path", r"year=(\d+)", 1).cast("int")
        )
        .withColumn(
            "month", F.regexp_extract("_path", r"month=(\d+)", 1).cast("int")
        )
        .withColumn("day", F.regexp_extract("_path", r"day=(\d+)", 1).cast("int"))
        .drop("_path")
    )
