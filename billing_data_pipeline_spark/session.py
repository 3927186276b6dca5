"""SparkSession factory tuned for this engine.

The reference delegates execution to an embedded DuckDB connection created
per asset (reference: pipeline/pipeline.py:178-181, DuckDBResource). Here the
analogous resource is one shared SparkSession; everything else is lazy
DataFrames.

Scale notes (100 TB target):
- AQE on: runtime shuffle-partition coalescing, join-strategy switching and
  skew-join splitting replace hand-tuned partition counts per stage.
- ``spark.sql.shuffle.partitions`` is a *default*; AQE coalesces down and a
  real cluster deployment raises it (rule of thumb: 2-3x total cores).
- Session timezone pinned to UTC so event-time semantics are deployment
  independent (and match the DuckDB oracle).
- Arrow enabled for the pandas exchange paths (Pandas UDFs, toPandas edges).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 8


def input_sized_conf(input_bytes: int) -> dict[str, str]:
    """Statically size the shuffle for a job whose total input size is known
    from file statistics (a directory listing — free at plan time).

    Rationale: AQE's partition coalescing exists to fix a shuffle partition
    count that was guessed wrong *before* the data was seen. When the input
    size IS known up front, the right count can be computed statically —
    and skipping AQE removes the per-shuffle materialization barrier plus a
    driver re-plan round-trip that costs ~50-100 ms per stage, pure
    overhead for sub-GB inputs (measured: 6 floor-bound bench queries at
    sf0.1 drop 2.02 s -> 1.30 s total). For large inputs the same rule
    turns AQE back ON: runtime skew-splitting and join re-planning matter
    exactly when a shuffle is big enough that a misestimate hurts.

    The partition rule targets ~64 MB of *input* per shuffle partition
    (shuffled intermediates are almost always narrower than the scan).
    Below the AQE threshold the count is floored at max(8, cores/4) — NOT
    the full core count: sub-GB shuffles carry so few bytes that the
    per-task overhead of `cores` tasks costs more than the parallelism
    buys (measured on the floor-bound bench set; 8-partition shuffles of
    KB-scale aggregates beat 32), while CPU-heavy narrow inputs get their
    parallelism from the SCAN side (session.fan_out), not the shuffle
    count — and capped at 4x cores so a just-under-1-GiB input on a small
    box cannot demand more concurrent shuffle tasks than the machine can
    run. Above it, max(2x cores, size/64MB) with AQE coalescing downward;
    on a 1000-executor cluster the same formula yields thousands of
    partitions, the standard 100-200 MB/task sizing.
    """
    cores = default_parallelism()
    aqe_threshold = 1 << 30  # 1 GiB: below this, runtime re-planning buys nothing
    by_size = -(-input_bytes // (64 << 20))  # ceil(bytes / 64 MB)
    if input_bytes >= aqe_threshold:
        return {
            "spark.sql.shuffle.partitions": str(max(2 * cores, by_size)),
            "spark.sql.adaptive.enabled": "true",
        }
    return {
        "spark.sql.shuffle.partitions": str(
            min(max(by_size, 8, cores // 4), 4 * cores)
        ),
        "spark.sql.adaptive.enabled": "false",
    }


def dir_input_bytes(path: str) -> int:
    """Total bytes of data files under ``path`` — the same listing Spark's
    FileIndex does at plan time: hidden/underscore entries are skipped at
    BOTH the file and directory level, so committer garbage under
    ``_temporary/`` (whose part files have normal names) never counts."""
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in files:
            if not f.startswith((".", "_")):
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return total


def s3a_conf() -> dict[str, str]:
    """S3A resource configuration (SURVEY §2.11 O3), from the environment.

    The reference reads its public bucket anonymously
    (``s3fs.S3FileSystem(anon=True)`` — reference:
    pipeline/s3_utils.py:41-45); the Hadoop-S3A equivalent is the
    anonymous credentials provider, selected by a truthy
    ``SPARK_GRAFT_S3_ANON``. Unset, S3A's default provider chain applies
    (env keys, instance profile), which is the authenticated path the
    reference documents as the alternative. ``SPARK_GRAFT_S3_ENDPOINT``
    targets S3-compatible stores.

    Returned as a plain conf dict (unit-testable offline) — pass through
    ``get_spark(extra_conf=...)`` or apply to an existing session via
    ``spark.conf.set`` per key. NOTE: ``fs.s3a.*`` keys are read by the
    Hadoop FileSystem layer on first use of an ``s3a://`` path, so
    setting them on a LIVE session works until a filesystem instance for
    that bucket is cached — prefer configuring at session build."""
    endpoint = os.environ.get("SPARK_GRAFT_S3_ENDPOINT")
    conf: dict[str, str] = {}
    if os.environ.get("SPARK_GRAFT_S3_ANON", "").lower() in ("1", "true", "yes"):
        conf["spark.hadoop.fs.s3a.aws.credentials.provider"] = (
            "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider"
        )
    if endpoint:
        conf["spark.hadoop.fs.s3a.endpoint"] = endpoint
        conf["spark.hadoop.fs.s3a.path.style.access"] = "true"
    return conf


def get_spark(
    app_name: str = "billing-data-pipeline-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    In local mode there is a single JVM; on a cluster the same config applies
    unchanged — nothing here assumes local execution except the default
    master, which ``SPARK_MASTER`` overrides. S3A credentials (anonymous public-bucket mode, custom
    endpoints) ride ``s3a_conf()`` — env-driven, merged below
    ``extra_conf`` so explicit callers win.
    """
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Round-robin repartitions default to a full per-partition binary
        # SORT before redistributing (SPARK-23207) so a task retry over a
        # nondeterministic input can't drop/duplicate rows. Every
        # round-robin site in this engine (session.fan_out, the bitmap
        # OR-fold in ingest.py, the path-list spread in ledger.py) sits on
        # a DETERMINISTIC input (file scan / local collection) and feeds an
        # order-insensitive consumer (aggregate / OR-fold / per-row map),
        # so the sort buys nothing — and it serializes on the single
        # upstream scan task fan_out exists to escape. Measured r11
        # (sql_pricing_summary fan_out exchange, min-of-5 interleaved):
        # 0.59 -> 0.40 s exchange wall with the sort off.
        .config("spark.sql.execution.sortBeforeRepartition", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config(
            "spark.ui.enabled",
            # normalize: Spark's boolean parser rejects SPARK_UI=1 (r5)
            str(os.environ.get("SPARK_UI", "false").lower()
                in ("1", "true", "yes")).lower(),
        )
    )
    if os.environ.get("SPARK_MASTER"):
        # actually APPLY the env master (review r7): Spark itself never
        # reads SPARK_MASTER — merely suppressing the local[] default
        # made plain-python launches die with "A master URL must be set"
        builder = builder.master(os.environ["SPARK_MASTER"])
    else:
        builder = builder.master(f"local[{cores}]")
        # local mode: the driver is the only JVM — give it the memory.
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g")
        )
    merged_conf = {**s3a_conf(), **(extra_conf or {})}
    for k, v in merged_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def fan_out(df, divisor: int = 4):
    """Round-robin repartition a DataFrame whose scan arrived in fewer
    partitions than cores/divisor — a tiny single-file input would
    otherwise serialize CPU-heavy per-row work (regex/HOF/Arrow kernels)
    on one core. At scale natural partitioning exceeds the threshold and
    this is a no-op (shared by doc_top_terms, decontaminate)."""
    if df.isStreaming:
        # micro-batches already arrive pre-partitioned by the source and
        # df.rdd (the gate below) is illegal on a streaming frame
        return df
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    target = max(1, parallelism // divisor)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
