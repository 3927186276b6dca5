"""Parquet table catalog over a scale-factor directory.

The driver's testdata layout is ``{sf_dir}/{table}.parquet`` (TESTDATA.md).
Reads are plain ``spark.read.parquet`` so Catalyst gets full predicate
pushdown / column pruning; at cluster scale the same entry points accept
directory trees of many files, where ``maxPartitionBytes`` splits drive
parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# (session id, sf_dir, table) -> DataFrame. A DataFrame is a lazy plan —
# caching the handle only skips re-listing the file and re-reading parquet
# footers for the schema (~50-100 ms per table per query build, measured);
# execution, pushdown, and pruning are untouched because each consumer still
# composes its own operators on the cached plan root.
_HANDLES: dict[tuple[int, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (id(spark), sf_dir, name)
    cached = _HANDLES.get(key)
    if cached is None or cached.sparkSession is not spark:
        # A miss for THIS session means older sessions' handles are dead
        # weight: evict them, or the module-level dict pins every stopped
        # SparkSession (and its JVM state) for the process lifetime
        # (review r5). One live session at a time is this repo's actual
        # shape (driver, bench, tests); a second concurrent session just
        # re-reads — handles are cheap lazy plans.
        for k in [k for k in _HANDLES if k[0] != id(spark)]:
            del _HANDLES[k]
        cached = _HANDLES[key] = _read_table(spark, sf_dir, name)
    return cached


def events_ts_is_nanos(path: str) -> bool:
    """True when the events table stores ``ts`` as INT64 TIMESTAMP(NANOS)
    — the one physical form Spark's reader rejects without the legacy
    ``nanosAsLong`` conf. Probed with a pyarrow footer read — NOT by
    flipping the conf session-wide and reading (review r4: the conf was
    set unconditionally and never restored, so any later, unrelated read
    of a nanos parquet column silently came back as LongType instead of
    failing loudly). Handles both a single file and a Spark-written
    directory of parts.

    The check reads the parquet PHYSICAL type, not the arrow-mapped type
    (review r5): Spark-written INT96 timestamps (the default
    ``outputTimestampType``) also surface as ``timestamp[ns]`` through
    ``schema_arrow``, but Spark reads INT96 natively — classifying them
    as nanos declared ``ts long`` on the stream side and crashed both
    the batch DIV-1000 projection and the file-source drain."""
    import glob
    import os

    import pyarrow.parquet as pq

    p = path
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            return False
        p = parts[0]
    try:
        schema = pq.ParquetFile(p).metadata.schema
        col = next(
            schema.column(i)
            for i in range(len(schema))
            if schema.column(i).name == "ts"
        )
    except (OSError, StopIteration, KeyError):
        return False
    return (
        col.physical_type == "INT64"
        and "isAdjustedToUTC" in str(col.logical_type)
        and "nanos" in str(col.logical_type).lower()
    )


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet has shipped as either INT64 TIMESTAMP(NANOS) (which
        # Spark's parquet reader rejects without nanosAsLong) or plain
        # TIMESTAMP(MICROS) — the driver regenerates testdata between rounds,
        # so adapt to whatever the footer declares:
        # - nanos: read as long, floor-divide to µs (integer DIV — double
        #   division would lose precision past 2^53). DuckDB's TIMESTAMP_NS
        #   -> TIMESTAMP cast also truncates, so oracles match. Reading
        #   nanos REQUIRES the legacy nanosAsLong conf, so it is set in
        #   exactly (and only) that environment.
        # - micros: parquet isAdjustedToUTC=false reads as TIMESTAMP_NTZ;
        #   cast to session-TZ timestamp (UTC session => value-preserving)
        #   so downstream plans/oracles see the same type either way. The
        #   conf is NOT touched on this (the common) path.
        from pyspark.sql import functions as F

        path = f"{sf_dir}/{name}.parquet"
        if events_ts_is_nanos(path):
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(path)
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        df = spark.read.parquet(path)
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


FACT_TABLES = ("orders", "lineitem", "events", "documents", "embeddings")


# Idempotence marker attribute set on the SparkSession object itself:
# an id(spark)-keyed dict could hand a NEW session a dead session's
# entry after CPython reuses the id (advice r6 — the same stale-key
# class _HANDLES eviction exists for); an attribute dies with its
# session by construction.
_REGISTERED_ATTR = "_billing_pipeline_registered_sf_dir"


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL entry points.

    Fact-table views are wrapped in a gated fan_out: a few-file local
    input otherwise caps every CPU-heavy scan-stage computation (decimal
    casts, regex, HOFs) at file-count parallelism — parquet row-group
    granularity defeats byte-range splits, so only an explicit round-robin
    exchange widens it (TPC-H-Q1 shape measured 1.17 -> 0.60 s at sf0.1).
    Round-robin repartition is deterministic (Spark local-sorts rows before
    distributing), so hash-checked results are unaffected; at real
    partition counts fan_out is a no-op and the views are plain scans.
    Dimension views stay unwrapped — they broadcast.

    Idempotent per (session, sf_dir): repeat calls are a no-op (review
    r6 — every _sql_query invocation re-ran fan_out's getNumPartitions
    materialization for all five fact tables plus ten view
    re-registrations inside bench's timed region). A different sf_dir on
    the same session re-registers; load_table's _HANDLES already evicts
    per-session."""
    from ..session import fan_out

    if getattr(spark, _REGISTERED_ATTR, None) == sf_dir:
        return
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        if name in FACT_TABLES:
            df = fan_out(df, divisor=2)
        df.createOrReplaceTempView(name)
    setattr(spark, _REGISTERED_ATTR, sf_dir)


def duckdb_connect(sf_dir: str):
    """One DuckDB connection with every testdata table registered as a
    view — the single definition shared by the oracle-parity tests, the
    driver-contract simulation, bench.py's co-measure and the plan-audit
    tool (they had drifted: only one of four copies pinned threads)."""
    import duckdb

    from ..session import default_parallelism

    import os

    con = duckdb.connect()
    con.execute(f"SET threads TO {default_parallelism()}")
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        if not os.path.exists(path):  # partial fixture dirs
            continue
        if os.path.isdir(path):
            # Spark writes a table as a DIRECTORY of part files — DuckDB
            # needs the recursive glob (hive_partitioning picks up any
            # key=value subdirs the same way Spark's reader does).
            src = f"read_parquet('{path}/**/*.parquet', hive_partitioning=true)"
        else:
            src = f"'{path}'"
        proj = "*"
        if name == "events":
            # Normalize ts ONCE at the view (review r6): on a
            # TIMESTAMP(NANOS) events file the Spark loader floors to µs
            # (tables._read_table DIV 1000) while a raw DuckDB read keeps
            # ns — any oracle projecting or ordering by bare ts silently
            # diverged (two of them did). DuckDB's TIMESTAMP_NS ->
            # TIMESTAMP cast truncates identically; on µs files the cast
            # is a no-op, and per-oracle CAST(ts AS TIMESTAMP) spellings
            # remain valid no-ops on top.
            try:
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * REPLACE "
                    f"(CAST(ts AS TIMESTAMP) AS ts) FROM {src}"
                )
                continue
            except Exception:
                pass  # fixture without a ts column: plain view below
        con.execute(f"CREATE VIEW {name} AS SELECT {proj} FROM {src}")
    return con
