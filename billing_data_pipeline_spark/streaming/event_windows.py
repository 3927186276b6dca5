"""Watermarked event-time windows over an events stream (SURVEY.md §2.9 EXT).

The window expressions are byte-identical to the batch catalog queries in
``plans/streaming_queries.py`` — ``window()`` / ``session_window()`` are the
same Catalyst operators in both modes; streaming adds ``withWatermark`` for
state eviction and late-data bounds. Tests drive these with a file source +
``Trigger.AvailableNow`` into a memory sink and compare against the batch
results (late rows inside the watermark must land in their event-time
window, not their arrival time).

Scale notes (100 TB / unbounded):
- The watermark bounds state: tumbling/sliding state is O(open windows x
  groups), session state O(open sessions). Without it, streaming aggs grow
  forever — every function here REQUIRES a watermark argument on purpose.
- ``dropDuplicatesWithinWatermark`` keeps only in-horizon keys, which is
  the streaming analogue of the reference's anti-join idempotency (J1).
- State store: the default provider keeps state on the JVM heap, which is
  fine for these tests but caps state at executor memory. In production
  set ``spark.sql.streaming.stateStore.providerClass`` to the
  ``RocksDBStateStoreProvider`` — state spills to local disk with
  changelog checkpointing, so join/session state is bounded by disk, not
  heap (matters most for the stream-stream joins below).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.aggregates import exact_sum

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def read_event_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType = EVENTS_SCHEMA,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Checkpoint-tracked file-source stream (replaces the reference's
    polling sensors ST1/ST2: new files are discovered per micro-batch and
    tracked in the checkpoint's file index — the cursor, subsumed)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if fmt == "csv":
        reader = reader.option("header", True)
    return reader.format(fmt).load(source_dir)


def tumbling_counts_stream(
    events: DataFrame, window: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Tumbling event-time windows per event type (batch twin:
    plans/streaming_queries.py::tumbling_event_counts)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start_sec"),
            "event_type",
            "n",
        )
    )


def sliding_volume_stream(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding event-time windows (batch twin: sliding_window_volume)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start_sec"), "n"
        )
    )


def session_stats_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Gap-based session windows per user (batch twin: session_window_stats).
    Session state closes once the watermark passes start+gap."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            "n_events",
        )
    )


def enriched_segment_stream(
    events: DataFrame, customer: DataFrame, watermark: str = "30 minutes"
) -> DataFrame:
    """Stream-static enrichment: the event stream joins a STATIC dimension
    (customer) — Spark re-plans the static side per micro-batch and keeps
    the join stateless (no watermark needed on the dim, no join state at
    all; the stream side's watermark only bounds the downstream aggregate).
    The dim carries no broadcast hint — customer is SF-proportional, so
    the per-micro-batch planner picks broadcast while the dim fits and a
    shuffled join once it doesn't (r8 unhint: forcing a broadcast of an
    unbounded dim is the 100 TB OOM class, streaming included).
    Output: per-market-segment running event counts + exact-decimal value
    sums (batch twin/oracle: a plain join+groupBy in SQL)."""
    dim = customer.select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    return (
        events.withWatermark("ts", watermark)
        .join(dim, "user_id")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # shared exact-decimal accumulator (review r5: this was an
            # inline copy of exact_sum that would silently diverge if
            # MEASURE_DECIMAL's precision were ever retuned)
            exact_sum("value").cast("double").alias("total_value"),
        )
    )


def streaming_dedup(
    events: DataFrame, keys: list[str], watermark: str = "30 minutes"
) -> DataFrame:
    """Streaming exact dedup within the watermark horizon — re-delivered
    events (at-least-once sources) collapse to one row as long as the dupe
    arrives inside the watermark; state stays bounded.

    NULL event times are excluded BY CONTRACT (r8, NULL-ts sweep): a row
    with no timestamp has no watermark horizon — Spark happened to admit
    such rows into dedup state, but when that state can be EVICTED is
    engine-private (nothing ever proves the row out-of-horizon), so at
    scale NULL-ts keys are an unbounded-state leak. The explicit filter
    makes the operator's bounded-state claim unconditional; route undated
    rows through the batch dedup (operators/dedup.py) instead.

    NULL KEY values dedup on a FULL-ROW hash (r8, NULL-key sweep): a row
    with a NULL key has no key identity, and dropDuplicatesWithinWatermark's
    NULL = NULL equality silently collapsed EVERY such row into one
    (data loss — the exact class the r7 ingest fix removed batch-side).
    Under the hash key, replays of the same row still collapse while
    distinct NULL-key rows survive; genuinely identical NULL-key rows
    also collapse (the documented batch-twin divergence). Timestamps
    hash via unix_micros — TZ-independent across restarts (the r6
    ingest lesson)."""
    from functools import reduce
    from operator import or_

    from pyspark.sql import types as T

    def _stable(c: str):
        col = F.col(c)
        if isinstance(events.schema[c].dataType, T.TimestampType):
            return F.unix_micros(col).alias(c)
        return col.alias(c)

    has_null_key = reduce(or_, (F.col(k).isNull() for k in keys))
    row_hash = F.md5(F.to_json(F.struct(*[_stable(c) for c in events.columns])))
    # _stable() on the key path too (review r9): to_json serializes
    # timestamp keys through spark.sql.session.timeZone, so a restart
    # under a different session TZ would change the state key and stop
    # replayed duplicates from collapsing — unix_micros is TZ-free.
    key_json = F.to_json(F.struct(*[_stable(k) for k in keys]))
    return (
        events.filter(F.col("ts").isNotNull())
        .withColumn(
            "_dedup_key", F.when(has_null_key, row_hash).otherwise(key_json)
        )
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["_dedup_key"])
        .drop("_dedup_key")
    )


def interval_join_stream(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
    lag_minutes: int = 30,
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval self-join: each ``right_type`` event joined to
    every same-user ``left_type`` event it follows within ``lag_minutes``
    (click->purchase attribution as an unbounded join). Both branches carry
    watermarks and the join condition bounds BOTH event-time columns, which
    is what lets Spark expire join state: a click older than
    watermark + lag can never match again and is dropped. Inner join =>
    matches emit as they form (append mode); state is
    O(events within the watermark horizon), constant in stream length.

    ``how="leftOuter"`` adds the non-converting clicks with NULL right
    side — the attribution-with-abandonment shape. Outer rows are emitted
    only when the watermark passes ``left_ts + lag`` (Spark then KNOWS no
    match can arrive), so on a finite drain the last horizon's unmatched
    rows stay in state unless the watermark is pushed past them — see
    ``plans.streaming_queries.streaming_left_outer_join_catchup`` for the
    sentinel-batch flush pattern.
    """
    c = (
        events.filter(F.col("event_type") == left_type)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("left_id"),
            F.col("ts").alias("left_ts"),
        )
        .withWatermark("left_ts", watermark)
    )
    p = (
        events.filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("right_id"),
            F.col("ts").alias("right_ts"),
        )
        .withWatermark("right_ts", watermark)
    )
    cond = F.expr(
        "c_user = p_user AND right_ts >= left_ts "
        f"AND right_ts <= left_ts + interval {int(lag_minutes)} minutes"
    )
    return c.join(p, cond, how).select(
        F.col("c_user").alias("user_id"),
        "left_id",
        "right_id",
        (F.unix_micros("right_ts") - F.unix_micros("left_ts")).alias("lag_us"),
    )


# Memory-sink tables from PRIOR drains: every catalog streaming query
# registers a uniquely-named sink holding a full result copy in driver
# memory, and nothing else ever unregisters it — over a long bench/test
# session dozens of materialized result sets would stay pinned in the
# driver heap (review r5; the driver-memory twin of streaming_queries'
# _SCRATCH_DIRS sweep). A small LRU of recent drains stays registered so
# callers can hold a FEW results concurrently (advice r5: the old
# drop-previous-on-entry silently unregistered the first of two results a
# caller was comparing); older ones are swept.
_SINK_TABLES: list[tuple[SparkSession, str]] = []
_SINK_TABLES_KEEP = 4


def run_to_memory(
    sdf: DataFrame, name: str, output_mode: str = "append"
) -> DataFrame:
    """Drain a finite stream with Trigger.AvailableNow into a memory sink and
    return the sink table — batch-catchup semantics (the streaming analogue
    of the reference's backfill run, ST6).

    Result-lifetime contract (public, advice r5): the returned table stays
    registered for the next ``_SINK_TABLES_KEEP`` (4) drains, then is
    dropped to bound driver memory. Callers composing MORE than 4
    concurrent drained results must collect each before starting the
    fifth; a single result held across many drains should likewise be
    collected promptly — it is a driver-memory copy either way."""
    session = sdf.sparkSession
    # Re-draining the same (session, name) drops its OWN stale entry
    # first — so a same-name drain never costs an unrelated slot — but a
    # same name in a DIFFERENT session keeps its entry: silently untracking
    # it would leak that session's pinned result forever (review r7; memory
    # sink names are per-session namespaces).
    for i, (s, n) in enumerate(_SINK_TABLES):
        if s is session and n == name:
            del _SINK_TABLES[i]
            break
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # Evict only AFTER the drain succeeded (review r7): the old
    # evict-on-entry dropped the oldest held result even when start()
    # then raised (e.g. append mode on a streaming aggregation) — the
    # caller lost a live table and gained nothing.
    _SINK_TABLES.append((session, name))
    while len(_SINK_TABLES) > _SINK_TABLES_KEEP:
        s, n = _SINK_TABLES.pop(0)
        try:
            s.catalog.dropTempView(n)
        except Exception:
            pass  # session already stopped; nothing to free
    return session.table(name)


def ohlc_stream(
    events: DataFrame, window: str = "1 day", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming OHLC bars per (user, event-time window): open/close via
    min_by/max_by over a (epoch-µs, event_id) order key INSIDE the
    streaming aggregate — the same argmin-in-hash-agg shape as the batch
    twin (plans/timeseries.daily_value_ohlc), running incrementally under
    a watermark. Each bar's state is one running tuple per group, merged
    as micro-batches arrive; no sort, no per-window buffering of events."""
    us = F.unix_micros(F.col("ts"))
    # COALESCE(-1): NULL tiebreak ids order FIRST on both engines — the
    # batch twin's contract (plans/timeseries.daily_value_ohlc, r8
    # NULL-key sweep; a NULL id otherwise NULLed the oracle's arithmetic
    # key and arg_min skipped the row while min_by ranked it)
    order = F.struct(
        us.alias("us"), F.coalesce(F.col("event_id"), F.lit(-1)).alias("eid")
    )
    return (
        events.filter(F.col("value").isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "user_id")
        .agg(
            F.min_by("value", order).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", order).alias("close"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("window.start")).alias("window_start_sec"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )
