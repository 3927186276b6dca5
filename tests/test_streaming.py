"""Structured Streaming tests: file-source streams drained with
Trigger.AvailableNow into memory sinks, compared against the batch twins
(the expressions are shared, so stream == batch on finite input), plus
stateful processing."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from billing_data_pipeline_spark.sources.tables import load_table
from billing_data_pipeline_spark.streaming import (
    run_to_memory,
    session_stats_stream,
    sliding_volume_stream,
    stateful_user_totals,
    streaming_dedup,
    tumbling_counts_stream,
)

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """The sf0.001 events table written as a 3-file parquet directory so the
    file source discovers multiple files."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, SF_SMOKE, "events").repartition(3).write.mode(
        "overwrite"
    ).parquet(path)
    return path


EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)


def _event_stream(spark, source_dir, max_files_per_trigger=None):
    """Checkpoint-tracked parquet file-source stream of events."""
    reader = spark.readStream.schema(EVENTS_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_tumbling_stream_matches_batch(spark, events_dir):
    stream = _event_stream(spark, events_dir)
    got = run_to_memory(tumbling_counts_stream(stream), "t_tumbling", "complete")
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp("window.start").alias("window_start_sec"),
            "event_type",
            "n",
        )
    )
    assert _rows(got, "window_start_sec", "event_type", "n") == _rows(
        batch, "window_start_sec", "event_type", "n"
    )


def test_sliding_stream_matches_batch(spark, events_dir):
    stream = _event_stream(spark, events_dir)
    got = run_to_memory(sliding_volume_stream(stream), "t_sliding", "complete")
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_timestamp("window.start").alias("window_start_sec"), "n")
    )
    assert _rows(got, "window_start_sec", "n") == _rows(
        batch, "window_start_sec", "n"
    )


def test_session_stream_matches_batch(spark, events_dir):
    stream = _event_stream(spark, events_dir)
    got = run_to_memory(session_stats_stream(stream), "t_session", "complete")
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            "n_events",
        )
    )
    assert _rows(got, "user_id", "session_start_us", "n_events") == _rows(
        batch, "user_id", "session_start_us", "n_events"
    )


def test_append_mode_emits_only_watermark_closed_windows(spark, tmp_path):
    """Append mode + watermark: windows whose end is far below the final
    watermark are emitted; the window holding the newest events stays open
    (state not finalized) and is withheld."""
    from datetime import datetime

    src = tmp_path / "wm_events"
    rows = [
        # 9 events inside window 10:00, one in 10:10, one far later at 13:00.
        *[
            (i, datetime(2025, 4, 23, 10, 0, 6 * i), 1, "click", 1.0, "{}")
            for i in range(9)
        ],
        (100, datetime(2025, 4, 23, 10, 12, 0), 1, "click", 1.0, "{}"),
        (200, datetime(2025, 4, 23, 13, 0, 0), 1, "click", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).coalesce(1).write.mode("overwrite").parquet(str(src))

    stream = _event_stream(spark, str(src))
    got = run_to_memory(
        tumbling_counts_stream(stream),
        "t_wm_append",
        "append",
    )
    emitted = {r["window_start_sec"]: r["n"] for r in got.collect()}
    t = lambda h, m: int(datetime(2025, 4, 23, h, m).timestamp())  # noqa: E731
    # Final watermark = 13:00 - 30 min = 12:30 -> 10:00 and 10:10 windows
    # closed, 13:00 window withheld.
    assert emitted == {t(10, 0): 9, t(10, 10): 1}


def test_streaming_dedup_collapses_redelivery(spark, tmp_path):
    """A re-delivered (duplicated) events file collapses to unique event_ids."""
    src = tmp_path / "dup_events"
    src.mkdir()
    ev = load_table(spark, SF_SMOKE, "events").limit(200)
    ev.coalesce(1).write.mode("overwrite").parquet(str(src / "a"))
    ev.coalesce(1).write.mode("overwrite").parquet(str(src / "b"))

    stream = _event_stream(spark, str(src) + "/*")
    got = run_to_memory(
        streaming_dedup(stream, ["event_id"], watermark="2 days"), "t_dedup"
    )
    n_unique = ev.select("event_id").distinct().count()
    assert got.count() == n_unique


def test_streaming_dedup_excludes_null_event_times_by_contract(spark, tmp_path):
    """r8 (NULL-ts sweep): rows with no event timestamp are excluded from
    watermark dedup BY CONTRACT — Spark happened to admit them into dedup
    state, but nothing ever proves such a row out-of-horizon, so at scale
    NULL-ts keys are an unbounded-state leak with engine-private eviction.
    Two deliveries, one row NULL-ts: output = the dated rows once each,
    the undated row absent."""
    from datetime import datetime

    src = tmp_path / "nullts_events"
    src.mkdir()
    rows = [
        (1, datetime(2025, 4, 23, 10, 0, 0), 1, "click", 1.0, "{}"),
        (2, None, 1, "click", 2.0, "{}"),
        (3, datetime(2025, 4, 23, 10, 5, 0), 2, "view", 3.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    ev.coalesce(1).write.mode("overwrite").parquet(str(src / "a"))
    ev.coalesce(1).write.mode("overwrite").parquet(str(src / "b"))

    stream = _event_stream(spark, str(src) + "/*")
    got = run_to_memory(
        streaming_dedup(stream, ["event_id"], watermark="2 days"),
        "t_dedup_nullts",
    )
    assert sorted(r["event_id"] for r in got.collect()) == [1, 3]


def test_streaming_dedup_null_keys_hash_identity_and_stateful_null_group(
    spark, tmp_path
):
    """r8 (NULL-key sweep), two contracts in one stream pass:
    (a) NULL dedup keys get FULL-ROW-HASH identity — dropDuplicates'
    NULL = NULL equality previously collapsed every NULL-key row into one
    (data loss); now distinct NULL-key rows survive while a re-delivered
    copy still collapses. (b) applyInPandasWithState must EMIT a NULL
    group key, not kill the stream decoding it through a non-nullable
    output field."""
    from datetime import datetime

    from billing_data_pipeline_spark.streaming.stateful import (
        stateful_user_totals,
    )

    src = tmp_path / "nullkey_events"
    src.mkdir()
    t0 = datetime(2025, 4, 23, 10, 0, 0)
    rows = [
        (None, t0, 1, "click", 1.0, "{}"),   # NULL key, distinct row A
        (None, t0, 1, "click", 2.0, "{}"),   # NULL key, distinct row B
        (7, t0, None, "view", 3.0, "{}"),    # NULL user (stateful group)
        (8, t0, 2, "view", 4.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    ev.coalesce(1).write.mode("overwrite").parquet(str(src / "a"))
    ev.coalesce(1).write.mode("overwrite").parquet(str(src / "b"))  # replay

    stream = _event_stream(spark, str(src) + "/*")
    got = run_to_memory(
        streaming_dedup(stream, ["event_id"], watermark="2 days"),
        "t_dedup_nullkey",
    )
    vals = sorted(r["value"] for r in got.collect())
    # both distinct NULL-key rows survive exactly once; replay collapsed
    assert vals == [1.0, 2.0, 3.0, 4.0]

    stream2 = _event_stream(spark, str(src / "a"))
    totals = run_to_memory(
        stateful_user_totals(stream2), "t_state_nullkey", "update"
    )
    by_user = {r["user_id"]: r["n_events"] for r in totals.collect()}
    assert by_user[None] == 1  # the NULL-user group emits, stream survives
    assert by_user[1] == 2


def test_stateful_user_totals_accumulates_across_batches(spark, tmp_path):
    """applyInPandasWithState: state persists across micro-batches — totals
    after two single-file batches equal the batch aggregate over both."""
    src = tmp_path / "ev"
    src.mkdir()
    ev = load_table(spark, SF_SMOKE, "events").limit(300)
    half1 = ev.filter(F.col("event_id") % 2 == 0)
    half2 = ev.filter(F.col("event_id") % 2 == 1)
    half1.coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))
    half2.coalesce(1).write.mode("overwrite").parquet(str(src / "f2"))

    stream = _event_stream(spark, str(src) + "/*", max_files_per_trigger=1)
    q = (
        stateful_user_totals(stream)
        .writeStream.format("memory")
        .queryName("t_stateful")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # Memory sink in update mode appends one row per (batch, user) update;
    # the final state per user is the max n_events (totals only grow).
    sink = spark.table("t_stateful")
    last = (
        sink.toPandas()
        .groupby("user_id", as_index=False)["n_events"]
        .max()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    expected = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert list(last["user_id"]) == list(expected["user_id"])
    assert list(last["n_events"]) == list(expected["n_events"])


def test_interval_join_matches_across_micro_batches(spark, tmp_path):
    """Stream-stream join state persists across micro-batches: clicks and
    purchases arrive in SEPARATE files processed one per trigger, and
    matches within the 30-minute bound still form; a purchase outside the
    bound never joins."""
    from datetime import datetime, timedelta

    from billing_data_pipeline_spark.streaming import interval_join_stream

    t0 = datetime(2025, 6, 1, 12, 0, 0)

    def ev(eid, dt_min, uid, etype):
        return (eid, t0 + timedelta(minutes=dt_min), uid, etype, 1.0, "{}")

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    src = tmp_path / "ss_join"
    src.mkdir()
    clicks = [ev(1, 0, 100, "click"), ev(2, 10, 200, "click")]
    purchases = [
        ev(11, 5, 100, "purchase"),    # matches click 1 (lag 5 min)
        ev(12, 51, 200, "purchase"),   # 41 min after click 2 -> no match
        ev(13, 20, 100, "purchase"),   # matches click 1 (lag 20 min)
    ]
    spark.createDataFrame(clicks, schema).coalesce(1).write.parquet(str(src / "a"))
    spark.createDataFrame(purchases, schema).coalesce(1).write.parquet(str(src / "b"))

    stream = _event_stream(spark, str(src) + "/*", max_files_per_trigger=1)
    got = run_to_memory(interval_join_stream(stream), "t_ssjoin", "append")
    assert _rows(got, "left_id", "right_id", "lag_us") == [
        (1, 11, 5 * 60 * 1_000_000),
        (1, 13, 20 * 60 * 1_000_000),
    ]


def test_left_outer_interval_join_emits_unmatched_after_watermark(spark, tmp_path):
    """Left-outer stream-stream join: non-converting clicks emit a
    NULL-padded row, but only once the watermark PROVES no match can still
    arrive. A far-future flush file (separate micro-batch) pushes the
    watermark past every real click's horizon; each unmatched click must
    appear exactly once, each match exactly as in the inner join."""
    from datetime import datetime, timedelta

    from billing_data_pipeline_spark.streaming import interval_join_stream

    t0 = datetime(2025, 6, 1, 12, 0, 0)

    def ev(eid, dt_min, uid, etype):
        return (eid, t0 + timedelta(minutes=dt_min), uid, etype, 1.0, "{}")

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    src = tmp_path / "ss_loj"
    src.mkdir()
    rows = [
        ev(1, 0, 100, "click"),       # matched (by 11)
        ev(2, 10, 200, "click"),      # unmatched (12 misses the bound)
        ev(3, 15, 300, "click"),      # unmatched (no purchase at all)
        ev(11, 5, 100, "purchase"),
        ev(12, 51, 200, "purchase"),  # 41 min after click 2 -> no match
    ]
    # flush batches: one click+purchase pair far past every horizon, then a
    # second to run a batch WITH the advanced watermark (watermark used in
    # batch N comes from batch N-1's data)
    flush1 = [ev(91, 10_000, -1, "click"), ev(92, 10_000, -1, "purchase")]
    flush2 = [ev(93, 20_000, -1, "click"), ev(94, 20_000, -1, "purchase")]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src / "a"))
    spark.createDataFrame(flush1, schema).coalesce(1).write.parquet(str(src / "b"))
    spark.createDataFrame(flush2, schema).coalesce(1).write.parquet(str(src / "c"))

    stream = _event_stream(spark, str(src) + "/*", max_files_per_trigger=1)
    got = run_to_memory(
        interval_join_stream(stream, how="leftOuter"), "t_ssloj", "append"
    ).filter(F.col("user_id") >= 0)
    assert _rows(got, "left_id", "right_id", "lag_us") == [
        (1, 11, 5 * 60 * 1_000_000),
        (2, None, None),
        (3, None, None),
    ]


def test_run_to_memory_keeps_recent_drains_concurrently(spark, events_dir):
    """Advice r5: the old drop-previous-on-entry policy silently
    unregistered the FIRST of two drained results a caller was holding.
    The LRU now keeps the last 4 sink tables registered."""
    from billing_data_pipeline_spark.streaming.event_windows import (
        _SINK_TABLES,
        run_to_memory,
        tumbling_counts_stream,
    )

    a = run_to_memory(
        tumbling_counts_stream(_event_stream(spark, events_dir)),
        "t_lru_a",
        "complete",
    )
    b = run_to_memory(
        tumbling_counts_stream(_event_stream(spark, events_dir)),
        "t_lru_b",
        "complete",
    )
    # both results readable AFTER the second drain
    assert a.count() == b.count() > 0
    # re-draining the same name must not leave a stale LRU duplicate
    b2 = run_to_memory(
        tumbling_counts_stream(_event_stream(spark, events_dir)),
        "t_lru_b",
        "complete",
    )
    assert b2.count() == b.count()
    names = [n for (_, n) in _SINK_TABLES]
    assert names.count("t_lru_b") == 1


def test_run_to_memory_failed_drain_evicts_nothing(spark, events_dir):
    """Review r7: eviction happens AFTER a successful drain — a start()
    that raises (append mode on a streaming aggregation without a
    watermark horizon, here an invalid output mode) must not cost the
    caller a held result."""
    import pytest

    from billing_data_pipeline_spark.streaming.event_windows import (
        _SINK_TABLES,
        run_to_memory,
        tumbling_counts_stream,
    )

    held = run_to_memory(
        tumbling_counts_stream(_event_stream(spark, events_dir)),
        "t_keep_on_fail",
        "complete",
    )
    before = list(_SINK_TABLES)
    with pytest.raises(Exception):
        run_to_memory(
            tumbling_counts_stream(_event_stream(spark, events_dir)),
            "t_bad_mode",
            "no_such_mode",
        )
    assert _SINK_TABLES == before  # nothing evicted, nothing appended
    assert held.count() > 0  # the held result's view survived
