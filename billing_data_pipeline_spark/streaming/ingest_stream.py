"""Streaming idempotent ingestion (SURVEY.md §2.9 ST1/ST2/ST4, §4 OPT2-3).

Replaces the reference's sensor+cursor loop (reference: pipeline/
pipeline.py:41-161) with a checkpointed file-source stream whose sink is the
same idempotent anti-join append used in batch (operators/ingest.py):

- the checkpoint's file index subsumes the name-based processed-files skip
  (new files only, exactly-once per file even across restarts);
- the per-batch ``dedup_append`` keeps re-delivered ROWS out (at-least-once
  delivery, replayed batches after a crash, overlapping backfills);
- ``Trigger.AvailableNow`` gives batch-catchup runs (the backfill entry
  point) with the same code path as continuous ``ProcessingTime`` triggers.

Divergence note (documented, SURVEY.md §7 Phase 4): Spark's file source
never re-reads a file modified in place; the reference's mtime sensor did.
Content-hash redetection stays a batch-mode concern via operators/ledger.py.
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.errors import AnalysisException

from ..operators.ingest import append_new_rows
from ..sources.csv_source import RAW_BILLING_KEYS, RAW_BILLING_SCHEMA


def refuse_snapshot_table(spark: SparkSession, table_path: str) -> None:
    """Fail closed when ``table_path`` is a snapshot table (``run``'s
    ``raw_billing``): its readers see only the manifest's versions, so
    plain parquet streamed into it would never be read. Snapshot tables
    live on local paths only."""
    from ..sources.os_snapshot import local_fs_path
    from ..sources.versioned_sink import SnapshotTable

    try:
        path = local_fs_path(table_path)
    except NotImplementedError:
        return
    if SnapshotTable(spark, path).latest_version() is not None:
        raise RuntimeError(
            f"{table_path} is a snapshot table (it has a _latest manifest,"
            " written by the run command): rows streamed into it as plain"
            " parquet would never be read. Stream into a separate"
            " warehouse directory."
        )


def replay_safe_append(batch: DataFrame, table_path: str, keys: list[str]) -> None:
    """Idempotent-even-under-replay append (the foreachBatch sink body).

    foreachBatch may replay a batch after failure. ``append_new_rows``'s
    key anti-join makes the replay a no-op for rows with a fully NON-NULL
    natural key => effectively exactly-once for those. Rows with any NULL
    key column never match the key anti-join (SQL join semantics, see
    operators/ingest.py) and would re-append on every replay, so the
    NULL-key subset is deduped on a FULL-ROW hash instead: replays become
    no-ops, at the cost of also collapsing genuinely identical NULL-key
    rows (documented divergence from batch mode; the reference's UNIQUE
    constraint never applied to NULL keys either).
    """
    refuse_snapshot_table(batch.sparkSession, table_path)
    key_cols = [F.col(k) for k in keys]
    has_null_key = reduce(or_, (c.isNull() for c in key_cols))
    append_new_rows(batch.filter(~has_null_key), table_path, keys)

    null_part = batch.filter(has_null_key)
    # Early exit for the common case (review r7): a fully-keyed batch
    # pays ONE cheap job over the small micro-batch here instead of the
    # whole NULL-key pipeline below — existing-table scan, per-row
    # JSON+md5 hashing and an anti-join whose left side is provably
    # empty, every micro-batch.
    if not null_part.take(1):
        return
    # Full-row hash over a JSON rendering of the row STRUCT: to_json
    # escapes every value and OMITS null fields, so NULL vs the literal
    # sentinel string can never collide — the previous concat_ws with a
    # '\\x00' null marker and '\\x1f' separator hashed a row containing
    # those literal characters identically to a different row, silently
    # dropping a genuinely new NULL-key row as a duplicate (review r4).
    # TIMESTAMP columns hash via unix_micros, NOT their JSON rendering
    # (review r6): to_json renders timestamps in spark.sql.session.timeZone,
    # so a restart under a different session TZ re-hashed every stored
    # row differently and re-appended the replayed NULL-key batch —
    # unix_micros is the TZ-independent instant.
    def _stable(c: str):
        col = F.col(c)
        if isinstance(batch.schema[c].dataType, T.TimestampType):
            return F.unix_micros(col).alias(c)
        return col.alias(c)

    row_hash = F.md5(
        F.to_json(F.struct(*[_stable(c) for c in batch.columns]))
    )
    hashed = null_part.withColumn("_row_hash", row_hash).dropDuplicates(["_row_hash"])
    try:
        # prune the existing side to its NULL-key subset BEFORE hashing
        # (review r6): only NULL-key rows can ever hash-match a NULL-key
        # batch row (to_json omits null fields, so the key field SETS
        # differ for any non-NULL-key row) — without the filter every
        # micro-batch paid a full-table, all-columns scan + per-row
        # JSON+md5 where O(null-key subset) suffices
        existing = (
            batch.sparkSession.read.parquet(table_path)
            .filter(reduce(or_, (F.col(k).isNull() for k in keys)))
            .withColumn("_row_hash", row_hash)
        )
        new_nulls = hashed.join(
            existing.select("_row_hash"), on="_row_hash", how="left_anti"
        )
    except AnalysisException as exc:
        # ONLY "table does not exist yet" may skip the anti-join: a bare
        # except here treated any transient read failure as first-write
        # and appended the replayed NULL-key batch a second time,
        # silently breaking exactly-once (review r5). Like the batch twin
        # append_new_rows (review r6 + r7): UNABLE_TO_INFER_SCHEMA is
        # also first-write — a table dir that exists with no readable
        # parquet (a crashed first write's _temporary debris, or an
        # ops-precreated empty dir) would otherwise crash-loop the
        # stream on every restart.
        marker = f"{exc.getErrorClass()} {exc}"
        if (
            "PATH_NOT_FOUND" not in marker
            and "UNABLE_TO_INFER_SCHEMA" not in marker
        ):
            raise
        new_nulls = hashed
    # Persist across the emptiness probe + write: without it the take(1)
    # guard executed the whole anti-join plan (including the existing-table
    # scan) twice per micro-batch (review r3; same pattern as
    # operators/ingest.append_new_rows).
    out = new_nulls.drop("_row_hash").persist()
    try:
        if out.take(1):
            out.write.mode("append").parquet(table_path)
    finally:
        out.unpersist()


def stream_ingest_csv(
    spark: SparkSession,
    source_glob: str,
    table_path: str,
    checkpoint_dir: str,
    schema: T.StructType = RAW_BILLING_SCHEMA,
    keys: tuple[str, ...] = RAW_BILLING_KEYS,
    available_now: bool = True,
    processing_interval: str = "5 minutes",
):
    """Stream CSV files into an idempotent parquet table.

    Returns the started StreamingQuery; callers ``awaitTermination()`` it
    (AvailableNow drains what exists and stops — the backfill/catch-up mode)
    or leave it running on a processing-time trigger (the sensor mode,
    interval mirroring the reference's 300 s poll floor). Refuses a
    ``table_path`` that is a snapshot table (``refuse_snapshot_table``).
    """
    refuse_snapshot_table(spark, table_path)
    stream = (
        spark.readStream.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .csv(source_glob)
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        replay_safe_append(batch, table_path, list(keys))

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_interval)
    return writer.start()
