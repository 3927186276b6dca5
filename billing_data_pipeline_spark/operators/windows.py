"""[EXT] Window-function layer (SURVEY.md §2.5).

The reference has no OVER clauses; its nearest analogue is the per-user
MIN/MAX "activity timeline" (reference: pipeline/assets/aggregates.py:110-111)
and the README's activity-timeline claim (reference: README.md:347). This
layer supplies what that implies at engine level: ordered per-entity
sequences, deltas, running totals, and gap-based sessionization — all pure
built-in Spark window functions.

Scale notes:
- A window partitioned by a high-cardinality key (user_id) shuffles once and
  sorts within partitions — the same cost shape as a groupBy; skewed users
  are handled by AQE skew splitting only for joins, so for pathological skew
  pre-filter or salt the heavy entities.
- Running SUM over doubles uses an exact-decimal accumulator: window frames
  are computed incrementally and engines differ in float association
  (segment trees vs running sums), so decimal is the only way two engines
  agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .aggregates import MEASURE_DECIMAL


def entity_window(entity_col: str, ts_col: str, tiebreak_col: str) -> Window:
    """Deterministic per-entity event ordering (ties broken by a unique
    id). NULL ordering is PINNED to nulls-last: Spark's ascending default
    is NULLS FIRST while DuckDB's (every consumer's oracle) is NULLS
    LAST — a NULL timestamp would otherwise shift seq/lag/running-sum/
    session numbering for the whole entity (review r4; the same class of
    divergence the relational window matrix already pins explicitly)."""
    return Window.partitionBy(entity_col).orderBy(
        F.col(ts_col).asc_nulls_last(), F.col(tiebreak_col).asc_nulls_last()
    )


def with_sequence(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    tiebreak_col: str,
    lag_cols: dict[str, str] | None = None,
) -> DataFrame:
    """row_number + lag columns over the per-entity timeline.

    lag_cols: {output_alias: input_col} -> previous value of input_col.
    """
    w = entity_window(entity_col, ts_col, tiebreak_col)
    out = df.withColumn("seq", F.row_number().over(w))
    for alias, col in (lag_cols or {}).items():
        out = out.withColumn(alias, F.lag(col).over(w))
    return out


def running_total(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    tiebreak_col: str,
    measure: str,
) -> DataFrame:
    """Exact-decimal running sum over the per-entity timeline, as column
    ``running_total``."""
    w = (
        entity_window(entity_col, ts_col, tiebreak_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        "running_total", F.sum(F.col(measure).cast(MEASURE_DECIMAL)).over(w).cast("double")
    )


def sessionize(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    tiebreak_col: str,
    gap_seconds: int,
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since
    the previous event is STRICTLY GREATER than the gap; an event exactly
    at ``prev_ts + gap`` EXTENDS the session.

    This matches Structured Streaming's ``session_window`` boundary rule,
    verified empirically (Spark 4.1: events at 10:00:00 and 10:30:00 with a
    30-minute gap merge into one session [10:00, 11:00); at 10:30:00.000001
    they split) — Spark merges candidate sessions when
    ``next_start <= prev_end``, i.e. touching windows DO merge, so the
    window-end exclusivity of [start, last+gap) does not make the boundary
    event a new session. Regression-tested against the native operator in
    ``tests/test_operators.py::test_sessionize_matches_native_session_window_boundary``.

    Adds ``session_seq`` (1-based per entity). Gap arithmetic is integer
    epoch-microseconds — exact on any engine.
    """
    w = entity_window(entity_col, ts_col, tiebreak_col)
    prev_us = F.lag(F.unix_micros(F.col(ts_col))).over(w)
    new_session = F.when(
        prev_us.isNull()
        | (F.unix_micros(F.col(ts_col)) - prev_us <= gap_seconds * 1_000_000),
        0,
    ).otherwise(1)
    # same ordering object as the lag window — ONE source of truth for the
    # per-entity ordering contract (review r4)
    cum = entity_window(entity_col, ts_col, tiebreak_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn("session_seq", F.sum(new_session).over(cum) + 1)
