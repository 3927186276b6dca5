"""[EXT] As-of and range joins — operators Spark lacks natively, composed
from built-in DataFrame ops (SURVEY.md §2.3 note: the reference has only the
anti-join; these cover the time-series join surface a billing/event engine
needs at scale).

As-of (backward) join
---------------------
For each left row, the single most recent right row with right.ts <= left.ts
within the same entity. Implemented as the classic union + ordered window
``last(ignorenulls)`` composition:

    tag rows -> union -> window partitionBy(entity) orderBy(ts, side_tag)
    -> last(right_value, ignorenulls=True) over rows unbounded preceding
    -> keep left rows.

One shuffle on the entity key + one in-partition sort — the same cost shape
as a groupBy, NO join explosion, no per-row probing. Skewed entities behave
like any skewed window (salt or pre-filter the heavy hitters).

Range join
----------
Pairs (l, r) with r.ts in [l.ts - window, l.ts]. A naive theta-join is a
cross product per entity; instead both sides are bucketed by
floor(ts / window) and each left bucket joins only its own and the previous
bucket (every qualifying pair is within one bucket width), turning the join
into an equi-join with a bounded candidate set — linear in data + true
matches at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    entity_col: str,
    ts_col: str,
    value_cols: list[str],
) -> DataFrame:
    """Backward as-of join: left columns + ``value_cols`` from the latest
    right row with right.ts <= left.ts per entity.

    Right-side ties on (entity, ts) must be resolved by the caller (e.g.
    keep max id per (entity, ts)) — as-of is only well-defined with unique
    right timestamps per entity.
    """
    reserved = {"_side", "_rv", "_asof_rv"} | {
        f"asof_{c}" for c in value_cols  # OUTPUT names (review r6: a left
        # column already named asof_<value_col> made the final select emit
        # duplicate column names — AMBIGUOUS_REFERENCE far from the cause)
    }
    if reserved & set(left.columns):
        raise ValueError(
            f"asof_join_backward: left frame carries reserved working/"
            f"output column(s) {sorted(reserved & set(left.columns))}"
        )
    # NULL timestamps: a right row with unknown time can never be proven
    # at-or-before anything (asc NULLS FIRST would otherwise sort it ahead
    # of every left row and match it); left rows with NULL ts likewise get
    # NULL asof values (they sort first, before any right row).
    # NULL ENTITY keys: SQL equality (and the DuckDB ASOF JOIN oracle)
    # never matches NULL = NULL, but Window.partitionBy groups NULLs
    # together — drop NULL-entity RIGHT rows so a NULL-entity left row
    # gets NULL asof values instead of silently matching (review r4).
    # Projections assemble as selectExpr strings (r11 construction pass —
    # see _names.sql_ident): identical expression trees (named_struct ==
    # aliased F.struct, last(_rv, true) OVER == last(ignorenulls).over,
    # ASC defaults to NULLS FIRST in both forms) at a fraction of the
    # py4j round-trips.
    from .._names import sql_ident as _q

    qe, qt = _q(entity_col), _q(ts_col)
    right = right.filter(f"{qt} IS NOT NULL AND {qe} IS NOT NULL")
    # side ordering at equal ts: right (0) before left (1), so the
    # inclusive <= sees an equal-ts right row
    l_tagged = left.selectExpr("*", "1 AS _side")
    # ALL right value columns ride in ONE struct: the struct is non-null
    # exactly when a right ROW exists, so last(ignorenulls) tracks row
    # presence — per-column last() would skip a genuine NULL value and
    # reach back to an OLDER right row (and different columns could even
    # come from different rows). Found by the NULL-injection sweep.
    fields = ", ".join(
        f"'{c.replace(chr(39), chr(92) + chr(39))}', {_q(c)}"
        for c in value_cols
    )
    r_tagged = right.selectExpr(
        qe,
        qt,
        f"named_struct({fields}) AS _rv",
        "0 AS _side",
    )
    unioned = l_tagged.unionByName(r_tagged, allowMissingColumns=True)

    filled = unioned.selectExpr(
        "*",
        f"last(_rv, true) OVER (PARTITION BY {qe} "
        f"ORDER BY {qt} ASC, _side ASC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _asof_rv",
    )
    out = filled.filter("_side = 1").selectExpr(
        *[_q(c) for c in left.columns],
        *[f"_asof_rv.{_q(c)} AS {_q(f'asof_{c}')}" for c in value_cols],
    )
    return out


def asof_join_backward_cogrouped(
    left: DataFrame,
    right: DataFrame,
    entity_col: str,
    ts_col: str,
    value_cols: list[str],
) -> DataFrame:
    """Backward as-of join on the COGROUPED-PANDAS path: both sides group
    on the entity key, cogroup co-shuffles matching groups into one Arrow
    batch, and ``pd.merge_asof`` runs the per-entity merge — the
    imperative twin of the union+window composition (`asof_join_backward`)
    and the missing tier of the pandas API family (scalar pandas_udf /
    grouped-agg / grouped-map / mapInPandas / applyInPandasWithState are
    covered elsewhere; this is ``cogroup().applyInPandas``).

    Same scale shape as the window form: one co-partitioning shuffle on
    the entity key, no join explosion; per-group memory is the entity's
    own rows (the window form streams instead — prefer it for single
    monster entities). Output columns/semantics are identical, so the two
    formulations share one DuckDB ASOF JOIN oracle.

    Right-side columns are renamed to their output names BEFORE the
    cogroup: Spark's cogroup resolution drops right-side columns whose
    names collide with the left's (observed: a right frame arriving in
    the kernel with only its uniquely-named columns), so the two sides
    must not share non-key names.

    Numeric exactness (review r5): the right payload columns are carried
    through ``merge_asof`` as OBJECT dtype — with numeric dtypes, one
    unmatched left row made pandas promote an int64 payload column to
    float64, silently rounding ids above 2^53 (verified: 2^53+1 came
    back off by one) while the window form stayed exact. Match tracking
    rides an explicit right-presence marker, not payload notna(), so a
    matched row whose payload is genuinely NULL stays a match. Known
    tier-private edge: a matched FLOAT payload that is NaN surfaces as
    NULL here (the Arrow boundary folds NaN to null) where the window
    form returns NaN — NaN payloads are the one case the two tiers can
    differ on."""
    import pandas as pd

    from pyspark.sql import types as T

    left_fields = [left.schema[c] for c in left.columns]
    right_field = {f.name: f for f in right.schema.fields}
    out_schema = T.StructType(
        left_fields
        + [
            T.StructField(f"asof_{c}", right_field[c].dataType, True)
            for c in value_cols
        ]
    )
    l_cols = list(left.columns)
    reserved = {"_r_ts", "_r_present"} | {f"asof_{c}" for c in value_cols}
    if reserved & set(l_cols):
        # same plan-time rejection as the window twin (review r6: cogroup
        # resolution DROPS the right-side colliding column, so the kernel
        # KeyErrored in every group — or silently read left data as the
        # presence marker)
        raise ValueError(
            f"asof_join_backward_cogrouped: left frame carries reserved"
            f" working/output column(s) {sorted(reserved & set(l_cols))}"
        )
    # NULL right timestamps can never match (same rule as the window form;
    # merge_asof would also reject NaT keys); NULL right ENTITY keys never
    # match either — cogroup's groupBy would pair the NULL groups, but SQL
    # equality (the ASOF oracle) doesn't (review r4, same as window form)
    right_renamed = right.filter(
        F.col(ts_col).isNotNull() & F.col(entity_col).isNotNull()
    ).select(
        F.col(entity_col),
        F.col(ts_col).alias("_r_ts"),
        F.lit(True).alias("_r_present"),
        *[F.col(c).alias(f"asof_{c}") for c in value_cols],
    )

    def merge_group(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        if not len(l):
            return pd.DataFrame(columns=[f.name for f in out_schema.fields])
        # NULL-ts left rows get NULL asof values (window-form semantics);
        # they must not reach merge_asof, which rejects NaT keys
        null_l = l[l[ts_col].isna()].copy()
        for c in value_cols:
            null_l[f"asof_{c}"] = None
        l = l[l[ts_col].notna()]
        if not len(l):
            return null_l[l_cols + [f"asof_{c}" for c in value_cols]]
        l = l.sort_values(ts_col, kind="stable")
        rr = (
            r[["_r_ts", "_r_present", *[f"asof_{c}" for c in value_cols]]]
            .rename(columns={"_r_ts": ts_col})
            .sort_values(ts_col, kind="stable")
        )
        # OBJECT dtype: merge_asof's unmatched-row NaN fill must not
        # promote int64 payloads to float64 (review r5 — exactness)
        for c in value_cols:
            rr[f"asof_{c}"] = rr[f"asof_{c}"].astype(object)
        out = pd.merge_asof(l, rr, on=ts_col, direction="backward")
        # unmatched rows -> SQL NULLs, keyed on ROW presence, not payload
        # notna() (review r5: a matched row with a NULL payload is still
        # a match; the old check reached the same answer only because
        # object-dtype None is also notna()==False — now explicit)
        unmatched = out["_r_present"].isna()
        for c in value_cols:
            col = out[f"asof_{c}"].astype(object)
            out[f"asof_{c}"] = col.where(~unmatched & col.notna(), None)
        out = out.drop(columns=["_r_present"])
        if len(null_l):
            out = pd.concat([out, null_l], ignore_index=True)
        return out[l_cols + [f"asof_{c}" for c in value_cols]]

    return (
        left.groupBy(entity_col)
        .cogroup(right_renamed.groupBy(entity_col))
        .applyInPandas(merge_group, out_schema)
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    entity_col: str,
    ts_col: str,
    window_seconds: int,
    right_cols: list[str],
) -> DataFrame:
    """All (left, right) pairs with the same entity and
    left.ts - window <= right.ts <= left.ts, via time-bucketed equi-join
    (each left bucket joins bucket b and b-1 only).

    Output: entity, ``l_``-prefixed left columns, ``right_cols``, and ``r_ts``
    (the matched right row's timestamp).
    """
    if window_seconds <= 0:
        # pmod(x, 0)/div 0 yields NULL buckets — an empty result with no
        # error (or an ANSI divide-by-zero), never the exact-ts matches a
        # zero window would suggest (review r6)
        raise ValueError(f"range_join: window_seconds must be > 0, got {window_seconds}")
    us = window_seconds * 1_000_000
    reserved = {"_ent", "_b", "_lb", "r_ts"}
    if reserved & (set(left.columns) | set(right_cols)):
        raise ValueError(
            f"range_join: reserved column name(s)"
            f" {sorted(reserved & (set(left.columns) | set(right_cols)))}"
        )
    # The repo's ONE bucketing rule, CALLED not re-spelled (review r6 —
    # an inline copy here was exactly the maintenance trap _util.py
    # documents): exact integer FLOOR, (x - pmod(x, d)) div d.
    from ..plans._util import floor_bucket_us

    bucket = lambda c: floor_bucket_us(us, f"`{c}`")  # noqa: E731

    l = left.select(
        F.col(entity_col).alias("_ent"),
        F.col(ts_col).alias("l_ts"),
        *[F.col(c).alias(f"l_{c}") for c in left.columns if c not in (entity_col, ts_col)],
    ).withColumn("_lb", bucket("l_ts"))
    # each left row probes its own and the previous bucket
    l = l.withColumn("_b", F.explode(F.array(F.col("_lb"), F.col("_lb") - 1)))

    r = right.select(
        F.col(entity_col).alias("_ent"),
        # r_ts is a PUBLIC output column (the matched right timestamp) —
        # the old underscore-internal name leaked into results (review r5)
        F.col(ts_col).alias("r_ts"),
        *[F.col(c).alias(c) for c in right_cols],
    ).withColumn("_b", bucket("r_ts"))

    pairs = l.join(r, ["_ent", "_b"]).filter(
        (F.col("r_ts") <= F.col("l_ts"))
        & (
            F.unix_micros(F.col("l_ts")) - F.unix_micros(F.col("r_ts"))
            <= us
        )
    )
    # No dedup needed: each right row lives in exactly one bucket, so a
    # qualifying (l, r) pair joins exactly once.
    return pairs.drop("_b", "_lb").withColumnRenamed("_ent", entity_col)
