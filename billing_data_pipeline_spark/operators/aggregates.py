"""Parameterized aggregate builders (SURVEY.md §2.4 A1-A9, §2.6 T1-T4).

The reference materializes four GROUP BY aggregate tables — daily, user,
service, region (reference: pipeline/assets/aggregates.py:34-48, 99-115,
166-181, 229-242) — all with the same shape: COUNT(*), SUM/AVG of a measure,
a handful of exact COUNT(DISTINCT), conditional CASE-WHEN sums, MIN/MAX
timestamps. ``grouped_profile`` generalizes that shape as one declarative
builder; each concrete table is an instantiation.

Scale notes:
- Everything here is a single hash-aggregate: partial (map-side) aggregation
  happens automatically, so the shuffle carries one row per group per
  partition, not the raw data.
- Multiple exact COUNT(DISTINCT) columns plan as a Catalyst ``Expand`` (one
  pass, k-fold row expansion). At arity <= 4 (the reference's max) this is
  the right plan. For 100 TB incremental rollups use ``approx=True`` —
  HLL sketches are mergeable where exact distinct counts are not.
- Top-k (ORDER BY .. LIMIT k) plans as ``TakeOrderedAndProject``: per
  partition heaps + a driver merge. No global sort at any scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Exact-decimal accumulator for money-like measures. Double summation is
# order-dependent (Spark's partial aggregation vs any single-node engine can
# differ in the last ulp); summing an exact DECIMAL is associative, so the
# result is bit-identical on any engine at any parallelism. Cast back to
# double only at the output edge.
#
# Determinism rule for every emitted double: NEVER round it. Spark's
# round(double) rounds the shortest decimal string repr (BigDecimal.valueOf)
# while other engines round the binary value, so midpoint values (common in
# money data: exact-decimal sums / small counts) diverge. Instead derive the
# double through an identical deterministic op sequence on engine and oracle
# (exact decimal -> double cast -> IEEE division), which is bit-exact.
MEASURE_DECIMAL = "decimal(30,6)"


def exact_sum(measure: Column | str) -> Column:
    m = F.col(measure) if isinstance(measure, str) else measure
    return F.sum(m.cast(MEASURE_DECIMAL))


def measure_aggs(measure: Column | str) -> list[Column]:
    """COUNT(*)/SUM/AVG of one measure — the common core of A1-A4.

    AVG = exact-decimal SUM cast to double / non-null COUNT: one IEEE
    division of identical operands on engine and oracle — bit-exact.
    """
    m = F.col(measure) if isinstance(measure, str) else measure
    total = exact_sum(m).cast("double")
    mean = total / F.count(m)
    return [
        F.count(F.lit(1)).alias("transaction_count"),
        total.alias("total_usage"),
        mean.alias("avg_usage"),
    ]


def conditional_count(predicate: Column, name: str) -> Column:
    """SUM(CASE WHEN p THEN 1 ELSE 0 END) (reference: aggregates.py:43-44)."""
    return F.sum(F.when(predicate, 1).otherwise(0)).alias(name)


def grouped_profile(
    df: DataFrame,
    group_cols: Sequence[Column | str],
    measure: Column | str,
    distinct_cols: dict[str, str] | None = None,
    conditions: dict[str, Column] | None = None,
    time_col: str | None = None,
    approx: bool = False,
    widen_scan: bool = False,
) -> DataFrame:
    """The generalized aggregate-table shape of the reference.

    distinct_cols: {output_alias: input_col} -> COUNT(DISTINCT input_col)
    conditions:    {output_alias: predicate} -> SUM(CASE WHEN ...)
    time_col:      adds MIN/MAX as first_activity/last_activity
                   (reference: aggregates.py:110-111)
    approx:        HLL approx_count_distinct for mergeable 100 TB rollups
    widen_scan:    round-robin the scan up to the core count before the
                   aggregate (session.fan_out). Opt in ONLY when group
                   cardinality is known-low: the reduce side is then
                   |groups| tasks no matter what, so map-side partial
                   aggregation is the only parallelism there is, and a
                   narrow scan (one file = one task) serializes it.
    """
    if widen_scan:
        from ..session import fan_out

        df = fan_out(df)
    aggs = measure_aggs(measure)
    for alias, pred in (conditions or {}).items():
        aggs.append(conditional_count(pred, alias))
    if time_col:
        aggs.append(F.min(time_col).alias("first_activity"))
        aggs.append(F.max(time_col).alias("last_activity"))

    def out_order() -> list[str]:
        # canonical output column order, independent of physical strategy
        names = [c for c in (distinct_cols or {})]
        conds = [c for c in (conditions or {})]
        times = ["first_activity", "last_activity"] if time_col else []
        return (
            ["transaction_count", "total_usage", "avg_usage"]
            + names
            + conds
            + times
        )

    if not distinct_cols or approx or len(distinct_cols) == 1:
        if approx:
            for alias, col in (distinct_cols or {}).items():
                aggs.insert(3, F.approx_count_distinct(col).alias(alias))
        elif distinct_cols:
            # ONE exact distinct: Catalyst's single-distinct two-phase
            # plan partial-dedups (group, value) pairs MAP-SIDE in a
            # spillable HashAggregate before any exchange — the right
            # 100 TB shape for a low-cardinality group over huge data
            # (service: 6 groups x all suppliers), which the k >= 2
            # collocated form below would funnel into |groups| reducers.
            # fan_out history: r5 measured it a LOSS for both service
            # (0.95 -> 0.67 s without) and user (0.51 -> 0.27 s without)
            # because the round-robin exchange paid a full per-partition
            # binary sort (SPARK-23207) serialized on the single scan
            # task. r11 turned that sort off session-wide (deterministic
            # inputs — session.py) and RE-measured: service flips to
            # fan_out WINNING (0.73 -> 0.54 s min-of-5 interleaved; its 6
            # groups pin the reduce side to 6 tasks, so the map-side
            # dedup is the only parallelism), while user stays better
            # plain (its high-cardinality groups parallelize the reduce
            # side for free and the exchange is pure cost). Hence the
            # widen_scan opt-in, set per call site by known group
            # cardinality rather than guessed here.
            alias, col = next(iter(distinct_cols.items()))
            aggs.insert(3, F.countDistinct(col).alias(alias))
        if all(isinstance(g, str) for g in group_cols):
            gnames = list(group_cols)
        else:
            # group-output names via a throwaway analysis pass (no job)
            gnames = df.groupBy(*group_cols).agg(aggs[0]).columns[:-1]
        return (
            df.groupBy(*group_cols).agg(*aggs).select(*gnames, *out_order())
        )

    # k >= 2 exact COUNT(DISTINCT): ONE shuffle, ONE aggregation pass.
    #
    # Catalyst's native plan for k >= 2 exact distincts is an Expand (k+1
    # input replicas tagged with gid) whose partial aggregation emits
    # near-row-count partials — it SHUFFLES ~(k+1)x the table on (group,
    # distinct, gid) keys, then exchanges AGAIN on the group keys.
    # Pre-partitioning can't help it: the distinct rewrite pins its own
    # ENSURE_REQUIREMENTS exchanges (measured: a groupBy after
    # repartition(group) elides its exchange at k <= 1, never at k >= 2).
    #
    # Instead: repartition once by the group keys, then compute every
    # distinct count as size(collect_set(col)) IN THE SAME aggregate as
    # the sums/counts. hashpartitioning on the group keys satisfies the
    # aggregate's ClusteredDistribution, so the whole query is scan ->
    # one exchange of raw (pruned) rows -> one collocated
    # ObjectHashAggregate. collect_set drops NULLs exactly like
    # COUNT(DISTINCT); sets are per-group-bounded. Measured at sf0.1
    # under full materialization (daily_aggregates): native Expand 1.99 s
    # -> 0.63 s, output identical.
    #
    # Scale contract: the shuffle is clustered by the GROUP keys, so (a)
    # reduce-side parallelism is bounded by group cardinality, and (b)
    # each group's distinct VALUES for one column must fit one executor's
    # aggregation buffer — the right shape for the catalog's multi-
    # distinct profiles (daily: thousands of day-groups; region: 5 groups
    # whose distinct sets are the 25 nations / 5 segments). For a
    # low-cardinality group whose distinct VALUES are themselves huge
    # (5 regions x ~billions of distinct users), pass approx=True:
    # mergeable HLL sketches need no dedup state at all, and the Expand
    # plan's finer intermediate keys — the only exact alternative — cost
    # (k+1)x shuffle volume.
    gnames: list[str] = []  # output names
    knames: list[str] = []  # physical grouping columns in `tmp`
    # output aliases of the expression group cols via ONE throwaway
    # analysis pass (no job runs; r11: one pass for all of them instead
    # of one per column — construction is bench-timed driver overhead)
    expr_gs = [g for g in group_cols if not isinstance(g, str)]
    expr_names = iter(df.select(*expr_gs).columns if expr_gs else ())
    added: list[Column] = []
    taken = set(df.columns)

    def helper(name: str) -> str:
        # a helper column name no input column (or earlier helper)
        # shadows — select("*", ...) must never produce a duplicate name
        while name in taken:
            name = "_" + name
        taken.add(name)
        return name

    for i, g in enumerate(group_cols):
        if isinstance(g, str):
            gnames.append(g)
            knames.append(g)
        else:
            # if the alias shadows an input column (e.g. upper(seg) AS
            # seg with measure "seg"), keep the expression under a temp
            # name so the measure / condition expressions still see the
            # original column
            nm = next(expr_names)
            gnames.append(nm)
            k = helper(f"_gp_key{i}") if nm in taken else helper(nm)
            knames.append(k)
            added.append(g.alias(k))
    # Shuffle narrow precomputed values, not raw inputs (r12, guide
    # §2.2): the measure expression and each condition's CASE evaluate
    # map-side into one double / one int per row, so column pruning
    # drops their raw input columns (price, discount, flag strings) from
    # the exchange. The per-row values are identical — the decimal SUM
    # is associative, COUNT counts the same non-nulls, and the int sums
    # are the same integers — so every aggregate is bit-equal; only
    # WHERE the row-local expressions run moves (scan side, where the
    # guide wants per-row work, instead of post-shuffle).
    m = F.col(measure) if isinstance(measure, str) else measure
    m_name = helper("_gp_m")
    added.append(m.alias(m_name))
    aggs = measure_aggs(m_name)
    for i, (alias, _pred) in enumerate((conditions or {}).items()):
        c_name = helper(f"_gp_c{i}")
        added.append(F.when(_pred, 1).otherwise(0).alias(c_name))
        aggs.append(F.sum(c_name).alias(alias))
    if time_col:
        aggs.append(F.min(time_col).alias("first_activity"))
        aggs.append(F.max(time_col).alias("last_activity"))
    # every added name comes from helper(), so select("*", ...) appends
    # without collisions — one plan op instead of a withColumn per key
    tmp = df.select("*", *added) if added else df
    # Explicit width: a bare repartition(*cols) lets AQE coalesce the
    # shuffle to ~1 partition at local data sizes (64 MB advisory), which
    # would serialize the CPU-heavy aggregation on one core. Cluster
    # parallelism is the width (probing the scan's own partition count
    # would cost a full planning pass per call — inside bench-timed
    # regions); at real scale AQE's advisory sizing never coalesces a
    # 100 TB shuffle below the core count anyway.
    width = df.sparkSession.sparkContext.defaultParallelism
    pre = tmp.repartition(width, *knames)
    float_cols = {
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.FloatType, T.DoubleType))
    }
    for alias, col in distinct_cols.items():
        # size() returns int; countDistinct is long — match it.
        # Float columns: collect_set's hash set treats NaN != NaN and
        # kept EVERY NaN row as its own element, while COUNT(DISTINCT)
        # (the k=1 branch AND the DuckDB oracle) counts NaN once — so the
        # two physical branches disagreed on NaN-bearing measures
        # (review r5, verified live: {0.0, -0.0, NaN, NaN} -> 3 vs 2;
        # signed zeros already fold at the UnsafeRow level). Count the
        # non-NaN distincts in the set and add 1 when any NaN exists.
        if col in float_cols:
            expr = (
                F.size(F.collect_set(F.when(~F.isnan(col), F.col(col))))
                + F.coalesce(F.max(F.isnan(col).cast("int")), F.lit(0))
            ).cast("long")
        else:
            expr = F.size(F.collect_set(F.col(col))).cast("long")
        aggs.append(expr.alias(alias))
    return (
        pre.groupBy(*knames)
        .agg(*aggs)
        .select(
            *[F.col(k).alias(n) for k, n in zip(knames, gnames)],
            *out_order(),
        )
    )


def success_rate(
    df: DataFrame,
    group_col: str,
    success_pred: Column,
) -> DataFrame:
    """Derived-rate aggregate (reference: pipeline/assets/reports.py:57-66).

    CAST(SUM(CASE..) AS FLOAT)/COUNT(*) — the reference casts to FLOAT to
    avoid integer division; here the rate is one IEEE double division of
    identical integer operands — deterministic, no rounding.
    """
    return (
        df.groupBy(group_col)
        .agg(
            conditional_count(success_pred, "success_count"),
            F.count(F.lit(1)).alias("total_count"),
        )
        .withColumn(
            "success_rate",
            F.col("success_count").cast("double") / F.col("total_count"),
        )
    )


def top_k(
    df: DataFrame,
    order_col: str,
    k: int,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """ORDER BY order_col DESC .. LIMIT k (reference: reports.py:30-44,
    top-5 users/regions).

    Plans as TakeOrderedAndProject (no global sort). ``tiebreak`` makes the
    k-th row deterministic when order_col ties — required for oracle parity.
    """
    order = [F.col(order_col).desc(), *[F.col(c).asc() for c in tiebreak]]
    return df.orderBy(*order).limit(k)


def frequency_count(df: DataFrame, col: str) -> DataFrame:
    """GROUP BY col ORDER BY count DESC (reference: reports.py:48-53)."""
    return df.groupBy(col).agg(F.count(F.lit(1)).alias("count")).orderBy(
        F.col("count").desc(), F.col(col).asc()
    )


def exact_total(measure: Column | str) -> Column:
    """Exact-decimal SUM as a double, NULL -> 0.0 (reference: reports.py:21-26)."""
    return F.coalesce(exact_sum(measure).cast("double"), F.lit(0.0))


def global_sum(df: DataFrame, measure: Column | str, alias: str) -> DataFrame:
    """Ungrouped ``exact_total``."""
    return df.agg(exact_total(measure).alias(alias))
