"""Insights report: queries -> markdown at the collect edge (SURVEY.md §2.1
S10, §2.4 A5-A8, §2.6 T1-T2, §2.11 O2).

The reference renders a markdown report from five read queries over the
aggregate tables + raw data (reference: pipeline/assets/reports.py:13-141).
Here the report reads only what the aggregate pass produced: the exact raw
total (observed while daily_aggs scanned raw), two top-5 queries over
user_aggs and region_aggs, and one collect of service_aggs whose exact
integer counts the operation and tier sections fold on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .aggregates import top_k


def _sum(a, b):
    """Spark's SUM step: NULLs skipped, NULL while nothing was added."""
    return b if a is None else a if b is None else a + b


def _desc_nulls_last(value, key):
    """Sort key of ``ORDER BY value DESC, key ASC`` in Spark's default null
    orders: DESC puts NULLs last, ASC puts them first."""
    return value is None, -(value or 0), key is not None, key or ""


def billing_insights(
    total: float,
    user_aggs: DataFrame,
    region_aggs: DataFrame,
    service_aggs: DataFrame,
    ledger: list[dict] | None = None,
) -> tuple[str, dict]:
    """The reference's five insight queries + markdown assembly
    (reference: pipeline/assets/reports.py:21-135). Returns (markdown,
    metrics); all floats formatted exactly like the reference ("{:.2f}",
    "{:.2%}" — reports.py:74,94,118).

    ``total`` is raw's exact credit_usage total (``aggregates.global_sum``;
    the per-region doubles cannot sum to it bit for bit). The top-5
    sections are one ``top_k`` job each. The op-frequency and tier-rate
    sections fold on the driver from ONE collect of ``service_aggs``
    (grouped by tier/resource_type/operation_type with exact integer
    counts; its size is tiers x resource types x operations, not users or
    days), in the order Spark's ``groupBy/orderBy`` would give.

    ``ledger`` is the processed-files ledger as driver-side rows, one per
    file with its ``record_count`` (``FileLedger.latest``); its section
    folds in Python, with no Spark job."""
    top_users = top_k(
        user_aggs.select("user_id", "transaction_count"),
        "transaction_count", 5, tiebreak=["user_id"],
    ).collect()
    top_regions = top_k(
        region_aggs.select("region", "total_usage"),
        "total_usage", 5, tiebreak=["region"],
    ).collect()
    # GROUP BY operation_type / service_tier over one collect
    ops: dict = {}
    tiers: dict = {}
    for r in service_aggs.select(
        "service_tier", "operation_type", "transaction_count", "success_count"
    ).collect():
        n = r["transaction_count"]
        ops[r["operation_type"]] = _sum(ops.get(r["operation_type"]), n)
        ok, count = tiers.get(r["service_tier"], (None, None))
        tiers[r["service_tier"]] = (_sum(ok, r["success_count"]), _sum(count, n))
    # SUM(transaction_count) AS count ORDER BY count DESC, operation_type
    op_freq = sorted(ops.items(), key=lambda t: _desc_nulls_last(t[1], t[0]))
    # CAST(SUM(success_count) AS DOUBLE) / SUM(transaction_count) AS rate
    # ORDER BY rate DESC, service_tier; NULL for a NULL sum or a 0 count
    rates = sorted(
        (
            (tier, float(ok) / float(count) if ok is not None and count else None)
            for tier, (ok, count) in tiers.items()
        ),
        key=lambda t: _desc_nulls_last(t[1], t[0]),
    )

    lines = [
        "# Billing Insights Report",
        "",
        f"**Total credit usage:** {total:.2f}",
        "",
        "## Top 5 Most Active Users",
        "",
        "| user_id | transactions |",
        "|---|---|",
        *[f"| {r['user_id']} | {r['transaction_count']} |" for r in top_users],
        "",
        "## Top 5 Most Expensive Regions",
        "",
        "| region | total credit usage |",
        "|---|---|",
        # total_usage is NULL when every measure in the region was NULL
        # (exact_sum semantics); render 0.00 instead of crashing the
        # whole report on None.__format__ (review r4)
        *[
            f"| {r['region']} | {(r['total_usage'] if r['total_usage'] is not None else 0.0):.2f} |"
            for r in top_regions
        ],
        "",
        "## Operation Type Distribution",
        "",
        "| operation_type | count |",
        "|---|---|",
        *[f"| {op} | {count} |" for op, count in op_freq],
        "",
        "## Success Rate by Service Tier",
        "",
        "| service_tier | success rate |",
        "|---|---|",
        # a tier whose total_count is 0 (or whose successes are all
        # NULL) has NULL success_rate — render n/a, not None.__format__
        # (review r8, the global-total guard's sibling)
        *[
            f"| {tier} | {rate:.2%} |" if rate is not None else f"| {tier} | n/a |"
            for tier, rate in rates
        ],
    ]
    metrics = {
        "total_credit_usage": total,
        "n_operation_types": len(op_freq),
        "n_tiers": len(rates),
    }
    if ledger is not None:
        records = sum(e["record_count"] for e in ledger)
        lines += [
            "",
            "## Processing Ledger",
            "",
            f"Files processed: {len(ledger)}; records ingested: {records}",
        ]
        metrics["files_processed"] = len(ledger)
    return "\n".join(lines), metrics
