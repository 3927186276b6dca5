"""Insights report: queries -> markdown at the collect edge (SURVEY.md §2.1
S10, §2.4 A5-A8, §2.6 T1-T2, §2.11 O2).

The reference renders a markdown report from five read queries over the
aggregate tables + raw data (reference: pipeline/assets/reports.py:13-141)
and previews tables via a LIMIT-n helper (reference: pipeline/utils.py:6-25).
Rows surface driver-side only here, at the presentation edge — every number
in the report is computed as a DataFrame aggregate first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .aggregates import frequency_count, global_sum, success_rate, top_k


def preview_markdown(df: DataFrame, n: int = 5) -> str:
    """LIMIT-n markdown table preview (reference: pipeline/utils.py:6-25)."""
    cols = df.columns
    rows = df.limit(n).collect()
    out = ["| " + " | ".join(cols) + " |", "|" + "---|" * len(cols)]
    for r in rows:
        out.append("| " + " | ".join(str(v) for v in r) + " |")
    return "\n".join(out)


def billing_insights(
    raw: DataFrame,
    user_aggs: DataFrame,
    region_aggs: DataFrame,
    ledger: list[dict] | None = None,
    service_aggs: DataFrame | None = None,
) -> tuple[str, dict]:
    """The reference's five insight queries + markdown assembly
    (reference: pipeline/assets/reports.py:21-135). Returns (markdown,
    metrics); all floats formatted exactly like the reference ("{:.2f}",
    "{:.2%}" — reports.py:74,94,118).

    Pass ``service_aggs`` (grouped by tier/resource_type/operation_type
    with transaction/success counts) and the op-frequency and tier-rate
    sections fold from its EXACT integer counts instead of re-scanning
    raw — at the 100 TB design point that removes two of the three full
    raw passes this report cost (review r6; pipeline.insights already
    passed user/region_aggs for exactly this reason). The one remaining
    raw scan is the exact-decimal global total, which double-summing
    per-region totals cannot reproduce bit-for-bit.

    ``ledger`` is the processed-files ledger as driver-side rows, one per
    file with its ``record_count`` (``FileLedger.latest``); its section
    folds in Python, with no Spark job."""
    # None-guard (review r8; the r4 fix covered region totals only): an
    # empty or all-NULL-measure raw table makes SUM NULL, and
    # None.__format__ crashed the whole report at the f-string below.
    total = global_sum(raw, "credit_usage", "total").first()["total"]
    if total is None:
        total = 0.0

    top_users = top_k(
        user_aggs.select("user_id", "transaction_count"),
        "transaction_count", 5, tiebreak=["user_id"],
    ).collect()
    top_regions = top_k(
        region_aggs.select("region", "total_usage"),
        "total_usage", 5, tiebreak=["region"],
    ).collect()
    if service_aggs is not None:
        op_freq = (
            service_aggs.groupBy("operation_type")
            .agg(F.sum("transaction_count").alias("count"))
            .orderBy(F.col("count").desc(), F.col("operation_type").asc())
            .collect()
        )
        rates = (
            service_aggs.groupBy("service_tier")
            .agg(
                F.sum("success_count").alias("success_count"),
                F.sum("transaction_count").alias("total_count"),
            )
            .withColumn(
                "success_rate",
                F.col("success_count").cast("double") / F.col("total_count"),
            )
            .orderBy(F.col("success_rate").desc(), F.col("service_tier"))
            .collect()
        )
    else:
        op_freq = frequency_count(raw, "operation_type").collect()
        rates = (
            success_rate(raw, "service_tier", F.col("success"))
            .orderBy(F.col("success_rate").desc(), F.col("service_tier"))
            .collect()
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
        *[f"| {r['operation_type']} | {r['count']} |" for r in op_freq],
        "",
        "## Success Rate by Service Tier",
        "",
        "| service_tier | success rate |",
        "|---|---|",
        # a tier whose total_count is 0 (or whose successes are all
        # NULL) has NULL success_rate — render n/a, not None.__format__
        # (review r8, the global-total guard's sibling)
        *[
            (
                f"| {r['service_tier']} | {r['success_rate']:.2%} |"
                if r["success_rate"] is not None
                else f"| {r['service_tier']} | n/a |"
            )
            for r in rates
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
