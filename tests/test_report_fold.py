"""The report is built from what the aggregate pass produced: the
operation and tier sections fold on the driver from one collect of
service_aggs, in the order Spark's groupBy/orderBy gives, and the total
observed during the daily_aggs write equals a scan of raw."""

from __future__ import annotations

from pyspark.sql import functions as F

from billing_data_pipeline_spark.operators.aggregates import global_sum
from billing_data_pipeline_spark.operators.reports import billing_insights
from billing_data_pipeline_spark.pipeline import BillingPipeline
from tests.test_pipeline_e2e import CSV_HEADER, _write_lake

SERVICE_AGGS_SCHEMA = (
    "service_tier string, resource_type string, operation_type string,"
    " transaction_count long, success_count long"
)


def _section(md: str, title: str) -> list[str]:
    lines = md.split("\n")
    start = lines.index(f"## {title}") + 4  # title, blank, header, rule
    end = lines.index("", start) if "" in lines[start:] else len(lines)
    return lines[start:end]


def _spark_sections(service_aggs):
    """The two sections as the Spark expressions the fold replaced render
    them."""
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
    return (
        [f"| {r['operation_type']} | {r['count']} |" for r in op_freq],
        [
            f"| {r['service_tier']} | {r['success_rate']:.2%} |"
            if r["success_rate"] is not None
            else f"| {r['service_tier']} | n/a |"
            for r in rates
        ],
    )


def test_fold_matches_spark_grouping_and_ordering(spark):
    rows = [
        # operations: train 9, then a three-way tie at 4 in which the NULL
        # key sorts first (ASC is NULLS FIRST), then "" at 1
        # tiers: a three-way tie at 3/5 with the NULL tier first, free at
        # 1/4, and two tiers whose successes are all NULL: NULL rates,
        # which sort last (DESC is NULLS LAST) and render n/a
        (None, "gpu", "train", 5, 3),
        ("pro", "gpu", None, 4, 2),
        ("pro", "cpu", "train", 1, 1),
        ("gold", "gpu", "idle", 4, 2),
        ("gold", "cpu", "train", 1, 1),
        ("free", "gpu", "infer", 2, 1),
        ("free", "cpu", "infer", 2, 0),
        ("basic", "gpu", "", 1, None),
        ("void", "cpu", "train", 2, None),
    ]
    service_aggs = spark.createDataFrame(rows, SERVICE_AGGS_SCHEMA)
    user_aggs = spark.createDataFrame([], "user_id string, transaction_count long")
    region_aggs = spark.createDataFrame([], "region string, total_usage double")

    md, metrics = billing_insights(1.0, user_aggs, region_aggs, service_aggs)
    ops, tiers = _spark_sections(service_aggs)
    assert _section(md, "Operation Type Distribution") == ops == [
        "| train | 9 |", "| None | 4 |", "| idle | 4 |", "| infer | 4 |", "|  | 1 |",
    ]
    assert _section(md, "Success Rate by Service Tier") == tiers == [
        "| None | 60.00% |", "| gold | 60.00% |", "| pro | 60.00% |",
        "| free | 25.00% |", "| basic | n/a |", "| void | n/a |",
    ]
    assert "**Total credit usage:** 1.00" in md
    assert metrics["n_operation_types"] == 5
    assert metrics["n_tiers"] == 6


def _null_measure_lake(tmp_path):
    root, _ = _write_lake(tmp_path)
    d = tmp_path / "lake" / "year=2025" / "month=04" / "day=24"
    d.mkdir(parents=True)
    (d / "billing.csv").write_text(
        CSV_HEADER
        + "2025-04-24 10:00:00,res-1,user-1,,us,pro,inference,,gpu,inv-24-0,USD\n"
        + "2025-04-24 10:00:01,res-2,user-2,,asia,gold,,true,gpu,inv-24-1,USD\n"
    )
    return root


def test_run_report_equals_the_report_from_a_raw_scan(spark, tmp_path):
    """run() renders the report with the total observed during the
    daily_aggs write; the same report over a scan of raw for the total is
    the same bytes, NULL measures included."""
    root = _null_measure_lake(tmp_path)
    pipe = BillingPipeline(spark, str(tmp_path / "wh"))
    m = pipe.run(root)
    v = m["raw_version"]
    raw = pipe.read("raw_billing", version=v)
    total = global_sum(raw, "credit_usage", "total").first()["total"]
    report, metrics = billing_insights(
        total,
        *(pipe.read(t) for t in ("user_aggs", "region_aggs", "service_aggs")),
        ledger=list(pipe.ledger().latest(v).values()),
    )
    assert report == m["report_markdown"]
    assert metrics == m["insights"]
    # the total is reported once, with the insights
    assert "total_credit_usage" not in m["aggregates"]


def test_insights_rebuild_in_run_launches_at_most_three_jobs(
    spark, spark_jobs, tmp_path, monkeypatch
):
    root = _null_measure_lake(tmp_path)
    pipe = BillingPipeline(spark, str(tmp_path / "wh"))
    counted = []
    real = BillingPipeline.insights

    def insights(self, *args, **kwargs):
        out, jobs = spark_jobs(lambda: real(self, *args, **kwargs))
        counted.append(jobs)
        return out

    monkeypatch.setattr(BillingPipeline, "insights", insights)
    pipe.run(root)
    assert len(counted) == 1 and counted[0] <= 3
