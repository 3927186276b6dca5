"""CLI entry points — the reference's runnable workflows as one command
(SURVEY.md §3: `dagster job execute -j process_billing_data`,
`--config backfill.yaml`, `dagster dev` materialization all map here; see
MIGRATION.md).

    python -m billing_data_pipeline_spark run \
        --source /lake/root --warehouse /warehouse [--from 2025-04-23 --to 2025-04-25]

    python -m billing_data_pipeline_spark insights --warehouse /warehouse

`run` executes the full asset DAG (ingest -> aggregates -> insights) over
the Hive-partitioned CSV lake, with the backfill window as partition
predicates; `insights` prints the report the last `run` stored, and exits
nonzero when that report is not current (raw_billing has moved since, or
the code that derives it changed), without starting Spark.
Scheduling is cron calling `run`, the replacement for the reference's
polling sensors: each call ingests only files whose stat or content moved,
and a call that finds none returns the stored report without rebuilding.
"""

from __future__ import annotations

import argparse
import json
import sys
from datetime import date


def _parse_date(s: str | None) -> date | None:
    return date.fromisoformat(s) if s else None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="billing_data_pipeline_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    run = sub.add_parser("run", help="full DAG: ingest -> aggregates -> insights")
    run.add_argument("--source", required=True, help="Hive-partitioned CSV lake root")
    run.add_argument("--warehouse", required=True, help="parquet warehouse dir")
    run.add_argument("--from", dest="from_date", help="backfill start YYYY-MM-DD")
    run.add_argument("--to", dest="to_date", help="backfill end YYYY-MM-DD")

    ins = sub.add_parser("insights", help="print the report the last run stored")
    ins.add_argument("--warehouse", required=True)

    cu = sub.add_parser(
        "curate", help="training-corpus curation: scrub -> filter -> chunk -> dedup -> shards"
    )
    cu.add_argument("--docs", required=True, help="documents parquet path")
    cu.add_argument("--out", required=True, help="sharded output dir")
    cu.add_argument("--lang", default="en", help="language filter ('' = all)")
    cu.add_argument("--sample-pct", type=int, default=100)
    cu.add_argument("--shards", type=int, default=8)

    args = ap.parse_args(argv)

    if args.cmd == "insights":
        from .pipeline import BillingPipeline

        # manifest and file reads only: no Spark session
        pipe = BillingPipeline(None, args.warehouse)
        stored = pipe.published(pipe.raw_version())
        if stored is None:
            print(
                f"{args.warehouse} holds no report of raw_billing's latest"
                " version built by this code: run"
                " `python -m billing_data_pipeline_spark run` first",
                file=sys.stderr,
            )
            return 1
        _, metrics, report = stored
        json.dump(metrics, sys.stdout, default=str)
        print()
        print(report, file=sys.stderr)
        return 0

    from .session import get_spark

    spark = get_spark(app_name=f"bdp-{args.cmd}")

    if args.cmd == "run":
        from .pipeline import BillingPipeline

        metrics = BillingPipeline(spark, args.warehouse).run(
            args.source,
            from_date=_parse_date(args.from_date),
            to_date=_parse_date(args.to_date),
        )
        report = metrics.pop("report_markdown", "")
        json.dump(metrics, sys.stdout, default=str)
        print()
        print(report, file=sys.stderr)
        return 0

    if args.cmd == "curate":
        from .curate import curate_corpus

        metrics = curate_corpus(
            spark,
            spark.read.parquet(args.docs),
            args.out,
            lang=args.lang or None,
            sample_pct=args.sample_pct,
            n_shards=args.shards,
        )
        json.dump(metrics, sys.stdout, default=str)
        print()
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
