"""The end-to-end billing pipeline job (SURVEY.md §2.11 O1-O2, §3).

The reference's 7-asset Dagster DAG — billing_files -> billing_db ->
{daily,user,service,region}_aggregates -> billing_insights (reference:
pipeline/pipeline.py:165-182) — expressed as explicit Spark stages: each
stage is a function with a write at its boundary, dependencies are function
composition, lineage is the Spark UI. No orchestration framework: an
external scheduler calls ``run()`` (the reference's cron entry, ST3).

Stage semantics preserved:
- ingest: Hive-partitioned CSV lake -> idempotent anti-join append into
  ``raw_billing`` (J1) with a content-hash file ledger (ST5) and a
  partition-pruned backfill window (ST6/OPT1). Finding the new files runs
  on the driver and hashes only files whose stat moved
  (``operators.ledger``), so a poll that finds none launches no Spark job
  while the lake has at most 32 day directories (past that, Spark lists
  them with one parallel job).
- aggregates: four FULL-REFRESH tables (the reference's DELETE + INSERT,
  S8/OPT5) as atomic snapshot overwrites.
- insights: the five report queries -> markdown at the collect edge (S10),
  stored as the fifth snapshot table ``billing_insights`` (the reference's
  7th asset): one overwrite commit holding ``report.md``, with the run's
  metrics in the commit's ``meta``.

Reuse rule: every commit of the four aggregate tables and of
``billing_insights`` is stamped with the ``raw_billing`` version it read
and with ``DERIVATION``, a hash of the source of the code that derives
them (this module, ``operators.aggregates``, ``operators.reports``,
``operators.ledger``). When all five latest commits carry the version
``raw_billing`` is at after ingest and the running code's ``DERIVATION``,
``run()`` returns the stored aggregates, insights and report: no commit,
no Spark job. Anything else rebuilds all five: a new or changed file (a
header-only one too: its ledger commit moves the version), a deploy that
changed any of those modules, a crash between the commits, a warehouse
written before the stamps. Reuse only returns what the last full rebuild
published.

Every warehouse table publishes through one protocol, the POSIX
``SnapshotTable`` opened by ``os_snapshot.snapshot_table_for``, so
warehouses are local paths only. The reference keeps its rows and its
``processed_files`` ledger in one database; here the ledger is the fold
over ``raw_billing``'s retained commit log — each ingest is ONE append
commit whose log entry also carries the ingested files' ledger rows
(``FileLedger``), so a crash at any stage boundary is retried exactly
once. Any future overwrite or compaction of ``raw_billing`` must carry
the folded ledger in its own commit entry.

Every stage returns an O2-style metrics dict.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import sys
from datetime import date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.aggregates import grouped_profile
from .operators.ingest import append_new_rows_per_file
from .operators.ledger import (
    FileLedger,
    file_key,
    file_stat,
    hash_files,
    ledger_key,
)
from .operators.reports import billing_insights
from .sources.csv_source import (
    RAW_BILLING_KEYS,
    RAW_BILLING_TABLE_SCHEMA,
    parse_hive_partition_keys,
    read_partition_root,
)


def _derivation() -> str:
    """md5 over the source of every module that turns raw_billing into the
    stamped tables, so a deploy that changes how they are computed
    rebuilds them on its first run."""
    from .operators import aggregates, ledger, reports

    h = hashlib.md5()
    for mod in (sys.modules[__name__], aggregates, ledger, reports):
        h.update(inspect.getsource(mod).encode())
    return h.hexdigest()


DERIVATION = _derivation()

def _stamp(raw_version: int | None) -> dict:
    """The meta every derived commit carries: what it was built from, and
    by which code."""
    return {"raw_version": raw_version, "derivation": DERIVATION}


def _report_file(version_dir: str) -> str:
    return os.path.join(version_dir, "report.md")


class BillingPipeline:
    """One warehouse directory holding raw_billing, the four aggregate
    tables and billing_insights, each a snapshot table; the processing
    ledger lives in raw_billing's commit log."""

    def __init__(self, spark: SparkSession, warehouse_dir: str):
        self.spark = spark
        self.warehouse = warehouse_dir

    def table_path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def _table(self, name: str):
        # via the factory, looked up at call time: it normalizes file:///
        # (a raw SnapshotTable(url) made a cwd-relative 'file:' junk tree,
        # review r7) and rejects schemes the POSIX protocol cannot serve
        from .sources import os_snapshot

        return os_snapshot.snapshot_table_for(self.spark, self.table_path(name))

    def ledger(self) -> FileLedger:
        return FileLedger(self.spark, self.table_path("raw_billing"))

    def raw_version(self) -> int | None:
        """raw_billing's latest published version: the stamp of every
        table derived from it."""
        return self._table("raw_billing").latest_version()

    def read(self, name: str, schema=None, version: int | None = None) -> DataFrame:
        """Table ``name`` (at ``version``, latest when None); a known
        ``schema`` skips reading it from the parquet footers (raw_billing
        holds one directory per commit)."""
        st = self._table(name)
        if version is not None or st.latest_version() is not None:
            return st.read(version=version, schema=schema)
        # a table written as plain parquet (before snapshots, or by the
        # stream CLI) still reads
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self.table_path(name))

    # -- stage 1: ingest ----------------------------------------------------

    def ingest(
        self,
        source_root: str,
        from_date: date | None = None,
        to_date: date | None = None,
    ) -> dict:
        """billing_files + billing_db (reference: pipeline/assets/ingest.py):
        partition-pruned lake read, file-hash ledger skip, anti-join append."""
        lake = read_partition_root(
            self.spark, source_root, from_date=from_date, to_date=to_date
        )
        # Ledger: skip files whose (name, md5) is already recorded (ST5).
        # O(files-in-window) driver memory — filenames only, bounded by the
        # partition-pruned backfill window, never by data volume; matches
        # the reference's own per-file driver loop (ingest.py:214-272).
        # inputFiles() lists from the file index — metadata only. The
        # previous input_file_name().distinct().collect() scanned and
        # shuffled the window's DATA to learn its paths, and a header-only
        # (0-row) file never surfaced, so it was re-hashed every run
        # (review r3). inputFiles() is NOT window-pruned, though (review
        # r5, verified live): the backfill filter prunes at PLAN time
        # while inputFiles() reads the unpruned index — without the
        # explicit path filter below, out-of-window files were hashed,
        # ledger-recorded with 0 ingested rows, and PERMANENTLY skipped
        # by every later backfill that actually covered them (silent data
        # loss), while every run re-hashed the whole lake.
        files = sorted(lake.inputFiles())
        if from_date is not None or to_date is not None:
            def _in_window(p: str) -> bool:
                ks = parse_hive_partition_keys(p)
                try:
                    d = date(int(ks["year"]), int(ks["month"]), int(ks["day"]))
                except (KeyError, ValueError):
                    return True  # unpartitioned path: keep; the read decides
                return (from_date is None or d >= from_date) and (
                    to_date is None or d <= to_date
                )

            files = [p for p in files if _in_window(p)]
        ledger = self.ledger()
        foreign = ledger.table.foreign_entries()
        if foreign:
            # another writer's rows carry no ledger and no manifest entry:
            # reads would miss them, or the first commit re-append them
            raise RuntimeError(
                f"{ledger.table.path} holds data outside its snapshot"
                f" manifest ({', '.join(foreign[:3])}), written before"
                " raw_billing became a snapshot table or by the stream"
                " command: backfill into a fresh warehouse directory."
            )
        metrics = {
            "files_discovered": len(files),
            "files_hashed": 0,
            "files_new_or_changed": 0,
            "rows_appended": 0,
        }
        if not files:
            return metrics
        # Discovery runs on the driver: stat gate, hash, ledger diff. Each
        # stat is taken before the file is hashed or read; a file that
        # vanished since the listing is skipped, as the read skips it.
        known = ledger.latest()
        stats = {}
        for p in files:
            try:
                stats[file_key(p)] = (p, file_stat(p))
            except FileNotFoundError:
                pass
        to_hash = [
            p
            for k, (p, st) in stats.items()
            if st is None or st != known.get(k, {}).get("stat")
        ]
        hashed = hash_files(self.spark, to_hash)
        todo = {r["filename"]: r["file_hash"] for r in ledger.filter_unprocessed(hashed)}
        metrics["files_hashed"] = len(to_hash)
        metrics["files_new_or_changed"] = len(todo)
        if not todo:
            return metrics
        # Files hashed and found unchanged ride the commit that happens
        # anyway, with a trusted stat: a copy of their entry with only the
        # stat replaced. A commit of its own would move raw_billing's
        # version and rebuild every derived table.
        refreshed = [
            {**known[r["filename"]], "stat": stats[r["filename"]][1]}
            for r in hashed
            if r["filename"] not in todo and stats[r["filename"]][1] is not None
        ]

        # Filter the lake to new/changed files using the SAME partition-
        # qualified key the ledger uses (basenames collide across Hive
        # partitions — every partition's file is 'billing.csv').
        batch = lake.withColumn("_lk", ledger_key(F.input_file_name())).filter(
            F.col("_lk").isin(list(todo))
        )
        # one append commit: the new rows plus each file's ledger entry
        # with its own new-row count (reference ingest.py:262-265)
        n, _ = append_new_rows_per_file(
            batch,
            ledger,
            list(RAW_BILLING_KEYS),
            "_lk",
            {f: {"file_hash": h, "stat": stats[f][1]} for f, h in todo.items()},
            refreshed=refreshed,
        )
        metrics["rows_appended"] = n
        return metrics

    # -- stage 2: aggregates (full refresh, OPT4/OPT5) ----------------------

    def build_aggregates(self, raw_version: int | None = None) -> dict:
        """Rebuild the four tables from raw_billing at ``raw_version``
        (latest when None); each commit is stamped with that version and
        ``DERIVATION``."""
        if raw_version is None:
            raw_version = self.raw_version()
        raw = self.read("raw_billing", RAW_BILLING_TABLE_SCHEMA, raw_version)
        succ = F.col("success")
        tables = {
            # reference: aggregates.py:34-48
            "daily_aggs": grouped_profile(
                raw,
                ["year", "month", "day"],
                "credit_usage",
                distinct_cols={
                    "unique_users": "user_id",
                    "unique_resources": "resource_id",
                },
                conditions={"success_count": succ, "failure_count": ~succ},
            ),
            # reference: aggregates.py:99-115
            "user_aggs": grouped_profile(
                raw,
                ["user_id"],
                "credit_usage",
                distinct_cols={
                    "unique_resources": "resource_id",
                    "resource_types_used": "resource_type",
                    "operation_types_used": "operation_type",
                    "regions_used": "region",
                },
                time_col="timestamp",
            ),
            # reference: aggregates.py:166-181
            "service_aggs": grouped_profile(
                raw,
                ["service_tier", "resource_type", "operation_type"],
                "credit_usage",
                distinct_cols={"unique_users": "user_id"},
                conditions={"success_count": succ, "failure_count": ~succ},
            ),
            # reference: aggregates.py:229-242
            "region_aggs": grouped_profile(
                raw,
                ["region"],
                "credit_usage",
                distinct_cols={
                    "unique_users": "user_id",
                    "resource_types_used": "resource_type",
                    "operation_types_used": "operation_type",
                },
            ),
        }
        # O2 metrics via the Observation API: row counts are collected from
        # the SAME job that writes each table — no read-back count scan.
        # At 100 TB the old pattern (write, then re-scan to count) doubled
        # the I/O of every aggregate refresh.
        from pyspark.sql import Observation

        metrics = {}
        for name, df in tables.items():
            obs = Observation(f"{name}_obs")
            # atomic publish: stage, rename, manifest swap — a crash
            # mid-refresh leaves the previous version readable, never a
            # deleted/torn table (review r6); keep one prior version so
            # in-flight readers of the old snapshot finish
            st = self._table(name)
            st.commit(
                df.observe(obs, F.count(F.lit(1)).alias("rows")),
                meta=_stamp(raw_version),
            )
            st.vacuum(keep=2)
            try:
                metrics[f"{name}_rows"] = obs.get["rows"]
            except Exception:
                # AQE empty-relation propagation can eliminate the
                # CollectMetrics node when the input is zero rows, so the
                # observation never materializes (same carve-out as
                # curate._obs_n). The write above still succeeded; read the
                # count back from the published table.
                metrics[f"{name}_rows"] = self.read(name).count()
        return metrics

    # -- stage 3: insights --------------------------------------------------

    def insights(self, raw_version: int | None = None) -> tuple[str, dict]:
        """The report over raw_billing and the ledger as of
        ``raw_version`` (latest when None) and the current aggregates."""
        if raw_version is None:
            raw_version = self.raw_version()
        return billing_insights(
            self.read("raw_billing", RAW_BILLING_TABLE_SCHEMA, raw_version),
            self.read("user_aggs"),
            self.read("region_aggs"),
            ledger=list(self.ledger().latest(raw_version).values()),
            # exact integer counts already materialized by build_aggregates
            # — folds the op-frequency/tier-rate sections without two more
            # full raw scans (review r6)
            service_aggs=self.read("service_aggs"),
        )

    def _publish_report(
        self, raw_version: int, aggregates: dict, insights: dict, report: str
    ) -> None:
        """One overwrite commit of billing_insights: ``report.md`` in the
        version directory, the run's metrics in the commit's meta."""

        def write(staging: str) -> None:
            os.makedirs(staging)
            with open(_report_file(staging), "w", encoding="utf-8", newline="") as f:
                f.write(report)

        st = self._table("billing_insights")
        st.commit_files(
            write,
            meta={
                **_stamp(raw_version),
                "aggregates": aggregates,
                "insights": insights,
            },
        )
        st.vacuum(keep=2)

    def _published(self, raw_version: int) -> tuple[dict, dict, str] | None:
        """(aggregates, insights, report) of the last full rebuild, when it
        and every aggregate table's latest commit carry ``_stamp(
        raw_version)``; None otherwise. Manifest reads and one file read,
        no Spark job."""
        stamp = _stamp(raw_version)

        def latest(name: str) -> dict:
            commits = self._table(name).commits()
            return commits[-1] if commits else {}

        def stamped(commit: dict) -> bool:
            meta = commit.get("meta") or {}
            return all(meta.get(k) == x for k, x in stamp.items())

        report = latest("billing_insights")
        if not stamped(report) or not all(
            stamped(latest(name))
            for name in ("daily_aggs", "user_aggs", "service_aggs", "region_aggs")
        ):
            return None
        try:
            # the file of the commit just checked: a concurrent rebuild
            # may have published a newer one since
            (d,) = self._table("billing_insights").resolve_dirs(report["v"])
            with open(_report_file(d), encoding="utf-8", newline="") as f:
                markdown = f.read()
        except FileNotFoundError:
            return None  # vacuumed by two newer rebuilds meanwhile
        return report["meta"]["aggregates"], report["meta"]["insights"], markdown

    # -- the DAG ------------------------------------------------------------

    def run(
        self,
        source_root: str,
        from_date: date | None = None,
        to_date: date | None = None,
    ) -> dict:
        """Topological materialization of the whole asset graph. While
        raw_billing's version has not moved since the last full rebuild,
        returns that rebuild's stored results instead."""
        metrics = {"ingest": self.ingest(source_root, from_date, to_date)}
        v = metrics["raw_version"] = self.raw_version()
        if not any(e["record_count"] for e in self.ledger().entries()):
            # No commit in raw_billing's log has rows (nothing ingested
            # yet, or only header-only files): report empty metrics
            # instead of aggregating nothing (review r3; mirrors the
            # reference's continue-on-empty sensors). Read from the
            # ledger's record counts — no Spark job, and crash orphans
            # are invisible because only published commits count.
            metrics["aggregates"] = {}
            metrics["insights"] = {}
            metrics["report_markdown"] = ""
            return metrics
        published = self._published(v)
        if published is None:
            aggregates = self.build_aggregates(v)
            report, insights = self.insights(v)
            self._publish_report(v, aggregates, insights, report)
        else:
            aggregates, insights, report = published
        metrics["aggregates"] = aggregates
        metrics["insights"] = insights
        metrics["report_markdown"] = report
        return metrics
