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
  backfill window (ST6/OPT1). Discovery runs on the driver: the lake is
  listed pruned to the window (``csv_source.list_partition_files``) and
  only files whose stat moved are hashed (``operators.ledger``), so a poll
  that finds nothing launches no Spark job at any lake size. The batch
  reads only the new or changed files.
- aggregates: four FULL-REFRESH tables (the reference's DELETE + INSERT,
  S8/OPT5), one Spark write each; the daily_aggs write also observes
  raw's exact credit_usage total.
- insights: markdown at the collect edge (S10) from what the aggregate
  pass produced: the total from that observation, top-5 users and regions
  from user_aggs and region_aggs (one job each), the operation and tier
  sections from one collect of service_aggs, the ledger section from
  raw_billing's commit log (no job).

The four tables and the report publish together: each rebuild is ONE
overwrite commit of the snapshot table ``billing_insights`` (the
reference's 7th asset), whose version directory holds ``daily_aggs/``,
``user_aggs/``, ``service_aggs/`` and ``region_aggs/`` (parquet) and
``report.md``, with the run's metrics in the commit's ``meta``. A reader
that pins one version sees all five built from one ``raw_billing``
version; a crash before the commit leaves the previous version whole.
``read(name)`` resolves an aggregate name to its subdirectory.

Reuse rule: every derived commit is stamped with the ``raw_billing``
version it read and with ``DERIVATION``, a hash of the source of the code
that derives it (this module, ``operators.aggregates``,
``operators.reports``, ``operators.ledger``). When the latest one carries
the version ``raw_billing`` is at after ingest and the running code's
``DERIVATION``, ``run()`` returns the stored aggregates, insights and
report: no commit, no Spark job. Anything else rebuilds: a new or changed
file (a header-only one too: its ledger commit moves the version), a
deploy that changed any of those modules, a warehouse written before the
stamps.

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

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators.aggregates import exact_total, grouped_profile
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
    list_partition_files,
    read_partition_files,
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

#: The snapshot table every derived commit goes to, and the aggregate
#: tables each of its versions holds as a subdirectory.
DERIVED = "billing_insights"
AGGREGATES = ("daily_aggs", "user_aggs", "service_aggs", "region_aggs")


def _stamp(raw_version: int | None) -> dict:
    """The stamp every derived commit's meta carries: what it was built
    from, and by which code."""
    return {"raw_version": raw_version, "derivation": DERIVATION}


def aggregate_frames(raw: DataFrame, total: Observation) -> dict:
    """The four aggregate tables over ``raw``, by name. The daily_aggs scan
    also observes into ``total`` raw's exact credit_usage total,
    ``global_sum``'s expression (the report's total)."""
    succ = F.col("success")
    flags = {"success_count": succ, "failure_count": ~succ}
    daily_raw = raw.observe(total, exact_total("credit_usage").alias("total"))
    return {
        # reference: aggregates.py:34-48
        "daily_aggs": grouped_profile(
            daily_raw,
            ["year", "month", "day"],
            "credit_usage",
            distinct_cols={
                "unique_users": "user_id",
                "unique_resources": "resource_id",
            },
            conditions=flags,
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
            conditions=flags,
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


def _report_file(version_dir: str) -> str:
    return os.path.join(version_dir, "report.md")


class BillingPipeline:
    """One warehouse directory holding two snapshot tables: raw_billing,
    whose commit log also holds the processing ledger, and
    billing_insights, whose versions each hold the four aggregate tables
    and the report."""

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
        derived commit built from it."""
        return self._table("raw_billing").latest_version()

    def read(self, name: str, schema=None, version: int | None = None) -> DataFrame:
        """Table ``name`` (at ``version``, latest when None); a known
        ``schema`` skips reading it from the parquet footers (raw_billing
        holds one directory per commit). An aggregate table is read from
        its subdirectory of that billing_insights version."""
        if name in AGGREGATES:
            (d,) = self._table(DERIVED).resolve_dirs(version)
            path = os.path.join(d, name)
        else:
            st = self._table(name)
            if version is not None or st.latest_version() is not None:
                return st.read(version=version, schema=schema)
            # a table written as plain parquet still reads: warehouses from
            # before snapshots, and perfbench's --tamper check, which
            # rewrites raw_billing that way to prove its checks fail
            path = self.table_path(name)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(path)

    # -- stage 1: ingest ----------------------------------------------------

    def ingest(
        self,
        source_root: str,
        from_date: date | None = None,
        to_date: date | None = None,
    ) -> dict:
        """billing_files + billing_db (reference: pipeline/assets/ingest.py):
        driver-side listing pruned to the window, file-hash ledger skip, a
        read of only the new or changed files, anti-join append."""
        try:
            files = list_partition_files(self.spark, source_root, from_date, to_date)
        except FileNotFoundError:
            files = []  # no lake yet: continue on empty (reference sensors)
        ledger = self.ledger()
        foreign = ledger.table.foreign_entries()
        if foreign:
            # another writer's rows carry no ledger and no manifest entry:
            # reads would miss them, or the first commit re-append them
            raise RuntimeError(
                f"{ledger.table.path} holds data outside its snapshot"
                f" manifest ({', '.join(foreign[:3])}), written before"
                " raw_billing became a snapshot table: backfill into a"
                " fresh warehouse directory."
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
        # vanished since the listing is skipped.
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

        # read only the new or changed files; the SAME partition-qualified
        # key the ledger uses attributes each row to its file (basenames
        # collide across Hive partitions — every partition's file is
        # 'billing.csv')
        batch = read_partition_files(
            self.spark, source_root, [stats[f][0] for f in todo]
        ).withColumn("_lk", ledger_key(F.input_file_name()))
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

    def build_aggregates(
        self, staging: str, raw_version: int, total: Observation
    ) -> tuple[dict, dict]:
        """Write the four tables, built from raw_billing at
        ``raw_version``, into ``staging/<name>``, one Spark write each. The
        daily_aggs write also observes into ``total`` raw's exact
        credit_usage total (``aggregate_frames``). Returns the tables' row
        counts and the schemas they are written with."""
        raw = self.read("raw_billing", RAW_BILLING_TABLE_SCHEMA, raw_version)
        tables = aggregate_frames(raw, total)
        # O2 metrics via the Observation API: row counts are collected from
        # the SAME job that writes each table — no read-back count scan.
        # run() rebuilds only over a raw_billing that holds rows, so every
        # table has a row and its observation materializes.
        metrics = {}
        for name, df in tables.items():
            obs = Observation(f"{name}_obs")
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.parquet(
                os.path.join(staging, name)
            )
            metrics[f"{name}_rows"] = obs.get["rows"]
        return metrics, {name: df.schema for name, df in tables.items()}

    # -- stage 3: insights --------------------------------------------------

    def insights(
        self, staging: str, schemas: dict, raw_version: int, total: float
    ) -> tuple[str, dict]:
        """The report over the tables ``build_aggregates`` staged, read
        with the ``schemas`` it wrote them with (no footer job), the ledger
        folded to ``raw_version``, and ``total``, raw's exact credit_usage
        total that the daily_aggs write observed."""
        user, region, service = (
            self.spark.read.schema(schemas[t]).parquet(
                os.path.join(staging, t)
            )
            for t in ("user_aggs", "region_aggs", "service_aggs")
        )
        ledger = list(self.ledger().latest(raw_version).values())
        return billing_insights(total, user, region, service, ledger=ledger)

    def _rebuild(self, raw_version: int) -> tuple[dict, dict, str]:
        """One overwrite commit of billing_insights: the four tables and
        ``report.md`` in the version directory, the stamp and the run's
        metrics in the commit's meta. Returns (aggregates, insights,
        report)."""
        built = []

        def write(staging: str) -> dict:
            total = Observation("raw_total_obs")
            aggregates, schemas = self.build_aggregates(staging, raw_version, total)
            report, insights = self.insights(
                staging, schemas, raw_version, total.get["total"]
            )
            with open(_report_file(staging), "w", encoding="utf-8", newline="") as f:
                f.write(report)
            built.extend((aggregates, insights, report))
            return {**_stamp(raw_version), "aggregates": aggregates, "insights": insights}

        st = self._table(DERIVED)
        st.commit_files(write)
        # keep one prior version so in-flight readers of it finish
        st.vacuum(keep=2)
        return tuple(built)

    def published(self, raw_version: int | None) -> tuple[dict, dict, str] | None:
        """(aggregates, insights, report) of the latest derived commit
        when it carries ``_stamp(raw_version)``; None otherwise. One
        manifest read and one file read, no Spark job."""
        st = self._table(DERIVED)
        commits = st.commits()
        meta = (commits[-1].get("meta") if commits else None) or {}
        if any(meta.get(k) != x for k, x in _stamp(raw_version).items()):
            return None
        try:
            # the file of the commit just checked: a concurrent rebuild
            # may have published a newer one since
            (d,) = st.resolve_dirs(commits[-1]["v"])
            with open(_report_file(d), encoding="utf-8", newline="") as f:
                markdown = f.read()
        except FileNotFoundError:
            return None  # vacuumed by two newer rebuilds meanwhile
        return meta["aggregates"], meta["insights"], markdown

    # -- the DAG ------------------------------------------------------------

    def run(
        self,
        source_root: str,
        from_date: date | None = None,
        to_date: date | None = None,
    ) -> dict:
        """Topological materialization of the whole asset graph. While
        raw_billing's version has not moved since the last rebuild,
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
        aggregates, insights, report = self.published(v) or self._rebuild(v)
        metrics["aggregates"] = aggregates
        metrics["insights"] = insights
        metrics["report_markdown"] = report
        return metrics
