"""End-to-end pipeline test: CSV lake -> idempotent ingest -> full-refresh
aggregates -> markdown insights, twice (SURVEY.md §5.3 idempotency)."""

from __future__ import annotations

from datetime import date

import pytest

from billing_data_pipeline_spark.pipeline import BillingPipeline

CSV_HEADER = (
    "timestamp,resource_id,user_id,credit_usage,region,service_tier,"
    "operation_type,success,resource_type,invoice_id,currency\n"
)


def _write_lake(tmp_path):
    root = tmp_path / "lake"
    days = {22: 6, 23: 8}
    for day, n in days.items():
        p = root / "year=2025" / "month=04" / f"day={day:02d}"
        p.mkdir(parents=True)
        rows = "".join(
            f"2025-04-{day:02d} 10:00:{i:02d},res-{i % 3},user-{i % 4},{1.5 * (i + 1)},"
            f"{'eu' if i % 2 else 'us'},{'pro' if i % 3 else 'free'},inference,"
            f"{'true' if i % 5 else 'false'},gpu,inv-{day}-{i},USD\n"
            for i in range(n)
        )
        (p / "billing.csv").write_text(CSV_HEADER + rows)
    return str(root), sum(days.values())


def test_pipeline_end_to_end_idempotent(spark, tmp_path):
    root, n_rows = _write_lake(tmp_path)
    pipe = BillingPipeline(spark, str(tmp_path / "warehouse"))

    m1 = pipe.run(root)
    assert m1["ingest"]["rows_appended"] == n_rows
    assert pipe.read("raw_billing").count() == n_rows
    assert m1["aggregates"]["daily_aggs_rows"] == 2
    assert pipe.read("user_aggs").count() == 4
    assert len(pipe.ledger().latest()) == 2

    report = m1["report_markdown"]
    assert "# Billing Insights Report" in report
    assert "Top 5 Most Active Users" in report
    assert "Success Rate by Service Tier" in report
    assert "Files processed: 2" in report

    # Per-file record counts (reference ingest.py:262-265): each ledger row
    # carries ITS file's appended rows, not the batch total.
    counts = sorted(
        e["record_count"] for e in pipe.ledger().latest().values()
    )
    assert counts == [6, 8]

    # Second run over the unchanged lake: ledger skips both files, nothing
    # appends, aggregates recompute to identical state.
    m2 = pipe.run(root)
    assert m2["ingest"]["files_new_or_changed"] == 0
    assert m2["ingest"]["rows_appended"] == 0
    assert pipe.read("raw_billing").count() == n_rows
    assert m2["report_markdown"] == report

    # A new partition lands; its file is ALSO named billing.csv. Run 3 must
    # ingest only it, and run 4 must skip everything — i.e. recording the
    # new file must not evict the other partitions' ledger entries
    # (ADVICE r1 medium: basename-keyed ledgers break here).
    import pathlib

    p = pathlib.Path(root) / "year=2025" / "month=04" / "day=24"
    p.mkdir(parents=True)
    (p / "billing.csv").write_text(
        CSV_HEADER
        + "2025-04-24 10:00:00,res-9,user-9,2.5,us,pro,inference,true,gpu,inv-24-0,USD\n"
    )
    m3 = pipe.run(root)
    assert m3["ingest"]["files_new_or_changed"] == 1
    assert m3["ingest"]["rows_appended"] == 1
    assert len(pipe.ledger().latest()) == 3

    m4 = pipe.run(root)
    assert m4["ingest"]["files_new_or_changed"] == 0
    assert m4["ingest"]["rows_appended"] == 0
    assert pipe.read("raw_billing").count() == n_rows + 1


def test_pipeline_backfill_window_limits_ingest(spark, tmp_path):
    root, _ = _write_lake(tmp_path)
    pipe = BillingPipeline(spark, str(tmp_path / "wh2"))
    m = pipe.ingest(root, from_date=date(2025, 4, 23), to_date=date(2025, 4, 23))
    assert m["rows_appended"] == 8  # only day=23
    days = {r["day"] for r in pipe.read("raw_billing").select("day").collect()}
    assert days == {23}


def test_ingest_backfill_window_does_not_ledger_out_of_window_files(spark, tmp_path):
    """Review r5 (verified live): inputFiles() is not window-pruned, so a
    windowed ingest previously hashed out-of-window files, recorded them
    in the ledger with 0 ingested rows, and every LATER backfill that
    actually covered them skipped their data permanently."""
    from datetime import date

    from billing_data_pipeline_spark.pipeline import BillingPipeline

    header = (
        "timestamp,resource_id,user_id,credit_usage,region,service_tier,"
        "operation_type,success,resource_type,invoice_id,currency\n"
    )
    root = tmp_path / "lake"
    for day in (1, 2, 3):
        p = root / "year=2025" / "month=04" / f"day={day:02d}"
        p.mkdir(parents=True)
        (p / "billing.csv").write_text(
            header
            + f"2025-04-{day:02d} 10:00:00,r-{day},u-{day},1.5,eu,pro,inf,true,gpu,inv-{day},USD\n"
        )
    pipe = BillingPipeline(spark, str(tmp_path / "wh"))
    m1 = pipe.ingest(str(root), from_date=date(2025, 4, 2), to_date=date(2025, 4, 2))
    assert m1["files_discovered"] == 1  # only the in-window file listed
    assert m1["rows_appended"] == 1
    # the out-of-window days must NOT be in the ledger: a later full
    # backfill still ingests them
    m2 = pipe.ingest(str(root))
    assert m2["files_new_or_changed"] == 2
    assert m2["rows_appended"] == 2
    assert pipe.read("raw_billing").count() == 3


def test_aggregates_publish_atomically_via_snapshots(spark, tmp_path):
    """Review r6: plain overwrite deleted the old aggregate table before
    the new job committed — a crash mid-refresh left a torn warehouse.
    Local warehouses now publish aggregates through SnapshotTable: each
    refresh is a new version behind an atomic manifest swap, the previous
    version stays readable for in-flight readers (keep=2), and a pre-r6
    plain-parquet table still reads through the fallback."""
    import os

    root, n_rows = _write_lake(tmp_path)
    wh = str(tmp_path / "wh_atomic")
    pipe = BillingPipeline(spark, wh)
    pipe.run(root)

    daily = os.path.join(wh, "daily_aggs")
    assert os.path.exists(os.path.join(daily, "_latest"))
    assert os.path.isdir(os.path.join(daily, "v=0"))
    assert pipe.read("daily_aggs").count() == 2

    # second refresh publishes v=1; keep=2 retains v=0 for readers
    pipe.build_aggregates()
    versions = sorted(d for d in os.listdir(daily) if d.startswith("v="))
    assert versions == ["v=0", "v=1"]
    assert pipe.read("daily_aggs").count() == 2

    # an empty-window third refresh is a no-op for correctness: reads
    # still resolve to a complete table at every point
    pipe.build_aggregates()
    assert pipe.read("daily_aggs").count() == 2

    # pre-r6 compatibility: a table written as plain parquet (no
    # manifest) reads through the fallback path
    legacy = BillingPipeline(spark, str(tmp_path / "wh_legacy"))
    pipe.read("daily_aggs").write.mode("overwrite").parquet(
        legacy.table_path("daily_aggs")
    )
    # remove any manifest the write never created; read must fall through
    assert not os.path.exists(
        os.path.join(legacy.table_path("daily_aggs"), "_latest")
    )
    assert legacy.read("daily_aggs").count() == 2


def test_billing_insights_renders_on_empty_and_all_null_input(spark):
    """Review r8: an empty lake (or an all-NULL measure column) makes the
    global SUM — and a zero-count tier's success rate — NULL; the report
    must render 0.00 / n/a instead of crashing on None.__format__ (the r4
    fix covered only the per-region totals)."""
    from billing_data_pipeline_spark.operators.aggregates import global_sum
    from billing_data_pipeline_spark.operators.reports import billing_insights

    raw = spark.createDataFrame(
        [],
        "user_id string, credit_usage double, region string,"
        " service_tier string, operation_type string, success boolean",
    )
    user_aggs = spark.createDataFrame([], "user_id string, transaction_count long")
    region_aggs = spark.createDataFrame([], "region string, total_usage double")
    service_aggs_schema = (
        "service_tier string, resource_type string, operation_type string,"
        " transaction_count long, success_count long"
    )
    total = global_sum(raw, "credit_usage", "total").first()["total"]
    md, metrics = billing_insights(
        total,
        user_aggs,
        region_aggs,
        service_aggs=spark.createDataFrame([], service_aggs_schema),
    )
    assert "**Total credit usage:** 0.00" in md
    assert metrics["total_credit_usage"] == 0.0

    # a tier whose success_count is NULL (all successes unknown) has NULL
    # success_rate -> n/a, not a crash
    service_aggs = spark.createDataFrame(
        [("free", "gpu", "inference", 3, None)], service_aggs_schema
    )
    md2, _ = billing_insights(
        total, user_aggs, region_aggs, service_aggs=service_aggs
    )
    assert "| free | n/a |" in md2  # NULL success rate renders, not crashes


# -- exactly-once under a crash at every stage boundary ----------------------


class _Crash(RuntimeError):
    """The injected fault."""


def _crash_lake(tmp_path):
    """Two days: day 22 is ingested first (a windowed run); day 23 then
    brings a new row, a NULL-key row (empty invoice_id — no anti-join can
    ever match it) and a copy of a day-22 row (a cross-file duplicate)."""
    root = tmp_path / "crash_lake"

    def row(day, i, invoice):
        return (
            f"2025-04-{day} 10:00:{i:02d},res-{i},user-{i},{1.5 * (i + 1)},eu,pro,"
            f"inference,true,gpu,{invoice},USD\n"
        )

    days = {
        22: [row(22, 0, "inv-0"), row(22, 1, "inv-1"), row(22, 2, "")],
        23: [row(23, 3, "inv-3"), row(23, 4, ""), row(22, 0, "inv-0")],
    }
    for day, rows in days.items():
        p = root / "year=2025" / "month=04" / f"day={day}"
        p.mkdir(parents=True)
        (p / "billing.csv").write_text(CSV_HEADER + "".join(rows))
    return str(root)


def _ledger_counts(pipe):
    return {
        f.rsplit("/", 2)[-2]: e["record_count"]
        for f, e in pipe.ledger().latest().items()
    }


def _fail_once(fn, when=lambda *a, **k: True, after=False):
    """``fn`` that raises _Crash once: on the first call matching ``when``,
    before the call or (``after``) once it has returned."""

    def wrapper(*args, **kwargs):
        if wrapper.fired or not when(*args, **kwargs):
            return fn(*args, **kwargs)
        wrapper.fired = True
        if after:
            fn(*args, **kwargs)
        raise _Crash("injected")

    wrapper.fired = False
    return wrapper


def _boundaries():
    import os

    from billing_data_pipeline_spark.operators.ledger import FileLedger
    from billing_data_pipeline_spark.sources.versioned_sink import SnapshotTable

    raw_manifest = os.path.join("raw_billing", "_latest")
    return {
        "ledger_record": (FileLedger, "record", {}),
        # the data dir is renamed into place; the manifest swap is next
        "raw_manifest_publish": (
            os, "replace", {"when": lambda src, dst: str(dst).endswith(raw_manifest)}
        ),
        "after_ingest": (BillingPipeline, "ingest", {"after": True}),
        # daily_aggs has committed, user_aggs has not
        "between_aggregate_commits": (
            SnapshotTable, "commit", {"when": lambda st, *a, **k: st.path.endswith("user_aggs")}
        ),
        "before_insights": (BillingPipeline, "insights", {}),
        # the four aggregate tables have committed, the report has not
        "before_report_commit": (
            SnapshotTable,
            "commit_files",
            {"when": lambda st, *a, **k: st.path.endswith("billing_insights")},
        ),
    }


@pytest.fixture(scope="module")
def crash_warehouse(spark, tmp_path_factory):
    """The lake, a warehouse holding day 22 (the state each crash run
    starts from), and the uninterrupted day-23 run's results."""
    import shutil

    tmp = tmp_path_factory.mktemp("crash")
    root = _crash_lake(tmp)
    base = str(tmp / "base")
    BillingPipeline(spark, base).run(root, to_date=date(2025, 4, 22))
    shutil.copytree(base, str(tmp / "clean"))
    clean = BillingPipeline(spark, str(tmp / "clean"))
    report = clean.run(root)["report_markdown"]
    expected = {
        "raw": clean.read("raw_billing").count(),
        "ledger": _ledger_counts(clean),
        "report": report,
    }
    # 3 rows of day 22, then day 23's new row and NULL-key row; the
    # cross-file duplicate is dropped
    assert expected["raw"] == 5
    assert expected["ledger"] == {"day=22": 3, "day=23": 2}
    return root, base, expected


@pytest.mark.parametrize("boundary", list(_boundaries()))
def test_run_is_exactly_once_under_a_crash_at_each_boundary(
    spark, tmp_path, monkeypatch, crash_warehouse, boundary
):
    """A run() that dies at a stage boundary and is retried leaves the
    warehouse exactly as one uninterrupted run: no row appended twice
    (NULL-key rows included), one ledger row per file with its own
    record_count, the same report."""
    import shutil

    root, base, expected = crash_warehouse
    wh = str(tmp_path / "wh")
    shutil.copytree(base, wh)
    owner, name, opts = _boundaries()[boundary]
    fault = _fail_once(getattr(owner, name), **opts)
    monkeypatch.setattr(owner, name, fault)
    pipe = BillingPipeline(spark, wh)
    with pytest.raises(_Crash):
        pipe.run(root)
    assert fault.fired
    m = pipe.run(root)
    assert pipe.read("raw_billing").count() == expected["raw"]
    assert _ledger_counts(pipe) == expected["ledger"]
    assert m["report_markdown"] == expected["report"]


# -- the raw_billing layout ------------------------------------------------


def test_ingest_fails_closed_on_plain_parquet_raw_billing(spark, tmp_path):
    """raw_billing written as plain parquet (before it became a snapshot
    table) carries no ledger; the first commit would hide its rows and
    re-append them. Ingest refuses and names the remedy; reads still fall
    back to the plain parquet. Snapshot-protocol debris from a crashed
    first commit is not such data."""
    import os

    root, n_rows = _write_lake(tmp_path)
    wh = tmp_path / "wh"
    orphan = wh / "raw_billing" / "v=0"
    orphan.mkdir(parents=True)
    (orphan / "part-0.parquet").write_bytes(b"torn")
    (wh / "raw_billing" / "_staging_dead").mkdir()
    pipe = BillingPipeline(spark, str(wh))
    assert pipe.ingest(root)["rows_appended"] == n_rows
    assert pipe.read("raw_billing").count() == n_rows

    legacy = BillingPipeline(spark, str(tmp_path / "legacy"))
    pipe.read("raw_billing").write.parquet(legacy.table_path("raw_billing"))
    with pytest.raises(RuntimeError, match="fresh warehouse"):
        legacy.run(root)
    assert not os.path.exists(os.path.join(legacy.table_path("raw_billing"), "_latest"))
    assert legacy.read("raw_billing").count() == n_rows

    # plain parquet beside a published manifest is refused just the same
    pipe.read("raw_billing").write.mode("append").parquet(pipe.table_path("raw_billing"))
    with pytest.raises(RuntimeError, match="fresh warehouse"):
        pipe.ingest(root)


# -- zero-row commits ----------------------------------------------------------


def test_header_only_lake_is_recorded_and_reports_empty(spark, tmp_path):
    p = tmp_path / "lake" / "year=2025" / "month=04" / "day=22"
    p.mkdir(parents=True)
    (p / "billing.csv").write_text(CSV_HEADER)
    pipe = BillingPipeline(spark, str(tmp_path / "wh"))

    m = pipe.run(str(tmp_path / "lake"))
    assert m["aggregates"] == {} and m["report_markdown"] == ""
    assert _ledger_counts(pipe) == {"day=22": 0}
    raw = pipe.read("raw_billing")
    assert raw.count() == 0 and "invoice_id" in raw.columns

    assert pipe.run(str(tmp_path / "lake"))["ingest"]["files_new_or_changed"] == 0


def test_rewritten_file_with_known_rows_records_zero(spark, tmp_path):
    """A file rewritten in place (new hash) whose rows are all already
    present is recorded with record_count 0 and then skipped. The
    rewrite keeps the file's size and mtime: only its content hash
    tells it apart."""
    import os
    import pathlib

    root, n_rows = _write_lake(tmp_path)
    pipe = BillingPipeline(spark, str(tmp_path / "wh"))
    pipe.run(root)
    columns = pipe.read("raw_billing").columns

    f = pathlib.Path(root) / "year=2025" / "month=04" / "day=23" / "billing.csv"
    header, *rows = f.read_text().splitlines(keepends=True)
    st = f.stat()
    f.write_text(header + "".join(reversed(rows)))
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert (f.stat().st_size, f.stat().st_mtime_ns) == (st.st_size, st.st_mtime_ns)
    m = pipe.run(root)
    assert m["ingest"]["files_new_or_changed"] == 1
    assert m["ingest"]["rows_appended"] == 0
    assert _ledger_counts(pipe) == {"day=22": 6, "day=23": 0}

    assert pipe.run(root)["ingest"]["files_new_or_changed"] == 0
    raw = pipe.read("raw_billing")
    assert raw.count() == n_rows and raw.columns == columns


# -- reuse while raw_billing's version has not moved ---------------------------

DERIVED = ("daily_aggs", "user_aggs", "service_aggs", "region_aggs", "billing_insights")


def _derived_versions(spark, pipe):
    from billing_data_pipeline_spark.sources.versioned_sink import SnapshotTable

    return {
        name: SnapshotTable(spark, pipe.table_path(name)).latest_version()
        for name in DERIVED
    }


def _typed(d):
    return {k: (type(v), v) for k, v in d.items()}


def _no_rebuild(monkeypatch):
    def rebuilt(*a, **k):
        raise AssertionError("rebuilt while raw_billing's version was unchanged")

    monkeypatch.setattr(BillingPipeline, "build_aggregates", rebuilt)
    monkeypatch.setattr(BillingPipeline, "insights", rebuilt)


def test_unchanged_lake_reuses_the_published_results(spark, tmp_path, monkeypatch):
    """A run over an unchanged lake commits nothing and recomputes
    nothing: it returns the stored aggregates, insights and report,
    equal in value and type to the run that built them."""
    root, _ = _write_lake(tmp_path)
    pipe = BillingPipeline(spark, str(tmp_path / "wh"))
    m1 = pipe.run(root)
    assert m1["raw_version"] == pipe.raw_version() == 0
    before = _derived_versions(spark, pipe)
    assert None not in before.values()

    with monkeypatch.context() as mp:
        _no_rebuild(mp)
        m2 = pipe.run(root)
    assert _derived_versions(spark, pipe) == before
    assert m2["raw_version"] == m1["raw_version"]
    assert _typed(m2["aggregates"]) == _typed(m1["aggregates"])
    assert _typed(m2["insights"]) == _typed(m1["insights"])
    assert m2["report_markdown"] == m1["report_markdown"]


def test_header_only_file_moves_the_version_and_rebuilds(spark, tmp_path):
    """A new header-only file appends no row, but its ledger commit moves
    raw_billing's version, so the run rebuilds and the report counts
    it."""
    import pathlib

    root, _ = _write_lake(tmp_path)
    pipe = BillingPipeline(spark, str(tmp_path / "wh"))
    m1 = pipe.run(root)
    assert "Files processed: 2;" in m1["report_markdown"]
    before = _derived_versions(spark, pipe)

    p = pathlib.Path(root) / "year=2025" / "month=04" / "day=24"
    p.mkdir(parents=True)
    (p / "billing.csv").write_text(CSV_HEADER)
    m2 = pipe.run(root)
    assert m2["ingest"]["rows_appended"] == 0
    assert m2["raw_version"] == m1["raw_version"] + 1
    after = _derived_versions(spark, pipe)
    assert all(after[t] == before[t] + 1 for t in DERIVED)
    assert "Files processed: 3;" in m2["report_markdown"]
    assert m2["aggregates"] == m1["aggregates"]


def test_unstamped_warehouse_rebuilds_once_then_reuses(spark, tmp_path, monkeypatch):
    """Aggregate commits with no raw_version stamp and no billing_insights
    table (a warehouse written before the stamps) rebuild on the next
    run, which stamps them; the run after that reuses."""
    import json
    import os
    import shutil

    root, _ = _write_lake(tmp_path)
    pipe = BillingPipeline(spark, str(tmp_path / "wh"))
    m1 = pipe.run(root)
    for name in DERIVED[:4]:
        manifest = os.path.join(pipe.table_path(name), "_latest")
        with open(manifest) as f:
            man = json.load(f)
        for c in man["commits"]:
            c["meta"] = None
        with open(manifest, "w") as f:
            json.dump(man, f)
    shutil.rmtree(pipe.table_path("billing_insights"))

    m2 = pipe.run(root)
    rebuilt = _derived_versions(spark, pipe)
    assert rebuilt == {**{t: 1 for t in DERIVED[:4]}, "billing_insights": 0}
    assert m2["report_markdown"] == m1["report_markdown"]

    with monkeypatch.context() as mp:
        _no_rebuild(mp)
        m3 = pipe.run(root)
    assert _derived_versions(spark, pipe) == rebuilt
    assert m3["report_markdown"] == m1["report_markdown"]


def test_insights_pinned_to_a_raw_version_ignores_later_ingests(spark, tmp_path):
    """insights(v) reads raw_billing and folds the ledger as of version
    v, so an ingest that commits after v cannot leak into a report
    stamped v."""
    import pathlib

    root, _ = _write_lake(tmp_path)
    pipe = BillingPipeline(spark, str(tmp_path / "wh"))
    m1 = pipe.run(root)
    p = pathlib.Path(root) / "year=2025" / "month=04" / "day=24"
    p.mkdir(parents=True)
    (p / "billing.csv").write_text(
        CSV_HEADER
        + "2025-04-24 10:00:00,res-9,user-9,2.5,us,pro,inference,true,gpu,inv-24-0,USD\n"
    )
    assert pipe.ingest(root)["rows_appended"] == 1
    assert pipe.raw_version() == m1["raw_version"] + 1

    pinned, pinned_metrics = pipe.insights(m1["raw_version"])
    assert pinned == m1["report_markdown"]
    assert pinned_metrics == m1["insights"]
    latest, latest_metrics = pipe.insights()
    assert "Files processed: 3;" in latest
    total = m1["insights"]["total_credit_usage"]
    assert latest_metrics["total_credit_usage"] == total + 2.5


def test_a_changed_derivation_rebuilds_once_then_reuses(spark, tmp_path, monkeypatch):
    """Results stored by other code (a deploy that changed how the tables
    are derived) rebuild on the next run although raw_billing has not
    moved; the run after that reuses."""
    from billing_data_pipeline_spark import pipeline

    root, _ = _write_lake(tmp_path)
    pipe = BillingPipeline(spark, str(tmp_path / "wh"))
    m1 = pipe.run(root)
    before = _derived_versions(spark, pipe)

    monkeypatch.setattr(pipeline, "DERIVATION", "a later deploy")
    m2 = pipe.run(root)
    after = _derived_versions(spark, pipe)
    assert m2["raw_version"] == m1["raw_version"]
    assert all(after[t] == before[t] + 1 for t in DERIVED)
    assert m2["report_markdown"] == m1["report_markdown"]

    with monkeypatch.context() as mp:
        _no_rebuild(mp)
        pipe.run(root)
    assert _derived_versions(spark, pipe) == after


def test_derivation_hashes_the_source_of_each_deriving_module(monkeypatch):
    """An edit to any module that derives the stamped tables changes
    DERIVATION."""
    import inspect

    from billing_data_pipeline_spark import pipeline
    from billing_data_pipeline_spark.operators import aggregates, ledger, reports

    assert pipeline._derivation() == pipeline.DERIVATION
    real = inspect.getsource
    for mod in (pipeline, aggregates, ledger, reports):
        monkeypatch.setattr(
            inspect, "getsource", lambda m, mod=mod: real(m) + ("#" if m is mod else "")
        )
        assert pipeline._derivation() != pipeline.DERIVATION


@pytest.mark.parametrize("concurrent", [1, 2])
def test_reuse_returns_the_report_of_the_commit_it_checked(
    spark, tmp_path, monkeypatch, concurrent
):
    """Rebuilds that publish between run()'s stamp check and its read of
    report.md do not change what run() returns: it reads the report of
    the commit it checked, or rebuilds once two newer commits have
    vacuumed that one."""
    from billing_data_pipeline_spark.sources.versioned_sink import SnapshotTable

    root, _ = _write_lake(tmp_path)
    pipe = BillingPipeline(spark, str(tmp_path / "wh"))
    m1 = pipe.run(root)

    real = SnapshotTable.commits
    pending = [concurrent]

    def commits(self):
        out = real(self)
        if pending[0] and self.path.endswith("billing_insights"):
            n, pending[0] = pending[0], 0
            for i in range(n):
                pipe._publish_report(1000 + i, {}, {}, f"a newer report {i}")
        return out

    monkeypatch.setattr(SnapshotTable, "commits", commits)
    m2 = pipe.run(root)
    assert pending == [0]
    assert m2["report_markdown"] == m1["report_markdown"]
    assert _typed(m2["insights"]) == _typed(m1["insights"])
    rebuilt = concurrent == 2
    assert _derived_versions(spark, pipe)["billing_insights"] == concurrent + rebuilt
