"""Spans around the calls the benchmark makes into the package's layers.

A span records name, start, end, parent and run id. Spans are kept in memory
and written out when the benchmark ends. The time spent setting spans up and
tearing them down is summed as the tracing overhead. Entering a span sets a Spark job
group unique to it and leaving restores the parent's group, so the status
tracker can later count the jobs, tasks and failed tasks each span launched.

``install`` wraps package functions from outside; the package code is not
changed. Functions that ``pipeline.py`` imports by name are wrapped in the
``billing_data_pipeline_spark.pipeline`` namespace as well as in their home
modules. With ``Tracer.enabled`` false every wrapper is a plain call.
"""

from __future__ import annotations

import functools
import itertools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

JOB_GROUP = "spark.jobGroup.id"
JOB_DESC = "spark.job.description"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0
    group: str = ""
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool = True):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self.run_id = ""
        self.overhead = 0.0  # seconds spent in span bookkeeping

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, parent and parent.id, self.run_id, t0)
        s.group = f"perfbench-{s.id}"
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        self.overhead += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty(JOB_GROUP, None)
                sc.setLocalProperty(JOB_DESC, None)
            self.overhead += time.perf_counter() - s.end

    def count(self, key: str, n: float) -> None:
        """Add ``n`` to counter ``key`` of the innermost open span."""
        if self.enabled and self._stack:
            c = self._stack[-1].counts
            c[key] = c.get(key, 0) + n

    def collect_spark_counts(self) -> None:
        """Jobs, tasks and failed tasks per span, from the status tracker.

        Called once after the measured work, when the listener has caught up.
        """
        tracker = self.spark.sparkContext.statusTracker()
        for s in self.spans:
            jobs = tasks = failed = 0
            for j in tracker.getJobIdsForGroup(s.group):
                jobs += 1
                info = tracker.getJobInfo(j)
                for st in info.stageIds if info else ():
                    si = tracker.getStageInfo(st)
                    if si is not None:
                        tasks += si.numCompletedTasks
                        failed += si.numFailedTasks
            s.counts.update(
                {"spark.jobs": jobs, "spark.tasks": tasks, "spark.failed_tasks": failed}
            )

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        return kids

    def subtree(self, root: Span, kids: dict[int, list[Span]]) -> list[Span]:
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, ()))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def self_time(span: Span, kids: list[Span]) -> float:
    """Span duration minus the part of it that its child spans cover."""
    covered = 0.0
    cur_s = cur_e = None
    for k in sorted(kids, key=lambda k: k.start):
        s, e = max(k.start, span.start), min(k.end, span.end)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.duration - covered


def _wrap(tracer: Tracer, fn, name: str | None = None, on_result=None):
    """``fn`` inside span ``name`` (no span when None); ``on_result(args,
    result)`` records counters in the enclosing span."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        if name is None:
            result = fn(*args, **kwargs)
        else:
            with tracer.span(name):
                result = fn(*args, **kwargs)
        if on_result is not None:
            on_result(args, result)
        return result

    return wrapper


def install(tracer: Tracer) -> None:
    """Wrap the pipeline's layer boundaries with spans and counters, for the
    rest of the process."""
    from billing_data_pipeline_spark import pipeline
    from billing_data_pipeline_spark.operators import ingest, ledger
    from billing_data_pipeline_spark.sources import os_snapshot

    bp = pipeline.BillingPipeline
    bp.ingest = _wrap(tracer, bp.ingest, "pipeline.ingest")
    bp.build_aggregates = _wrap(tracer, bp.build_aggregates, "pipeline.aggregates")
    bp.insights = _wrap(tracer, bp.insights, "pipeline.insights")

    def appended(args, result):
        tracer.count("ingest.rows_appended", result[0])

    append = _wrap(tracer, ingest.append_new_rows_per_file, "ingest.append", appended)
    ingest.append_new_rows_per_file = pipeline.append_new_rows_per_file = append

    def hashed(args, result):
        tracer.count("ledger.files_hashed", len(args[1]))

    hash_files = _wrap(tracer, ledger.hash_files, None, hashed)
    ledger.hash_files = pipeline.hash_files = hash_files
    ledger.FileLedger.record = _wrap(tracer, ledger.FileLedger.record, "ledger.record")

    factory = os_snapshot.snapshot_table_for

    @functools.wraps(factory)
    def snapshot_table_for(*args, **kwargs):
        st = factory(*args, **kwargs)
        if tracer.enabled:
            st.commit = _wrap(tracer, st.commit, "snapshot.commit")
            st.vacuum = _wrap(tracer, st.vacuum, "snapshot.vacuum")
        return st

    os_snapshot.snapshot_table_for = snapshot_table_for
