"""Versioned snapshot table: atomic commits, appends, time travel — on
plain parquet.

The reference's sinks (S7 append, S8 full-refresh — reference:
pipeline/assets/ingest.py:248-257, aggregates.py:31+) rely on DuckDB's
transactional storage; Spark's ``mode("overwrite")`` on plain files is NOT
atomic — a reader that lists the directory mid-overwrite sees a torn table,
and a crashed writer leaves one. This sink restores the transactional edge
without requiring a table format:

- every commit writes a fresh immutable ``v=N`` directory, then publishes
  it by atomically renaming a manifest tempfile over ``_latest`` (POSIX
  rename) — readers always resolve fully-written data;
- commits are either ``overwrite`` (the directory IS the snapshot) or
  ``append`` (log-structured: a snapshot at version v = the last overwrite
  at or before v plus every append after it — the same add-file idea as a
  table format's transaction log, reduced to one JSON manifest);
- a commit entry may carry a small JSON ``meta`` object — per-commit
  metadata published atomically with the data (the pipeline's file ledger
  rides on ``raw_billing``'s append commits this way, as a table format
  keeps commit info in its log);
- a crashed commit leaves an unreferenced ``v=N`` directory, never a
  half-published table; ``vacuum(keep)`` prunes orphans and versions no
  retained read can need.

At 100 TB the commit cost is the data write itself — the publish step is
one metadata rename regardless of table size, and readers pay one
small-file read to resolve the version.

Concurrency contract: **multi-writer safe on a shared POSIX path**, held
by two ``flock`` files per table. The kernel releases a ``flock`` when
its holder's process dies and never takes it from a live holder, so a
crashed writer blocks nobody and no lock needs an expiry time.

- ``_lock``: commit and vacuum hold it exclusively around their
  read-modify-write of the manifest, so concurrent mutators serialize
  instead of losing commit records. The locked region is metadata-only:
  the data write lands in an unreferenced ``_staging_*`` directory before
  it, and vacuum deletes the directories it unreferenced after it. A
  waiter that cannot get the lock within ``LOCK_TIMEOUT_SECS`` raises
  ``TimeoutError``.
- ``_writers``: a commit holds it shared from before its ``_staging_*``
  directory exists until that directory is renamed into place or
  removed. Vacuum sweeps ``_staging_*`` entries only when it can take
  ``_writers`` exclusively without waiting; every entry it lists then
  belongs to a dead commit. With a commit in flight it skips the sweep,
  and a later vacuum does it.

Rename and ``flock`` are exact only on a local filesystem, so warehouses
are POSIX-only: ``os_snapshot.snapshot_table_for`` refuses every other
scheme.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession

#: Seconds a commit or vacuum waits for a lock held by a live process
#: before raising ``TimeoutError``.
LOCK_TIMEOUT_SECS = 120.0


@contextlib.contextmanager
def _flock(path: str, op: int, wait: bool = True):
    """Hold ``flock(op)`` on ``path``, creating the file if missing. Polls
    ``LOCK_NB`` until ``LOCK_TIMEOUT_SECS`` have passed, or tries once when
    ``wait`` is false; either way a failure raises ``TimeoutError``. The
    file is never unlinked, or a waiter locking the unlinked inode and a
    newcomer locking a recreated file would both hold it."""
    fd = os.open(path, os.O_RDONLY | os.O_CREAT, 0o644)
    try:
        deadline = time.monotonic() + (LOCK_TIMEOUT_SECS if wait else 0.0)
        while True:
            try:
                fcntl.flock(fd, op | fcntl.LOCK_NB)
                break
            except BlockingIOError:
                if time.monotonic() >= deadline:
                    raise TimeoutError(f"could not lock {path}") from None
                time.sleep(0.02)
        yield
    finally:
        os.close(fd)  # releases the lock


class SnapshotTable:
    """Plain-parquet table with atomically-published, immutable versions."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # NO makedirs here (review r7): constructing a table handle is
        # not a write — reading a never-built table must leave no empty
        # directory behind. Mutators call _ensure_dir().

    def _ensure_dir(self) -> None:
        os.makedirs(self.path, exist_ok=True)

    @property
    def _manifest(self) -> str:
        return os.path.join(self.path, "_latest")

    @property
    def _writers(self) -> str:
        return os.path.join(self.path, "_writers")

    def _mutate_lock(self):
        """Exclusive ``flock`` on ``_lock``, held around every manifest
        read-modify-write (see module docstring)."""
        return _flock(os.path.join(self.path, "_lock"), fcntl.LOCK_EX)

    def _load(self) -> dict:
        try:
            with open(self._manifest) as f:
                return json.load(f)
        except FileNotFoundError:
            # ONLY a missing manifest means "new table". Any other OSError
            # (EIO/EACCES — the transient failures the lock docs already
            # assume possible) must propagate: swallowing one inside
            # commit's locked section reset the table to version 0, whose
            # self-heal then renamed the REAL v=0 aside and deleted it
            # (review r5 — silent-data-loss class).
            return {"version": None, "commits": []}
        except ValueError as exc:
            # a torn/corrupt manifest is likewise NOT an empty table
            raise OSError(
                f"corrupt manifest at {self._manifest}: {exc}"
            ) from exc

    def latest_version(self) -> int | None:
        return self._load()["version"]

    def commits(self) -> list[dict]:
        """The retained commit log, oldest first: ``{"v", "mode", "meta"}``
        per commit (``meta`` is None when the commit carried none)."""
        return self._load()["commits"]

    def _listdir(self) -> list[str]:
        try:
            return os.listdir(self.path)
        except FileNotFoundError:
            return []  # never-built table (init no longer mkdirs)

    def versions(self) -> list[int]:
        """Version directories present on disk (may include unpublished
        crash orphans — the manifest, not the listing, is the truth)."""
        return sorted(
            int(n[2:]) for n in self._listdir() if _is_version_dir(n)
        )

    def foreign_entries(self) -> list[str]:
        """Top-level entries this protocol did not write: anything but a
        ``v=N`` version directory or a ``_``/``.``-prefixed metadata entry
        (``_latest``, ``_lock``, ``_writers``, ``_staging_*``). Another
        writer's plain parquet shows up here — a directory reader would
        see it, the manifest never lists it."""
        return sorted(
            n
            for n in self._listdir()
            if not _is_version_dir(n) and not n.startswith(("_", "."))
        )

    def _vdir(self, version: int) -> str:
        return os.path.join(self.path, f"v={version}")

    def commit(self, df: DataFrame, mode: str = "overwrite", meta=None) -> int:
        """Write ``df`` as the next version and publish it atomically.
        ``mode='append'`` adds to the current snapshot instead of replacing
        it. ``meta`` (JSON-serializable) is stored in the
        commit's log entry, published by the same manifest swap as the
        data. Returns the published version number.

        The data write happens OUTSIDE ``_lock`` into an unreferenced
        ``_staging_*`` directory, so concurrent commits write in parallel;
        the locked region is version allocation + one directory rename +
        manifest publish — milliseconds at any table size. A crash before
        the rename leaves only a staging orphan (swept by vacuum); after
        the rename but before publish, an unreferenced v=N orphan
        (self-healed below)."""
        return self.commit_files(
            lambda staging: df.write.mode("errorifexists").parquet(staging),
            mode=mode,
            meta=meta,
        )

    def commit_files(self, write_fn, mode: str = "overwrite", meta=None) -> int:
        """``commit`` with the data write abstracted: ``write_fn(staging)``
        materializes the version's files under the (not-yet-existing)
        staging directory. A ``write_fn`` that returns something other
        than None returns the commit's ``meta``: metadata the write itself
        computes. This is the engine-agnostic seam the multi-process
        durability sweep uses (pyarrow writers in plain Python workers — a
        JVM per process would test the JVM, not the protocol); the Spark
        path above is one-line sugar over it."""
        import shutil
        import uuid

        if mode not in ("overwrite", "append"):
            raise ValueError(f"mode must be overwrite|append, got {mode!r}")
        self._ensure_dir()
        # shared: tells vacuum this commit's staging and trash are live
        with _flock(self._writers, fcntl.LOCK_SH):
            staging = os.path.join(self.path, f"_staging_{uuid.uuid4().hex}")
            trash = None
            try:
                written = write_fn(staging)
                if written is not None:
                    meta = written
                version, trash = self._publish_staging(staging, mode, meta)
                return version
            finally:
                if os.path.exists(staging):  # failed commit
                    shutil.rmtree(staging, ignore_errors=True)
                if trash is not None:
                    shutil.rmtree(trash, ignore_errors=True)

    def _publish_staging(self, staging: str, mode: str, meta):
        """Locked metadata region of commit(): allocate a version, rename
        the staged data into place, publish the manifest. Returns
        ``(published_version, trash_dir_or_None)`` — the trash dir is a
        shunted crash orphan the caller deletes after lock release."""
        import uuid

        trash = None
        with self._mutate_lock():
            man = self._load()
            version = 0 if man["version"] is None else man["version"] + 1
            # Self-heal a crash between rename and publish: an existing
            # v=N dir the manifest does not reference is an unpublished
            # orphan — shunt it aside or this version number wedges
            # forever. The shunt is a RENAME (metadata-sized); the
            # actual delete happens after release (review r4).
            vdir = self._vdir(version)
            if os.path.exists(vdir) and not any(
                c["v"] == version for c in man["commits"]
            ):
                trash = os.path.join(
                    self.path, f"_staging_trash_{uuid.uuid4().hex}"
                )
                os.rename(vdir, trash)
            os.rename(staging, vdir)
            man["version"] = version
            man["commits"].append({"v": version, "mode": mode, "meta": meta})
            fd, tmp = tempfile.mkstemp(dir=self.path, prefix="_manifest_")
            with os.fdopen(fd, "w") as f:
                json.dump(man, f)
            os.replace(tmp, self._manifest)  # the atomic publish
            return (version, trash)

    def _base_of(self, version: int, man: dict | None = None) -> int:
        """Last overwrite commit at or before ``version`` (0 if the log
        starts with appends). Pass the already-loaded manifest when the
        caller holds one — re-loading here could see a concurrently
        vacuumed log and resolve a torn view."""
        base = 0
        for c in (man or self._load())["commits"]:
            if c["v"] <= version and c["mode"] == "overwrite":
                base = c["v"]
        return base

    def resolve_dirs(self, version: int | None = None) -> list[str]:
        """Directories composing the snapshot at ``version`` (latest when
        None): the base overwrite plus every append commit up to it,
        resolved from the manifest (never from a directory listing —
        orphans stay invisible). Public seam for non-Spark readers (the
        multi-process durability sweep reads them with pyarrow)."""
        man = self._load()
        v = man["version"] if version is None else version
        if v is None:
            raise FileNotFoundError(f"no committed version at {self.path}")
        base = self._base_of(v, man)
        if not any(c["v"] == v for c in man["commits"]):
            raise FileNotFoundError(f"version {v} is not in the commit log")
        return [
            self._vdir(c["v"])
            for c in man["commits"]
            if base <= c["v"] <= v
        ]

    def read(self, version: int | None = None, schema=None) -> DataFrame:
        """Latest snapshot, or time travel to an explicit ``version``
        (see resolve_dirs for the resolution rule). A known ``schema`` is
        applied as given instead of being read from the parquet footers —
        no footer job, whatever the number of directories."""
        dirs = self.resolve_dirs(version)
        if schema is not None:
            return self.spark.read.schema(schema).parquet(*dirs)
        if len(dirs) == 1:
            return self.spark.read.parquet(dirs[0])
        # append chains may span additive schema evolution
        return self.spark.read.option("mergeSchema", True).parquet(*dirs)

    def vacuum(self, keep: int = 1) -> list[int]:
        """Delete every version directory no retained read can need: reads
        of the newest ``keep`` versions resolve to their base overwrite +
        later appends, so anything older than the oldest retained base —
        and any unpublished crash orphan — goes. Returns versions
        removed.

        Also sweeps the ``_staging_*`` entries of dead commits, unless a
        commit is in flight (see the module docstring)."""
        import shutil

        self._ensure_dir()  # vacuum of a never-built table is a no-op
        with self._mutate_lock():
            man = self._load()
            latest = man["version"]
            if latest is None:
                return []
            oldest_retained = max(0, latest - keep + 1)
            needed_from = self._base_of(oldest_retained, man)
            published = {c["v"] for c in man["commits"]}
            # Orphans ABOVE `latest` are excluded: vacuum's deferred
            # (post-lock) delete could otherwise race a concurrent commit
            # that allocates latest+1, self-heals the same orphan, and
            # publishes — vacuum would then delete the just-published
            # data (review r4). commit's own self-heal owns that range.
            removed = [
                v
                for v in self.versions()
                if v < needed_from or (v not in published and v <= latest)
            ]
            # Publish the pruned manifest BEFORE deleting data: a crash
            # between the two steps then leaves only unreferenced orphan
            # directories (harmless, re-collected by the next vacuum) —
            # never manifest entries pointing at deleted dirs, which would
            # break time travel.
            man["commits"] = [c for c in man["commits"] if c["v"] not in removed]
            fd, tmp = tempfile.mkstemp(dir=self.path, prefix="_manifest_")
            with os.fdopen(fd, "w") as f:
                json.dump(man, f)
            os.replace(tmp, self._manifest)
        # Data deletion happens OUTSIDE the lock (review r4: rmtree of a
        # large version is data-sized work and must not hold up commits).
        # Every removed dir is already unreferenced by the published
        # manifest: invisible to readers, and no collision with concurrent
        # commits (version numbers only grow past `latest`).
        for v in removed:
            shutil.rmtree(self._vdir(v), ignore_errors=True)
        # No live commit holds _writers when the exclusive try succeeds,
        # so every staging entry listed under it is a dead commit's (or an
        # old-format ``.inprogress`` marker file); new commits stage under
        # fresh names, so the deletes can run after release.
        try:
            with _flock(self._writers, fcntl.LOCK_EX, wait=False):
                orphans = [
                    os.path.join(self.path, n)
                    for n in os.listdir(self.path)
                    if n.startswith("_staging_")
                ]
        except TimeoutError:
            orphans = []  # a commit is in flight; a later vacuum sweeps
        for p in orphans:
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                with contextlib.suppress(OSError):
                    os.unlink(p)
        return sorted(removed)


def _is_version_dir(name: str) -> bool:
    return name.startswith("v=") and name[2:].isdigit()
