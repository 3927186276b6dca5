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

Concurrency contract (r4): **multi-writer safe on a shared POSIX path**.
Commit and vacuum take an exclusive ``_lock`` file (O_CREAT|O_EXCL — the
portable POSIX mutex) around their read-modify-write of the manifest, so
concurrent mutators serialize instead of losing commit records. The
critical section is METADATA-ONLY and data-size-independent (review r4):
the data write lands in an unreferenced ``_staging_*`` directory BEFORE
the lock is taken, and the locked region is just rename-into-place +
manifest append + publish (vacuum likewise publishes the pruned manifest
under the lock and deletes the newly-unreferenced directories after
releasing it). Because the lock is held for milliseconds regardless of
table size, a lock older than ``stale_lock_secs`` (600 s) really is a
crashed holder; breaking is single-winner (rename-then-unlink — a
concurrent breaker's rename fails, it just retries) and release verifies
the lock still carries this holder's token so a broken-then-reacquired
lock is never unlinked by the old holder. Residual window, documented
rather than hidden: a holder paused LONGER than ``stale_lock_secs``
inside the millisecond critical section (a 10-minute GC pause) could be
broken mid-mutation — the same assumption every mtime-lease lock makes.
Rename and O_EXCL are atomic only on a local filesystem, so warehouses are
POSIX-only: ``os_snapshot.snapshot_table_for`` refuses every other scheme.
"""

from __future__ import annotations

import contextlib
import json
import os
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession


class SnapshotTable:
    """Plain-parquet table with atomically-published, immutable versions."""

    #: Interval at which an in-flight commit refreshes its staging
    #: ``.inprogress`` marker. Must be far below any plausible
    #: ``vacuum(stale_staging_secs=...)`` so a live commit is never
    #: mistaken for an abandoned one (tests shrink it to exercise the
    #: race directly).
    _HEARTBEAT_SECS = 30.0

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # NO makedirs here (review r7): constructing a table handle is
        # not a write — reading a never-built table must leave no empty
        # directory behind. Mutators call _ensure_dir().

    def _ensure_dir(self) -> None:
        os.makedirs(self.path, exist_ok=True)

    @contextlib.contextmanager
    def _inprogress(self, staging: str):
        """Liveness marker for an in-flight commit (review r5: the
        tree-idle check alone cannot distinguish 'crashed writer' from
        'write finished, commit waiting on the lock' — a staging tree
        goes quiet the moment the parquet job completes, and a vacuum
        racing that window could rmtree it before the locked rename,
        failing the commit or worse publishing a version missing part
        files that a concurrent rmtree already removed).

        Creates ``<staging>.inprogress`` NEXT TO the staging dir (it
        cannot live inside: ``errorifexists`` requires the dir not to
        pre-exist) and touches it from a daemon thread every
        ``_HEARTBEAT_SECS`` for as long as the commit is in flight —
        through the data write, the lock wait, and the rename. Vacuum
        treats a staging dir with a fresh marker as live no matter how
        idle its tree is; a crashed holder stops touching and both dir
        and marker age into sweepability together."""
        import threading

        marker = staging + ".inprogress"
        with open(marker, "w") as f:
            f.write(str(os.getpid()))
        stop = threading.Event()

        def _beat():
            while not stop.wait(self._HEARTBEAT_SECS):
                try:
                    os.utime(marker, None)
                except OSError:
                    return  # marker gone (vacuumed a crashed twin) — stop
        t = threading.Thread(target=_beat, daemon=True, name="snapshot-heartbeat")
        t.start()
        try:
            yield
        finally:
            stop.set()
            t.join(timeout=5.0)
            try:
                os.unlink(marker)
            except OSError:
                pass

    @property
    def _manifest(self) -> str:
        return os.path.join(self.path, "_latest")

    def _mutate_lock(self, timeout_secs: float = 120.0, stale_lock_secs: float = 600.0):
        """Exclusive writer lock on ``_lock`` — the shared ``fs_mutex``
        (O_CREAT|O_EXCL acquire, single-winner stale break, token-verified
        release, holder heartbeat; see sources/fslock.py). Guards every
        manifest read-modify-write (VERDICT r3 #5). The guarded region
        must stay metadata-sized — commit/vacuum keep their data I/O
        outside (see module docstring); the heartbeat additionally keeps
        even a pathologically-paused-but-alive holder from being broken
        mid-mutation (advice r5)."""
        from .fslock import fs_mutex

        return fs_mutex(
            os.path.join(self.path, "_lock"),
            timeout_secs=timeout_secs,
            stale_secs=stale_lock_secs,
        )

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
        (``_latest``, ``_lock``, ``_staging_*``). Another writer's plain
        parquet shows up here — a directory reader would see it, the
        manifest never lists it."""
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

        The data write happens OUTSIDE the lock into an unreferenced
        ``_staging_*`` directory (review r4: holding the lock across a
        long parquet write outlives any stale-lock lease and invites a
        concurrent writer to break it mid-write); the locked region is
        version allocation + one directory rename + manifest publish —
        milliseconds at any table size. A crash before the rename leaves
        only a staging orphan (swept by vacuum); after the rename but
        before publish, an unreferenced v=N orphan (self-healed below)."""
        return self.commit_files(
            lambda staging: df.write.mode("errorifexists").parquet(staging),
            mode=mode,
            meta=meta,
        )

    def commit_files(self, write_fn, mode: str = "overwrite", meta=None) -> int:
        """``commit`` with the data write abstracted: ``write_fn(staging)``
        materializes the version's files under the (not-yet-existing)
        staging directory. This is the engine-agnostic seam the
        multi-process durability sweep uses (pyarrow writers in plain
        Python workers — a JVM per process would test the JVM, not the
        protocol); the Spark path above is one-line sugar over it."""
        import shutil
        import uuid

        if mode not in ("overwrite", "append"):
            raise ValueError(f"mode must be overwrite|append, got {mode!r}")
        self._ensure_dir()
        staging = os.path.join(self.path, f"_staging_{uuid.uuid4().hex}")
        trash = None
        try:
            with self._inprogress(staging):
                write_fn(staging)
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
            # forever. The shunt is a RENAME (metadata-sized, keeps
            # the lock lease honest); the actual delete happens after
            # release (review r4).
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

    def vacuum(
        self, keep: int = 1, stale_staging_secs: float = 3600.0
    ) -> list[int]:
        """Delete every version directory no retained read can need: reads
        of the newest ``keep`` versions resolve to their base overwrite +
        later appends, so anything older than the oldest retained base —
        and any unpublished crash orphan — goes. Returns versions
        removed.

        ``stale_staging_secs`` bounds the staging-orphan sweep: a
        ``_staging_*`` directory counts as abandoned only when NOTHING in
        its tree (not just the top-level dir — an in-flight Spark write
        lands task files under ``_temporary/`` without touching the
        top-level mtime, advice r4) has been modified for this long AND
        its ``.inprogress`` heartbeat marker is absent or equally stale
        (review r5: a finished write waiting on the commit lock has an
        idle tree; the live committer proves liveness by touching the
        marker every ``_HEARTBEAT_SECS``). With the marker in place the
        threshold no longer needs to exceed the longest commit write —
        it just needs to comfortably exceed the heartbeat interval."""
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
        # large version is data-sized work and must not extend the lease).
        # Every removed dir is already unreferenced by the published
        # manifest: invisible to readers, and no collision with concurrent
        # commits (version numbers only grow past `latest`).
        for v in removed:
            shutil.rmtree(self._vdir(v), ignore_errors=True)
        # Staging orphans from crashed commits are unreferenced by
        # construction — but an IN-FLIGHT commit's staging dir looks
        # identical from the top (its activity is task files appearing
        # under _temporary/, which never touches the top-level mtime).
        # Sweep only trees with zero write activity for
        # `stale_staging_secs` anywhere inside (advice r4: the old
        # top-level-mtime check could rmtree a live long write, failing
        # the commit — or worse, racing between job success and the
        # locked rename, publishing a version with missing part files).
        # An in-flight commit additionally holds a heartbeat-touched
        # ``<staging>.inprogress`` marker (review r5: a finished write
        # waiting on the commit lock has an IDLE tree — tree-idleness
        # alone cannot prove abandonment). A staging dir is sweepable
        # only when its tree is idle AND its marker is absent or stale.
        now = time.time()
        cutoff = now - stale_staging_secs
        for name in os.listdir(self.path):
            p = os.path.join(self.path, name)
            if name.startswith("_staging_") and not name.endswith(".inprogress"):
                try:
                    live_marker = os.path.getmtime(p + ".inprogress") > cutoff
                except OSError:
                    live_marker = False  # no marker (pre-r6 crash / trash dir)
                if not live_marker and self._tree_idle_since(p, cutoff):
                    shutil.rmtree(p, ignore_errors=True)
                    with contextlib.suppress(OSError):
                        os.unlink(p + ".inprogress")
            elif name.startswith("_staging_") and name.endswith(".inprogress"):
                # orphan marker whose staging dir is already gone
                try:
                    dir_gone = not os.path.exists(p[: -len(".inprogress")])
                    if dir_gone and os.path.getmtime(p) < cutoff:
                        os.unlink(p)
                except OSError:
                    pass
        return sorted(removed)

    @staticmethod
    def _tree_idle_since(root: str, cutoff: float) -> bool:
        """True iff no file or directory under ``root`` has an mtime newer
        than ``cutoff``. Walks with early exit on the first fresh entry,
        so for a live write the scan stops almost immediately; a genuinely
        abandoned tree is walked once before its one-time delete. Any
        OSError (entry vanished mid-walk = concurrent activity) counts as
        fresh — never sweep on ambiguity."""
        try:
            if os.path.getmtime(root) > cutoff:
                return False
            for dirpath, dirnames, filenames in os.walk(root):
                for entry in dirnames + filenames:
                    if os.path.getmtime(os.path.join(dirpath, entry)) > cutoff:
                        return False
        except OSError:
            return False
        return True


def _is_version_dir(name: str) -> bool:
    return name.startswith("v=") and name[2:].isdigit()
