"""Object-store snapshot table: the durability kit's commit protocol on
conditional PUT instead of POSIX rename/O_EXCL.

``SnapshotTable`` (versioned_sink.py) gives atomic publish + multi-writer
safety on POSIX via rename and a lock file. This class gives the SAME
table semantics — versioned overwrite/append commits, epoch-idempotent
replay, time travel, vacuum — on the primitives an object store actually
has (see sources/objectstore.py): strongly-consistent ``get``,
possibly-lagging ``list``, and **put-if-absent on a single key**. It is
the protocol Delta Lake and Iceberg use on S3/GCS/Azure, reduced to one
self-contained manifest log (reference target: pipeline/s3_utils.py — the
reference ships its CSVs to exactly such a store; its DuckDB layer then
owns transactions, a luxury a data lake does not have).

Protocol
--------
- The log is a sequence of immutable objects ``_log/{N:020d}.json``; entry
  N holds the FULL manifest state after commit N (commits list, each with
  its immutable data-prefix id). Publishing commit N is ONE
  ``put_if_absent`` — the store's compare-and-swap arbitrates concurrent
  committers, no lock anywhere. The loser re-reads head and retries on top
  (optimistic concurrency; its already-written data prefix is reused, only
  the metadata round-trips).
- Data for a commit attempt is written under a fresh UUID prefix
  ``data/{uid}/`` and NEVER renamed (object stores cannot rename). The
  log entry references the prefix; a crash before the log PUT leaves an
  unreferenced prefix that vacuum sweeps later. This is the cloud-
  committer discipline: uniquely-named final locations, metadata-only
  publish.
- ``list`` lag is defeated by forward probing: resolve head by listing
  ``_log/`` for a floor, then ``get`` successive keys until a miss
  (``get`` is read-after-write consistent on every current store). The
  same reasoning is why old log entries are never deleted: if a lagging
  listing hid ALL fresh entries and the old ones were gone, an empty
  listing would be indistinguishable from an empty table. Log entries are
  a few hundred bytes; a production port would add Delta-style
  checkpoint + retention on top.
- In-flight commits are protected from vacuum by a heartbeat-refreshed
  begin marker ``data/{uid}.begin`` (the object-store twin of
  SnapshotTable's ``.inprogress`` marker): vacuum sweeps an unreferenced
  prefix only when its marker is absent or stale. Vacuum deletes the
  MARKER FIRST (tombstone), and a committer re-checks its marker
  immediately before the log PUT, so a swept commit aborts instead of
  publishing a reference to deleted data. Residual window, documented
  exactly as for the POSIX kit: a committer frozen longer than
  ``stale_staging_secs`` between that check and its PUT can still publish
  a dangling version — the same assumption every lease-based protocol
  makes, and why the default threshold is an hour.

Scale: at 100 TB the data write dominates; the publish is one ~1 KB PUT
regardless of table size, and a reader resolves head with one listing +
O(lag) gets. No step of the protocol is proportional to data volume.
"""

from __future__ import annotations

import json
import threading
import time
import uuid
from typing import Callable

from .objectstore import ObjectStore, SimulatedObjectStore

_LOG = "_log"
_DATA = "data"


def _log_key(version: int) -> str:
    return f"{_LOG}/{version:020d}.json"


class CommitAborted(RuntimeError):
    """Commit attempt's staging data was vacuumed mid-flight (the process
    was presumed dead past ``stale_staging_secs``); the commit did NOT
    publish. Retry commits the data again under a fresh prefix."""


class ObjectStoreSnapshotTable:
    """Versioned parquet table on an ObjectStore commit log (module doc)."""

    #: Begin-marker refresh interval for in-flight commits; must stay far
    #: below any plausible ``vacuum(stale_staging_secs=...)``.
    _HEARTBEAT_SECS = 30.0

    def __init__(self, spark, store: ObjectStore):
        self.spark = spark
        self.store = store

    # ------------------------------------------------------------- head
    def _head(self) -> tuple[int | None, dict]:
        """(head version, state) resolved lag-tolerantly: listing gives a
        floor, forward ``get`` probes find anything the listing hides."""
        floor = -1
        for key in self.store.list(_LOG + "/"):
            name = key.rsplit("/", 1)[-1]
            if name.endswith(".json") and name[:-5].isdigit():
                floor = max(floor, int(name[:-5]))
        # forward-probe past the listing (and past an empty listing: a
        # lagging store may hide even entry 0)
        head, state = None, {"version": None, "commits": []}
        probe = floor if floor >= 0 else 0
        if floor >= 0:
            raw = self.store.get(_log_key(floor))
            if raw is None:
                # listed but deleted concurrently? log entries are never
                # deleted by this protocol — treat as corruption
                raise OSError(f"log entry {floor} listed but unreadable")
            head, state = floor, json.loads(raw)
            probe = floor + 1
        while True:
            raw = self.store.get(_log_key(probe))
            if raw is None:
                return head, state
            head, state = probe, json.loads(raw)
            probe += 1

    def latest_version(self) -> int | None:
        """Newest committed VERSION — manifest semantics, matching the
        POSIX SnapshotTable — not the log head INDEX: vacuum publishes
        its pruned state as a NEW log entry with ``version`` unchanged,
        so after any pruning vacuum the two diverge and the head index
        names a version absent from the commit list (review r7)."""
        return self._head()[1]["version"]

    def commits(self) -> list[dict]:
        """The retained commit log, oldest first (SnapshotTable.commits)."""
        return self._head()[1]["commits"]

    def epochs(self) -> set:
        _, state = self._head()
        return {
            c["epoch"] for c in state["commits"] if c.get("epoch") is not None
        }

    # ----------------------------------------------------------- commit
    def _fire(self, name: str) -> None:
        if isinstance(self.store, SimulatedObjectStore):
            self.store.fire(name)

    def commit(self, df=None, mode: str = "overwrite", epoch=None,
               writer: Callable[[str], None] | None = None,
               meta=None) -> int:
        """Write the next version and publish it with one conditional PUT.
        Exactly one of ``df`` (a Spark DataFrame) or ``writer`` (a callable
        given the data URL — the seam the non-Spark multi-process sweep
        uses) provides the data. Same idempotent-epoch and ``meta``
        contract as SnapshotTable.commit, including the checkpoint-reset
        guard."""
        if mode not in ("overwrite", "append"):
            raise ValueError(f"mode must be overwrite|append, got {mode!r}")
        if (df is None) == (writer is None):
            raise ValueError("pass exactly one of df= or writer=")
        if epoch is not None:
            replay = _replay_version(self._head()[1], epoch)
            if replay is not None:
                return replay  # dirty pre-check: skip the data write
        uid = uuid.uuid4().hex
        begin_key = f"{_DATA}/{uid}.begin"
        self.store.put(begin_key, str(time.time()).encode())
        stop = threading.Event()

        def _beat() -> None:
            while not stop.wait(self._HEARTBEAT_SECS):
                # Check-before-touch (review r7, same class as the fslock
                # fix): vacuum TOMBSTONES the marker to kill commits
                # presumed dead. A blind re-put after a long freeze would
                # resurrect the tombstone before the main thread's
                # last-moment liveness check, letting it publish a
                # reference to data vacuum already swept. A gone marker
                # means we were declared dead — stop beating; the pre-PUT
                # check below turns that into CommitAborted. Residual
                # window: vacuum's delete landing between this get and
                # the put (microseconds, vs the hour-scale staleness
                # threshold) — the same lease assumption the module
                # docstring states.
                if self.store.get(begin_key) is None:
                    return
                # liveness, not CAS: an overwrite refreshes store mtime
                self.store.put(begin_key, str(time.time()).encode())

        beat = threading.Thread(target=_beat, daemon=True,
                                name="os-snapshot-heartbeat")
        beat.start()
        try:
            url = self.store.data_url(f"{_DATA}/{uid}", create=True)
            if df is not None:
                df.write.mode("errorifexists").parquet(url)
            else:
                writer(url)
            self._fire("after_data_write")
            while True:
                head, state = self._head()
                if epoch is not None:
                    replay = _replay_version(state, epoch)
                    if replay is not None:
                        self._cleanup_data(uid)
                        return replay
                version = 0 if head is None else head + 1
                new_state = {
                    "version": version,
                    "commits": state["commits"]
                    + [{"v": version, "mode": mode, "epoch": epoch,
                        "dir": uid, "meta": meta}],
                }
                # last-moment liveness check: if vacuum tombstoned our
                # begin marker (it deletes the marker BEFORE the data),
                # the data may already be partial — abort, never publish
                # a reference to swept data (module docstring).
                if self.store.get(begin_key) is None:
                    raise CommitAborted(
                        f"staging prefix data/{uid} was vacuumed mid-commit"
                        f" (process presumed dead); nothing was published"
                    )
                self._fire("before_log_put")
                if self.store.put_if_absent(
                    _log_key(version),
                    json.dumps(new_state).encode(),
                ):
                    self._fire("after_log_put")
                    return version
                # lost the race: someone else published `version`; retry
                # on top of the new head (our data prefix is reusable)
        finally:
            stop.set()
            beat.join(timeout=5.0)
            self.store.delete(begin_key)

    def _cleanup_data(self, uid: str) -> None:
        for key in self.store.list(f"{_DATA}/{uid}/"):
            self.store.delete(key)

    # ------------------------------------------------------------- read
    def _resolve(self, version: int | None, state: dict | None = None):
        if state is None:
            _, state = self._head()
        v = state["version"] if version is None else version
        if v is None:
            raise FileNotFoundError("no committed version in the log")
        if not any(c["v"] == v for c in state["commits"]):
            raise FileNotFoundError(f"version {v} is not in the commit log")
        base = 0
        for c in state["commits"]:
            if c["v"] <= v and c["mode"] == "overwrite":
                base = c["v"]
        return [
            self.store.data_url(f"{_DATA}/{c['dir']}")
            for c in state["commits"]
            if base <= c["v"] <= v
        ]

    def resolve_urls(self, version: int | None = None) -> list[str]:
        """Data URLs composing the snapshot (public seam for non-Spark
        readers — the multi-process sweep reads them with pyarrow)."""
        return self._resolve(version)

    def read(self, version: int | None = None, schema=None):
        urls = self._resolve(version)
        if schema is not None:
            return self.spark.read.schema(schema).parquet(*urls)
        if len(urls) == 1:
            return self.spark.read.parquet(urls[0])
        return self.spark.read.option("mergeSchema", True).parquet(*urls)

    # ----------------------------------------------------------- vacuum
    def vacuum(self, keep: int = 1,
               stale_staging_secs: float = 3600.0) -> list[int]:
        """Prune versions no retained read needs (publishing the pruned
        state as a NEW log entry through the same conditional-PUT race),
        then delete data prefixes nothing references: vacuumed versions'
        prefixes, and unreferenced crash orphans whose begin marker is
        absent or stale. Log entries themselves are never deleted
        (module docstring: a lagging listing must always find a floor)."""
        removed: list[int] = []
        while True:
            head, state = self._head()
            if head is None or state["version"] is None:
                return []
            latest = state["version"]
            oldest_retained = max(0, latest - keep + 1)
            base = 0
            for c in state["commits"]:
                if c["v"] <= oldest_retained and c["mode"] == "overwrite":
                    base = c["v"]
            pruned = [c for c in state["commits"] if c["v"] >= base]
            removed = [c["v"] for c in state["commits"] if c["v"] < base]
            if not removed:
                break
            new_state = {"version": latest, "commits": pruned}
            self._fire("before_vacuum_put")
            if self.store.put_if_absent(
                _log_key(head + 1),
                json.dumps(new_state).encode(),
            ):
                state = new_state
                break
            # a commit raced in on top of head; recompute against it
        # ---- data deletion, all outside any coordination ----
        referenced = {c["dir"] for c in state["commits"]}
        # (re-read head: the prune PUT above may have been published by
        # this call or raced; either way delete only what the CURRENT
        # state cannot reference)
        _, live_state = self._head()
        referenced |= {c["dir"] for c in live_state["commits"]}
        now = time.time()
        cutoff = now - stale_staging_secs
        seen_prefixes: set[str] = set()
        for key in self.store.list(_DATA + "/"):
            rest = key[len(_DATA) + 1:]
            if rest.endswith(".begin"):
                seen_prefixes.add(rest[: -len(".begin")])
            else:
                seen_prefixes.add(rest.split("/", 1)[0])
        for uid in sorted(seen_prefixes):
            if uid in referenced:
                continue
            marker = f"{_DATA}/{uid}.begin"
            ages = [self.store.mtime(marker)]
            # the data objects' own store-side ages too, not just the
            # marker: (a) a commit that died between its data write and
            # its next heartbeat has a stale-ish marker but fresh data;
            # (b) a commit that published and deleted its marker between
            # our state read and this check has NO marker but fresh data
            # — both must survive. The store's last-modified is the only
            # clock an object store offers, and it is enough.
            ages += [self.store.mtime(k)
                     for k in self.store.list(f"{_DATA}/{uid}/")]
            if any(a is not None and a > cutoff for a in ages):
                continue
            # tombstone FIRST: a frozen-but-alive committer re-checks the
            # marker right before its log PUT and aborts when it is gone
            self.store.delete(marker)
            self._fire("after_tombstone")
            self._cleanup_data(uid)
        # crash-orphaned CAS/put temp files are hidden from list() by
        # design (they are not objects), so the sweep above can never
        # reach them — reclaim them store-side past the same staleness
        # threshold (review r7: unbounded leak otherwise)
        sweep_temps = getattr(self.store, "sweep_stale_temps", None)
        if sweep_temps is not None:
            sweep_temps(stale_staging_secs)
        return sorted(removed)


def local_fs_path(url: str) -> str:
    """Normalize a bare path or ``file:///`` URL to a plain filesystem
    path; RAISE for any other scheme. The shared closed-world gate for
    every os-level protocol in the kit (SnapshotTable's rename/O_EXCL,
    fs_mutex): running one against 's3a://...' as a
    literal string silently splits state between a cwd-relative
    's3a:' junk tree and the real store (review r7)."""
    from urllib.parse import urlparse

    parsed = urlparse(url)
    scheme = parsed.scheme.lower()
    if scheme in ("",) or len(scheme) <= 1:  # bare path / drive letter
        return url
    if scheme == "file":
        if parsed.netloc:
            # file://host/share is a remote-authority form; resolving it
            # as CWD-relative 'host/share' would commit to a wrong local
            # dir (review r7). Only file:///abs/path (empty authority)
            # maps to a local path.
            raise ValueError(
                f"file URL with non-empty authority {parsed.netloc!r}: "
                "use file:///absolute/path (three slashes) for local "
                "paths"
            )
        return parsed.path
    raise NotImplementedError(
        f"{url!r} (scheme {scheme!r}) is not a local filesystem path: "
        "the POSIX rename/O_EXCL protocols are only safe on local "
        "storage — use ObjectStoreSnapshotTable with an ObjectStore "
        "binding for object stores (sources/objectstore.py)"
    )


def snapshot_table_for(spark, url: str, store: ObjectStore | None = None):
    """One entry point for the durability kit: pick the commit protocol
    that is actually safe on the target storage.

    - plain path / ``file://`` → POSIX ``SnapshotTable`` (rename +
      fs_mutex). These are the ONLY schemes that fall through to the
      rename protocol — dispatch is closed-world (review r7: an
      allowlist of object schemes failed OPEN for hdfs://, dbfs://,
      uppercase S3A://, ..., silently running machine-local locks
      against multi-host storage);
    - any other scheme → ``ObjectStoreSnapshotTable`` over the injected
      ``store`` binding. No S3/GCS/Azure ``ObjectStore`` subclass ships
      in this environment (nothing to test against), so a remote URL
      WITHOUT a binding raises with the exact extension point instead of
      silently running the rename protocol on storage where rename is
      neither atomic nor present — the failure mode this factory exists
      to prevent;
    - an explicit ``store`` always wins (tests inject SimulatedObjectStore
      under any name).
    """
    if store is not None:
        return ObjectStoreSnapshotTable(spark, store)
    from .versioned_sink import SnapshotTable

    try:
        path = local_fs_path(url)
    except NotImplementedError:
        raise NotImplementedError(
            f"no ObjectStore binding for {url!r}: implement the "
            "four-operation sources/objectstore.ObjectStore surface for "
            "this store (put_if_absent = its conditional PUT) and pass "
            "it as store=. The POSIX rename protocol is only safe on "
            "local/POSIX filesystems."
        ) from None
    return SnapshotTable(spark, path)


def _replay_version(state: dict, epoch) -> int | None:
    """SnapshotTable._replay_version, shared verbatim: both manifests use
    the same {"commits": [{"v", "epoch", ...}]} shape, and the replay /
    checkpoint-reset contract (including the error text tests match on)
    must never diverge between the duals (review r7 — this was a copy)."""
    from .versioned_sink import SnapshotTable

    return SnapshotTable._replay_version(state, epoch)
