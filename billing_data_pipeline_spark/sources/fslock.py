"""Shared POSIX file mutex with stale-break and holder heartbeat.

The repo's one metadata lock: SnapshotTable's manifest lock, the single
commit log every warehouse table goes through. Semantics:

- acquire = ``O_CREAT|O_EXCL`` on the lock path (the portable POSIX
  mutex), writing a per-acquisition token;
- a lock whose mtime is older than ``stale_secs`` is treated as a crashed
  holder and broken SINGLE-WINNER (rename to a unique name, then unlink —
  two concurrent breakers cannot both "unlink stale then create fresh"
  and shear each other's fresh locks, review r4);
- while held, a daemon thread touches the lock every ``heartbeat_secs``
  so a LIVE holder whose critical section outlives ``stale_secs`` (a slow
  Spark merge+write on a busy cluster — advice r5: ledger writes are NOT
  guaranteed to complete in milliseconds) is never mistaken for a crashed
  one and never has its lock stolen mid-mutation;
- release re-reads the lock and unlinks ONLY if it still carries this
  acquisition's token, so a holder whose lock was broken (and re-acquired
  by someone else) cannot release the new holder's lock (review r4).

Residual window, documented rather than hidden: a holder whose WHOLE
PROCESS freezes longer than ``stale_secs`` (SIGSTOP, VM pause) stops
heart-beating and can still be broken mid-mutation — the same assumption
every mtime-lease lock makes. On an object store, swap for a
conditional-PUT protocol.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
import uuid


@contextlib.contextmanager
def fs_mutex(
    lock_path: str,
    timeout_secs: float = 120.0,
    stale_secs: float = 600.0,
    heartbeat_secs: float = 30.0,
):
    """Exclusive advisory lock on ``lock_path`` (see module docstring)."""
    token = f"{os.getpid()}:{uuid.uuid4().hex}"
    deadline = time.monotonic() + timeout_secs
    while True:
        try:
            fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, token.encode())
            os.close(fd)
            break
        except FileExistsError:
            try:
                stale = time.time() - os.path.getmtime(lock_path) > stale_secs
            except OSError:
                # holder released between probes (ENOENT) — or a
                # persistent stat failure (EACCES, network FS): either
                # way fall through to the deadline check so a broken
                # environment times out instead of busy-spinning forever
                stale = False
            if stale:
                broken = lock_path + f".broken.{uuid.uuid4().hex}"
                try:
                    os.rename(lock_path, broken)  # single-winner break
                    os.unlink(broken)
                except OSError:
                    pass  # another breaker won the rename — retry
                continue
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"could not acquire {lock_path} within {timeout_secs}s"
                )
            time.sleep(0.02)
    stop = threading.Event()

    def _beat():
        while not stop.wait(heartbeat_secs):
            try:
                # Touch ONLY while the lock still carries this
                # acquisition's token. A stale-broken-then-re-acquired
                # lock belongs to a NEW holder; blindly utime-ing by path
                # would keep the new holder's lock eternally fresh even
                # after that holder crashes, making it unbreakable while
                # this process lives (advice r6).
                with open(lock_path) as f:
                    if f.read() != token:
                        return  # no longer ours — stop touching
                os.utime(lock_path, None)
                # Residual, BOUNDED window (review r7): a stale-break +
                # re-acquire landing between the read above and the utime
                # puts one touch on the new holder's lock — extending its
                # staleness clock by at most one period, once (the next
                # beat sees the foreign token and stops). Reaching it
                # requires this process to have already been frozen past
                # stale_secs, i.e. the lease assumption was already
                # forfeit; mtime-based staleness cannot close it without
                # an O_EXCL rename dance that would cost every HEALTHY
                # beat. The post-check detects the collision early:
                with open(lock_path) as f:
                    if f.read() != token:
                        return
            except OSError:
                return  # lock broken out from under us — stop touching

    beat = threading.Thread(target=_beat, daemon=True, name="fslock-heartbeat")
    beat.start()
    try:
        yield
    finally:
        stop.set()
        beat.join(timeout=5.0)
        try:
            with open(lock_path) as f:
                if f.read() == token:
                    os.unlink(lock_path)
        except OSError:
            pass
