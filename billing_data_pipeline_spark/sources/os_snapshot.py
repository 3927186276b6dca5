"""The warehouse's path gate: every snapshot table opens through
``snapshot_table_for``, which maps a local path or ``file:///`` URL to
the POSIX ``SnapshotTable`` (versioned_sink.py) and refuses any other
scheme.

Warehouses are POSIX-only. ``SnapshotTable`` commits by rename under
``flock``, which are exact only on a local filesystem; run on an
object store or HDFS they would silently split or tear a table, so the
gate fails closed instead. An object-store commit log (conditional-PUT
manifests, the Delta Lake design) lived here until commit ``d12c338``;
no caller reached it, and its code and tests are in git at that commit.
"""

from __future__ import annotations


def local_fs_path(url: str) -> str:
    """Normalize a bare path or ``file:///`` URL to a plain filesystem
    path; RAISE for any other scheme. The closed-world gate for
    SnapshotTable's rename and ``flock`` protocol: running it against
    's3a://...' as a literal string silently splits state between a
    cwd-relative 's3a:' junk tree and the real store (review r7), and a
    ``flock`` on a network mount may be local to one host."""
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
        "warehouses must be a local path or a file:/// URL, because the "
        "POSIX rename/flock commit protocol is only safe on local storage"
    )


def snapshot_table_for(spark, url: str):
    """The ``SnapshotTable`` at ``url``, which must be a plain path or a
    ``file:///`` URL. Dispatch is closed-world (an allowlist of object
    schemes failed OPEN for hdfs://, dbfs://, uppercase S3A://,
    ..., silently running machine-local locks against multi-host
    storage): every other scheme raises ``NotImplementedError``, and a
    ``file://host`` authority raises ``ValueError``."""
    from .versioned_sink import SnapshotTable

    return SnapshotTable(spark, local_fs_path(url))
