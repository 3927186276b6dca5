"""Processed-files ledger (SURVEY.md §2.9 ST5, §4 OPT2).

The reference keeps a ``processed_files`` table (filename PRIMARY KEY,
file_hash, processed_at, record_count — reference: pipeline/assets/
ingest.py:164-172) and skips any file whose (filename, md5) is already
recorded, reprocessing when the hash changed (ingest.py:217-231).

Here the ledger is not a table of its own: its rows ride in the ``meta``
of ``raw_billing``'s append commits (``FileLedger``), so a file and the
rows it contributed publish together.

The whole discovery path — list (``csv_source.list_partition_files``),
stat gate, hash, ledger diff — runs on the driver, so a poll that finds
nothing new launches no Spark job. Each entry carries ``stat =
[st_size, st_mtime_ns, st_ctime_ns, st_ino]``, from one ``os.stat``
taken before the file is read (``file_stat``). A
local file whose stat still equals its latest entry's is trusted
unchanged and not hashed. Every other file is content-hashed: a new one,
one whose stat moved, one whose entry has a null stat (a racy stat, see
``RACY_WINDOW_NS``, or an entry written before stats were recorded), and
every file on a remote scheme, which has no ctime. ctime is what makes
the gate safe without a full re-hash option: a rewrite that keeps the
size and puts the mtime back with ``os.utime`` still moves it. A file
hashed and found unchanged (a ``touch``) is hashed again on every poll
until an ingest commit carries its refreshed stat; no commit is made for
a stat alone, because it would move ``raw_billing``'s version and
rebuild every derived table.

Hashing streams each file through md5 in bounded 8 MiB chunks, in one of
two tiers. Files summing to less than ``DRIVER_HASH_MAX_BYTES`` on local
disk are hashed on the driver, like the reference's hashlib loop
(ingest.py:218-220): starting a Python worker for a handful of files cost
more than the md5 itself. Anything larger, or on a remote scheme, is
hashed *distributed*: executors stream each file through pyarrow's
filesystem layer inside a mapInPandas kernel and the driver collects only
(path, hash) pairs — so hashing scales with the cluster and, unlike a
``binaryFile`` + ``md5(content)`` scan, never materializes a whole file as
one row value (binaryFile caps a column at Int.MaxValue bytes, so one
>=2 GiB input would fail the whole ingest).
"""

from __future__ import annotations

import os
import re
import time
from datetime import datetime, timezone
from urllib.parse import unquote

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SCHEME_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*:/+"

#: Summed input size below which local files are hashed on the driver;
#: larger or remote inputs hash on the executors. Measured on 4 cores
#: (``local[4]``, 8 page-cached files per size, wall seconds): the driver
#: took 0.9 s at 256 MiB, 2.5 s at 1 GiB, 4.3 s at 2 GiB and 9.3 s at
#: 4 GiB; the executors 3.7 / 4.4 / 4.8 / 7.1 s when the hash job is the
#: process's first Python-worker job (a fresh process per poll), and
#: 1.0 / 1.5 / 2.1 / 3.9 s with workers already running. The crossover is
#: about 2 GiB cold and 256 MiB to 1 GiB warm; 1 GiB bounds the loss either
#: way to about 1-2 s. The driver used less CPU at every size.
DRIVER_HASH_MAX_BYTES = 1 << 30

#: A stat whose mtime or ctime lies within this many nanoseconds of the
#: moment it was taken is recorded as null, so the next poll hashes the
#: file. File timestamps come from a coarse clock (a kernel tick, or a
#: whole second on some filesystems): a write landing in the same tick
#: just after the stat would leave size, mtime and ctime all unchanged,
#: and the gate would trust content it never hashed. git's index has the
#: same "racily clean" problem.
RACY_WINDOW_NS = 1_000_000_000


def ledger_key(path):
    """Scheme-normalized FULL path — the ledger key.

    Basenames collide across Hive partitions (every partition's file is
    named ``billing.csv`` under ``year=*/month=*/day=*/``), so a
    basename-keyed ledger would evict every other partition's entry on each
    upsert and silently break the skip-unchanged contract (OPT2/ST5). The
    reference sidesteps this by renaming downloads to partition-qualified
    local names (reference: pipeline/s3_utils.py:189); with no download
    step here, the full path IS the partition-qualified name. The URI
    scheme is stripped so every render (``file:/`` vs ``file:///`` vs a
    bare path) normalizes to the same key.
    """
    return F.regexp_replace(path, _SCHEME_RE, "/")


def _local(path: str) -> str | None:
    """The absolute local path to open for a bare path or a ``file:`` URI
    (percent-decoded: Spark lists ``bill%20ing.csv`` for ``bill ing.csv``);
    None on a remote scheme."""
    if path.startswith("file:"):
        return unquote(re.sub(_SCHEME_RE, "/", path))
    return None if re.match(_SCHEME_RE, path) else os.path.abspath(path)


def file_key(path: str) -> str:
    """The ledger filename of one input path: a URI without its scheme,
    still percent-encoded as ``ledger_key(input_file_name())`` renders it,
    or a bare path made ABSOLUTE — a relative one would never match those
    keys, silently defeating hash-skip (advice r5)."""
    if re.match(_SCHEME_RE, path):
        return re.sub(_SCHEME_RE, "/", path)
    return os.path.abspath(path)


def file_stat(path: str) -> list[int] | None:
    """``[st_size, st_mtime_ns, st_ctime_ns, st_ino]`` of a local file, the
    stat the gate compares with its ledger entry's. Take it before the
    file is read, so a write after it moves the next poll's stat.

    None when it cannot be trusted: a remote scheme (no ctime) or a racy
    stat (``RACY_WINDOW_NS``); the file is then hashed on every poll.
    Raises ``FileNotFoundError`` for a file removed since it was listed.
    """
    local = _local(path)
    if local is None:
        return None
    now = time.time_ns()
    st = os.stat(local)
    if any(abs(now - t) < RACY_WINDOW_NS for t in (st.st_mtime_ns, st.st_ctime_ns)):
        return None
    return [st.st_size, st.st_mtime_ns, st.st_ctime_ns, st.st_ino]


def hash_files(spark: SparkSession, paths: list[str]) -> list[Row]:
    """Row(filename, file_hash) for every input file, hashed in STREAMED
    chunks — O(8 MB) memory per file regardless of its size.

    ``filename`` is the partition-qualified ``file_key`` of the path,
    not the basename (see ``ledger_key``). Each path is a concrete file,
    opened as named: no glob expansion. Local inputs summing to less
    than ``DRIVER_HASH_MAX_BYTES`` are hashed on the driver; otherwise the
    hash work distributes one file per row across the cluster via
    pyarrow's filesystem layer (local + s3/gcs where pyarrow has
    credentials) and the driver collects the pairs. Both tiers return the
    same rows. A file removed since it was listed gets no row, as the
    lake read (``ignoreMissingFiles``) skips it too.
    """
    from collections.abc import Iterator

    # (ledger filename, path to open) per input file
    targets = [(file_key(p), _local(p) or p) for p in paths]

    schema = T.StructType(
        [
            T.StructField("filename", T.StringType(), False),
            T.StructField("file_hash", T.StringType(), False),
        ]
    )

    def md5_of(p: str) -> str:
        import hashlib

        from pyarrow import fs as pafs

        # Hadoop spells S3 "s3a://" (the only scheme Spark's reader
        # accepts) but pyarrow's filesystem layer only knows "s3://" —
        # map it or every remote ingest dies at the ledger-hash step with
        # ArrowInvalid. abfss:// -> abfs:// is the same vendor-spelling
        # split.
        uri = re.sub("^s3a://", "s3://", p)
        uri = re.sub("^abfss://", "abfs://", uri)
        filesystem, rel = pafs.FileSystem.from_uri(uri)
        h = hashlib.md5()
        with filesystem.open_input_stream(rel) as f:
            while chunk := f.read(8 << 20):
                h.update(chunk)
        return h.hexdigest()

    def hashed(pairs) -> list[tuple[str, str]]:
        out = []
        for name, p in pairs:
            try:
                out.append((name, md5_of(p)))
            except FileNotFoundError:
                pass  # removed since it was listed
        return out

    def size(p: str) -> int:
        try:
            return os.stat(p).st_size
        except FileNotFoundError:
            return 0

    # driver tier: starting a Python worker costs more than the md5 of a
    # small local lake
    if not any(re.match(_SCHEME_RE, p) for _, p in targets) and (
        sum(size(p) for _, p in targets) < DRIVER_HASH_MAX_BYTES
    ):
        return [Row(filename=f, file_hash=h) for f, h in hashed(targets)]

    def kernel(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            yield pd.DataFrame(
                hashed(zip(pdf["filename"], pdf["path"])),
                columns=["filename", "file_hash"],
            )

    n = max(1, len(targets))
    return (
        spark.createDataFrame(targets, "filename string, path string")
        .repartition(min(n, spark.sparkContext.defaultParallelism))
        .mapInPandas(kernel, schema)
        .collect()
    )


class FileLedger:
    """The processed-files ledger as a view over a table's commit log.

    Each ``record`` is ONE ``mode="append"`` commit to the table: the new
    rows plus, in the same log entry's ``meta``, the ledger rows for the
    files they came from. Rows and ledger therefore publish by one
    manifest swap — a crash before it leaves neither, after it both — so a
    retried ingest never re-appends rows whose files were not recorded
    (NULL-key rows, which no anti-join can catch, included).

    The ledger is the latest entry per filename over the table's RETAINED
    commit log. Any future overwrite or compaction of the table must carry
    the folded ledger (``entries()``) in its own commit's ``meta``, or the
    vacuum that retires the older commits forgets their files."""

    def __init__(self, spark: SparkSession, table_path: str):
        # looked up at call time so a wrapped factory sees every table
        from ..sources import os_snapshot

        self.spark = spark
        # the factory is the closed-world path gate: a local path or
        # file:/// gets the POSIX table, any other scheme raises
        self.table = os_snapshot.snapshot_table_for(spark, table_path)

    def entries(self, version: int | None = None) -> list[dict]:
        """Every ledger row in the retained log, oldest commit first —
        driver-side, no Spark job. A ``version`` stops the fold at that
        commit, so the ledger matches a snapshot read at it."""
        return [
            e
            for c in self.table.commits()
            if version is None or c["v"] <= version
            for e in ((c.get("meta") or {}).get("files") or ())
        ]

    def latest(self, version: int | None = None) -> dict[str, dict]:
        """The latest entry per filename, as of ``version``."""
        return {e["filename"]: e for e in self.entries(version)}

    def filter_unprocessed(self, candidates: list[Row]) -> list[Row]:
        """Candidates (filename, file_hash) the ledger does not hold.

        A file re-appears for processing when its name is new OR its hash
        changed — i.e. skip only exact (filename, file_hash) matches,
        matching the reference's skip/reprocess split (ingest.py:223-231).
        The ledger is already on the driver, so this is a set difference,
        not a join.
        """
        done = {(f, e["file_hash"]) for f, e in self.latest().items()}
        return [r for r in candidates if (r["filename"], r["file_hash"]) not in done]

    def record(self, processed: list[dict], rows: DataFrame) -> int:
        """Append ``rows`` and, in ONE commit, the ledger entries
        ``processed``: each gives ``filename``, ``file_hash`` and
        ``record_count``, and may give ``stat`` (null when absent) and
        ``processed_at`` (now when absent; a refreshed entry keeps its
        own). The latest entry per filename wins in ``latest``. A zero-row
        ``rows`` still commits (an empty, schema-carrying version) so the
        files are recorded. Returns the published version."""
        now = datetime.now(timezone.utc).replace(tzinfo=None).isoformat()
        files = [{"processed_at": now, "stat": None, **e} for e in processed]
        return self.table.commit(rows, mode="append", meta={"files": files})
