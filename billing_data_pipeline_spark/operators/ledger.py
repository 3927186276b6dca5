"""Processed-files ledger (SURVEY.md §2.9 ST5, §4 OPT2).

The reference keeps a ``processed_files`` table (filename PRIMARY KEY,
file_hash, processed_at, record_count — reference: pipeline/assets/
ingest.py:164-172) and skips any file whose (filename, md5) is already
recorded, reprocessing when the hash changed (ingest.py:217-231).

Here the ledger is not a table of its own: its rows ride in the ``meta``
of ``raw_billing``'s append commits (``FileLedger``), so a file and the
rows it contributed publish together. Every file is content-hashed on
every run, streamed through md5 in bounded 8 MiB chunks, in one of two
tiers. A small local lake (summed size below ``DRIVER_HASH_MAX_BYTES``)
is hashed on the driver, like the reference's hashlib loop
(ingest.py:218-220): starting a Python worker for a handful of files cost
more than the md5 itself. Anything larger, or on a remote scheme, is
hashed *distributed*: executors stream each file through pyarrow's
filesystem layer inside a mapInPandas kernel and the driver only sees
(path, hash) pairs — so hashing scales with the cluster and, unlike a
``binaryFile`` + ``md5(content)`` scan, never materializes a whole file as
one row value (binaryFile caps a column at Int.MaxValue bytes, so one
>=2 GiB input would fail the whole ingest).

In Structured Streaming mode the checkpointed file index subsumes
name-based skipping; this ledger remains the *content*-hash layer for
modified-in-place redetection, which Spark's file source does not do
(SURVEY.md §2.9 ST2 divergence note).
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("filename", T.StringType(), False),
        T.StructField("file_hash", T.StringType(), False),
        T.StructField("processed_at", T.TimestampType(), False),
        T.StructField("record_count", T.LongType(), False),
    ]
)

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


def hash_files(spark: SparkSession, paths: list[str]) -> DataFrame:
    """(filename, file_hash) for every input file, hashed in STREAMED
    chunks — O(8 MB) memory per file regardless of its size.

    ``filename`` is the partition-qualified ``ledger_key`` of the path,
    not the basename (see ``ledger_key``). Globs are expanded driver-side
    (one listing, same as binaryFile's). Local inputs summing to less
    than ``DRIVER_HASH_MAX_BYTES`` are hashed on the driver; otherwise the
    hash work distributes one file per row across the cluster via
    pyarrow's filesystem layer (local + s3/gcs where pyarrow has
    credentials). Both tiers return the same rows.
    """
    import glob as _glob
    import re

    from collections.abc import Iterator

    expanded: list[str] = []
    for p in paths:
        bare = re.sub(_SCHEME_RE, "/", p) if p.startswith("file:") else p
        if re.match(_SCHEME_RE, bare):
            expanded.append(bare)  # remote scheme: no local glob
        else:
            # existence-first (review r7): a CONCRETE filename containing
            # glob metachars — 'billing[v2].csv' from lake.inputFiles() —
            # must not be expanded as a character class (glob returned []
            # and the file was silently never ingested); only a
            # non-existent path with metachars is a pattern.
            if any(c in bare for c in "*?[") and not os.path.exists(bare):
                hits = sorted(_glob.glob(bare))
            else:
                hits = [bare]
            # abspath here, not just at open time (advice r5): the hit is
            # recorded verbatim as the ledger filename, and a RELATIVE
            # local path would yield a relative ledger key that can never
            # match ingest's absolute ledger_key(input_file_name()) keys —
            # silently defeating hash-skip.
            expanded.extend(os.path.abspath(h) for h in hits)

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
        filesystem, rel = pafs.FileSystem.from_uri(
            uri if re.match(_SCHEME_RE, uri) else os.path.abspath(uri)
        )
        h = hashlib.md5()
        with filesystem.open_input_stream(rel) as f:
            while chunk := f.read(8 << 20):
                h.update(chunk)
        return h.hexdigest()

    def hashed(ps) -> list[tuple[str, str]]:
        return [(re.sub(_SCHEME_RE, "/", p), md5_of(p)) for p in ps]

    # driver tier: starting a Python worker costs more than the md5 of a
    # small local lake
    if not any(re.match(_SCHEME_RE, p) for p in expanded) and (
        sum(os.stat(p).st_size for p in expanded) < DRIVER_HASH_MAX_BYTES
    ):
        return spark.createDataFrame(hashed(expanded), schema)

    def kernel(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            yield pd.DataFrame(
                hashed(list(pdf["path"])), columns=["filename", "file_hash"]
            )

    n = max(1, len(expanded))
    return (
        spark.createDataFrame([(p,) for p in expanded], "path string")
        .repartition(min(n, spark.sparkContext.defaultParallelism))
        .mapInPandas(kernel, schema)
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

    def load(self) -> DataFrame:
        """Latest entry per filename as a ``LEDGER_SCHEMA`` frame."""
        return self.spark.createDataFrame(
            [
                (
                    e["filename"],
                    e["file_hash"],
                    datetime.fromisoformat(e["processed_at"]),
                    e["record_count"],
                )
                for e in self.latest().values()
            ],
            LEDGER_SCHEMA,
        )

    def filter_unprocessed(self, candidates: DataFrame) -> DataFrame:
        """Candidates (filename, file_hash) the ledger does not hold.

        A file re-appears for processing when its name is new OR its hash
        changed — i.e. skip only exact (filename, file_hash) matches,
        matching the reference's skip/reprocess split (ingest.py:223-231).
        The ledger is already on the driver, so this is a set filter, not
        a join (the hex hash has no newline, so the pair key is
        unambiguous).
        """
        done = [f"{f}\n{e['file_hash']}" for f, e in self.latest().items()]
        return candidates.filter(
            ~F.concat_ws("\n", "filename", "file_hash").isin(done)
        )

    def record(self, processed: list[tuple[str, str, int]], rows: DataFrame) -> int:
        """Append ``rows`` and record (filename, file_hash, record_count)
        for ``processed`` in ONE commit; latest entry per filename wins on
        load. A zero-row ``rows`` still commits (an empty, schema-carrying
        version) so the files are recorded. Returns the published
        version."""
        now = datetime.now(timezone.utc).replace(tzinfo=None).isoformat()
        files = [
            {"filename": f, "file_hash": h, "record_count": n, "processed_at": now}
            for f, h, n in processed
        ]
        return self.table.commit(rows, mode="append", meta={"files": files})
