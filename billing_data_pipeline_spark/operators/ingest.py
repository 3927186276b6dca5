"""Idempotent incremental ingest (SURVEY.md §2.3 J1, §2.9 ST5, §4 OPT2-3).

The reference enforces idempotency with three mechanisms:
1. a 4-key LEFT JOIN .. IS NULL anti-join insert so re-delivered rows are
   dropped (reference: pipeline/assets/ingest.py:248-257),
2. a UNIQUE constraint as the backstop (reference: ingest.py:190),
3. a ``processed_files`` md5 ledger so unchanged files are never rescanned
   (reference: ingest.py:164-172, 217-231).

Spark has no constraints, so uniqueness becomes an operator guarantee:
``dedup_within_batch`` + ``dedup_append``. NULL-key rows never match the
anti-join (SQL join semantics) and therefore always append — preserved
exactly by ``left_anti``.

Scale notes:
- The anti-join prunes the *existing* side to key columns only before the
  join (column pruning reaches the parquet scan), so the shuffle carries
  4 narrow key columns, not 14-column rows.
- For true upserts at scale, a Delta/Iceberg MERGE subsumes this pattern;
  plain parquet + anti-join append keeps the engine storage-agnostic.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dedup_within_batch(batch: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Drop intra-batch natural-key duplicates.

    The reference lets intra-batch dupes trip the UNIQUE constraint and fail
    the load (ingest.py:190); idempotency being the stated intent, this
    engine dedups within the batch instead, keeping one arbitrary row per
    key, which matches the reference's "any one row per key" end state.
    One ``first()`` of a struct of the other columns keeps the partial
    aggregate at the keys plus two fields; ``dropDuplicates``' one
    ``first()`` per column passed Spark's 25-field limit for plan strings,
    and every ``persist()`` of the batch logged a truncation WARN.

    NULL-keyed rows pass through UNTOUCHED (review r7): grouping treats
    NULL == NULL, but SQL UNIQUE (the reference's constraint) and this
    module's own contract say NULL-key rows are never duplicates of each
    other — two distinct transactions sharing a NULL invoice_id were
    silently collapsed to one.
    """
    from functools import reduce
    from operator import or_

    keys = list(keys)
    rest = [c for c in batch.columns if c not in keys]
    has_null = reduce(or_, (F.col(k).isNull() for k in keys))
    one_per_key = (
        batch.filter(~has_null)
        .groupBy(*keys)
        .agg(F.first(F.struct(*rest)).alias("_row"))
        .select(*keys, "_row.*")
    )
    return one_per_key.select(*batch.columns).unionByName(batch.filter(has_null))


def dedup_append(
    batch: DataFrame,
    existing: DataFrame,
    keys: Sequence[str],
    dedup_batch: bool = True,
    strict: bool = False,
) -> DataFrame:
    """Rows of ``batch`` whose natural key is absent from ``existing``.

    Equivalent to the reference's LEFT JOIN .. WHERE r.key IS NULL insert
    (ingest.py:248-257). NULL keys never match => always kept, matching SQL
    semantics on both engines.

    ``dedup_batch=False`` skips the intra-batch dedup (a full
    shuffle of the batch): use it when the batch is known key-unique — the
    anti-join itself then needs no batch-side shuffle at all (broadcast
    existing keys).

    ``strict=True`` replicates the reference's UNIQUE-constraint behavior
    (ingest.py:190): intra-batch duplicate keys abort the load with
    ``ValueError`` instead of being silently collapsed. (NULL-keyed rows
    are never duplicates of each other, same as SQL UNIQUE.)
    """
    keys = list(keys)
    existing_keys = existing.select(*keys)
    if strict:
        non_null = batch.na.drop(subset=keys)
        dupes = (
            non_null.groupBy(*keys).count().filter(F.col("count") > 1).limit(1).collect()
        )
        if dupes:
            key_vals = {k: dupes[0][k] for k in keys}
            raise ValueError(
                f"strict dedup_append: intra-batch duplicate natural key {key_vals} "
                "(reference UNIQUE-constraint semantics, ingest.py:190)"
            )
    # strict mode: the batch just passed the uniqueness check, and
    # dropDuplicates would collapse NULL-keyed rows (it treats NULLs as
    # equal — SQL UNIQUE does not), so skip the in-batch collapse entirely.
    clean = (
        batch
        if strict
        else (dedup_within_batch(batch, keys) if dedup_batch else batch)
    )
    # a USING join moves the key columns first: restore the batch's
    # order, or appends to one table land in two column orders
    return clean.join(existing_keys, on=keys, how="left_anti").select(
        *batch.columns
    )


def upsert_latest_wins(
    existing: DataFrame, updates: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """UPSERT (MERGE: update matched, insert unmatched) as a pure
    DataFrame expression: take every update row, plus the existing rows
    whose key has no update — the reference's ledger upsert pattern
    (pipeline/assets/ingest.py:260-266, DELETE + re-INSERT per filename)
    generalized to any key set.

    Scale shape: one left_anti of existing against the UPDATE KEYS ONLY
    (column-pruned before the shuffle; broadcast when the update batch is
    small — the common incremental case) + a union. No full-outer join,
    no window: the rewrite touches each existing row once. Storage-wise
    this is the engine-agnostic MERGE; on a transactional table format the
    same plan feeds MERGE INTO."""
    untouched = existing.join(
        updates.select(*keys), on=list(keys), how="left_anti"
    )
    return updates.unionByName(untouched)


def append_new_rows_per_file(
    batch: DataFrame,
    ledger,
    keys: Sequence[str],
    file_col: str,
    files: dict[str, dict],
    refreshed: Sequence[dict] = (),
) -> tuple[int, dict[str, int]]:
    """Idempotent append that also reports rows-added PER source file.

    ``ledger`` is the target table's ``operators.ledger.FileLedger``.
    ``file_col`` names a column in ``batch`` carrying the source-file key
    (it is dropped before the write); ``files`` maps every file of the
    batch to its ledger entry's fields (``file_hash``, ``stat``). Mirrors
    the reference's per-file new_record_count bookkeeping
    (ingest.py:262-265) without appending one file at a time: one
    anti-join against ``ledger.table``, a cheap groupBy on the surviving
    rows for the per-file split, then ONE ``ledger.record`` commit that
    publishes the rows and every file's ledger entry together — a file
    whose rows were all already present records 0, and a crash anywhere
    before the commit leaves neither. ``refreshed`` are whole ledger
    entries of other files that ride along in the same commit.
    """
    table = ledger.table
    if table.latest_version() is None:
        new_rows = dedup_within_batch(batch, keys)
    else:
        # the table holds what this appends: read it with the batch's
        # schema instead of merging one parquet footer per commit
        existing = table.read(schema=batch.drop(file_col).schema)
        new_rows = dedup_append(batch, existing, keys)
    new_rows = new_rows.persist()
    try:
        per_file = {
            r[file_col]: r["n"]
            for r in new_rows.groupBy(file_col)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        entries = [
            {**e, "filename": f, "record_count": per_file.get(f, 0)}
            for f, e in files.items()
        ]
        ledger.record(entries + list(refreshed), new_rows.drop(file_col))
    finally:
        new_rows.unpersist()
    return sum(per_file.values()), per_file


def assert_unique(df: DataFrame, keys: Sequence[str]) -> None:
    """Uniqueness assertion replacing the reference's UNIQUE constraint.

    Cheap relative to the load (one aggregate over key columns); use in
    tests / data-quality gates, not per-query.
    """
    dupes = (
        df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 1)
    )
    sample = dupes.take(5)
    if sample:
        raise AssertionError(f"duplicate natural keys (showing <=5): {sample}")


def bloom_prefiltered_new_rows(
    batch: DataFrame,
    existing: DataFrame,
    key: Column | str,
    num_bits: int = 1 << 23,
    n_probes: int = 5,
) -> DataFrame:
    """EXACT incremental dedup with a bloom-pruned join probe — the 100 TB
    ingest accelerator for the ``dedup_append`` anti-join shape.

    Build: each scan partition of the existing side folds its keys into a
    local ``num_bits`` bitmap (numpy, mapInPandas); the driver ORs the
    per-partition bitmaps — materialization is bounded by
    #partitions x bitmap bytes (1 MB default), NEVER by key count. Probe:
    batch rows test the broadcast bitmap scan-side (vectorized double
    hashing over JVM xxhash64 columns — build and probe share the exact
    same hash values by construction):

    - "definitely not seen" rows (bloom has no false negatives) skip the
      anti-join entirely — for mostly-new batches that is almost all;
    - "maybe seen" rows (true dups + ~<1% false positives at defaults)
      are verified by the exact LEFT ANTI join against existing keys.

    The union is EXACTLY the plain anti-join result — the bloom prunes
    probe-side join input from |batch| to |dups| + fpp x |new| without
    changing the answer (oracle = the plain NOT IN twin)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    k = F.col(key) if isinstance(key, str) else key
    m = int(num_bits)

    def hashed(df: DataFrame, kc: Column) -> DataFrame:
        # Kirsch-Mitzenmacher double hashing over two independent JVM
        # xxhash64 values — identical on build and probe by construction
        return df.withColumn("_h1", F.xxhash64(kc)).withColumn(
            "_h2", F.xxhash64(kc, F.lit(1))
        )

    def positions(h1: "np.ndarray", h2: "np.ndarray") -> "np.ndarray":
        u1 = h1.astype(np.uint64)
        u2 = h2.astype(np.uint64)
        probes = np.arange(n_probes, dtype=np.uint64)
        return ((u1[:, None] + probes[None, :] * u2[:, None]) % np.uint64(m))

    bitmap_schema = T.StructType([T.StructField("bits", T.BinaryType())])

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bits = np.zeros(m // 8, dtype=np.uint8)
        any_rows = False
        for pdf in batches:
            if not len(pdf):
                continue
            any_rows = True
            pos = positions(
                pdf["_h1"].to_numpy(np.int64), pdf["_h2"].to_numpy(np.int64)
            ).ravel()
            np.bitwise_or.at(bits, pos >> np.uint64(3),
                             np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
        if any_rows:
            yield pd.DataFrame({"bits": [bits.tobytes()]})

    # key dtypes must agree: xxhash64 hashes e.g. STRING '5' and INT 5 to
    # different values, so a dtype drift would silently break the bloom's
    # no-false-negative guarantee (review r3) — align batch to existing
    if isinstance(key, str):
        e_type = existing.schema[key].dataType
        b_type = batch.schema[key].dataType
        if e_type != b_type:
            k = F.col(key).cast(e_type)

    partial_df = (
        hashed(existing.select(k.alias("_k")), F.col("_k"))
        .select("_h1", "_h2")
        .mapInPandas(build, bitmap_schema)
    )

    def or_fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = None
        for pdf in batches:
            for b in pdf["bits"]:
                a = np.frombuffer(b, dtype=np.uint8)
                acc = a.copy() if acc is None else (acc | a)
        if acc is not None:
            yield pd.DataFrame({"bits": [acc.tobytes()]})

    # two-level OR: executors fold their partials first, so the driver
    # collects at most 32 bitmaps instead of one per scan partition
    # (10k partitions x 1 MB would be 10 GB driver-side; review r3).
    # repartition, NOT coalesce: coalesce propagates upstream through the
    # narrow chain, collapsing the whole scan+hash+build stage to 32
    # tasks (review r4 — a ~300x build-parallelism throttle at the cited
    # scale); the shuffle moves only the 1 MB partial bitmaps.
    partials = (
        partial_df.repartition(32).mapInPandas(or_fold, bitmap_schema).collect()
    )
    bitmap = np.zeros(m // 8, dtype=np.uint8)
    for r in partials:
        bitmap |= np.frombuffer(r["bits"], dtype=np.uint8)
    # ship ONCE per executor as a real broadcast, not per-task closure
    bc = batch.sparkSession.sparkContext.broadcast(bitmap.tobytes())

    b = hashed(batch.withColumn("_bk", k), F.col("_bk"))
    out_schema = T.StructType(
        list(b.schema.fields) + [T.StructField("_maybe", T.BooleanType())]
    )

    def probe_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bm = np.frombuffer(bc.value, dtype=np.uint8)
        for pdf in batches:
            if not len(pdf):
                continue
            pos = positions(
                pdf["_h1"].to_numpy(np.int64), pdf["_h2"].to_numpy(np.int64)
            )
            hit = (
                bm[(pos >> np.uint64(3)).astype(np.int64)]
                >> (pos & np.uint64(7)).astype(np.uint8)
            ) & 1
            pdf = pdf.copy()
            pdf["_maybe"] = hit.all(axis=1).astype(bool)
            yield pdf

    # Persist (eagerly — the two union branches execute as independent
    # stages that would otherwise BOTH rerun the batch scan + hash +
    # bloom probe; review r4). swept_persist bounds residency to the
    # last operator call.
    from ._persist import swept_persist

    probed = swept_persist(b.mapInPandas(probe_rows, out_schema), eager=True)
    definitely_new = probed.filter(~F.col("_maybe"))
    # no distinct() on the existing keys: LEFT ANTI never multiplies rows,
    # and a distinct would hash-exchange the full corpus key set
    maybe_seen = probed.filter(F.col("_maybe")).join(
        existing.select(k.alias("_ek")),
        F.col("_bk") == F.col("_ek"),
        "left_anti",
    )
    drop = ["_bk", "_h1", "_h2", "_maybe"]
    return definitely_new.unionByName(maybe_seen).drop(*drop)
