"""End-to-end training-corpus curation job: the §2.12 operator family
composed into one runnable pipeline with a sharded parquet output.

    raw documents
      -> PII scrub (regex chain, scan-side)
      -> quality + language filter (scan-side predicates)
      -> context-window chunking (shuffle-free generate)
      -> exact chunk-level dedup (keep-first window-min, ONE hash exchange)
      -> deterministic shard assignment (mixer, no RNG)
      -> partitioned write by shard_id + per-shard manifest

Catalyst sees a single tree up to the write: filters reach the scan,
chunking multiplies rows without an exchange, and the corpus moves
through exactly TWO shuffles — the dedup hash exchange and the
shard-clustering repartition at the write edge (the second is the write's
own layout step, not overhead: it is what makes each output shard one
task's sequential write). Deterministic end to end — re-running over the
same input produces byte-identical shard membership (retry- and
backfill-safe).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import curation as C
from .operators import sampling as SMP
from .operators import text as X

MIN_QUALITY = 0.05
CHUNK = 32
STRIDE = 24


def curate_corpus(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    lang: str | None = "en",
    sample_pct: int = 100,
    n_shards: int = 8,
) -> dict:
    """Run the curation flow over ``docs`` (doc_id, text, lang, ...) and
    write ``{out_dir}/shard_id=*/...`` plus return a metrics dict."""
    from pyspark.sql import Observation

    keep = ("lang",) if lang is not None else ()
    scrubbed = C.scrub_pii(docs, "doc_id", "text", keep_cols=keep).withColumnRenamed(
        "clean_text", "text"
    )
    # docs_in rides the same write job: scrub_pii is row-1:1 with the
    # input, so observing here (BEFORE the lang filter) counts the raw
    # corpus without the separate full docs.count() scan the old metrics
    # block paid (review r4).
    obs_in = Observation("curate_in")
    scrubbed = scrubbed.observe(obs_in, F.count(F.lit(1)).alias("n"))
    if lang is not None:
        scrubbed = scrubbed.filter(F.col("lang") == lang)

    obs = Observation("curate_kept")
    kept = scrubbed.filter(
        (F.length("text") > 0) & (X.quality_score(F.col("text")) > MIN_QUALITY)
    ).observe(obs, F.count(F.lit(1)).alias("n"))
    chunks = X.chunk_tokens(kept.select("doc_id", "text"), "doc_id", "text", CHUNK, STRIDE)
    keyed = chunks.select(
        "doc_id",
        "chunk_idx",
        "n_chunk_tokens",
        "chunk_text",
        # 2^32 shift: collision-free for doc_id < 2^30 and any realistic
        # chunk count (the old *100000 aliased doc N's chunk 100000 onto
        # doc N+1's chunk 0, which could defeat keep-first dedup and share
        # sampling fate; review r3)
        (F.col("doc_id") * F.lit(4294967296) + F.col("chunk_idx")).alias(
            "chunk_key"
        ),
        F.md5("chunk_text").alias("chunk_hash"),
    )
    survivors = keyed.withColumn(
        "keep_key", F.min("chunk_key").over(Window.partitionBy("chunk_hash"))
    ).filter(F.col("chunk_key") == F.col("keep_key"))
    if sample_pct < 100:
        survivors = survivors.filter(
            SMP.hash_bucket(F.col("chunk_key")) < sample_pct
        )
    # THE one mixer spelling (operators/sampling.mix_rank — review r6: a
    # hand-inlined copy here would miss the next mixer fix, silently
    # shifting shard assignment relative to every other sampling site)
    rank = SMP.mix_rank(F.col("chunk_key"), 23)
    # Leakage-safe split: keyed on the chunk's CONTENT hash, so identical
    # chunks (and re-curated corpora) can never land one copy in train and
    # another in test (operators/sampling.assign_split).
    split = SMP.assign_split(
        F.conv(F.substring("chunk_hash", 1, 15), 16, 10).cast("long")
    )
    sharded = (
        survivors.withColumn("shard_id", F.pmod(rank, n_shards).cast("int"))
        .withColumn("split", split)
        .select(
            "shard_id", "split", "doc_id", "chunk_idx", "n_chunk_tokens", "chunk_text"
        )
    )
    (
        sharded.repartition(n_shards, "shard_id")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(out_dir)
    )
    # Explicit schema on the read-back: a run where zero chunks survive
    # (empty corpus, everything language/quality-filtered) writes only
    # _SUCCESS, and schema INFERENCE over that raises
    # UNABLE_TO_INFER_SCHEMA instead of yielding the zero-count metrics
    # this function promises (review r4; verified behavior).
    written = spark.read.schema(sharded.schema).parquet(out_dir)
    manifest = (
        written.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_chunk_tokens").alias("n_tokens"),
        )
        .orderBy("shard_id")
        .collect()
    )
    splits = {
        r["split"]: r["n"]
        for r in written.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # docs_in AND docs_kept ride the write job via the Observation API
    # (the build_aggregates pattern) and chunk/token totals are exact
    # sums of the per-shard manifest — no lineage re-execution, no
    # separate input scan (reviews r3/r4). One carve-out: when the kept
    # set is EMPTY, AQE's empty-relation propagation can replace the
    # write's whole input subtree — CollectMetrics nodes included — and
    # the observation never materializes (measured: Observation.get
    # raises through toPyRow). Only that corner falls back to explicit
    # counts, paid exclusively on empty runs.
    def _obs_n(o, fallback_df):
        try:
            return o.get["n"]
        except Exception:
            return fallback_df.count()

    return {
        "docs_in": _obs_n(obs_in, docs),
        "docs_kept": _obs_n(obs, kept),
        "chunks_written": sum(r["n_chunks"] for r in manifest),
        "tokens_written": sum(r["n_tokens"] for r in manifest),
        "shards": {
            int(r["shard_id"]): {"n_chunks": r["n_chunks"], "n_tokens": r["n_tokens"]}
            for r in manifest
        },
        "splits": splits,
        "out_dir": os.path.abspath(out_dir),
    }
