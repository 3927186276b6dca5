"""[EXT] Corpus-curation operators for LLM-training pipelines (SURVEY.md
§2.12 family): PII scrubbing, segment-level dedup, benchmark
decontamination, and per-source token-budget mixing.

All four are pure built-in column expressions / joins — no Python in the
hot path — and each has a DuckDB-reproducible formulation so the catalog
entries are fully hash-checked:

- PII scrub: a fixed chain of regexp_replace passes whose patterns avoid
  every Java-vs-RE2 divergence (no lookaround, no backrefs); counts are
  taken per pass on the progressively-scrubbed text so overlapping
  patterns can't make the engines disagree.
- Segment dedup: reuses text.chunk_tokens with stride == chunk for
  non-overlapping segments; global keep-first is the lexicographic-min
  (doc_id, idx) rule, identical to the oracle's row_number()=1.
- Decontamination: the eval side's distinct n-gram set is tiny relative
  to the corpus, so Spark broadcasts it — the scan-side semi-join is the
  scale path (no shuffle of the 100 TB train side).
- Budget mixing: integer-only budget arithmetic (DIV), multiplicative-
  mixer ordering from sampling.py — no RNG, stable under retry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sampling import mix_rank, mix_rank_sql
from .text import JAVA_WS_SPLIT_SQL as WS
from .text import chunk_tokens, chunk_tokens_oracle_sql

#: Gram windows per chunk in ``decontaminate``'s kernel: bounds its peak
#: memory whatever a batch's gram count (tests shrink it to force chunks).
_WINDOW_CHUNK = 1 << 20

#: ``decontaminate_bloom``'s filter size and probe count.
BLOOM_BITS_PER_GRAM = 16
BLOOM_HASHES = 4

#: ``mix_to_budget``: the kept share of all tokens, and its mixer salt.
BUDGET_NUM = 1
BUDGET_DEN = 2
MIX_SALT = 17

#: ``epoch_shard_manifest``'s mixer salt.
SHARD_SALT = 23

# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# (name, pattern, replacement) applied IN ORDER. Patterns restricted to the
# regex intersection Java (Spark) and RE2 (DuckDB) agree on: character
# classes, bounded repetition, \b word boundaries.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\b[0-9]{3}-[0-9]{4}\b", "<PHONE>"),
)


def scrub_pii(
    df: DataFrame, id_col: str, text_col: str, keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Redact PII-shaped spans; emit the clean text + per-type hit counts
    (plus any ``keep_cols`` carried through, so callers never need a
    self-join to recover sibling columns).

    Counts are evaluated against the text as already scrubbed by earlier
    passes (email first, so an address's digits can't double-count as a
    phone) — the same sequential semantics the SQL oracle replays. Pure
    regexp_count/regexp_replace: whole-stage codegen, shuffle-free, scales
    with the scan. fan_out widens a single-file local scan whose ~9
    sequential regex passes per row would otherwise run on one core
    (0.43 -> 0.24 s at sf0.1 under full materialization; no-op at real
    partition counts — count() timing used to hide this stage entirely
    by pruning the scrubbed columns out of the plan).
    """
    from ..session import fan_out

    df = fan_out(df, divisor=1)
    cur = F.col(text_col)
    counts = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(F.regexp_count(cur, F.lit(pat)).alias(f"n_{name}s"))
        cur = F.regexp_replace(cur, pat, repl)
    return df.select(
        F.col(id_col), *keep_cols, cur.alias("clean_text"), *counts
    )


def scrub_pii_sql(table: str, id_col: str, text_expr: str) -> str:
    """DuckDB twin: the same ordered replace chain ('g' = global, matching
    Spark's always-global regexp_replace)."""
    cur = text_expr
    counts = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(
            f"CAST(len(regexp_extract_all({cur}, '{pat}')) AS INT) AS n_{name}s"
        )
        cur = f"regexp_replace({cur}, '{pat}', '{repl}', 'g')"
    cols = ",\n       ".join([id_col, f"{cur} AS clean_text"] + counts)
    return f"SELECT {cols}\nFROM {table}"


# ---------------------------------------------------------------------------
# Segment-level (paragraph-style) dedup
# ---------------------------------------------------------------------------


def segment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg: int = 10,
) -> DataFrame:
    """Line/paragraph-level dedup (the CCNet move, applied to word windows):
    split each doc into non-overlapping ``seg``-token segments, drop every
    repeat of a segment already seen elsewhere in the corpus (keep-first by
    lexicographic (doc_id, idx)), and reassemble the surviving text.

    Returns (id, n_segments, segments_kept, clean_text) per document —
    EXCEPT documents whose text is NULL/empty/whitespace-only, which
    produce zero segments and therefore no output row (review r7; the
    oracle drops them identically). A curation pipeline rewriting the
    corpus from clean_text should left-join the ids back if such
    documents must survive as empty shells (repeated_ngram_stats shows
    the pattern).

    Scale shape: one hash-partitioned window over the 16-byte segment hash
    (the only shuffle over segment rows), then one groupBy(doc) to
    reassemble. Segment rows are ~n_tokens/seg per doc — smaller than the
    token explosion of n-gram methods. Keep-first via window-min avoids a
    join-back, reusing the same exchange for dedup decision and dedup
    application. Window partitions cannot be split: a boilerplate segment
    repeated billions of times lands its ENTIRE row set on one reducer
    (LIMITATIONS.md).
    """
    segs = chunk_tokens(df, id_col, text_col, chunk=seg, stride=seg)
    # expr-string window (r11 construction pass — see _names.sql_ident):
    # the same min-struct-over-hash keep-first rule, fewer py4j
    # round-trips; _first is pruned before the shuffle (unreferenced by
    # the reassembly aggregate)
    from .._names import sql_ident as _q

    qid = _q(id_col)
    flagged = segs.selectExpr(
        "*",
        f"min(struct({qid}, chunk_idx)) "
        "OVER (PARTITION BY md5(chunk_text)) AS _first",
    ).selectExpr(
        "*",
        f"(({qid} = _first.{qid}) AND (chunk_idx = _first.chunk_idx)) "
        "AS _kept",
    )
    return _reassemble(flagged, id_col)


def boilerplate_strip(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg: int = 10,
    max_df: int = 1,
) -> DataFrame:
    """C4-style boilerplate removal: drop every segment whose corpus-wide
    document frequency exceeds ``max_df`` — from EVERY document, including
    the first (unlike ``segment_dedup``'s keep-first rule, which preserves
    one canonical copy). Returns the same (id, n_segments, segments_kept,
    clean_text) shape.

    Scale shape: segment doc-frequency is a groupBy over the 16-byte hash
    whose two-phase distinct aggregate collapses duplicates map-side (no
    unsplittable window partition — a segment repeated billions of times
    is pre-aggregated before the exchange). The join-back carries ONLY
    the boilerplate hashes (docfreq filtered to _df > max_df BEFORE the
    join — the offending set, typically tiny and broadcastable; kept =
    no match), so document text never shuffles for the dedup decision;
    then one per-doc regroup."""
    segs = chunk_tokens(df, id_col, text_col, chunk=seg, stride=seg)
    keyed = segs.withColumn("_h", F.md5(F.col("chunk_text")))
    boiler = (
        keyed.groupBy("_h")
        .agg(F.count_distinct(F.col(id_col)).alias("_df"))
        .filter(F.col("_df") > max_df)
        .select("_h", F.lit(True).alias("_boiler"))
    )
    flagged = keyed.join(boiler, on="_h", how="left").withColumn(
        "_kept", F.col("_boiler").isNull()
    )
    return _reassemble(flagged, id_col)


def boilerplate_strip_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg: int = 10,
    max_df: int = 1,
) -> str:
    """DuckDB twin of boilerplate_strip."""
    segs = chunk_tokens_oracle_sql(table, id_col, text_col, seg, seg)
    return f"""
WITH segs AS ({segs}),
dfreq AS (
    SELECT md5(chunk_text) AS h, COUNT(DISTINCT {id_col}) AS d
    FROM segs GROUP BY 1
),
flagged AS (
    SELECT s.{id_col}, s.chunk_idx, s.chunk_text, f.d <= {max_df} AS kept
    FROM segs s JOIN dfreq f ON md5(s.chunk_text) = f.h
)
SELECT {id_col},
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS segments_kept,
       COALESCE(string_agg(CASE WHEN kept THEN chunk_text END, ' '
                           ORDER BY chunk_idx), '') AS clean_text
FROM flagged
GROUP BY {id_col}
"""


def _reassemble(flagged: DataFrame, id_col: str) -> DataFrame:
    """Per-doc rollup shared by both segment_dedup forms."""
    # agg expressions as expr strings (r11 construction pass): identical
    # trees — no-ELSE CASE (NULLs dropped by collect_list), array_sort's
    # default struct ordering, the same casts — fewer py4j round-trips
    return flagged.groupBy(id_col).agg(
        F.expr("CAST(count(1) AS BIGINT) AS n_segments"),
        F.expr("CAST(sum(CAST(_kept AS INT)) AS BIGINT) AS segments_kept"),
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "CASE WHEN _kept THEN struct(chunk_idx, chunk_text) END)), "
            "s -> s.chunk_text), ' ') AS clean_text"
        ),
    )


def segment_dedup_sql(
    table: str, id_col: str = "doc_id", text_col: str = "text", seg: int = 10
) -> str:
    """DuckDB twin: same segments (chunk_tokens oracle with stride=chunk),
    row_number()=1 over (hash ORDER BY id, idx) == the lexicographic-min
    keep rule; string_agg reassembly coalesced to '' for all-dropped docs
    (Spark's array_join of an empty array is '')."""
    segs = chunk_tokens_oracle_sql(table, id_col, text_col, seg, seg)
    return f"""
WITH segs AS ({segs}),
ranked AS (
    SELECT {id_col}, chunk_idx, chunk_text,
           row_number() OVER (
               PARTITION BY md5(chunk_text) ORDER BY {id_col}, chunk_idx
           ) = 1 AS kept
    FROM segs
)
SELECT {id_col},
       COUNT(*) AS n_segments,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS segments_kept,
       COALESCE(
           string_agg(CASE WHEN kept THEN chunk_text END, ' ' ORDER BY chunk_idx),
           '') AS clean_text
FROM ranked
GROUP BY {id_col}
"""


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap vs an eval set)
# ---------------------------------------------------------------------------


def _ngrams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """Distinct word n-grams per document (id, ngram).

    The per-doc dedup happens INSIDE the row (array_distinct over the
    gram array) before the explode — a DataFrame-level distinct() here
    would hash-shuffle the full corpus-sized (doc, ngram) set, which is
    exactly what decontaminate promises never to do to the train side.
    """
    from .text import ws_tokens

    toks = ws_tokens(text_col)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("_tk") - (n - 1)),
            lambda i: F.array_join(F.slice("_tk", i, n), " "),
        )
    )
    return (
        df.select(F.col(id_col), toks.alias("_tk"))
        .filter(F.size("_tk") >= n)
        .select(id_col, F.explode(grams).alias("ngram"))
    )


def repeated_ngram_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 8
) -> DataFrame:
    """Cross-document duplicate-span analysis (the corpus-level statistic
    behind substring-dedup decisions): for every document, how many of its
    distinct word ``n``-grams also occur in at least one OTHER document,
    and the share of its n-grams that do. High shares flag template/
    boilerplate documents and near-duplicate clusters that survived
    doc-level dedup.

    Scale shape: per-doc gram dedup is array_distinct inside the row (no
    shuffle — see _ngrams), so each (doc, gram) row is already unique;
    gram document-frequency is then ONE compact groupBy(gram) with
    map-side partials, and the rejoin back to the gram rows is an
    equi-join on the gram key that AQE can skew-split if one template
    gram dominates. Nothing ever moves document text — only grams and
    counts.
    """
    grams = _ngrams(df, id_col, text_col, n)
    gram_df = grams.groupBy("ngram").agg(
        F.count(F.lit(1)).cast("bigint").alias("_docs_with")
    )
    per_doc = (
        grams.join(gram_df, on="ngram", how="inner")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ngrams"),
            F.sum((F.col("_docs_with") >= 2).cast("int"))
            .cast("bigint")
            .alias("n_shared"),
        )
    )
    return df.select(id_col).join(per_doc, on=id_col, how="left").select(
        id_col,
        F.coalesce("n_ngrams", F.lit(0)).cast("bigint").alias("n_ngrams"),
        F.coalesce("n_shared", F.lit(0)).cast("bigint").alias("n_shared"),
        F.when(
            F.coalesce("n_ngrams", F.lit(0)) > 0,
            F.col("n_shared") / F.col("n_ngrams"),
        )
        .otherwise(F.lit(0.0))
        .alias("shared_frac"),
    )


def repeated_ngram_stats_sql(
    table: str, id_col: str = "doc_id", text_col: str = "text", n: int = 8
) -> str:
    """DuckDB twin of repeated_ngram_stats (same distinct-gram set via
    ngrams_sql, same df >= 2 rule, ratio = one IEEE division of identical
    BIGINT operands)."""
    return f"""
WITH grams AS ({ngrams_sql(table, id_col, text_col, n)}),
gdf AS (
    SELECT ngram, CAST(COUNT(*) AS BIGINT) AS docs_with
    FROM grams GROUP BY ngram
),
per_doc AS (
    SELECT {id_col},
           CAST(COUNT(*) AS BIGINT) AS n_ngrams,
           CAST(SUM(CASE WHEN docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared
    FROM grams JOIN gdf USING (ngram)
    GROUP BY {id_col}
)
SELECT t.{id_col},
       COALESCE(n_ngrams, 0) AS n_ngrams,
       COALESCE(n_shared, 0) AS n_shared,
       CASE WHEN COALESCE(n_ngrams, 0) > 0
            THEN CAST(n_shared AS DOUBLE) / n_ngrams
            ELSE 0.0 END AS shared_frac
FROM {table} t LEFT JOIN per_doc USING ({id_col})
"""


def decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Flag training documents that share any word ``n``-gram with the eval
    set (the standard pre-training decontamination pass). Returns every
    train doc with its distinct-shared-n-gram count and a contaminated flag.

    Scale shape (r4, the semantic_decontaminate pattern): eval benchmarks
    are KBs–MBs against a 100 TB corpus — the documented broadcast-
    dimension contract — so the eval texts COLLECT to the driver (one
    plain scan job, no explode/distinct exchange) and their distinct-gram
    set ships once per executor via ``sparkContext.broadcast``. The train
    side is then ONE exchange-free mapInPandas pass: per doc, tokenize,
    slide the n-window, count distinct grams present in the set. No
    joins, no groupBy, no shuffle anywhere — the train corpus is never
    moved, and per-task state is the broadcast set.

    Earlier formulations, all measured at sf0.1 warm (min-of-5, idle
    box): JVM in-row grams + broadcast LEFT join + per-doc groupBy =
    0.48 s (the interpreted HOF gram build dominates; the eval
    distinct+collect sub-job alone cost 0.26 s); two-scan inner-join +
    id-rejoin (r3) = same at sf0.1, one extra corpus scan at scale. This
    form: 0.44 s = eval-text collect 0.09 + driver gram build 0.01 +
    corpus kernel job 0.31 (of which ~0.22 s is the bare mapInPandas
    floor — a noop Arrow pass costs that much locally) — i.e. the
    remaining DuckDB gap is TWO job floors, with no removable stage
    left. Python/JVM tokenizer drift is not a hazard for the CONTAINMENT
    test (both sides are built by the same Python tokenizer), but
    Python-vs-DuckDB '\\s' semantics are: the splitter pins re.ASCII so
    it matches RE2's/Java's ASCII-only '\\s' (see _ws_re).
    """
    from collections.abc import Iterator

    from pyspark.sql import types as T

    from ..session import fan_out

    ws = _ws_re()
    ev_grams: set[str] = set()
    for (txt,) in eval_set.select(text_col).collect():
        if txt is None:
            continue
        tk = [t for t in ws.split(txt) if t]
        for i in range(len(tk) - n + 1):
            ev_grams.add(" ".join(tk[i : i + n]))
    bc = train.sparkSession.sparkContext.broadcast(ev_grams)

    schema = T.StructType(
        [
            T.StructField(id_col, train.schema[id_col].dataType),
            T.StructField("n_hit_ngrams", T.LongType()),
            T.StructField("contaminated", T.BooleanType()),
        ]
    )

    # r12 (guide §4.2): the per-doc Python loop (regex split, n-window
    # string joins, per-gram set probes — all interpreted, per row) is
    # replaced by a fully vectorized Arrow kernel. Tokenization is RE2
    # C-side on the explicit class [\t\n\x0b\f\r ]+, PROVEN equal to
    # _ws_re's re.ASCII \s+ (both are exactly ASCII whitespace; the
    # equivalence — including \v, NBSP, U+2000.. non-splits — is pinned
    # by test_decontaminate_vectorized_kernel_matches_naive). Gram strings
    # build as n shifted slices of the flat token array joined in C
    # (binary_join_element_wise), windows that straddle a doc boundary
    # are masked via the token->doc index, and membership is ONE C-level
    # hash probe (pc.is_in) against the broadcast eval grams instead of
    # a Python set lookup per gram. Distinct-hit counting only ever
    # touches the (rare) surviving hits. Window slices are processed in
    # bounded chunks so peak memory is independent of batch gram count
    # (the portable_dedup ADVICE pattern).
    window_chunk = _WINDOW_CHUNK

    def kernel(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc

        ev = bc.value
        ev_arr = pa.array(list(ev), type=pa.string())
        for batch in batches:
            n_rows = batch.num_rows
            ids = batch.column(id_col)
            hits = np.zeros(n_rows, dtype=np.int64)
            if len(ev) and n_rows:
                toks = pc.split_pattern_regex(
                    batch.column(text_col), r"[\t\n\x0b\f\r ]+"
                )
                flat = pc.list_flatten(toks)
                doc_of = pc.list_parent_indices(toks)
                keep = pc.not_equal(flat, "")
                flat = pc.filter(flat, keep)
                doc_of = (
                    pc.filter(doc_of, keep)
                    .to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                )
                total = len(flat)
                n_win = total - n + 1
                hit_docs: list[np.ndarray] = []
                hit_grams: list = []
                for a in range(0, max(n_win, 0), window_chunk):
                    b = min(a + window_chunk, n_win)
                    parts = [flat.slice(a + o, b - a) for o in range(n)]
                    grams = pc.binary_join_element_wise(*parts, " ")
                    ok = pc.is_in(grams, value_set=ev_arr).to_numpy(
                        zero_copy_only=False
                    )
                    # window must start and end inside ONE document
                    ok &= doc_of[a:b] == doc_of[a + n - 1 : b + n - 1]
                    if ok.any():
                        sel = pa.array(ok)
                        hit_docs.append(doc_of[a:b][ok])
                        hit_grams.append(grams.filter(sel))
                if hit_docs:
                    uniq = pd.DataFrame(
                        {
                            "d": np.concatenate(hit_docs),
                            "g": pa.concat_arrays(hit_grams).to_pandas(),
                        }
                    ).drop_duplicates()
                    counts = uniq.groupby("d").size()
                    hits[counts.index.to_numpy()] = counts.to_numpy()
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(hits, type=pa.int64()),
                    pa.array(hits > 0, type=pa.bool_()),
                ],
                schema=pa.schema(
                    [
                        pa.field(id_col, ids.type),
                        pa.field("n_hit_ngrams", pa.int64()),
                        pa.field("contaminated", pa.bool_()),
                    ]
                ),
            )

    # CPU-bound per row: fan the scan out if it arrived in fewer
    # partitions than cores (no-op at scale; measured win locally).
    return fan_out(train.select(id_col, text_col), divisor=2).mapInArrow(
        kernel, schema
    )


def decontaminate_bloom(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Bloom-prefilter decontamination — the 100 TB path when the eval
    set is too large for ``decontaminate``'s broadcast Python SET of
    gram strings (a set of 100M grams is ~10 GB of Python objects per
    executor; the Bloom filter is n_grams * BLOOM_BITS_PER_GRAM BITS —
    200 MB for the same 100M at 16, with a ~0.24% false-positive rate at
    BLOOM_HASHES = 4). Results are EXACT, not approximate: the Bloom only
    PREFILTERS candidate (doc, gram) rows, and an exact string join
    against the eval grams removes its false positives (Bloom filters
    have no false negatives, so nothing is lost) — hence this tier rides
    the SAME value-hash oracle as the exact tier.

    Plan shape: eval grams hash JVM-side (xxhash64) and COLLECT as
    int64s (8 B/gram — the bounded eval-side contract, cheaper than the
    exact tier's string set); the bit array builds driver-side in numpy
    and ships once per executor via sparkContext.broadcast. The train
    side is scan -> in-row distinct grams (explode, map-side) ->
    xxhash64 -> one exchange-free mapInPandas probe that emits ONLY
    surviving rows (contaminated docs' hits + FPs, typically a vanishing
    fraction), then the tiny survivor set joins the eval grams exactly
    and regroups per doc. The corpus text never shuffles; the only
    exchanges carry survivors.

    Double hashing (Kirsch-Mitzenstein): position_i = h + i*h2 mod m,
    h2 an odd affine mix of h — all uint64 wraparound, vectorized numpy.
    m is rounded up to a power of two so the modulo is a mask.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    # Arrow collect, not .collect() (ADVICE r10): Row objects materialize
    # ~100 B/gram of Python boxes on the driver — at the 100M-gram scale
    # this tier advertises that is ~10 GB of driver heap, the exact blowup
    # the Bloom tier exists to avoid. toArrow() lands the distinct hashes
    # in one contiguous int64 buffer at the contract's 8 B/gram.
    ev_hashes = (
        _ngrams(eval_set, id_col, text_col, n)
        .select(F.xxhash64("ngram").alias("h"))
        .distinct()
        .toArrow()
        .column("h")
        .to_numpy(zero_copy_only=False)
        .astype(np.uint64)
    )

    m = 1 << max(10, int(len(ev_hashes) * BLOOM_BITS_PER_GRAM - 1).bit_length())
    mask = np.uint64(m - 1)
    words = np.zeros(m >> 6, dtype=np.uint64)
    GOLD = np.uint64(0x9E3779B97F4A7C15)
    with np.errstate(over="ignore"):
        h2 = ev_hashes * GOLD | np.uint64(1)  # odd => full-period stride
        for i in range(BLOOM_HASHES):
            pos = (ev_hashes + np.uint64(i) * h2) & mask
            np.bitwise_or.at(
                words, (pos >> np.uint64(6)).astype(np.int64),
                np.uint64(1) << (pos & np.uint64(63)),
            )
    bc = train.sparkSession.sparkContext.broadcast(words)

    grams = _ngrams(train, id_col, text_col, n).withColumn(
        "_h", F.xxhash64("ngram")
    )
    schema = T.StructType(
        [
            T.StructField(id_col, train.schema[id_col].dataType),
            T.StructField("ngram", T.StringType()),
        ]
    )

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w = bc.value
        for pdf in batches:
            h = pdf["_h"].to_numpy(np.int64).astype(np.uint64)
            with np.errstate(over="ignore"):
                hh2 = h * GOLD | np.uint64(1)
                ok = np.ones(len(h), dtype=bool)
                for i in range(BLOOM_HASHES):
                    pos = (h + np.uint64(i) * hh2) & mask
                    bits = (
                        w[(pos >> np.uint64(6)).astype(np.int64)]
                        >> (pos & np.uint64(63))
                    ) & np.uint64(1)
                    ok &= bits.astype(bool)
            yield pdf.loc[ok, [id_col, "ngram"]]

    survivors = grams.mapInPandas(probe, schema)
    # exact confirm: a plain equi-join (NOT hash equality — an xxhash64
    # collision would otherwise flag a clean doc; string equality keeps
    # this tier bit-identical to the exact tier and its oracle). Both
    # sides are small — survivors by construction, eval by contract.
    evg = _ngrams(eval_set, id_col, text_col, n).select("ngram").distinct()
    hits = (
        survivors.join(evg, "ngram", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit_ngrams"))
    )
    return train.select(id_col).join(hits, id_col, "left").select(
        id_col,
        F.coalesce("n_hit_ngrams", F.lit(0)).cast("bigint").alias("n_hit_ngrams"),
        (F.coalesce("n_hit_ngrams", F.lit(0)) > 0).alias("contaminated"),
    )


def _ws_re():
    """ASCII-only whitespace splitter: Python's ``\\s`` is Unicode-aware
    (NBSP, U+2000–U+200A, ...) while BOTH engines this must mirror are
    ASCII-only — Java's ``\\s`` in the replaced JVM ``F.split`` and RE2's
    in the DuckDB oracle's regexp_split_to_array. Without re.ASCII a doc
    containing non-ASCII whitespace (common in scraped web text)
    tokenizes differently here than in the oracle and the hash gate
    breaks (review r4)."""
    import re

    return re.compile(r"\s+", re.ASCII)


def ngrams_sql(src: str, id_col: str, text_col: str, n: int) -> str:
    """DuckDB twin of _ngrams. Docs shorter than n yield none
    (generate_series with a negative stop is empty).

    Element accesses, never a list slice (r9, giant-doc probe): DuckDB's
    ``tk[i : i+k]`` inside a per-position context costs O(len(tk)) per
    call — the old lateral+slice form went quadratic on a single
    700k-token document (88 GB RSS, >90 s; it was one of four such
    oracles). ``tk[i]`` is O(1) — the same construction the
    n-gram-Jaccard and portable-MinHash oracles always used — so the
    gram is an n-term ``||`` chain, intra-row."""
    gram = " || ' ' || ".join(
        f"tk[i + {j}]" if j else "tk[i]" for j in range(n)
    )
    return f"""
SELECT DISTINCT {id_col},
       unnest(list_transform(generate_series(1, len(tk) - {n - 1}),
                             i -> {gram})) AS ngram
FROM (
    SELECT {id_col},
           list_filter(regexp_split_to_array({text_col}, '{WS}'), x -> x <> '') AS tk
    FROM {src}
) s
"""


# ---------------------------------------------------------------------------
# Token-budget corpus mixing
# ---------------------------------------------------------------------------


def mix_to_budget(
    df: DataFrame,
    source_col: str,
    id_col: str,
    token_count_col,
    weight_col,
) -> DataFrame:
    """Per-source token-budget corpus mixing: give source s a budget of
    ``(BUDGET_NUM/BUDGET_DEN) * total_tokens * w_s / sum(w)`` tokens and
    greedily keep its documents in deterministic mixed-hash order until the
    budget is exhausted. Returns a per-source summary
    (source, budget_tokens, docs_kept, tokens_kept).

    Contract notes (review r7): (a) a source whose budget is smaller
    than its first-ranked document keeps zero docs and is ABSENT from
    the summary (not a docs_kept=0 row) — the SQL twin shares the
    semantics, so the gate holds; a downstream mixer must treat a
    missing source as budget-starved. (b) ``weight_col`` must be
    CONSTANT per source: per-row weights double-count the weight sum.

    Determinism: budgets are integer arithmetic (DIV), the keep order is
    the sampling.py multiplicative mixer on the id — no RNG, so a doc's
    fate is stable under retries and across engines.

    Scale shape: two scalar aggregates (total tokens; per-source weight
    sum over the distinct-source set — both tiny broadcasts), then ONE
    window partitioned by source for the running token sum, then the
    summary groupBy reusing the same partitioning. The per-source cumsum is
    the inherently sequential part of greedy budgeting; with thousands of
    sources it parallelizes across them, but one mega-source's rows all
    sort on one reducer (LIMITATIONS.md).
    """
    base = df.select(
        F.col(source_col).alias("source"),
        F.col(id_col).alias("_id"),
        token_count_col.cast("bigint").alias("_tokens"),
        weight_col.cast("bigint").alias("_w"),
    )
    totals = base.agg(F.sum("_tokens").alias("_total_tokens"))
    wsum = (
        base.select("source", "_w")
        .distinct()
        .agg(F.sum("_w").alias("_wsum"))
    )
    rank = mix_rank(F.col("_id"), MIX_SALT)  # the shared mixer (review r5)
    budgeted = (
        base.withColumn("_rank", rank)
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(wsum))
        .withColumn(
            "_budget",
            F.expr(
                f"(_total_tokens * _w * {BUDGET_NUM}) DIV (_wsum * {BUDGET_DEN})"
            ),
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy("_rank", "_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = budgeted.withColumn("_cum", F.sum("_tokens").over(w))
    kept = scored.filter(F.col("_cum") <= F.col("_budget"))
    return kept.groupBy("source").agg(
        F.max("_budget").alias("budget_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("docs_kept"),
        F.sum("_tokens").alias("tokens_kept"),
    )


def epoch_shard_manifest(
    df: DataFrame,
    source_col: str,
    id_col: str,
    token_count_col,
    epochs_col,
    n_shards: int = 8,
) -> DataFrame:
    """Epoch upsampling + deterministic shard assignment — the final
    write-ordering step of a training-data pipeline: replicate each
    document ``epochs`` times (per-source epoch weighting), give every
    (doc, epoch) replica a deterministic pseudo-random rank, and hash it
    into one of ``n_shards`` output shards. Returns the per-shard manifest
    (shard_id, n_rows, n_docs, total_tokens).

    Scale shape: the epoch explode is a per-row generate (no shuffle; the
    multiplier is the per-source epoch count, bounded and known), the rank
    and shard id are scan-side expressions, and only the manifest
    aggregation shuffles — two compact exchanges, because the n_docs
    countDistinct plans as Spark's two-phase distinct-agg (partial on
    (shard, doc), final on shard); both carry aggregated rows, never
    documents. In the real write path
    the same shard column feeds ``df.repartition(n_shards, "shard_id")``
    + partitioned write, so training-order shuffling costs exactly one
    exchange and is reproducible run-to-run (mixer, not RNG).
    """
    base = df.select(
        F.col(source_col).alias("source"),
        F.col(id_col).alias("_id"),
        token_count_col.cast("bigint").alias("_tokens"),
        epochs_col.cast("int").alias("_epochs"),
    ).select(
        "source",
        "_id",
        "_tokens",
        # sequence(1, 0) is DESCENDING [1, 0] in Spark (step defaults -1) —
        # an epochs<=0 source must contribute ZERO replicas, like the
        # oracle's empty range(1, e+1) (review r3)
        F.explode(
            F.when(
                F.col("_epochs") >= 1, F.sequence(F.lit(1), F.col("_epochs"))
            ).otherwise(F.array().cast("array<int>"))
        ).alias("epoch"),
    )
    # _id cast to long BEFORE the multiply (review r7): an IntegerType id
    # column wrapped _id*31 silently at ids >= 2^31/31 under non-ANSI int
    # arithmetic while the oracle's BIGINT multiply computed the true
    # value — shard assignment scrambled only on int-typed ids
    key = F.col("_id").cast("long") * 31 + F.col("epoch") + F.lit(SHARD_SALT)
    rank = mix_rank(key)  # salt already folded into the composite key
    return (
        base.withColumn("shard_id", F.pmod(rank, n_shards).cast("int"))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("_id").cast("bigint").alias("n_docs"),
            F.sum("_tokens").alias("total_tokens"),
        )
    )


def epoch_shard_manifest_sql(
    src: str,
    source_col: str,
    id_col: str,
    token_count_sql: str,
    epochs_sql: str,
    n_shards: int = 8,
) -> str:
    """DuckDB twin of epoch_shard_manifest (range() excludes its stop =>
    range(1, e+1); portable pmod chain)."""
    key = f"({id_col} * 31 + epoch + {SHARD_SALT})"
    rank = mix_rank_sql(key)  # salt already folded into the composite key
    return f"""
WITH rows AS (
    SELECT {source_col} AS source, {id_col},
           CAST({token_count_sql} AS BIGINT) AS _tokens,
           unnest(range(1, CAST({epochs_sql} AS INT) + 1)) AS epoch
    FROM {src}
)
SELECT CAST(({rank}) % {n_shards} AS INT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT {id_col}) AS BIGINT) AS n_docs,
       CAST(SUM(_tokens) AS BIGINT) AS total_tokens
FROM rows
GROUP BY 1
"""


def mix_to_budget_sql(
    src: str,
    source_col: str,
    id_col: str,
    token_count_sql: str,
    weight_sql: str,
) -> str:
    """DuckDB twin of mix_to_budget (portable pmod spelled out; // is
    integer floor-div on BIGINTs, matching Spark's DIV for non-negatives)."""
    rank = mix_rank_sql(id_col, MIX_SALT)
    return f"""
WITH base AS (
    SELECT {source_col} AS source, {id_col} AS _id,
           CAST({token_count_sql} AS BIGINT) AS _tokens,
           CAST({weight_sql} AS BIGINT) AS _w,
           {rank} AS _rank
    FROM {src}
),
tot AS (SELECT CAST(SUM(_tokens) AS BIGINT) AS _total_tokens FROM base),
ws AS (SELECT CAST(SUM(_w) AS BIGINT) AS _wsum
       FROM (SELECT DISTINCT source, _w FROM base)),
scored AS (
    SELECT base.*,
           CAST((_total_tokens * _w * {BUDGET_NUM})
                // (_wsum * {BUDGET_DEN}) AS BIGINT) AS _budget,
           SUM(_tokens) OVER (
               PARTITION BY source ORDER BY _rank, _id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS _cum
    FROM base, tot, ws
)
SELECT source,
       MAX(_budget) AS budget_tokens,
       CAST(COUNT(*) AS BIGINT) AS docs_kept,
       CAST(SUM(_tokens) AS BIGINT) AS tokens_kept
FROM scored
WHERE _cum <= _budget
GROUP BY source
"""
