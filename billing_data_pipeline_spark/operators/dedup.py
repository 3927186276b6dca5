"""[EXT] Deduplication operators for LLM-data pipelines (SURVEY.md §2.12).

Four tiers, cheapest first — at 100 TB you run them in this order and each
tier prunes the candidate set for the next:

1. exact       — content-hash groupBy (one shuffle on a 16-byte key)
2. ngram-jaccard — exact Jaccard on word shingles via explode + self-join
                   (quadratic only within shingle buckets)
3. MinHash LSH — pyspark.ml MinHashLSH approx join (near-dup at scale:
                 candidate pairs come from banded hash buckets, never a
                 full cross join)
4. SimHash     — 64-bit signature via Arrow-vectorized Pandas UDF; banded
                 self-join on 16-bit sub-keys bounds the Hamming search

All thresholds/seeds are explicit so results are deterministic run-to-run.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def content_hash(text_col: str = "text") -> F.Column:
    """MD5 content fingerprint (reference used file-level md5 for change
    detection, pipeline/assets/ingest.py:218-220; this is its row-level
    analogue, SURVEY.md F1)."""
    return F.md5(F.col(text_col))


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct content hash: canonical (min) id + copy count."""
    return (
        df.withColumn("content_hash", content_hash(text_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("copies"),
        )
    )


def normalized_text(text_col: str = "text") -> F.Column:
    """Canonical form for normalization-tier dedup: lowercase, every
    non-alphanumeric run collapsed to one space, edges trimmed. Catches
    the near-exact duplicates content hashing misses (case, punctuation,
    whitespace variants) without any signature machinery — the standard
    tier between exact md5 and MinHash in a curation stack. Pure regexp
    built-ins; same result from DuckDB's regexp_replace(..., 'g')."""
    # Strip-then-lower (operators/text.py ascii_folded contract): the
    # strip leaves only [A-Za-z0-9 ], where every engine's lower() agrees
    # — lowering FIRST diverges on non-ASCII uppercase (İ: JVM/Python
    # full-map to 'i'+U+0307, DuckDB utf8proc simple-maps to 'i').
    return F.trim(
        F.lower(F.regexp_replace(F.col(text_col), "[^A-Za-z0-9]+", " "))
    )


def normalized_text_sql(expr: str = "text") -> str:
    """DuckDB twin of normalized_text — built HERE so the plan-file
    oracles cannot drift from the Spark expression (review r5: three
    hand-inlined copies)."""
    return f"trim(lower(regexp_replace({expr}, '[^A-Za-z0-9]+', ' ', 'g')))"


def normalized_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct NORMALIZED content hash: canonical (min) id +
    copy count — exact_dedup_groups on the canonical form. Same scale
    shape: one shuffle on a 16-byte key."""
    return (
        df.withColumn("norm_hash", F.md5(normalized_text(text_col)))
        .groupBy("norm_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("copies"),
        )
    )


def best_survivor_dedup(
    df: DataFrame, id_col: str, text_col: str, score_col
) -> DataFrame:
    """Quality-aware canonical selection: one row per distinct NORMALIZED
    content hash keeping the HIGHEST-scoring member (ties broken by min
    id) — the survivorship policy real curation pipelines want, where
    near-identical copies differ in formatting noise and you keep the
    cleanest one, not the lowest id.

    Returns (norm_hash, keep_id, keep_score, copies). One aggregation on
    the 16-byte hash key; argmax is a single max over an orderable
    (score, -id) struct — map-side partials apply, no window, no
    join-back. ``score_col`` is any deterministic per-row expression
    (e.g. text.model_quality_score) so the pick is retry-stable.
    """
    pick = F.max(
        F.struct(
            score_col.alias("s"), (-F.col(id_col)).alias("neg_id")
        )
    )
    return (
        df.withColumn("norm_hash", F.md5(normalized_text(text_col)))
        .groupBy("norm_hash")
        .agg(
            pick.alias("_best"),
            F.count(F.lit(1)).alias("copies"),
        )
        .select(
            "norm_hash",
            (-F.col("_best.neg_id")).cast("long").alias("keep_id"),
            F.col("_best.s").alias("keep_score"),
            "copies",
        )
    )


#: Default degenerate-block frequency cap for the catalog's blocked
#: near-dup tiers (VERDICT r9 item 2). Work inside a block/posting-list/
#: bucket is |block|^2, so ONE hot key (shared boilerplate, templated
#: prefixes) makes the whole job quadratic at 100 TB; blocks above the
#: cap are DROPPED from pair generation — deterministically, replicated
#: in the oracle SQL — and surfaced by the *_overflow companions (no
#: silent truncation). 64 is far above anything the clean testdata
#: produces (measured max: 10-member editdist block, 25-doc posting list
#: at sf0.1) and far below degeneracy; the adversarial skew/boilerplate
#: fixtures drive it for real.
DEFAULT_BLOCK_CAP = 64


def _cap_blocks(df: DataFrame, keys: list[str], cap: int | None) -> DataFrame:
    """Drop rows whose block key occurs more than ``cap`` times — the
    degenerate-block guard shared by every blocked near-dup tier. A
    window count over the block key costs one shuffle on that key, which
    the downstream self-join needs anyway (same hash partitioning, so
    Catalyst reuses the exchange — the guard adds no extra shuffle)."""
    if cap is None:
        return df
    from .._names import sql_ident

    part = ", ".join(sql_ident(k) for k in keys)
    # expr-string window (r11 construction pass): count(1) OVER the same
    # partition spec the Window builder produced, one round-trip
    return (
        df.withColumn("_bc", F.expr(f"count(1) OVER (PARTITION BY {part})"))
        .filter(f"_bc <= {int(cap)}")
        .drop("_bc")
    )


def word_shingles(text_col: str, n: int = 3) -> F.Column:
    """Distinct word n-gram shingles of a text column (built-in higher-order
    functions; no UDF).

    Built by zip_with over n shifted slices of the token array —
    element_at(i) inside a transform is O(tokens) per access (O(tokens^2)
    per doc, measured 10x slower); shifted slices stay linear.
    """
    toks = F.split(F.trim(F.col(text_col)), "\\s+")
    length = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.slice(toks, 1, length)
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, j + 1, length),
            lambda acc, nxt: F.concat_ws(" ", acc, nxt),
        )
    return F.array_distinct(grams)


def _shingles_sql(table: str, id_col: str, text_col: str, n: int) -> str:
    """Shared CTE body (tokenize -> distinct word n-gram shingles) for the
    Jaccard pair oracle and its overflow companion — one definition so the
    tokenizer can never drift between them."""
    from .text import JAVA_WS_SPLIT_SQL as ws

    gram = " || ' ' || ".join(f"w[i+{j}]" if j else "w[i]" for j in range(n))
    return f"""
WITH toks AS (
    SELECT {id_col}, regexp_split_to_array(trim({text_col}), '{ws}') AS w
    FROM {table}
    WHERE len(regexp_split_to_array(trim({text_col}), '{ws}')) >= {n}
),
sh AS (
    SELECT DISTINCT {id_col},
           unnest(list_transform(generate_series(1, len(w) - {n - 1}),
                                 i -> {gram})) AS shingle
    FROM toks
)"""


def ngram_jaccard_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    shingle_cap: int | None = None,
) -> str:
    """DuckDB twin of ``word_shingles`` + ``ngram_jaccard_pairs``, kept
    NEXT TO the Spark expressions (review r7: the oracle lived as 26
    hand-written lines in plans/extensions.py, so a tokenizer or
    min-length change here would silently desync it — the same drift
    class the r5 normalized_text_sql move closed). With ``shingle_cap``
    the oracle replays the identical capped-vocabulary semantics: hot
    shingles leave the REPRESENTATION (both intersections and sizes)."""
    src = "sh"
    cap_cte = ""
    if shingle_cap is not None:
        cap_cte = f""",
kept AS (
    SELECT {id_col}, shingle
    FROM (SELECT sh.*, count(*) OVER (PARTITION BY shingle) AS pc FROM sh)
    WHERE pc <= {shingle_cap}
)"""
        src = "kept"
    jac = (
        "CAST(i.n_common AS DOUBLE) "
        "/ (sa.n_shingles + sb.n_shingles - i.n_common)"
    )
    return f"""{_shingles_sql(table, id_col, text_col, n)}{cap_cte},
sizes AS (SELECT {id_col}, COUNT(*) AS n_shingles FROM {src} GROUP BY {id_col}),
inter AS (
    SELECT a.{id_col} AS doc_a, b.{id_col} AS doc_b, COUNT(*) AS n_common
    FROM {src} a JOIN {src} b ON a.shingle = b.shingle AND a.{id_col} < b.{id_col}
    GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.n_common,
       sa.n_shingles AS size_a, sb.n_shingles AS size_b,
       {jac} AS jaccard
FROM inter i
JOIN sizes sa ON sa.{id_col} = i.doc_a
JOIN sizes sb ON sb.{id_col} = i.doc_b
WHERE {jac} >= {threshold}
"""


def shingle_overflow_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    shingle_cap: int = DEFAULT_BLOCK_CAP,
) -> str:
    """DuckDB twin of ``shingle_overflow_postings``."""
    return f"""{_shingles_sql(table, id_col, text_col, n)}
SELECT shingle, CAST(count(*) AS BIGINT) AS n_docs
FROM sh
GROUP BY shingle
HAVING count(*) > {shingle_cap}
"""


def shingle_overflow_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    shingle_cap: int = DEFAULT_BLOCK_CAP,
) -> DataFrame:
    """The shingles ``ngram_jaccard_pairs(shingle_cap=...)`` DROPS from
    the representation — one row per over-cap shingle with its posting-
    list size (no silent truncation; see editdist_overflow_blocks)."""
    return (
        _shingle_rows(df, id_col, text_col, n)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > shingle_cap)
    )


def _shingle_rows(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc, shingle) rows — the ONE Spark-side lineage behind both
    ngram_jaccard_pairs and shingle_overflow_postings (review r10: the
    pair op and its overflow companion had copy-pasted shingling, the
    exact drift class the shared _shingles_sql CTE builder exists to
    prevent on the oracle side — a tokenizer tweak applied to one would
    make the overflow report describe different blocks than the ones
    actually dropped)."""
    docs = df.filter(F.size(F.split(F.trim(F.col(text_col)), "\\s+")) >= n)
    return docs.select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingles(text_col, n)).alias("shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    shingle_cap: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs >= threshold.

    explode shingles -> self-join on shingle -> |A∩B| per pair -> Jaccard
    with per-doc shingle counts. The self-join key is the shingle, so work
    is sum over shingles of (docs-per-shingle)^2 — and ``shingle_cap``
    (r10, VERDICT r9 item 2) bounds it: shingles whose posting list
    exceeds the cap leave the REPRESENTATION entirely (both the
    intersection join and the per-doc sizes — capped-vocabulary Jaccard,
    the stopword-removal view), so one boilerplate sentence shared by
    half the corpus can't make the self-join quadratic. Deterministic,
    replayed identically by the oracle, surfaced by
    ``shingle_overflow_postings``. The cap's window count shares the
    self-join's shingle hash partitioning (exchange reused).
    """
    sh = _cap_blocks(
        _shingle_rows(df, id_col, text_col, n), ["shingle"], shingle_cap
    )
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "size_a", "size_b", "jaccard")
    )


def _editdist_blocks_sql(
    table: str, id_col: str, text_col: str, prefix_len: int
) -> str:
    """Shared CTE body (normalize -> prefix block) for the editdist pair
    oracle and its overflow companion — one definition so the blocking
    can never drift between them."""
    nrm = normalized_text_sql(text_col)
    return f"""
WITH n AS (
    SELECT {id_col} AS id, {nrm} AS nt
    FROM {table}
    WHERE {nrm} <> ''
),
b AS (
    SELECT id, nt, substr(nt, 1, {prefix_len}) AS blk, length(nt) AS ln
    FROM n
)"""


def editdist_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    max_dist: int = 3,
    prefix_len: int = 8,
    block_cap: int | None = None,
) -> str:
    """DuckDB twin of ``editdist_blocked_pairs``, kept NEXT TO the Spark
    operator (the r5/r7 anti-drift rule). Replays the identical blocking
    (normalized prefix + length band + degenerate-block cap) and the full
    levenshtein, which equals Spark's threshold form wherever the
    threshold passes."""
    src = "b"
    cap_cte = ""
    if block_cap is not None:
        cap_cte = f""",
kept AS (
    SELECT id, nt, blk, ln
    FROM (SELECT b.*, count(*) OVER (PARTITION BY blk) AS bc FROM b)
    WHERE bc <= {block_cap}
)"""
        src = "kept"
    return f"""{_editdist_blocks_sql(table, id_col, text_col, prefix_len)}{cap_cte}
SELECT a.id AS id_a, c.id AS id_b,
       CAST(levenshtein(a.nt, c.nt) AS INTEGER) AS dist
FROM {src} a
JOIN {src} c ON a.blk = c.blk AND a.id < c.id AND abs(a.ln - c.ln) <= {max_dist}
WHERE levenshtein(a.nt, c.nt) <= {max_dist}
"""


def editdist_overflow_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    prefix_len: int = 8,
    block_cap: int = DEFAULT_BLOCK_CAP,
) -> str:
    """DuckDB twin of ``editdist_overflow_blocks``."""
    return f"""{_editdist_blocks_sql(table, id_col, text_col, prefix_len)}
SELECT blk, CAST(count(*) AS BIGINT) AS n_members
FROM b
GROUP BY blk
HAVING count(*) > {block_cap}
"""


def editdist_overflow_blocks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    prefix_len: int = 8,
    block_cap: int = DEFAULT_BLOCK_CAP,
) -> DataFrame:
    """The blocks ``editdist_blocked_pairs(block_cap=...)`` DROPS — one
    row per over-cap prefix block with its member count, so a capped run
    is never a silent truncation: pipelines report/alert on this frame
    next to the pair output. Same normalize+block lineage as the pair
    operator (shared helper — review r10); one groupBy on the block key."""
    return (
        _editdist_blocks(df, id_col, text_col, prefix_len)
        .groupBy("blk")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > block_cap)
    )


def _editdist_blocks(
    df: DataFrame, id_col: str, text_col: str, prefix_len: int
) -> DataFrame:
    """(id, nt, blk, ln) rows — the ONE Spark-side lineage behind both
    editdist_blocked_pairs and editdist_overflow_blocks, mirroring the
    shared _editdist_blocks_sql CTE builder (review r10: the duplicated
    normalize+prefix projection was the drift class the SQL-side sharing
    exists to prevent). The overflow companion ignores ``ln``; Catalyst
    prunes it there."""
    return (
        df.select(F.col(id_col).alias("id"), normalized_text(text_col).alias("nt"))
        .filter(F.col("nt") != "")
        .withColumn("blk", F.substring("nt", 1, prefix_len))
        .withColumn("ln", F.length("nt"))
    )


def editdist_blocked_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 3,
    prefix_len: int = 8,
    block_cap: int | None = None,
) -> DataFrame:
    """[EXT] Edit-distance (Levenshtein) near-dup pairs over the
    normalized text form, blocked for scale — the record-linkage tier
    between normalized-hash dedup (distance 0 only) and n-gram Jaccard
    (token-set view, blind to within-token typos).

    Blocking: a candidate pair must share the first ``prefix_len`` chars
    of ``normalized_text`` AND differ in normalized length by at most
    ``max_dist`` (a true Levenshtein invariant — |len(a)-len(b)| lower-
    bounds the distance). Prefix blocking is deterministic and
    approximate BY DESIGN (an edit inside the prefix hides the pair) —
    the standard recall/cost dial in record linkage — and the ORACLE
    replays the identical blocking, so the approximate pipeline is
    value-checked end-to-end, the same policy as the LSH tiers.

    Distance-parity contract (measured r9): Spark's levenshtein counts
    CODEPOINTS, DuckDB's counts BYTES — they diverge on any non-ASCII
    text ('café'~'cafe' = 1 vs 2; astral chars 1 vs 4). normalized_text
    is pure [a-z0-9 ] where bytes == codepoints, so the distances agree;
    never cross-engine-check Levenshtein on un-folded text.

    Scale shape: one shuffle on the block key; work is the sum over
    blocks of |block|^2, and ``block_cap`` (r10, VERDICT r9 item 2)
    bounds it: blocks with more than ``block_cap`` members are DROPPED
    from pair generation — a hot prefix (templated/boilerplate corpora,
    exactly what dedup targets at 100 TB) would otherwise make one block
    quadratic. The drop is deterministic, replayed identically by the
    oracle, and surfaced by ``editdist_overflow_blocks`` (no silent
    truncation). The cap's window count rides the same hash partitioning
    the self-join shuffles on (exchange reused — no extra shuffle).
    Each surviving pair costs the JVM's THRESHOLD levenshtein
    (3-arg form, banded O(max_dist x len) instead of full O(len^2),
    returning -1 above the threshold so long non-matches exit early).
    """
    n = _cap_blocks(
        _editdist_blocks(df, id_col, text_col, prefix_len), ["blk"], block_cap
    )
    a, c = n.alias("a"), n.alias("c")
    dist = F.levenshtein(F.col("a.nt"), F.col("c.nt"), max_dist)
    # ONE join condition with the levenshtein conjunct LAST (r9 plan
    # audit): expressed as a post-join filter, Catalyst pushed it into
    # the join residual AHEAD of the cheap id/length conjuncts, so every
    # raw block collision paid the banded levenshtein — 30k evals at
    # sf0.1 where only 1.5k pairs survive the cheap cuts. And's
    # left-to-right evaluation makes the order explicit here.
    pairs = a.join(
        c,
        (F.col("a.blk") == F.col("c.blk"))
        & (F.col("a.id") < F.col("c.id"))
        & (F.abs(F.col("a.ln") - F.col("c.ln")) <= max_dist)
        & (dist >= 0),  # threshold form returns -1 above max_dist
    )
    # recomputed only for the surviving pairs — negligible vs the join
    return pairs.select(
        F.col("a.id").alias("id_a"),
        F.col("c.id").alias("id_b"),
        dist.cast("int").alias("dist"),
    )


def shingle_hashes(text_col: str, n: int = 3) -> F.Column:
    """64-bit hashes of word n-gram shingles WITHOUT building shingle
    strings: hash each token once (xxhash64), then combine n consecutive
    token hashes arithmetically (multiply-mix fold over shifted slices).
    All long arithmetic after one string pass — measured ~2x faster than
    concat_ws shingles + string hashing. Collisions are 2^-64-scale noise,
    fine for MinHash/SimHash tiers (NOT for the exact Jaccard oracle tier,
    which keeps string shingles).

    Deliberately a MULTISET (no array_distinct): the only consumer is
    MinHash's array_min, which is duplicate-invariant, and the dedup pass
    was 35% of the whole shingling stage at sf0.1 (0.90 s -> 0.62 s
    without it)."""
    toks = F.split(F.trim(F.col(text_col)), "\\s+")
    th = F.transform(toks, lambda t: F.xxhash64(t))
    length = F.greatest(F.size(th) - (n - 1), F.lit(0))
    grams = F.slice(th, 1, length)
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(th, j + 1, length),
            # combine via xxhash64 over the (acc, next) long pair — cheap
            # JVM hashing with no overflow (ANSI mode forbids wraparound
            # multiply-mix arithmetic).
            lambda acc, nxt: F.xxhash64(acc, nxt),
        )
    return grams


# Signature components, components per band key (must divide MINHASH_K),
# and the estimated-Jaccard floor of a pair.
MINHASH_K = 16
MINHASH_BAND_SIZE = 2
MINHASH_MIN_JACCARD = 0.4


def minhash_agreement_est(k: int) -> F.Column:
    """Estimated Jaccard from two aligned ``sig_a``/``sig_b`` columns:
    the agreeing-component share over ``k`` components. The ONE estimator
    shared by the fast tier and both portable tiers (review r4: three
    identical copies invited silent drift between the throughput path and
    the oracle-checked proof-of-semantics path)."""
    # one F.expr round-trip (r11 construction pass): the SQL lambdas
    # parse to the identical zip_with/filter tree the Column form built
    return F.expr(
        "CAST(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), "
        f"eq -> eq)) AS DOUBLE) / {float(k)!r}D"
    )


def minhash_signature(shingle_hashes: F.Column, k: int) -> F.Column:
    """k-component MinHash signature over PRE-HASHED shingles: component i =
    min over base hashes of xxhash64(h, i). Callers hash each shingle string
    once (xxhash64) in a separate projection, so the k passes here run over
    8-byte longs, not strings. Pure built-ins — JVM-side, no fit step."""
    return F.array(
        *[
            F.array_min(F.transform(shingle_hashes, lambda h: F.xxhash64(h, F.lit(i))))
            for i in range(k)
        ]
    )


def minhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Approximate near-duplicate pairs via MinHash + banded LSH:
    shingle -> MINHASH_K-component signature -> MINHASH_K/MINHASH_BAND_SIZE
    band keys -> self-join
    on (band, key) -> estimated Jaccard = fraction of agreeing components.

    The classic shingle->minhash->band->bucket-join pipeline expressed
    entirely in DataFrame built-ins. Candidate generation is linear in
    corpus size + bucket collisions — no cross join at any scale.
    ``bucket_cap`` (r10, VERDICT r9 item 2) is the degenerate-bucket
    guard: a (band, key) bucket with more than ``bucket_cap`` members —
    one boilerplate cluster hashing half the corpus into one band key —
    is dropped from candidate generation before the self-join, bounding
    per-bucket work at cap^2. Recall note: a TRUE near-dup cluster larger
    than the cap keeps its pairs only through its other n_bands-1 band
    keys (dropped only if ALL its buckets overflow — at that point it is
    the boilerplate case the cap exists for, and the drop is visible in
    the bucket histogram). Deterministic; the cap's window count shares
    the self-join's (band, key) hash partitioning (exchange reused).
    Seeded xxhash64 => deterministic; approximate => rows-only check.


    Cache contract (advice r4): the internal persist is swept by the NEXT
    operator call that routes through ``swept_persist`` — materialize the
    returned frame before invoking another such operator; a frame
    evaluated after its persist is swept transparently recomputes its
    (deterministic) lineage — correct, just slower.
    """
    k, band_size = MINHASH_K, MINHASH_BAND_SIZE
    n_bands = k // band_size
    # Arithmetic shingle hashing: one string pass (token xxhash64), then
    # long-only mixing — no shingle strings are ever built.
    hashed = df.select(
        F.col(id_col).alias("doc"), shingle_hashes(text_col, 3).alias("h")
    ).filter(F.size("h") > 0)
    # The sigs subtree feeds four plan branches (band self-join a/b + the
    # two agreement rejoins); without an explicit materialization Spark
    # recomputes shingling+hashing per branch (measured 4 parquet scans,
    # zero ReusedExchange under AQE). Persist the tiny (doc, k longs)
    # signature table — at any scale this is the cheapest cut point.
    # Materialize the cache EAGERLY: the four consuming branches sit in
    # independent stages that the scheduler runs concurrently — on a cold
    # cache they'd all recompute the subtree in parallel (measured 2.3 s vs
    # 0.8 s one-shot). swept_persist bounds residency to the last call
    # (review r4: per-call persists accumulate for the whole session).
    from ._persist import swept_persist

    sigs = swept_persist(
        hashed.select("doc", minhash_signature(F.col("h"), k).alias("sig")),
        eager=True,
    )

    bands = sigs.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.slice(F.col("sig"), b * band_size + 1, band_size)
                        ).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc", "bk.band", "bk.key")
    bands = _cap_blocks(bands, ["band", "key"], bucket_cap)

    # Candidate ids only through join + distinct; rejoin sigs once per
    # DISTINCT pair for the agreement estimate. The portable sibling's
    # carry-signature-through-the-band-join shape (ADVICE r7) was A/B'd
    # here in r8 and LOST: interleaved min-of-3 at x8 sf0.1 measured
    # ids-only 2.38-2.62 s vs carry-sig 2.81-3.13 s (and 3.25-4.89 s with
    # the estimate per collision row). With n_bands=8 and 8-byte long band
    # keys, riding the k=16-long signature triples the band-shuffle bytes
    # and the collision-side rows — the opposite trade from the portable
    # tier, whose band keys are STRINGS that dwarf its k=12 signature and
    # whose md5 Python kernel made rejoin recompute expensive. Fewer
    # exchanges (2 vs 4) did not mean less shuffle. See PLANS.md r8.
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    sa = sigs.select(F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = minhash_agreement_est(k)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= MINHASH_MIN_JACCARD)
        .select("doc_a", "doc_b", "est_jaccard")
    )


def ml_minhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """pyspark.ml variant (HashingTF -> MinHashLSH.approxSimilarityJoin) —
    same semantics through the MLlib API; measurably slower than the
    built-in pipeline above, kept for API parity."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    # NULL/short text must be gone BEFORE the ML UDFs can see it: Catalyst
    # freely reorders deterministic predicates, so the LSH hash / TF UDFs
    # evaluate ahead of the null/size filters and NPE on a NULL shingle
    # array (found by the NULL-injection sweep — a scan-level IS NOT NULL
    # was still not enough). localCheckpoint rebases the plan on a
    # LogicalRDD — a barrier the optimizer can NEVER push UDF predicates
    # through, with no cache-residency dependence: the r4 last-call-wins
    # persist registry made correctness of a still-held earlier result
    # depend on no later call having swept its barrier (advice r4). Block
    # lifetime is the RDD's own (ContextCleaner frees it on driver GC),
    # so residency stays bounded without a registry; the fit + self-join
    # read the materialized relation twice anyway. Cluster note: local
    # checkpoints die with executor loss — at that point the job retries,
    # it never silently loses the barrier.
    docs = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc"), word_shingles(text_col, 3).alias("shingles")
        )
        .filter(F.size("shingles") > 0)
        .localCheckpoint(eager=False)
    )
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True
    )
    feats = tf.transform(docs)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    )
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.6, distCol="dist")
    return (
        pairs.filter(F.col("datasetA.doc") < F.col("datasetB.doc"))
        .select(
            F.col("datasetA.doc").alias("doc_a"),
            F.col("datasetB.doc").alias("doc_b"),
            F.col("dist").alias("jaccard_distance"),
        )
    )


SIMHASH_BANDS = 4  # 16-bit bands; Hamming<=3 pairs share >=1 band
SIMHASH_MAX_HAMMING = 3


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document.

    Token hashes are computed JVM-side (xxhash64); the bit-vote fold runs as
    an Arrow-vectorized Pandas UDF over the per-doc hash arrays (numpy bit
    ops) — the documented slow-path pattern (SURVEY.md §2.10): vectorized,
    batch-at-a-time, never row-at-a-time Python.
    """
    @F.pandas_udf(T.LongType())
    def simhash_from_hashes(hashes: pd.Series) -> pd.Series:
        out = np.empty(len(hashes), dtype=np.int64)
        for i, hs in enumerate(hashes):
            if hs is None:  # NULL text -> NULL hash array; zero-signature
                out[i] = 0
                continue
            arr = np.asarray(hs, dtype=np.int64).astype(np.uint64)
            if arr.size == 0:
                out[i] = 0
                continue
            bits = ((arr[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(
                np.int64
            )
            votes = bits.sum(axis=0) * 2 - arr.size  # +1/-1 majority vote
            sig = np.uint64(0)
            for b in np.nonzero(votes > 0)[0]:
                sig |= np.uint64(1) << np.uint64(b)
            out[i] = np.int64(sig)
        return pd.Series(out)

    toks = F.array_distinct(F.split(F.trim(F.col(text_col)), "\\s+"))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    # NULL text is DROPPED, not zero-signed: a shared zero signature would
    # band-join every null doc with every other (and with real zero-sig
    # docs) — the oracles exclude null text too (NULL-injection sweep)
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc"), simhash_from_hashes(hashes).alias("simhash")
    )


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance <= SIMHASH_MAX_HAMMING.

    Banding: two signatures within Hamming 3 of 64 bits agree exactly on at
    least one of 4 16-bit bands (pigeonhole), so the self-join runs on band
    keys — linear candidate generation, no cross join. Uncapped, unlike
    the MinHash tier: 16-bit band keys concentrate mass on CLEAN data too
    (measured r10: 17% of the testdata corpus in one bucket at sf0.1), so
    a degenerate-bucket cap either drops real pairs or bounds nothing;
    wider band keys are the scale fix.
    """
    sigs = simhash_signatures(df, id_col, text_col)
    bands = sigs.select(
        "doc",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for i in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )
