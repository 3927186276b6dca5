"""[EXT] Cross-engine-deterministic ("portable") near-dup tiers:
MinHash-LSH and SimHash variants whose EVERY step is md5 + exact integer
arithmetic that Spark and DuckDB compute identically — so the full
approximate pipelines (signature -> bands -> candidate join -> score)
are oracle-CHECKED, not rows-only.

Why this exists: the fast tiers in operators/dedup.py key on Spark's
xxhash64 (JVM-only — no DuckDB twin exists), so the driver can only
row-count them. These twins replace xxhash64 with

    portable_hash60(s) = first 15 hex chars of md5(s) as a 60-bit BIGINT

(Spark: conv(substr(md5(s),1,15),16,10); DuckDB:
('0x' || substr(md5(s),1,15))::BIGINT — verified byte-identical), and all
downstream mixing with 31-bit modular arithmetic whose products stay under
2^62, so no overflow in either engine's BIGINT. The LSH *structure*
(banded buckets, linear candidate generation, no cross join) is identical
to the fast tier — these prove the algorithm's semantics; the xxhash64
tier keeps the throughput crown (md5 is ~5x the hash cost).

Reference parity note: the reference's only hashing is file-level md5 for
change detection (pipeline/assets/ingest.py:218-220); these operators are
the [EXT] row/shingle-level generalization mandated by BASELINE.json.
"""

from __future__ import annotations

import random
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import MINHASH_MIN_JACCARD, minhash_agreement_est
from .text import JAVA_WS_SPLIT_SQL as WS

# 31-bit Mersenne prime: (a * h + b) stays < 2^62 for a, h < 2^31 — exact
# BIGINT arithmetic in both engines, no unsigned wraparound anywhere.
MINHASH_P = 2_147_483_647
_rng = random.Random(20240813)
MINHASH_AB: tuple[tuple[int, int], ...] = tuple(
    (_rng.randrange(1, MINHASH_P), _rng.randrange(0, MINHASH_P)) for _ in range(16)
)
del _rng

# Signature components (a prefix of MINHASH_AB) and components per band
# key (must divide MINHASH_K); the Jaccard floor is the fast tier's.
MINHASH_K = 12
MINHASH_BAND_SIZE = 2

SIMHASH_PORTABLE_BITS = 60  # portable_hash60 yields 60-bit values
SIMHASH_PORTABLE_BANDS = 4  # 15-bit bands; Hamming<=3 shares >=1 band
SIMHASH_MAX_HAMMING = 3

# Peak element budget for the minhash kernel's (k, grams) affine slice
# (r12, ADVICE r11): each numpy temporary stays ≤ ~8M int64 (~64 MB)
# regardless of Arrow batch gram count. Module-level so tests can shrink
# it to force the chunked/giant-doc folds; the kernel snapshots it
# driver-side at build time.
_GRAM_CHUNK_ELEMS = 1 << 23


def portable_hash60(c: Column) -> Column:
    """60-bit integer hash both engines agree on: the first 15 hex chars of
    md5 parsed base-16. Always non-negative (< 2^60)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def portable_hash60_sql(expr: str) -> str:
    """DuckDB text computing the identical 60-bit value."""
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


# ---------------------------------------------------------------------------
# MinHash (portable tier)
# ---------------------------------------------------------------------------


def minhash_portable_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bucket_cap: int | None = None,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, every step engine-portable:

    word-3-gram shingles (string tier, same construction as the exact
    Jaccard oracle) -> one md5 per shingle -> k affine-modular component
    hashes (a_i*h + b_i mod P) -> per-doc min per component -> band keys
    ('-'-joined component strings, any band_size) -> self-equi-join on
    (band, key) -> estimated Jaccard = agreeing-component share.

    Same scale shape as the xxhash64 tier (candidate generation is linear
    in corpus + bucket collisions; one shuffle per band join); ~5x hash
    cost from md5 — run the fast tier in production, this tier is the
    oracle-checked proof of the pipeline's semantics. ``bucket_cap``
    (r10) is the same degenerate-bucket guard as the fast tier, and HERE
    the capped candidate generation itself is value-checked: the oracle
    replays the identical (band, key) window-count drop, so buckets,
    survivors, and estimates all hash-match with the cap active.


    Cache contract (advice r4): the internal persist is swept by the NEXT
    operator call that routes through ``swept_persist`` — materialize the
    returned frame before invoking another such operator; a frame
    evaluated after its persist is swept transparently recomputes its
    (deterministic) lineage — correct, just slower.
    """
    # Persist LAZILY: the sigs subtree feeds both sides of the band
    # self-join, so without the persist the md5 shingle pass recomputes
    # per branch. r5 re-measure (min-of-5 interleaved, sf0.1, full
    # materialization): eager=True's extra count() job costs MORE than
    # the concurrent-branch race it prevents — this tier has only two
    # consuming branches, and on an idle 32-core box the worst case (both
    # branches compute the kernel once, in parallel) still beats
    # serial-materialize-then-join: 0.73 s -> 0.43 s. (Contrast
    # dedup.minhash_neardup_pairs, whose FOUR branches keep eager.)
    from ._persist import swept_persist

    sigs = swept_persist(_minhash_sigs(df, id_col, text_col, MINHASH_K))

    # The signature (k longs, ~100 B) rides THROUGH the band self-join so
    # the agreement estimate is computed in the join projection itself —
    # 3 exchanges total (two join sides + the pair-distinct) instead of the
    # 7 of the earlier ids-only-candidates + two signature rejoins shape.
    # Measured 2.6 s -> ~1.3 s at sf0.1 with identical output. (Carrying
    # payloads through an LSH band join is the documented anti-pattern for
    # KB-sized vectors — embedding_lsh_neardup_pairs re-fetches those — but
    # 12 longs is smaller than the band-key string it rides beside.)
    from .dedup import _cap_blocks

    bands = _cap_blocks(
        _band_keys(sigs.select("doc", "sig"), MINHASH_K, MINHASH_BAND_SIZE),
        ["band", "key"],
        bucket_cap,
    )
    a = bands.alias("a")
    b = bands.alias("b")
    est = minhash_agreement_est(MINHASH_K)
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= MINHASH_MIN_JACCARD)
        .select("doc_a", "doc_b", "est_jaccard")
        .distinct()
    )


def _minhash_sigs(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(doc, sig[k]) portable MinHash signatures — the shared front half of
    the self-join and incremental (batch-vs-corpus) pair generators.

    Computed in ONE Arrow batch kernel (tokenize -> distinct 3-gram
    shingles -> md5 -> k affine-modular mins): the equivalent built-in
    chain (zip_with shingles, two transform passes, array_min) evaluates
    its lambdas INTERPRETED and measured 2x slower at sf0.1 (1.7 s vs
    0.8 s), and the kernel is bit-identical — hashlib.md5 over UTF-8 is
    the same bytes as F.md5, int(hex,16) the same value as conv(,16,10),
    and numpy int64 affine-mod the same exact arithmetic (products stay
    under 2^62). Tokenizer parity with the DuckDB oracle is pinned char
    class by char class: Spark's trim() strips ASCII spaces only
    (str.strip(' ')), Java's regex \\s is ASCII-only (re.ASCII), and a
    leading separator yields the same empty first token in both engines —
    the extreme-values sweep (unicode whitespace, metachar/empty docs)
    guards the contract. ``k`` is at most len(MINHASH_AB)."""
    id_dt = df.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField("doc", id_dt),
            T.StructField("sig", T.ArrayType(T.LongType())),
        ]
    )
    A = np.array([a for a, _ in MINHASH_AB[:k]], dtype=np.int64)[:, None]
    B = np.array([b for _, b in MINHASH_AB[:k]], dtype=np.int64)[:, None]
    ws = re.compile(r"\s+", re.ASCII)
    # Bounded-memory affine pass (r12, ADVICE r11): the (k, grams) slice
    # and its A*h/+B/%P temporaries are capped at ~8M elements (~64 MB
    # each) regardless of batch gram count — giant-doc corpora at 10k-doc
    # Arrow batches previously materialized (k, total_grams) in one shot,
    # multi-GB peak. Snapshot driver-side so worker re-imports can't
    # desync a monkeypatched test value (the text.py slot_cap pattern).
    gram_chunk = max(1, _GRAM_CHUNK_ELEMS // k)

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            # Batch-vectorized form (r11, guide §4.2): the old per-doc loop
            # paid one hashlib call + hex parse per gram PER DOC. Now (a) a
            # batch-level memo hashes each distinct gram ONCE per batch —
            # on boilerplate corpora the same shingles repeat across docs,
            # and at real Arrow batch sizes (10k docs) the memo hit rate is
            # what makes this 2x+; (b) the 60-bit parse reads the digest
            # bytes directly (first 8 bytes big-endian >> 4 IS
            # int(hexdigest[:15], 16) — same first 60 bits) instead of
            # formatting hex and re-parsing; (c) the k affine mins fold in
            # ONE (k, total_grams) numpy pass with segment mins via
            # minimum.reduceat. Arithmetic is unchanged int64 affine-mod on
            # the identical hash values — bit-identical by construction
            # (pinned by test_minhash_vectorized_kernel_matches_naive).
            out_ids: list = []
            gram_idx: list = []  # per kept doc: np.int64[...] memo indices
            memo: dict[str, int] = {}
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = ws.split(text.strip(" "))
                if len(toks) < 3:
                    continue
                grams = {
                    " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
                }
                idxs = np.empty(len(grams), dtype=np.int64)
                for j, g in enumerate(grams):
                    v = memo.get(g)
                    if v is None:
                        v = memo[g] = len(memo)
                    idxs[j] = v
                out_ids.append(doc_id)
                gram_idx.append(idxs)
            if not out_ids:
                # dtype-correct empties: a bare {"doc": [], "sig": []}
                # infers float64 columns, which Arrow refuses to convert
                # to list<int64> — a latent trap in the pre-r11 kernel
                # too, exposed by the 1-row-batch fixture of
                # test_minhash_vectorized_kernel_matches_naive
                yield pd.DataFrame(
                    {
                        "doc": pd.Series([], dtype=object),
                        "sig": pd.Series([], dtype=object),
                    }
                )
                continue
            uh = np.fromiter(
                (
                    (
                        int.from_bytes(
                            hashlib.md5(g.encode()).digest()[:8], "big"
                        )
                        >> 4
                    )
                    % MINHASH_P
                    for g in memo
                ),
                dtype=np.int64,
                count=len(memo),
            )
            counts = np.fromiter(
                (len(ix) for ix in gram_idx),
                dtype=np.int64,
                count=len(gram_idx),
            )
            # Chunked (k, grams) affine-mod + segment mins: identical
            # int64 arithmetic on identical hash values, sliced along
            # doc boundaries so no temporary exceeds ~gram_chunk grams.
            # A doc whose OWN gram count exceeds the chunk is folded in
            # sub-slices with elementwise np.minimum — min is
            # associative, so the fold equals the one-shot reduceat.
            n_docs = len(counts)
            mins = np.empty((A.shape[0], n_docs), dtype=np.int64)
            d = 0
            while d < n_docs:
                e, tot = d, 0
                while e < n_docs and tot + counts[e] <= gram_chunk:
                    tot += counts[e]
                    e += 1
                if e == d:  # single doc larger than the chunk
                    ix = gram_idx[d]
                    acc = None
                    for a0 in range(0, len(ix), gram_chunk):
                        hh = uh[ix[a0 : a0 + gram_chunk]]
                        part = ((A * hh[None, :] + B) % MINHASH_P).min(
                            axis=1
                        )
                        acc = part if acc is None else np.minimum(acc, part)
                    mins[:, d] = acc
                    e = d + 1
                else:
                    hh = uh[np.concatenate(gram_idx[d:e])]
                    offs = np.zeros(e - d, dtype=np.int64)
                    np.cumsum(counts[d : e - 1], out=offs[1:])
                    sig = (A * hh[None, :] + B) % MINHASH_P
                    mins[:, d:e] = np.minimum.reduceat(sig, offs, axis=1)
                d = e
            yield pd.DataFrame(
                {
                    "doc": out_ids,
                    "sig": [mins[:, i] for i in range(mins.shape[1])],
                }
            )

    # The md5-shingle kernel is ~80% of signature cost; a single-file local
    # scan would run it on one core (gated no-op at real partition counts).
    from ..session import fan_out

    return fan_out(df.select(id_col, text_col), divisor=2).mapInPandas(
        kernel, schema
    )


def _band_keys(sigs: DataFrame, k: int, band_size: int) -> DataFrame:
    """Band bucket keys: '-'-joined decimal components of each band slice.
    The string join is engine-portable for ANY band_size (the earlier
    2^31-packing hardcoded exactly two components — a band_size other than
    2 silently dropped or mis-read components; review r3) and collision-
    free: distinct component tuples always render distinct strings.
    Input columns (doc, sig, ...) pass through so callers can compute the
    agreement estimate inside the band join instead of re-joining sigs."""
    n_bands = k // band_size
    # one selectExpr round-trip for the whole band array (r11
    # construction pass — see _names.sql_ident); named_struct/array_join/
    # slice parse to the identical expression tree the Column loop built
    parts = ", ".join(
        f"named_struct('band', {b}, 'key', "
        f"array_join(slice(sig, {b * band_size + 1}, {band_size}), '-'))"
        for b in range(n_bands)
    )
    return sigs.selectExpr("*", f"explode(array({parts})) AS bk").select(
        *sigs.columns, "bk.band", "bk.key"
    )


def minhash_portable_pairs_between(
    existing: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """INCREMENTAL near-dup: candidates pair an EXISTING doc with an
    INCOMING doc — the ingestion-time dedup shape. At 100 TB you never
    re-self-join the corpus per batch: the corpus's band keys are computed
    once (in practice persisted as a bucketed band index), the new batch's
    bands are tiny, and the join probes corpus bands with batch bands —
    work scales with |batch| + collisions, not |corpus|^2 or even
    |corpus| x |batch|. Same portable hashing as the self-join tier, so
    fully oracle-checked. (No internal persist: each signature frame
    feeds exactly one join side, so there is no branch reuse to cache.)
    """
    # No persist here (r5): unlike the self-join tier, each signature
    # frame feeds exactly ONE band-join side — there is no plan-branch
    # reuse for a cache to deduplicate, so the two eager count() jobs
    # were pure overhead.
    ex_sigs = _minhash_sigs(existing, id_col, text_col, MINHASH_K)
    in_sigs = _minhash_sigs(incoming, id_col, text_col, MINHASH_K)
    # Same sig-through-the-band-join fold as the self-join tier: the
    # estimate is computed in the band-join projection and the pair
    # distinct happens after thresholding — 3 exchanges, no sig rejoins
    # (and at ingestion scale the tiny incoming side broadcasts).
    a = _band_keys(ex_sigs, MINHASH_K, MINHASH_BAND_SIZE).alias("a")
    b = _band_keys(in_sigs, MINHASH_K, MINHASH_BAND_SIZE).alias("b")
    est = minhash_agreement_est(MINHASH_K)
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")),
        )
        .select(
            F.col("a.doc").alias("existing_doc"),
            F.col("b.doc").alias("incoming_doc"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= MINHASH_MIN_JACCARD)
        .select("existing_doc", "incoming_doc", "est_jaccard")
        .distinct()
    )


def minhash_portable_between_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    existing_pred: str,
    incoming_pred: str,
) -> str:
    """DuckDB twin of minhash_portable_pairs_between over one table split
    by predicates."""
    k, band_size = MINHASH_K, MINHASH_BAND_SIZE
    n_bands = k // band_size
    params = ", ".join(
        f"({i}, CAST({a} AS BIGINT), CAST({b} AS BIGINT))"
        for i, (a, b) in enumerate(MINHASH_AB[:k])
    )
    h60 = portable_hash60_sql("shingle")
    return rf"""
WITH toks AS (
    SELECT {id_col} AS doc, regexp_split_to_array(trim({text_col}), '{WS}') AS w
    FROM {table}
    WHERE len(regexp_split_to_array(trim({text_col}), '{WS}')) >= 3
),
sh AS (
    SELECT DISTINCT doc,
           unnest(list_transform(generate_series(1, len(w) - 2),
                                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM toks
),
hv AS (SELECT doc, {h60} % {MINHASH_P} AS hm FROM sh),
comps AS (
    SELECT hv.doc, p.i, MIN((p.a * hv.hm + p.b) % {MINHASH_P}) AS comp
    FROM hv CROSS JOIN (VALUES {params}) AS p(i, a, b)
    GROUP BY hv.doc, p.i
),
sigs AS (SELECT doc, list(comp ORDER BY i) AS sig FROM comps GROUP BY doc),
bands AS (
    SELECT doc, b.b AS band,
           array_to_string(sig[{band_size}*b.b + 1 : {band_size}*b.b + {band_size}], '-') AS key
    FROM sigs CROSS JOIN (SELECT unnest(range({n_bands})) AS b) b
),
cand AS (
    SELECT DISTINCT a.doc AS existing_doc, b.doc AS incoming_doc
    FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
    WHERE a.doc IN (SELECT {id_col} FROM {table} WHERE {existing_pred})
      AND b.doc IN (SELECT {id_col} FROM {table} WHERE {incoming_pred})
),
est AS (
    SELECT c.existing_doc, c.incoming_doc,
           CAST(len(list_filter(list_zip(sa.sig, sb.sig), p -> p[1] = p[2]))
                AS DOUBLE) / {float(k)} AS est_jaccard
    FROM cand c
    JOIN sigs sa ON sa.doc = c.existing_doc
    JOIN sigs sb ON sb.doc = c.incoming_doc
)
SELECT existing_doc, incoming_doc, est_jaccard
FROM est WHERE est_jaccard >= {MINHASH_MIN_JACCARD}
"""


def minhash_portable_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    bucket_cap: int | None = None,
) -> str:
    """DuckDB twin of minhash_portable_pairs — identical md5/modular math,
    so buckets, candidates, and the estimate all agree exactly; with
    ``bucket_cap`` the identical (band, key) window-count drop too."""
    k, band_size = MINHASH_K, MINHASH_BAND_SIZE
    n_bands = k // band_size
    params = ", ".join(
        f"({i}, CAST({a} AS BIGINT), CAST({b} AS BIGINT))"
        for i, (a, b) in enumerate(MINHASH_AB[:k])
    )
    h60 = portable_hash60_sql("shingle")
    return rf"""
WITH toks AS (
    SELECT {id_col} AS doc, regexp_split_to_array(trim({text_col}), '{WS}') AS w
    FROM {table}
    WHERE len(regexp_split_to_array(trim({text_col}), '{WS}')) >= 3
),
sh AS (
    SELECT DISTINCT doc,
           unnest(list_transform(generate_series(1, len(w) - 2),
                                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM toks
),
hv AS (SELECT doc, {h60} % {MINHASH_P} AS hm FROM sh),
comps AS (
    SELECT hv.doc, p.i, MIN((p.a * hv.hm + p.b) % {MINHASH_P}) AS comp
    FROM hv CROSS JOIN (VALUES {params}) AS p(i, a, b)
    GROUP BY hv.doc, p.i
),
sigs AS (SELECT doc, list(comp ORDER BY i) AS sig FROM comps GROUP BY doc),
bands AS (
    SELECT doc, b.b AS band,
           array_to_string(sig[{band_size}*b.b + 1 : {band_size}*b.b + {band_size}], '-') AS key
    FROM sigs CROSS JOIN (SELECT unnest(range({n_bands})) AS b) b
),
kept AS (
    SELECT doc, band, key
    FROM (SELECT bands.*, count(*) OVER (PARTITION BY band, key) AS bc FROM bands)
    {"WHERE bc <= " + str(bucket_cap) if bucket_cap is not None else ""}
),
cand AS (
    SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
    FROM kept a JOIN kept b
      ON a.band = b.band AND a.key = b.key AND a.doc < b.doc
),
est AS (
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_filter(list_zip(sa.sig, sb.sig), p -> p[1] = p[2]))
                AS DOUBLE) / {float(k)} AS est_jaccard
    FROM cand c
    JOIN sigs sa ON sa.doc = c.doc_a
    JOIN sigs sb ON sb.doc = c.doc_b
)
SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= {MINHASH_MIN_JACCARD}
"""


# ---------------------------------------------------------------------------
# SimHash (portable tier)
# ---------------------------------------------------------------------------


def simhash_portable_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash over portable token hashes. The bit-vote fold is an
    Arrow-vectorized Pandas UDF — pure integer math (shift/mask/sum), so
    its result is EXACTLY the SQL formulation's despite being numpy: there
    is no float anywhere to reassociate."""

    @F.pandas_udf(T.LongType())
    def simhash60(hashes: pd.Series) -> pd.Series:
        out = np.empty(len(hashes), dtype=np.int64)
        for i, hs in enumerate(hashes):
            if hs is None:  # NULL text -> NULL hash array; zero-signature
                out[i] = 0
                continue
            arr = np.asarray(hs, dtype=np.int64)
            if arr.size == 0:
                out[i] = 0
                continue
            bits = (arr[:, None] >> np.arange(SIMHASH_PORTABLE_BITS)) & 1
            votes = bits.sum(axis=0) * 2 - arr.size
            out[i] = int(((votes > 0).astype(np.int64) << np.arange(SIMHASH_PORTABLE_BITS)).sum())
        return pd.Series(out)

    toks = F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))
    hashes = F.transform(toks, lambda t: portable_hash60(t))
    # NULL text dropped (not zero-signed) — see dedup.simhash_signatures
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc"), simhash60(hashes).alias("simhash")
    )


def simhash_portable_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Portable SimHash near-dup pairs (Hamming <= SIMHASH_MAX_HAMMING over 60
    bits). 4 bands x 15 bits: pigeonhole guarantees any pair within
    Hamming 3 collides on at least one band, so candidate generation is a
    linear band-key equi-join — same plan shape as the 64-bit fast tier."""
    sigs = simhash_portable_signatures(df, id_col, text_col)
    bands = sigs.select(
        "doc",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("simhash"), 15 * i)
                        .bitwiseAND(F.lit(0x7FFF))
                        .alias("key"),
                    )
                    for i in range(SIMHASH_PORTABLE_BANDS)
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
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("long"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_portable_oracle_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB twin of simhash_portable_pairs: bit votes via an unnested
    (token-hash x bit) grid, signature reassembly, band join, bit_count
    Hamming — all exact integer ops."""
    h60 = portable_hash60_sql("tok")
    return rf"""
WITH toks AS (
    SELECT {id_col} AS doc,
           unnest(list_distinct(regexp_split_to_array(trim({text_col}), '{WS}'))) AS tok
    FROM {table}
),
th AS (SELECT doc, {h60} AS h FROM toks),
votes AS (
    SELECT doc, bb.b,
           SUM(CASE WHEN (h >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
    FROM th CROSS JOIN (SELECT unnest(range({SIMHASH_PORTABLE_BITS})) AS b) bb
    GROUP BY doc, bb.b
),
sigs AS (
    SELECT doc,
           CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sig
    FROM votes GROUP BY doc
),
bands AS (
    SELECT doc, sig, ii.i AS band, (sig >> (15 * ii.i)) & 32767 AS key
    FROM sigs CROSS JOIN (SELECT unnest(range({SIMHASH_PORTABLE_BANDS})) AS i) ii
),
cand AS (
    SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b, a.sig AS sa, b.sig AS sb
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.doc < b.doc
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {SIMHASH_MAX_HAMMING}
"""
