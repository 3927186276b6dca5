"""[EXT] Text-analysis operators for LLM-data pipelines (SURVEY.md §2.12).

Language-ID (stopword heuristic), quality scoring, token counting, and
document fingerprinting over a text column — all pure built-in column
expressions (JVM-side, whole-stage codegen; zero Python in the hot path),
so they scale linearly with the scan at 100 TB.

Cross-engine determinism notes (verified against DuckDB):
- regexp_count on simple ASCII classes matches RE2/Java semantics,
- split-to-chars + ascii + fold rolling hash is integer-exact,
- ratios are single IEEE divisions of identical integer operands.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves PEP-563 string hints

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import fan_out
from ._persist import swept_persist

WORD_RE = "[A-Za-z0-9]+"
PUNCT_RE = "[.,!?;:]"

# Tiny per-language stopword marker sets for the n-gram/stopword language
# heuristic. Alphabetical tie-break on scores.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist"),
    "en": ("the", "and", "is", "of", "to"),
    "es": ("el", "los", "es", "y", "de"),
    "fr": ("le", "les", "est", "et", "une"),
    "zh": ("的", "是", "了", "在", "我"),
}


def ws_tokens(text_col: str) -> Column:
    """THE engine-side whitespace tokenizer (non-empty \\s+ split) —
    one spelling shared by chunking (chunk_tokens) and decontamination
    (curation._ngrams); a second hand copy re-opens the drift hazard the
    r5 mix_rank consolidation closed (review r7)."""
    return F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")


def token_count(text: Column) -> Column:
    """Whitespace/punctuation-delimited word-ish token count."""
    return F.regexp_count(text, F.lit(WORD_RE))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-flavored token estimate: word pieces of <=4 chars + punctuation
    (a cheap, deterministic stand-in for a real tokenizer's token count)."""
    # \s differs between Java (has \x0B) and RE2 (lacks it) — spell the
    # Java set out so both engines negate the same six chars.
    return F.regexp_count(
        text, F.lit("[A-Za-z0-9]{1,4}|[^A-Za-z0-9 \t\n\u000B\f\r]")
    )


def punct_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(PUNCT_RE))


# --- DuckDB twins of the scalar scorers, built HERE so plan-file oracles
# cannot drift from the Spark expressions above (review r5: the same SQL
# was hand-inlined in extensions.py and curation.py; the marker_pattern
# builder below exists for exactly this reason). regexp_count has no
# DuckDB equivalent; len(regexp_extract_all(...)) counts the same
# non-overlapping matches.


def token_count_sql(expr: str) -> str:
    return f"len(regexp_extract_all({expr}, '{WORD_RE}'))"


def bpe_ish_token_count_sql(expr: str) -> str:
    # \x0B spelled explicitly: Java \s includes it, RE2's lacks it
    return (
        f"len(regexp_extract_all({expr},"
        " '[A-Za-z0-9]{1,4}|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]'))"
    )


def punct_count_sql(expr: str) -> str:
    return f"len(regexp_extract_all({expr}, '{PUNCT_RE}'))"


def quality_score_sql(expr: str) -> str:
    """word_density - punct_ratio with x/0 -> NULL (try_divide twin).
    DuckDB integer/integer division is float already; the explicit DOUBLE
    casts pin the operand types to Spark's."""
    return (
        f"(CAST({token_count_sql(expr)} AS DOUBLE) / length({expr})"
        f" - CAST({punct_count_sql(expr)} AS DOUBLE) / length({expr}))"
    )


def marker_pattern(lang: str) -> str:
    """The marker regex shared VERBATIM by the Spark expression and the
    DuckDB oracles (plans/extensions.py) — one builder so the two can't
    drift. Latin-script langs use word boundaries; zh must NOT: ``\\b``
    is ASCII-only in BOTH Java regex and RE2, so a word-bounded CJK
    pattern can never match (review r4 — the zh tier was structurally
    dead: every Chinese doc scored 0 across the board and fell to the
    alphabetical tie default). Substring occurrence is also the correct
    semantics for an unsegmented script."""
    words = LANG_MARKERS[lang]
    if lang == "zh":
        return "(" + "|".join(words) + ")"
    return "\\b(" + "|".join(words) + ")\\b"


# Any non-ASCII codepoint -> space, applied BEFORE \b-bounded marker
# matching: Java's \b is Unicode-aware (a combining mark CONTINUES the
# word, so NFD 'déjà' hides its 'de') while RE2's \b is ASCII-\w-only
# (the mark is a boundary, so the same text MATCHES 'de') — found by the
# --extreme sweep. On all-ASCII input the fold is the identity, and on
# the folded text both engines' \b agree exactly.
NON_ASCII_RE = "[^\\x00-\\x7F]"


def ascii_only(col: Column) -> Column:
    return F.regexp_replace(col, NON_ASCII_RE, " ")


def ascii_only_sql(expr: str) -> str:
    return f"regexp_replace({expr}, '[^\\x00-\\x7F]', ' ', 'g')"


def stopword_count(text: Column, lang: str) -> Column:
    """Occurrences of the language's marker words (word-bounded over
    ASCII-folded text for Latin scripts — \\b semantics diverge across
    engines on non-ASCII neighbors, see NON_ASCII_RE — substring over the
    raw text for zh, see marker_pattern)."""
    subject = text if lang == "zh" else ascii_only(text)
    return F.regexp_count(subject, F.lit(marker_pattern(lang)))


def lang_scores(text: Column) -> dict[str, Column]:
    return {lang: stopword_count(text, lang) for lang in sorted(LANG_MARKERS)}


def predicted_lang(text: Column) -> Column:
    """argmax over stopword scores, alphabetical priority on ties.
    NULL text predicts NULL (review r5: every score is NULL, so the CASE
    chain fell through to the alphabetical seed and classified NULL
    documents as 'zh' — the oracle wraps the same guard)."""
    scores = lang_scores(text)
    langs = sorted(scores)
    expr = F.lit(langs[-1])
    # Build the CASE chain back-to-front: lang wins if its score >= max of
    # the languages after it (alphabetical priority).
    for i in range(len(langs) - 2, -1, -1):
        rest = [scores[l2] for l2 in langs[i + 1 :]]
        rest_max = rest[0] if len(rest) == 1 else F.greatest(*rest)
        expr = F.when(scores[langs[i]] >= rest_max, langs[i]).otherwise(expr)
    return F.when(text.isNotNull(), expr)


def quality_score(text: Column) -> Column:
    """Deterministic [0,1]-ish quality heuristic: word density minus
    punctuation excess (length/punct/token ratios, single IEEE divisions)."""
    n_chars = F.length(text)
    words = token_count(text)
    puncts = punct_count(text)
    # try_divide, not /: ANSI Spark raises DIVIDE_BY_ZERO on empty text
    # while DuckDB's x/0 is NULL — try_divide is the exact DuckDB match
    # (and a one-bad-row-kills-the-job fix at corpus scale).
    word_density = F.try_divide(words.cast("double"), n_chars)
    punct_ratio = F.try_divide(puncts.cast("double"), n_chars)
    return word_density - punct_ratio


# Fixed linear-model weights for model-based quality filtering (a stand-in
# for a fastText/logreg quality classifier: same feature plumbing, tiny
# deterministic model). Order matters — the score folds left-to-right.
QUALITY_MODEL_WEIGHTS: tuple[tuple[str, float], ...] = (
    ("bias", -0.25),
    ("word_density", 4.0),
    ("punct_ratio", -6.0),
    ("root_len", 0.01),
    ("distinct_ratio", 0.5),
)


def model_quality_features(text: Column) -> dict[str, Column]:
    """The classifier's feature map — cheap deterministic per-row exprs:
    only IEEE-correctly-rounded ops (divisions, sqrt) of identical
    operands. No runtime transcendentals — Spark 4's Catalyst ln is
    StrictMath.log, 1 ulp off libm (DuckDB/Python) on ~1% of inputs."""
    n_chars = F.length(text)
    words = token_count(text)
    toks = F.filter(F.split(ascii_folded(text), TOKEN_SPLIT_RE), lambda x: x != "")
    # try_divide everywhere: ANSI Spark raises DIVIDE_BY_ZERO on empty /
    # token-less text, DuckDB's x/0 is NULL — try_divide matches DuckDB
    # bit-for-bit on nonzero denominators and NULLs the degenerate rows.
    return {
        "word_density": F.try_divide(words.cast("double"), n_chars),
        "punct_ratio": F.try_divide(
            punct_count(text).cast("double"), n_chars
        ),
        # sqrt, NOT ln: +,-,*,/,sqrt are IEEE-correctly-rounded on
        # every engine, while Spark 4's Catalyst ln is StrictMath.log —
        # 1 ulp off libm (DuckDB/Python) on ~1% of inputs (found via a
        # sf0.001 full-catalog sweep; ln(74) differs)
        "root_len": F.sqrt(F.lit(1.0) + n_chars),
        "distinct_ratio": F.try_divide(
            F.size(F.array_distinct(toks)).cast("double"), F.size(toks)
        ),
    }


def model_quality_score(text: Column) -> Column:
    """Linear-model quality score: w·f folded left-to-right (bias first) so
    the double is reproducible in SQL. The sigmoid is monotone, so
    thresholding the LINEAR score is the same filter without betting the
    value hash on cross-libm exp()."""
    feats = model_quality_features(text)
    score = F.lit(dict(QUALITY_MODEL_WEIGHTS)["bias"])
    for name, w in QUALITY_MODEL_WEIGHTS:
        if name == "bias":
            continue
        score = score + F.lit(w) * feats[name]
    return score


def model_quality_score_sql(text_expr: str) -> str:
    """DuckDB twin of model_quality_score (same features, same fold)."""
    words = f"len(regexp_extract_all({text_expr}, '{WORD_RE}'))"
    puncts = f"len(regexp_extract_all({text_expr}, '{PUNCT_RE}'))"
    toks = (
        f"list_filter(string_split_regex({ascii_folded_sql(text_expr)}, '{TOKEN_SPLIT_RE}'), "
        "x -> x <> '')"
    )
    feats = {
        "word_density": f"(CAST({words} AS DOUBLE) / length({text_expr}))",
        "punct_ratio": f"(CAST({puncts} AS DOUBLE) / length({text_expr}))",
        "root_len": f"sqrt(1.0 + length({text_expr}))",
        "distinct_ratio": (
            f"(CAST(len(list_distinct({toks})) AS DOUBLE) / len({toks}))"
        ),
    }
    # Weights embed as CAST('<repr>' AS DOUBLE), NEVER bare literals: a
    # bare high-precision decimal parses as DECIMAL first in DuckDB and
    # its decimal->double conversion is 1 ulp off (_util.dsum_sql trap;
    # the current weights happen to convert exactly, but a retrained
    # coefficient would silently desync the oracle — review r4).
    def lit(w: float) -> str:
        return f"CAST('{w!r}' AS DOUBLE)"

    expr = lit(dict(QUALITY_MODEL_WEIGHTS)["bias"])
    for name, w in QUALITY_MODEL_WEIGHTS:
        if name == "bias":
            continue
        expr = f"({expr} + {lit(w)} * {feats[name]})"
    return expr


#: ``rolling_fingerprint``'s modulus, 2^31-1.
FINGERPRINT_MODULUS = 2147483647


def rolling_fingerprint(text: Column) -> Column:
    """Polynomial rolling hash over characters (base 31, mod 2^31-1) —
    a deterministic document fingerprint computed with a higher-order fold
    (F.aggregate), no UDF. Guard empty strings upstream (fold needs >=1 char
    to match DuckDB's init-less list_reduce)."""
    chars = F.split(text, "")
    codes = F.transform(chars, lambda c: F.ascii(c).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % FINGERPRINT_MODULUS,
    )


def fingerprint_sql(expr: str) -> str:
    """DuckDB-side rolling fingerprint identical to rolling_fingerprint."""
    return (
        f"list_reduce(list_transform(regexp_split_to_array({expr}, ''), "
        f"c -> CAST(ascii(c) AS BIGINT)), "
        f"(a, b) -> (a * 31 + b) % {FINGERPRINT_MODULUS})"
    )


# ---------------------------------------------------------------------------
# TF-IDF (explode-based term statistics)
# ---------------------------------------------------------------------------

TOKEN_SPLIT_RE = "[^a-z]+"

# Oracle-side whitespace split matching the JVM's (and Python re.ASCII's)
# \s exactly: RE2 — DuckDB's regex engine — has an ASCII \s of
# [ \t\n\f\r] WITHOUT vertical tab U+000B, while Java and Python include
# it, so a bare '\s+' oracle split diverges on documents containing \x0B
# (code-review r4; the extreme fixture now injects one). The explicit
# class pins all three engines to the same five-plus-one charset.
JAVA_WS_SPLIT_SQL = r"[ \t\n\x0B\f\r]+"
WS = JAVA_WS_SPLIT_SQL  # short alias for oracle f-strings

# Unicode case mapping differs across engines on non-ASCII uppercase:
# JVM and Python lower('İ' U+0130) is the FULL mapping 'i'+U+0307 (two
# codepoints), DuckDB's utf8proc lower is the SIMPLE map 'i' (one) —
# so any lower()-then-split tokenizer fragments differently per engine
# (found by the --extreme sweep). Tokens are therefore ASCII BY
# CONSTRUCTION: strip every non-ASCII-letter to a space FIRST, then
# lower — lower() only ever sees [A-Za-z], where all engines agree.
# Identical to the old lower()-first form on pure-ASCII text.
TOKEN_STRIP_RE = "[^A-Za-z]+"


def ascii_folded(col: Column) -> Column:
    """Case-folded ASCII-letter text: non-ASCII-letters -> space, then
    lower. The ONLY sanctioned input to TOKEN_SPLIT_RE tokenization."""
    return F.lower(F.regexp_replace(col, TOKEN_STRIP_RE, " "))


def ascii_folded_sql(expr: str) -> str:
    """DuckDB twin of ascii_folded."""
    return f"lower(regexp_replace({expr}, '[^A-Za-z]+', ' ', 'g'))"


def explode_terms(df, id_col: str, text_col: str):
    """Lowercase alpha tokens, one row per (doc, occurrence): a projection +
    generator, no shuffle — term statistics then hang off groupBys of this.
    Split regex is dialect-neutral (same tokens from DuckDB's
    string_split_regex)."""
    return df.select(
        F.col(id_col),
        F.explode(F.split(ascii_folded(F.col(text_col)), TOKEN_SPLIT_RE)).alias("term"),
    ).filter(F.col("term") != "")


def _idf_py(doc_freq: int, n_docs: float) -> float:
    """Smoothed idf = ln((N+1)/(df+1)) + 1 (sklearn's 'smooth' variant),
    computed with PYTHON's libm log — which is bit-identical to DuckDB's
    ln (both call the platform libm), while Spark 4's Catalyst ln is
    StrictMath.log, 1 ulp off on ~1% of inputs. idf therefore must be
    computed on the driver and injected (literal/closure/broadcast),
    never in a runtime JVM projection."""
    import math as _math

    return _math.log((n_docs + 1.0) / (doc_freq + 1.0)) + 1.0


def _libm_idf_udf(n_docs: float):
    """The ONE distributed idf implementation (review r4: the same UDF
    body was copied in vocabulary_stats and _doc_top_terms_join, and
    _idf_py was a third inline copy of the formula — a smoothing change
    to one silently breaks the cross-path bit-equality the docstrings
    promise). Per-element math.log (platform libm — bit-identical to
    DuckDB's ln), NOT numpy.log: numpy's SIMD log differs by ulps on the
    same inputs where Catalyst's StrictMath does. The Python loop is
    fine — idf columns are vocab-sized, and idf stays DISTRIBUTED."""
    @F.pandas_udf(T.DoubleType())
    def libm_idf(doc_freq: pd.Series) -> pd.Series:
        return pd.Series([_idf_py(x, n_docs) for x in doc_freq])

    return libm_idf


def vocabulary_stats(df, id_col: str = "doc_id", text_col: str = "text"):
    """Corpus vocabulary profile: per term, document frequency, total term
    frequency, smoothed idf, and tf-idf mass. One groupBy(term) shuffle
    (vocab-sized, i.e. tiny next to the corpus) does the corpus-scale
    work; idf is computed in a vectorized-transfer pandas UDF calling
    libm's log per element — Spark's runtime ln (StrictMath) is 1 ulp off
    the libm DuckDB uses, and numpy's SIMD log differs again, so
    element-wise math.log is the only bit-stable distributed option."""
    # One explode pass: aggregate to (doc, term) first, then derive BOTH
    # term stats from that — doc_freq is the (doc,term) row count and
    # term_freq the tf sum, so the corpus-sized explode runs once and the
    # expensive countDistinct disappears entirely.
    tf = (
        explode_terms(df, id_col, text_col)
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    per_term = tf.groupBy("term").agg(
        F.count("*").alias("doc_freq"),
        F.sum("tf").alias("term_freq"),
    )
    n_docs = float(df.count())

    return (
        per_term.withColumn("idf", _libm_idf_udf(n_docs)(F.col("doc_freq")))
        .select(
            "term",
            "doc_freq",
            "term_freq",
            "idf",
            (F.col("term_freq") * F.col("idf")).alias("tfidf_mass"),
        )
        .orderBy("term")
    )


# A token can only contain [a-z] after the TOKEN_SPLIT_RE split, so "\x00"
# can never collide with a real term — safe as an in-array per-doc sentinel.
_NDOC_SENTINEL = "\x00"

#: Max term slots per OUTPUT Arrow batch in tokenize_pack: Spark's
#: ArrayType wire format carries int32 list offsets, so one batch cannot
#: hold 2^31+ slots. The kernel splits oversized packs into multiple
#: RecordBatches instead of letting pa.array raise ArrowInvalid (r8,
#: ADVICE r7 — loud but job-fatal on extreme long-doc corpora). Small
#: safety margin off 2^31-1; tests shrink it to force the chunk path.
_MAX_PACKED_SLOTS = (1 << 31) - 1024


def doc_top_terms(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_broadcast_terms: int = 5_000_000,
    stats_fallback_bytes: int = 8 << 30,
):
    """Per-document top-k terms by tf-idf (deterministic tiebreak on term).

    Two-pass shape exploiting that a document's tokens live in ONE row, so
    tf and the per-doc rank need no cross-row data movement at all:

    1. **Vocab pass (JVM, ONE job)**: per-doc distinct terms in-row
       (array_distinct) plus a per-doc sentinel element, explode,
       vocab-sized groupBy(term) -> doc_freq; the sentinel's doc_freq IS
       n_docs, so the corpus count rides the same aggregate instead of a
       second df.count() job (a UNIONED sentinel row was measured slower —
       0.60 s vs 0.28 + 0.09 — because the union's two scan subtrees
       serialize; the in-array sentinel shares the single scan). idf is
       then computed DRIVER-side with Python's libm log, which is
       bit-identical to DuckDB's ln (both call the platform libm), while
       Spark 4's Catalyst ln is StrictMath.log — 1 ulp off on ~1% of
       inputs (caught by the sf0.001 full-catalog sweep). See _idf_py.
    2. **Score pass (Arrow kernel, zero exchanges)**: one mapInArrow over
       (id, text) with the idf dict shipped as a real
       ``sparkContext.broadcast`` (serialized once per executor, not once
       per task as closure capture would). The kernel is fully
       vectorized: pyarrow C tokenization (utf8_lower +
       split_pattern_regex + list_flatten/list_parent_indices), pandas
       groupby tf, stable mergesort rank, head(k) — measured 2.2x faster
       than the per-doc Python Counter loop it replaced (0.50 -> 0.23 s
       at sf0.1). No (doc, term) shuffle, no rank window, no joins.
       Unknown tokens (possible only if the Arrow and JVM tokenizers ever
       diverge on exotic Unicode) are dropped per-token instead of
       failing the job.

    Earlier formulations, all measured at sf0.1 warm: explode +
    groupBy(doc,term) + broadcast idf + rank window = 0.80 s (3 exchanges
    + 2 broadcast builds); window-count-over-term = one pass fewer but
    partitions the full (doc,term) set by term — a skew trap at scale;
    pure in-row HOF scoring (transform/filter lambdas) = 2.57 s —
    higher-order lambdas evaluate interpreted, not codegen; a
    limit(cap)-guarded vocab collect = +0.2 s (CollectLimit's executeTake
    re-runs the aggregate over partition ramp-up rounds — measured 0.23 s
    vs 0.03 s for the plain collect, initialNumPartitions notwithstanding).

    At 100 TB: pass 1 exchanges only |vocab| x partitions rows; pass 2 is
    embarrassingly parallel over scan partitions. Broadcast residency is
    CAPPED at ``max_broadcast_terms`` by two tiers, mirroring how Spark
    itself plans broadcast joins: (a) a statistics-based pre-route (no
    job) — when Catalyst's sizeInBytes estimate for the input exceeds
    ``stats_fallback_bytes``, the vocabulary is presumed broadcast-
    hostile and the operator goes straight to the distributed join form;
    (b) a post-collect hard cap — if the collected vocabulary still
    exceeds ``max_broadcast_terms``, it is discarded and the join form
    takes over (the transient driver copy is bounded by
    spark.driver.maxResultSize, which errors cleanly rather than OOMs —
    the cap protects the broadcast + executor side). The join form —
    groupBy(doc,term) tf + vocab join + per-doc rank window — never
    materializes the vocabulary anywhere and produces bit-identical
    results (idf via the same libm-log pandas UDF as vocabulary_stats;
    tf*idf is a single IEEE multiply in both paths).

    PRECONDITION (review r4): ``id_col`` must be key-unique — one row per
    document, the documents-table contract both oracles assume. The
    kernel path treats each physical ROW as a document (zero-exchange by
    design: a doc's tokens live in one row), while the join fallback's
    groupBy(doc, term) would MERGE duplicated ids — on a key-violating
    input the two tiers (and the oracle) can disagree, and which tier
    runs depends on the size estimate. Dedup upstream first."""
    # Tier (a): statistics-based route, the same signal Catalyst's own
    # broadcast-join planning uses — no job, no collect.
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        est = 0
    if est > stats_fallback_bytes:
        return _doc_top_terms_join(df, id_col, text_col, k)

    # --- single-tokenize pass (r7) -------------------------------------
    # The r6 co-measure showed the Spark/DuckDB ratio FLAT at ~2.05x from
    # x8 through x64 — exactly the cost of tokenizing the corpus TWICE
    # (the old vocab pass re-split raw text in the JVM; the score kernel
    # split it again in Arrow). Tokenize ONCE into a cached packed frame
    # (id, terms[], tfs[]) — one row per document, so a doc can never
    # straddle an Arrow batch boundary in the rank pass — then both the
    # doc_freq aggregate (job 1) and the rank kernel (job 2) read the
    # cache instead of raw text. The cache is released by Spark's
    # ContextCleaner when the returned plan is garbage collected (the
    # same lifetime bc_idf already has).
    id_type = df.schema[id_col].dataType
    packed_schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("terms", T.ArrayType(T.StringType())),
            T.StructField("tfs", T.ArrayType(T.LongType())),
        ]
    )

    # snapshot the cap DRIVER-side: a bare global read inside the kernel
    # would re-resolve in the worker process (which re-imports this
    # module), so tests could never exercise the chunk path
    slot_cap = _MAX_PACKED_SLOTS

    def tokenize_pack(batches):
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            tb = pa.Table.from_batches([batch])
            n = len(tb)
            # C-side tokenization (strip-then-lower: ascii_folded
            # contract — the strip leaves only [A-Za-z ] so full-Unicode
            # vs simple case mapping can never diverge). NULL text
            # lowers/splits to a null list, which flatten/parent_indices
            # skip — the row still gets its sentinel (it counts toward
            # n_docs, matching the oracle's COUNT(*)).
            toks = pc.split_pattern_regex(
                pc.utf8_lower(
                    pc.replace_substring_regex(
                        tb.column(text_col), TOKEN_STRIP_RE, " "
                    )
                ),
                TOKEN_SPLIT_RE,
            )
            idx = pc.list_parent_indices(toks)
            flat = pc.list_flatten(toks)
            keep = pc.not_equal(flat, "")
            tf = pd.DataFrame(
                {
                    "i": pc.filter(idx, keep).to_numpy(zero_copy_only=False),
                    "term": pc.filter(flat, keep).to_pandas(),
                }
            )
            if len(tf):
                tf = (
                    tf.groupby(["i", "term"], sort=False)
                    .size()
                    .reset_index(name="tf")
                    .sort_values("i", kind="mergesort")
                )
            # pack per-row lists, sentinel appended to EVERY row
            counts = np.zeros(n, dtype=np.int64)
            if len(tf):
                np.add.at(counts, tf["i"].to_numpy(), 1)
            counts += 1  # the per-doc sentinel slot
            offsets = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(counts, out=offsets[1:])
            total = int(offsets[-1])
            terms_vals = np.empty(total, dtype=object)
            tfs_vals = np.zeros(total, dtype=np.int64)
            terms_vals[offsets[1:] - 1] = _NDOC_SENTINEL
            if len(tf):
                i_arr = tf["i"].to_numpy()
                grp_first = np.r_[0, np.flatnonzero(np.diff(i_arr)) + 1]
                grp_sizes = np.diff(np.r_[grp_first, len(tf)])
                within = np.arange(len(tf)) - np.repeat(grp_first, grp_sizes)
                slots = offsets[i_arr] + within
                terms_vals[slots] = tf["term"].to_numpy()
                tfs_vals[slots] = tf["tf"].to_numpy()
            # int32 list offsets (Spark's ArrayType wire type): one output
            # batch cannot hold 2^31+ term slots (~10k docs/batch x >200k
            # distinct terms each). Split oversized packs into multiple
            # RecordBatches with rebased offsets (r8, ADVICE r7 — the old
            # code let pa.array raise ArrowInvalid: loud, but job-fatal);
            # mapInArrow is free to emit several batches per input batch.
            ids_arr = tb.column(id_col).combine_chunks()
            cap = slot_cap
            r0 = 0
            while r0 < n:
                if total - offsets[r0] <= cap:
                    r1 = n
                else:
                    # largest r1 with offsets[r1] - offsets[r0] <= cap
                    r1 = (
                        int(
                            np.searchsorted(
                                offsets, offsets[r0] + cap, side="right"
                            )
                        )
                        - 1
                    )
                if r1 <= r0:
                    # a single document exceeding int32 slots — not
                    # constructible from a <2 GiB Spark string, but fail
                    # loudly rather than loop forever if it ever is
                    raise ValueError(
                        f"tokenize_pack: row {r0} alone needs "
                        f"{int(offsets[r0 + 1] - offsets[r0])} term slots, "
                        "exceeding int32 list-offset capacity"
                    )
                lo, hi = int(offsets[r0]), int(offsets[r1])
                off32 = pa.array(offsets[r0 : r1 + 1] - lo, pa.int32())
                yield pa.RecordBatch.from_arrays(
                    [
                        ids_arr.slice(r0, r1 - r0),
                        pa.ListArray.from_arrays(
                            off32, pa.array(terms_vals[lo:hi], pa.string())
                        ),
                        pa.ListArray.from_arrays(
                            off32, pa.array(tfs_vals[lo:hi], pa.int64())
                        ),
                    ],
                    names=[id_col, "terms", "tfs"],
                )
                r0 = r1

    # swept_persist, not bare persist: Spark's CacheManager never
    # reclaims persisted frames on its own, so a bench loop / catalog
    # sweep would leak one corpus-sized packed cache per call; the sweep
    # bounds the leak to the last call, and unpersist-early is safe here
    # (the cache is a deterministic perf cache, not a plan barrier).
    packed = swept_persist(
        fan_out(df.select(id_col, text_col)).mapInArrow(
            tokenize_pack, packed_schema
        )
    )

    per_term = (
        packed.select(F.explode("terms").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("doc_freq"))
    )
    # Tier (b): hard cap enforced post-collect (a limit() guard was
    # measured 7x slower — see docstring); the transient driver copy is
    # bounded by spark.driver.maxResultSize.
    vocab_rows = per_term.collect()
    if len(vocab_rows) > max_broadcast_terms + 1:  # +1: the sentinel row
        packed.unpersist(blocking=False)
        return _doc_top_terms_join(df, id_col, text_col, k)

    n_docs = 0.0
    raw: dict[str, int] = {}
    for r in vocab_rows:
        if r["term"] == _NDOC_SENTINEL:
            n_docs = float(r["doc_freq"])
        else:
            raw[r["term"]] = r["doc_freq"]
    idf = {t: _idf_py(dfreq, n_docs) for t, dfreq in raw.items()}
    bc_idf = df.sparkSession.sparkContext.broadcast(idf)

    schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("term", T.StringType()),
            T.StructField("rank", T.LongType()),
            T.StructField("tfidf", T.DoubleType()),
        ]
    )

    def rank_top_k(batches):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc

        out_schema = None
        idf_map = bc_idf.value
        for batch in batches:
            tb = pa.Table.from_batches([batch])
            if out_schema is None:
                out_schema = pa.schema(
                    [
                        pa.field(id_col, tb.schema.field(id_col).type),
                        pa.field("term", pa.string()),
                        pa.field("rank", pa.int64()),
                        pa.field("tfidf", pa.float64()),
                    ]
                )
            # no tokenization here — the packed cache already carries
            # (term, tf) per doc; this pass is map-idf + rank only
            terms_col = tb.column("terms")
            tf = pd.DataFrame(
                {
                    "i": pc.list_parent_indices(terms_col).to_numpy(
                        zero_copy_only=False
                    ),
                    "term": pc.list_flatten(terms_col).to_pandas(),
                    "tf": pc.list_flatten(tb.column("tfs")).to_numpy(
                        zero_copy_only=False
                    ),
                }
            )
            if len(tf) == 0:
                yield pa.RecordBatch.from_pydict(
                    {f.name: [] for f in out_schema}, schema=out_schema
                )
                continue
            # the sentinel never enters idf_map, so the same notna()
            # filter that guarded tokenizer drift drops it per-row
            w = tf["term"].map(idf_map)
            tf = tf[w.notna()]
            tf["tfidf"] = tf["tf"].to_numpy() * w[w.notna()].to_numpy()
            # stable mergesort == Python sorted((-score, term)) tiebreak
            tf = tf.sort_values(
                ["i", "tfidf", "term"],
                ascending=[True, False, True],
                kind="mergesort",
            )
            top = tf.groupby("i", sort=False).head(k).copy()
            top["rank"] = top.groupby("i", sort=False).cumcount() + 1
            ids = tb.column(id_col).to_pandas()
            out = pd.DataFrame(
                {
                    id_col: ids.iloc[top["i"].to_numpy()].to_numpy(),
                    "term": top["term"].to_numpy(),
                    "rank": top["rank"].astype("int64").to_numpy(),
                    "tfidf": top["tfidf"].to_numpy(),
                }
            )
            yield pa.RecordBatch.from_pandas(
                out, schema=out_schema, preserve_index=False
            )

    return packed.mapInArrow(rank_top_k, schema)


def _doc_top_terms_join(df, id_col: str, text_col: str, k: int):
    """Fully-distributed fallback for vocabularies above the broadcast cap:
    groupBy(doc,term) tf, vocab-sized doc_freq aggregate (reusing the tf
    frame, so the corpus explodes once), idf in a libm-log pandas UDF
    (same bit-contract as vocabulary_stats), shuffle join on term, per-doc
    row_number window. Nothing vocabulary-sized ever reaches the driver.
    ~2 more exchanges than the kernel path — the price of unbounded
    vocabularies; results are bit-identical (same libm idf, same IEEE
    tf*idf multiply, same (-tfidf, term) order)."""
    from pyspark.sql import Window
    tf = (
        explode_terms(df, id_col, text_col)
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    # one metadata-sized count job; the kernel path's sentinel trick does
    # not apply here because tf is reused for doc_freq
    n_docs = float(df.count())
    libm_idf = _libm_idf_udf(n_docs)

    per_term = (
        tf.groupBy("term")
        .agg(F.count("*").alias("doc_freq"))
        .select("term", libm_idf(F.col("doc_freq")).alias("idf"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        tf.join(per_term, "term")
        .withColumn("tfidf", F.col("tf") * F.col("idf"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "rank", "tfidf")
    )


def vocabulary_stats_oracle_sql(table: str, id_col: str, text_col: str) -> str:
    return f"""
WITH toks AS (
    SELECT {id_col}, unnest(string_split_regex({ascii_folded_sql(text_col)}, '[^a-z]+')) AS term
    FROM {table}
),
clean AS (SELECT * FROM toks WHERE term <> ''),
n AS (SELECT COUNT(*) AS n_docs FROM {table}),
per_term AS (
    SELECT term, COUNT(DISTINCT {id_col}) AS doc_freq, COUNT(*) AS term_freq
    FROM clean GROUP BY term
)
SELECT term, doc_freq, term_freq,
       ln((n_docs + 1.0) / (doc_freq + 1.0)) + 1.0 AS idf,
       term_freq * (ln((n_docs + 1.0) / (doc_freq + 1.0)) + 1.0) AS tfidf_mass
FROM per_term, n
ORDER BY term
"""


def doc_top_terms_oracle_sql(table: str, id_col: str, text_col: str, k: int) -> str:
    return f"""
WITH toks AS (
    SELECT {id_col}, unnest(string_split_regex({ascii_folded_sql(text_col)}, '[^a-z]+')) AS term
    FROM {table}
),
clean AS (SELECT * FROM toks WHERE term <> ''),
n AS (SELECT COUNT(*) AS n_docs FROM {table}),
tf AS (SELECT {id_col}, term, COUNT(*) AS tf FROM clean GROUP BY {id_col}, term),
idf AS (
    SELECT term, ln((n_docs + 1.0) / (COUNT(DISTINCT {id_col}) + 1.0)) + 1.0 AS idf
    FROM clean, n GROUP BY term, n_docs
),
scored AS (
    SELECT tf.{id_col}, tf.term, tf.tf * idf.idf AS tfidf
    FROM tf JOIN idf ON tf.term = idf.term
),
ranked AS (
    SELECT {id_col}, term, tfidf,
           row_number() OVER (PARTITION BY {id_col}
                              ORDER BY tfidf DESC, term ASC) AS rank
    FROM scored
)
SELECT {id_col}, term, CAST(rank AS BIGINT) AS rank, tfidf
FROM ranked WHERE rank <= {k}
"""


def chunk_tokens(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk: int = 32,
    stride: int = 24,
):
    """Overlapping token-window chunking — the canonical LLM-training prep
    step (context-window packing). Whitespace tokens, chunk starts at every
    ``stride`` tokens, each chunk up to ``chunk`` tokens (tail chunks
    shorter, every token covered when stride <= chunk). Pure built-ins:
    split -> filter('') -> sequence -> explode -> slice -> array_join, all
    inside whole-stage codegen. The explode multiplies rows by
    ~n_tokens/stride BEFORE any shuffle, but chunking is shuffle-free
    (per-row generate), so at 100 TB it streams: scan task in, chunk rows
    out, no exchange. Deterministic — no RNG, no timestamps.
    """
    return _chunk_windows(df, id_col, text_col, chunk, stride, with_bpe=False)


def _chunk_windows(df, id_col, text_col, chunk, stride, with_bpe):
    """ONE implementation behind chunk_tokens and chunk_tokens_bpe
    (review r11: a second hand copy of the window scaffolding re-opens
    the drift hazard the ws_tokens docstring warns about). with_bpe adds
    a per-word BPE-count array computed ONCE per document and sliced
    alongside the words; with_bpe=False reproduces the r8 chunk_tokens
    plan node-for-node (no extra projections)."""
    if stride <= 0 or chunk <= 0:
        raise ValueError("chunk and stride must be positive")
    # The tokenize + per-position slice/join run in the SCAN stage; a
    # few-file local input caps that CPU-heavy work at file-count
    # parallelism (r11 measure: chunk_tokens 0.31 -> 0.21 s at sf0.1 with
    # the widened scan; segment_dedup 0.44 -> 0.36 s riding the same
    # change). fan_out is the established gated no-op at real partition
    # counts, so the "shuffle-free at 100 TB" contract above still holds
    # where it matters.
    from ..session import fan_out

    df = fan_out(df, divisor=2)
    toks = ws_tokens(text_col)
    base = df.select(id_col, toks.alias("_toks"))
    mid = [id_col, "_toks"]
    if with_bpe:
        base = base.select(
            id_col, "_toks", bpe_token_counts(F.col("_toks")).alias("_tkc")
        )
        mid.append("_tkc")
    # The window/slice/join pipeline assembles as selectExpr strings
    # (r11 construction pass — see _names.sql_ident): the SQL parses to
    # the identical sequence/explode/slice/aggregate trees the Column
    # chain built (same int casts, same fractional `/` then CAST), at a
    # fraction of the py4j round-trips per invocation.
    from .._names import sql_ident as _q

    qid = _q(id_col)
    sliced = [f"slice(_toks, _start + 1, {int(chunk)}) AS _ck"]
    if with_bpe:
        sliced.append(f"slice(_tkc, _start + 1, {int(chunk)}) AS _ckc")
    final = ["size(_ck) AS n_chunk_tokens"]
    if with_bpe:
        final.append(
            "CAST(aggregate(_ckc, 0, (a, x) -> a + x) AS INT) "
            "AS n_chunk_bpe_tokens"
        )
    return (
        base.selectExpr(
            *[_q(c) if c == id_col else c for c in mid],
            f"explode(sequence(0, greatest(size(_toks) - 1, 0), "
            f"{int(stride)})) AS _start",
        )
        .selectExpr(
            qid,
            f"CAST((_start / {int(stride)}) AS INT) AS chunk_idx",
            *sliced,
        )
        .filter("size(_ck) > 0")
        .selectExpr(
            qid,
            "chunk_idx",
            *final,
            "array_join(_ck, ' ') AS chunk_text",
        )
    )


def chunk_tokens_oracle_sql(
    table: str, id_col: str, text_col: str, chunk: int, stride: int
) -> str:
    """DuckDB twin of chunk_tokens. range() excludes its stop where Spark's
    sequence includes it, hence greatest(len,1) vs greatest(len-1,0).

    NO LIST SLICES (r9, giant-doc probe): DuckDB evaluates ``tk[a : b]``
    inside a per-position lambda/lateral in O(len(tk)) per call, turning
    any slice-per-position oracle QUADRATIC — one 700k-token document
    drove the old form past 90 s (the giant-doc sweep found four such
    oracles at 88 GB RSS). Element access ``tk[p]`` is O(1) (the idiom
    the portable-MinHash and n-gram-Jaccard oracles always used), so the
    chunk text is a constant-width concat_ws chain of element accesses
    (concat_ws skips the NULLs that out-of-range positions return,
    exactly like the old slice's tail), built intra-row and unnested as
    structs — 0.5 s on the same document, value-identical at sf0.01.

    ``tk IS NOT NULL`` is load-bearing (r10, found by the skewhot∘null
    composed probe): DuckDB's least()/greatest() IGNORE NULL arguments
    (they are MAX/MIN-style, not SQL-standard scalar), so a NULL text —
    NULL token list — slipped past the ``u.n > 0`` guard as
    least({chunk}, NULL - s) = {chunk} and emitted ONE phantom
    empty-string chunk per NULL document, where Spark's chunk_tokens
    (and this oracle's own r8 slice form, whose greatest(len-1, 0)
    produced an empty range) emit none. The r9 slice-free rewrite
    changed that arithmetic shape and silently broke the NULL-text
    contract."""
    return _chunk_oracle_sql(table, id_col, text_col, chunk, stride, False)


def _toks_cte_sql(table, id_col, text_col, with_bpe, null_text_filter=""):
    """The shared token-list scan for every chunk/pack oracle — with_bpe
    wraps it to add the per-word BPE-count list, computed once per doc
    exactly like the Spark plan (review r11: ONE copy of the scan, not
    one per oracle)."""
    inner = f"""
    SELECT {id_col},
           list_filter(regexp_split_to_array({text_col}, '{WS}'), x -> x <> '') AS tk
    FROM {table}{null_text_filter}
  """
    if not with_bpe:
        return inner
    return f"""
    SELECT {id_col},
           tk,
           {bpe_token_counts_sql('tk')} AS tkc
    FROM ({inner}) raw
  """


def _chunk_oracle_sql(table, id_col, text_col, chunk, stride, with_bpe):
    """ONE builder behind chunk_tokens_oracle_sql and
    chunk_tokens_bpe_oracle_sql, so the r9 slice-free and r10
    tk-IS-NOT-NULL invariants live in exactly one place (review r11).
    The BPE branch adds a constant-width COALESCE sum over the per-word
    counts (element accesses only — same giant-doc-linearity rule as
    the chunk text)."""
    cw = ", ".join(f"tk[s + {p}]" for p in range(1, chunk + 1))
    nb_field = ""
    nb_col = ""
    if with_bpe:
        nb = " + ".join(
            f"COALESCE(tkc[s + {p}], 0)" for p in range(1, chunk + 1)
        )
        nb_field = f"""
                   'nb': CAST({nb} AS INT),"""
        nb_col = """
       u.nb AS n_chunk_bpe_tokens,"""
    return f"""
SELECT {id_col}, u.ci AS chunk_idx, u.n AS n_chunk_tokens,{nb_col}
       u.t AS chunk_text
FROM (
  SELECT {id_col},
         unnest(list_transform(range(0, greatest(len(tk), 1), {stride}),
            s -> {{'ci': CAST(s / {stride} AS INT),
                   'n': CAST(least({chunk}, len(tk) - s) AS INT),{nb_field}
                   't': concat_ws(' ', {cw})}})) AS u
  FROM ({_toks_cte_sql(table, id_col, text_col, with_bpe)}) toks
  WHERE tk IS NOT NULL
) q
WHERE u.n > 0
"""


def repetition_stats(df, id_col: str = "doc_id", text_col: str = "text"):
    """Gopher/C4-style repetition quality metrics per document: token count,
    distinct-token count, type-token ratio, share of the most frequent
    token, and share of the most frequent bigram. High top-shares flag
    boilerplate/repetition for training-data filtering.

    Shape: ZERO shuffles — every metric is a per-row computation inside
    one Arrow batch kernel in the scan stage, and the returned relation is
    deliberately UNORDERED (r5: the old presentation orderBy added the
    operator's only exchange; relations are unordered, consumers sort).
    Formulation history, each measured at sf0.1 under full
    materialization: (1) exploding unigrams AND bigrams into corpus-length
    streams with four shuffles + a join; (2) per-row sorted-run folds via
    array_sort + aggregate() HOFs — branchless SQL, but Catalyst evaluates
    lambda HOFs INTERPRETED (0.84 s); (3) a per-doc Python Counter loop
    (0.60 s); (4, current) the fully vectorized kernel — pyarrow C
    tokenization (the doc_top_terms chain: replace_substring_regex +
    utf8_lower + split_pattern_regex + list_flatten/parent_indices), one
    pd.factorize over the batch's tokens, per-(doc, term) groupby counts,
    and bigrams as the shifted-code pairs where adjacent parent indices
    match — 0.62 -> 0.31 s with bit-identical output.

    Parity contract (hash-gated): the tokenizer strips [^A-Za-z]+ BEFORE
    lowering, so pyarrow's full-Unicode utf8_lower only ever sees ASCII
    letters and agrees with Java/Python/DuckDB; both regex classes are
    pure-ASCII, where Java, RE2 (pyarrow), and Python agree; empty split
    tokens are dropped on every engine. Group max == Counter max. All
    ratios are single IEEE divisions of identical integer operands. Docs
    with NULL text or zero tokens are dropped (the oracle's unnest never
    produced rows for them); top_bigram_share is NULL (not NaN) for
    one-token docs. Output verified bit-identical to the Counter
    formulation across sf0.01/sf0.1.
    """
    id_dt = df.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField(id_col, id_dt),
            T.StructField("n_tokens", T.LongType()),
            T.StructField("distinct_tokens", T.LongType()),
            T.StructField("type_token_ratio", T.DoubleType()),
            T.StructField("top_token_share", T.DoubleType()),
            T.StructField("top_bigram_share", T.DoubleType()),
        ]
    )
    out_cols = [f.name for f in schema.fields]

    def kernel(it):
        import pyarrow as pa
        import pyarrow.compute as pc

        for pdf in it:
            tb = pa.Table.from_pandas(pdf)
            toks = pc.split_pattern_regex(
                pc.utf8_lower(
                    pc.replace_substring_regex(
                        tb.column(text_col), TOKEN_STRIP_RE, " "
                    )
                ),
                TOKEN_SPLIT_RE,
            )
            idx = pc.list_parent_indices(toks).to_numpy(zero_copy_only=False)
            flat = pc.list_flatten(toks)
            keep = pc.not_equal(flat, "").to_numpy(zero_copy_only=False)
            idx = idx[keep]
            if len(idx) == 0:
                yield pd.DataFrame({c: [] for c in out_cols})
                continue
            terms = flat.to_pandas().to_numpy()[keep]
            ids = pdf[id_col].to_numpy()
            tcodes, _ = pd.factorize(terms)
            per_pair = pd.DataFrame({"i": idx, "t": tcodes}).groupby(
                ["i", "t"], sort=False
            ).size()
            per_doc = per_pair.groupby(level=0)
            out = pd.DataFrame(
                {
                    "n_tokens": per_doc.sum(),
                    "distinct_tokens": per_doc.size(),
                    "_top": per_doc.max(),
                }
            )
            # bigram (a, b) exists where two consecutive flat tokens share
            # a parent doc; max per-doc count of the (a, b) code pair
            same = idx[1:] == idx[:-1]
            if same.any():
                top_bi = (
                    pd.DataFrame(
                        {
                            "i": idx[1:][same],
                            "a": tcodes[:-1][same],
                            "b": tcodes[1:][same],
                        }
                    )
                    .groupby(["i", "a", "b"], sort=False)
                    .size()
                    .groupby(level=0)
                    .max()
                )
            else:
                top_bi = pd.Series(dtype="int64")
            out["type_token_ratio"] = out["distinct_tokens"] / out["n_tokens"]
            out["top_token_share"] = out["_top"] / out["n_tokens"]
            nb = out["n_tokens"] - 1
            bshare = top_bi.reindex(out.index) / nb.where(nb > 0)
            out["top_bigram_share"] = (
                bshare.astype(object).where(pd.notna(bshare), None)
            )
            out = out.reset_index(names="_row")
            out[id_col] = ids[out["_row"].to_numpy()]
            yield out[out_cols]

    # fan_out: the kernel is CPU-heavy per-row work that a single-file
    # local scan would serialize on one core; no-op at real partition
    # counts.
    return fan_out(df.select(id_col, text_col), divisor=2).mapInPandas(
        kernel, schema
    )


def repetition_stats_oracle_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB twin of repetition_stats (same token regex, same size guard;
    range(1, len) excludes the stop = Spark's sequence(1, len-1))."""
    return f"""
WITH base AS (
    SELECT {id_col},
           list_filter(string_split_regex({ascii_folded_sql(text_col)}, '[^a-z]+'),
                       x -> x <> '') AS tk
    FROM {table}
),
uni_counts AS (
    SELECT {id_col}, unnest(tk) AS g FROM base
),
uni_gc AS (
    SELECT {id_col}, g, COUNT(*) AS c FROM uni_counts GROUP BY {id_col}, g
),
uni AS (
    SELECT {id_col}, CAST(SUM(c) AS BIGINT) AS n_tokens,
           COUNT(*) AS distinct_tokens,
           CAST(MAX(c) AS BIGINT) AS top_token_count
    FROM uni_gc GROUP BY {id_col}
),
big_counts AS (
    SELECT {id_col}, unnest(
        CASE WHEN len(tk) >= 2
             THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])
             ELSE [] END) AS g
    FROM base
),
big_gc AS (
    SELECT {id_col}, g, COUNT(*) AS c FROM big_counts GROUP BY {id_col}, g
),
big AS (
    SELECT {id_col}, CAST(SUM(c) AS BIGINT) AS n_bigrams,
           CAST(MAX(c) AS BIGINT) AS top_bigram_count
    FROM big_gc GROUP BY {id_col}
)
SELECT u.{id_col}, u.n_tokens, u.distinct_tokens,
       (u.distinct_tokens / u.n_tokens) AS type_token_ratio,
       (u.top_token_count / u.n_tokens) AS top_token_share,
       (b.top_bigram_count / b.n_bigrams) AS top_bigram_share
FROM uni u LEFT JOIN big b ON u.{id_col} = b.{id_col}
ORDER BY u.{id_col}
"""


def pack_chunks(chunks, capacity: int, size_col: str = "n_chunk_tokens"):
    """Greedy sequence packing: walk each document's (doc_id) chunks in
    chunk_idx order and close the current bin whenever the next chunk
    would overflow ``capacity`` (a chunk larger than capacity gets its own
    bin). This is
    inherently sequential per document — the applyInPandas case: one
    shuffle on the doc key ships each doc's chunk list to a worker, the
    loop runs vectorized-adjacent in pandas, and docs pack in parallel.
    The DuckDB twin is a recursive CTE (pack_chunks_oracle_sql) — proof
    the semantics are engine-checkable even though the operator is not a
    window expression (bin depends on a running value RESET by its own
    outcome, which no cumsum can express)."""
    import pandas as pd

    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in chunks.schema.fields
        if f.name in ("doc_id", "chunk_idx", size_col)
    )

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("chunk_idx")
        bins, fill, b = [], 0, 0
        for n in pdf[size_col]:
            if fill and fill + n > capacity:
                b, fill = b + 1, 0
            fill += n
            bins.append(b)
        pdf = pdf[["doc_id", "chunk_idx", size_col]].copy()
        pdf["bin"] = bins
        return pdf

    return chunks.groupBy("doc_id").applyInPandas(pack, f"{out_fields}, bin int")


def pack_chunks_oracle_sql(
    table: str, id_col: str, text_col: str, chunk: int, capacity: int
) -> str:
    """Recursive-CTE twin of non-overlapping chunking (stride == chunk)
    followed by greedy packing. No list slices (r9 — see
    chunk_tokens_oracle_sql): chunk lengths come from arithmetic on the
    token count, intra-row, so a single giant document stays linear.
    ``tk IS NOT NULL`` is load-bearing (r10): DuckDB least() ignores
    NULLs, so NULL text otherwise emits one phantom chunk — see
    chunk_tokens_oracle_sql."""
    return _pack_oracle_sql(table, id_col, text_col, chunk, capacity, False)


def _pack_oracle_sql(table, id_col, text_col, chunk, capacity, with_bpe):
    """ONE builder behind pack_chunks_oracle_sql and
    pack_chunks_bpe_oracle_sql (review r11). Non-overlapping chunking
    (stride == chunk) + greedy packing as a recursive CTE whose
    recursion counts CHUNKS per document, not words; the BPE branch
    swaps the bin-budget size for the constant-width BPE sum."""
    if with_bpe:
        size = "n_chunk_bpe_tokens"
        nb = " + ".join(
            f"COALESCE(tkc[s + {p}], 0)" for p in range(1, chunk + 1)
        )
        size_field = f""",
                       'nb': CAST({nb} AS INT)"""
        size_sel = "u.nb"
    else:
        size = "n_chunk_tokens"
        size_field = ""
        size_sel = "u.n"
    toks = _toks_cte_sql(
        table, id_col, text_col, with_bpe,
        null_text_filter=f"\n    WHERE {text_col} IS NOT NULL",
    )
    return f"""
WITH RECURSIVE toks AS ({toks}),
chunks AS (
    SELECT {id_col}, u.ci AS chunk_idx, {size_sel} AS {size}
    FROM (
      SELECT {id_col},
             unnest(list_transform(range(0, greatest(len(tk), 1), {chunk}),
                s -> {{'ci': CAST(s / {chunk} AS INT),
                       'n': CAST(least({chunk}, len(tk) - s) AS INT){size_field}}})) AS u
      FROM toks
    ) q
    WHERE u.n > 0
),
packed AS (
    SELECT {id_col}, chunk_idx, {size},
           0 AS bin, {size} AS fill
    FROM chunks WHERE chunk_idx = 0
    UNION ALL
    SELECT c.{id_col}, c.chunk_idx, c.{size},
           CASE WHEN p.fill + c.{size} > {capacity}
                THEN p.bin + 1 ELSE p.bin END,
           CASE WHEN p.fill + c.{size} > {capacity}
                THEN c.{size} ELSE p.fill + c.{size} END
    FROM packed p
    JOIN chunks c
      ON c.{id_col} = p.{id_col} AND c.chunk_idx = p.chunk_idx + 1
)
SELECT {id_col}, chunk_idx, {size}, bin FROM packed
"""


# ---------------------------------------------------------------------------
# BPE tokenizer tier (r11) — byte-pair-encoding token COUNTS from a literal
# merge table, pure built-in string expressions on BOTH engines.
#
# The algorithm is the public BPE of Sennrich et al. 2016 (and the GPT-2
# reference tokenizer): start from the character sequence of each
# whitespace word and repeatedly merge the present pair with the lowest
# merge-table rank until none applies. For a WELL-FORMED merge table
# (every pair's elements are base characters or outputs of strictly
# earlier merges, all outputs distinct — asserted by
# tests/test_operators.py::test_bpe_merge_table_well_formed) the greedy
# min-rank loop is equivalent to applying the merges once each in rank
# order: a merged pair can never reappear (merging only concatenates, so
# adjacency between surviving tokens is never newly created) and a later
# merge's output can never equal an earlier pair's constituent.
#
# That rank-order form makes BPE expressible WITHOUT recursion as a chain
# of literal string replaces over a boundary-encoded symbol string:
#   encode  "word" -> \x1f w \x1f\x1f o \x1f\x1f r \x1f\x1f d \x1f
#   (every symbol flanked by its own separators: a pair (x, y) occurs
#   exactly where the substring \x1f x \x1f\x1f y \x1f occurs, and cannot
#   match mid-symbol)
#   merge (x, y):  replace(s, sep+x+sep+sep+y+sep, sep+x+y+sep)
#   (leftmost non-overlapping global replace IS the BPE merge-all fold —
#   including the x == y run case: "\x1fa\x1f\x1fa\x1f\x1fa\x1f" merges
#   its first two a's and leaves the third, exactly like the loop)
#   count = len(split(s, sep+sep))
# One replace per merge rule, O(len) each: linear, whole-stage-codegen
# JVM expressions on Spark, plain replace() calls in the DuckDB oracle —
# no Python in the hot path, no recursion, giant-doc safe. Verified
# equal to the greedy-min reference loop on ASCII/unicode/emoji/run
# edge cases (tests/test_operators.py::test_bpe_chain_matches_greedy).
#
# U+001F (unit separator) is reserved as the symbol boundary; it is
# stripped from tokens before encoding on both engines (a real corpus
# control char cannot corrupt the symbol structure — it just doesn't
# count as a character).

BPE_SEP = "\x1f"
_SS = BPE_SEP + BPE_SEP

# Literal merge table, rank order. A small English+digit table (a model
# artifact like UNIGRAM_LOGP's lexicon — the repo ships a fixed vocab so
# both engines replay the identical table; a production vocab is a
# drop-in constant).
BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"), ("o", "n"),
    ("r", "e"), ("a", "t"), ("e", "n"), ("o", "r"), ("t", "i"), ("an", "d"),
    ("in", "g"), ("ti", "on"), ("e", "s"), ("o", "u"), ("a", "r"), ("s", "t"),
    ("l", "e"), ("c", "h"), ("o", "m"), ("d", "e"), ("a", "l"), ("u", "s"),
    ("m", "a"), ("s", "e"), ("l", "l"), ("e", "e"), ("1", "9"), ("2", "0"),
    ("0", "0"),
)


def bpe_word_token_count(word: Column) -> Column:
    """BPE token count of ONE whitespace word (int; 0 for an empty or
    all-separator word). Encoding via regexp_replace('(?s)(.)' ->
    sep$1sep): each code point flanked by separators concatenates to
    exactly the double-separator symbol string. (?s) is load-bearing
    (r11, found by the --uniws sweep): Java's default '.' skips ALL
    line terminators — \\n \\r \\u0085 \\u2028 \\u2029 — and while \\n/\\r
    cannot survive the ASCII whitespace split, NEL/LS/PS are NOT in the
    JAVA_WS_SPLIT_SQL contract and ride INSIDE tokens, where an
    unmatched code point glues its neighbors' separators together and
    undercounts; DuckDB's empty-pattern char split sees every code
    point. DOTALL makes both engines per-code-point unconditionally."""
    clean = F.replace(word, F.lit(BPE_SEP), F.lit(""))
    s = F.regexp_replace(clean, "(?s)(.)", BPE_SEP + "$1" + BPE_SEP)
    for x, y in BPE_MERGES:
        s = F.replace(
            s,
            F.lit(BPE_SEP + x + _SS + y + BPE_SEP),
            F.lit(BPE_SEP + x + y + BPE_SEP),
        )
    return (
        F.when(F.length(clean) == 0, F.lit(0))
        .otherwise(F.size(F.split(s, _SS)))
        .cast("int")
    )


def bpe_token_counts(tokens: Column) -> Column:
    """array<string> whitespace tokens -> array<int> BPE counts (in-row
    transform; NULL array passes through as NULL)."""
    return F.transform(tokens, bpe_word_token_count)


def _sq(s: str) -> str:
    """SQL-string-literal-escape a merge constituent (single quotes
    doubled; DuckDB standard strings don't process backslashes). A real
    production vocab contains entries like (\"'\", 's') — without this
    the generated oracle would stop parsing (review r11)."""
    return s.replace("'", "''")


def bpe_word_token_count_sql(expr: str) -> str:
    """DuckDB twin of bpe_word_token_count — the identical replace chain
    over the identical literal table (chr(31) spelled as a call so the
    SQL text stays printable)."""
    clean = f"replace({expr}, chr(31), '')"
    enc = (
        f"(chr(31) || array_to_string(regexp_split_to_array({clean}, ''),"
        " chr(31) || chr(31)) || chr(31))"
    )
    s = enc
    for x, y in BPE_MERGES:
        s = (
            f"replace({s}, chr(31)||'{_sq(x)}'||chr(31)||chr(31)||'{_sq(y)}'||chr(31),"
            f" chr(31)||'{_sq(x)}{_sq(y)}'||chr(31))"
        )
    return (
        f"CASE WHEN length({clean}) = 0 THEN 0"
        f" ELSE len(string_split({s}, chr(31)||chr(31))) END"
    )


def bpe_token_counts_sql(list_expr: str) -> str:
    """DuckDB twin of bpe_token_counts over a token-list expression."""
    return f"list_transform({list_expr}, w -> {bpe_word_token_count_sql('w')})"


def chunk_tokens_bpe(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk: int = 32,
    stride: int = 24,
):
    """chunk_tokens with the production token accounting: the same
    whitespace-word windows, each chunk additionally carrying its BPE
    token count (``n_chunk_bpe_tokens`` — what a context-window budget
    actually meters). The per-word counts are computed ONCE per document
    (one in-row transform) and sliced alongside the words, so the merge
    chain runs n_words times, not n_words x n_chunks. Still shuffle-free:
    scan task in, chunk rows out, zero exchanges at any scale. Shares the
    window scaffolding with chunk_tokens (_chunk_windows)."""
    return _chunk_windows(df, id_col, text_col, chunk, stride, with_bpe=True)


def chunk_tokens_bpe_oracle_sql(
    table: str, id_col: str, text_col: str, chunk: int, stride: int
) -> str:
    """DuckDB twin of chunk_tokens_bpe — chunk_tokens_oracle_sql's
    element-access form (NO list slices; see _chunk_oracle_sql for the
    r9 giant-doc lesson and the r10 ``tk IS NOT NULL`` lesson) plus a
    constant-width COALESCE sum over the per-word BPE counts, computed
    once per document in the toks scan exactly like the Spark plan."""
    return _chunk_oracle_sql(table, id_col, text_col, chunk, stride, True)


def pack_chunks_bpe_oracle_sql(
    table: str, id_col: str, text_col: str, chunk: int, capacity: int
) -> str:
    """Recursive-CTE twin of non-overlapping chunking followed by greedy
    packing where the bin budget meters BPE tokens (pack_chunks over
    size_col='n_chunk_bpe_tokens'). Same shape as pack_chunks_oracle_sql
    — recursion steps = chunks per document, not words — with the chunk
    sizes swapped for the constant-width BPE sums (one builder,
    _pack_oracle_sql)."""
    return _pack_oracle_sql(table, id_col, text_col, chunk, capacity, True)


# Literal unigram language model (log-probabilities precomputed in Python,
# so NO libm call happens at query time on either engine — the lambda only
# looks up shared double literals). The lexicon is a fixed model artifact,
# like model_quality_score's weights; out-of-vocabulary tokens get the
# floor probability. Scores are comparable across engines bit-for-bit
# because every addend is a shared literal and the per-doc sum is an
# in-row left fold.
import math as _math

UNIGRAM_LOGP = {
    w: _math.log(p)
    for w, p in {
        "join": 0.035, "hash": 0.034, "row": 0.034, "batch": 0.034,
        "scan": 0.034, "customer": 0.034, "column": 0.034, "filter": 0.034,
        "small": 0.033, "merge": 0.033, "slow": 0.033, "order": 0.033,
        "vector": 0.033, "line": 0.033, "data": 0.033, "table": 0.05,
        "value": 0.045, "part": 0.04, "a": 0.06, "the": 0.05,
    }.items()
}
OOV_LOGP = _math.log(1e-6)


def unigram_logprob(text: Column) -> Column:
    """Mean unigram log-probability of a document under the literal
    lexicon — the statistical-LM tier of quality scoring (the shape of a
    KenLM perplexity filter, reduced to unigrams so the model rides the
    plan as literals). Per doc: tokenize in-row, map each token to its
    literal log-prob (OOV floor), left-fold the sum, divide by the token
    count — one scan-side projection, zero exchanges, zero libm calls at
    query time."""
    toks = F.filter(F.split(ascii_folded(text), TOKEN_SPLIT_RE), lambda x: x != "")

    def lookup(tok: Column) -> Column:
        expr = F.lit(OOV_LOGP)
        # build a CASE chain in fixed lexicon order (same order as the SQL)
        for w in reversed(list(UNIGRAM_LOGP)):
            expr = F.when(tok == w, F.lit(UNIGRAM_LOGP[w])).otherwise(expr)
        return expr

    total = F.aggregate(
        toks, F.lit(0.0), lambda acc, tok: acc + lookup(tok)
    )
    return F.when(
        F.size(toks) > 0, total / F.size(toks)
    ).otherwise(F.lit(None).cast("double"))


def unigram_logprob_sql(text_expr: str) -> str:
    """DuckDB twin: identical literal log-probs (repr round-trips the exact
    doubles), identical CASE order, identical left fold."""
    # CAST every literal FROM A STRING: a bare 17-digit numeric literal
    # parses as DECIMAL first, and DuckDB's decimal->double conversion
    # is 1 ulp off for some values (same trap as PLANS.md's dsum note);
    # the string->double parse is correctly rounded
    cases = " ".join(
        f"WHEN t = '{w}' THEN CAST('{UNIGRAM_LOGP[w]!r}' AS DOUBLE)"
        for w in UNIGRAM_LOGP
    )
    toks = (
        f"list_filter(string_split_regex({ascii_folded_sql(text_expr)}, '{TOKEN_SPLIT_RE}'), "
        "x -> x <> '')"
    )
    return (
        f"CASE WHEN len({toks}) > 0 THEN "
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform({toks}, t -> CASE {cases} ELSE CAST('{OOV_LOGP!r}' AS DOUBLE) END)), "
        f"(acc, x) -> acc + x) / len({toks}) "
        "ELSE NULL END"
    )


#: Misra–Gries counters per partition, as a multiple of 1/threshold.
MG_SLACK = 4


def heavy_hitter_terms(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_ppm: int = 2000,
):
    """EXACT corpus heavy hitters — every term whose occurrence count
    exceeds ``threshold_ppm`` parts-per-million of all tokens — with
    memory bounded by the THRESHOLD, not the vocabulary.

    The unbounded-vocab scale path next to ``vocabulary_stats`` (whose
    groupBy(term) is vocab-sized — fine for bounded vocabularies, not for
    open web text):

    1. **Candidate pass** (one scan, mapInPandas): each partition runs a
       Misra–Gries summary with ``MG_SLACK/threshold`` counters; MG
       guarantees any item with global frequency > N*threshold survives
       in at least one partition's summary, so the union of partition
       candidates is a SUPERSET of the true heavy hitters. Emitted rows
       per partition <= counter count — exchange size is threshold-bound.
    2. **Verify pass** (one scan): exact counts for candidate terms only
       (broadcast semi filter), plus the exact total token count in the
       same aggregate via a sentinel row — then the exact HAVING cut.

    The result is EXACT (MG has no false negatives; false candidates die
    in the verify pass), so the oracle is the plain GROUP BY ... HAVING
    twin. Deterministic: counters are dicts keyed by term, no sampling.

    r6 rework (the text scale probe caught the old form growing 1.3 ->
    8.2 s across 1-32x docs while DuckDB stayed flat): the candidate pass
    was a per-TOKEN Python loop and the verify pass an interpreted-lambda
    HOF explode whose counts/total branches each recomputed the corpus
    subtree. Both passes are now Arrow-C kernels — tokenize via
    split_pattern_regex, per-batch exact ``value_counts``, merged into
    the MG summary at BATCH level (exact batch counts folded in, then the
    standard mergeable-summaries truncation: subtract the (k+1)-th
    largest and drop non-positives — Agarwal et al., PODS'12, preserves
    the superset guarantee) — and the verify pass emits per-partition
    (candidate, n) partials plus a sentinel total row, reduced by a
    threshold-bounded groupBy and cut driver-side (<= MG_SLACK/threshold + 2
    rows ever reach the driver; the result itself is <= 10^6/threshold
    rows by definition of a heavy hitter). Measured: 1.10 s at 1x /
    1.27 s at 32x docs (was 1.34 / 8.21); flat because both scans are
    C-vectorized and everything after them is threshold-sized.

    EAGER: runs its two jobs at call time and returns a small local
    result relation (the cut needs the global total — same contract as
    decontaminate's eval collect)."""
    import pyarrow as pa

    spark = df.sparkSession
    n_counters = max(1, MG_SLACK * 1_000_000 // threshold_ppm)
    cand_schema = T.StructType([T.StructField("term", T.StringType())])

    def _tokens(col):
        """Arrow-C tokens of a text column chunk — the ascii_folded
        contract (strip non-ASCII-letters BEFORE lower)."""
        import pyarrow.compute as pc

        return pc.list_flatten(
            pc.split_pattern_regex(
                pc.utf8_lower(
                    pc.replace_substring_regex(col, TOKEN_STRIP_RE, " ")
                ),
                TOKEN_SPLIT_RE,
            )
        )

    def mg(batches):
        import pyarrow.compute as pc
        from collections import Counter

        summary: Counter = Counter()
        for batch in batches:
            tb = pa.Table.from_batches([batch])
            flat = _tokens(tb.column(text_col))
            vc = pc.value_counts(pc.filter(flat, pc.not_equal(flat, "")))
            summary.update(
                dict(
                    zip(
                        vc.field("values").to_pylist(),
                        vc.field("counts").to_pylist(),
                    )
                )
            )
            if len(summary) > n_counters:
                vals = sorted(summary.values(), reverse=True)
                cut = vals[n_counters]
                summary = Counter(
                    {t: c - cut for t, c in summary.items() if c > cut}
                )
        if summary:
            yield pa.RecordBatch.from_pydict(
                {"term": list(summary)},
                schema=pa.schema([pa.field("term", pa.string())]),
            )

    candidates = {
        r["term"] for r in df.select(text_col).mapInArrow(mg, cand_schema).collect()
    }
    bc_cand = spark.sparkContext.broadcast(candidates)

    verify_schema = T.StructType(
        [T.StructField("term", T.StringType()), T.StructField("n", T.LongType())]
    )

    def exact(batches):
        import pyarrow.compute as pc
        from collections import Counter

        cand = bc_cand.value
        counts: Counter = Counter()
        total = 0
        for batch in batches:
            tb = pa.Table.from_batches([batch])
            flat = _tokens(tb.column(text_col))
            vc = pc.value_counts(pc.filter(flat, pc.not_equal(flat, "")))
            for t, c in zip(
                vc.field("values").to_pylist(), vc.field("counts").to_pylist()
            ):
                total += c
                if t in cand:
                    counts[t] += c
        # '\x00' can never be an [a-z]+ token — safe total sentinel
        counts["\x00total"] = total
        yield pa.RecordBatch.from_pydict(
            {"term": list(counts), "n": list(counts.values())},
            schema=pa.schema(
                [pa.field("term", pa.string()), pa.field("n", pa.int64())]
            ),
        )

    try:
        partial_counts = (
            df.select(text_col)
            .mapInArrow(exact, verify_schema)
            .groupBy("term")
            .agg(F.sum("n").alias("n"))
            .collect()
        )
    finally:
        # both jobs are done at return (eager operator) — the candidate
        # broadcast is provably dead; without this it pins ~n_counters
        # strings in block-manager memory per call until nondeterministic
        # GC (the same per-call-leak class as the token_runs view, r6)
        bc_cand.destroy()
    total = 0
    exact_counts: dict[str, int] = {}
    for r in partial_counts:
        if r["term"] == "\x00total":
            total = r["n"]
        else:
            exact_counts[r["term"]] = r["n"]
    hh = [
        (t, n, total)
        for t, n in sorted(exact_counts.items())
        if n * 1_000_000 > total * threshold_ppm
    ]
    out_schema = T.StructType(
        [
            T.StructField("term", T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("total_tokens", T.LongType()),
        ]
    )
    return spark.createDataFrame(hh, out_schema)


def heavy_hitter_terms_oracle_sql(
    table: str, text_col: str, threshold_ppm: int
) -> str:
    """DuckDB twin: plain explode + GROUP BY + HAVING over the exact total."""
    return f"""
WITH toks AS (
    SELECT unnest(string_split_regex({ascii_folded_sql(text_col)}, '[^a-z]+')) AS term
    FROM {table}
),
clean AS (SELECT term FROM toks WHERE term <> ''),
tot AS (SELECT COUNT(*) AS total_tokens FROM clean)
SELECT term, COUNT(*) AS n, tot.total_tokens
FROM clean, tot
GROUP BY term, tot.total_tokens
HAVING COUNT(*) * 1000000 > tot.total_tokens * {threshold_ppm}
"""
