"""[EXT] Similarity search over embedding columns (SURVEY.md §2.12).

Two paths over ``embeddings(vec_id, embedding array<float>, label)``:

- **Exact brute-force cosine top-k** — the correctness baseline. Query side
  broadcast; dot products via built-in higher-order functions (zip_with +
  aggregate fold: JVM-side, codegen, no UDF); per-query top-k via window
  row_number. Cost O(|queries| * |corpus|) — right whenever the query set is
  small or as the final rerank stage.

- **Random-hyperplane LSH bucketed top-k** — the scale path. Each vector
  gets a b-bit signature from seeded random hyperplanes; candidates must
  share the signature bucket, so the join is linear in corpus + collisions.
  Approximate by construction (rows-only correctness check): recall rises
  with fewer bits / multiple tables.

All arithmetic in double with a fixed fold order, matching the DuckDB
oracle bit-for-bit on the exact path.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


#: Declared dimension of the testdata ``embeddings`` table; the catalog
#: passes this to every similarity operator's ``dim``.
EMBED_DIM = 64


def geometry_ok(vec_col: str, dim: int | None) -> Column:
    """The geometry contract (r9, ragged-dimension sweep): a row whose
    vector is NULL — or, when the caller declares ``dim``, whose length
    differs from it — carries no geometry and is excluded from every
    similarity operator on BOTH engines. This is the r8 NULL-embedding
    contract's missing half: a 100 TB lake WILL carry truncated /
    mixed-model-version / empty vectors, and one ragged row turned every
    np.array batch stack into a job-killing ValueError (10 catalog
    queries crashed on the first --ragged sweep). The filter is a plan-
    side JVM expression, so it prunes before any shuffle, broadcast, or
    Python boundary. ``dim=None`` keeps the r8 NULL-only behavior for
    callers with schema-guaranteed homogeneous vectors."""
    from .._names import sql_ident as _q

    # one F.expr round-trip (r11 construction pass); identical tree
    if dim is not None:
        return F.expr(
            f"{_q(vec_col)} IS NOT NULL AND size({_q(vec_col)}) = {int(dim)}"
        )
    return F.expr(f"{_q(vec_col)} IS NOT NULL")


def geometry_pred_sql(vec_col: str, dim: int | None) -> str:
    """DuckDB twin of :func:`geometry_ok` for the oracle builders."""
    if dim is None:
        return f"{vec_col} IS NOT NULL"
    return f"{vec_col} IS NOT NULL AND len({vec_col}) = {dim}"


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Left-to-right fold of elementwise products — same association as the
    oracle's list_reduce, so bit-identical.

    ``dim`` unrolls the fold into a static ((a1*b1) + a2*b2) + ... tree.
    Measured 3.5x SLOWER than the HOF fold at dim=64 (192 element_at calls
    blow past codegen limits -> interpreted eval with per-call bounds
    checks), so callers should leave it None; kept for small-dim cases and
    as the measurement record. Identical IEEE addition order either way."""
    if dim is not None:
        acc = F.element_at(a, 1) * F.element_at(b, 1)
        for i in range(2, dim + 1):
            acc = acc + F.element_at(a, i) * F.element_at(b, i)
        return acc
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# stride_seed_rows small-input gate: below this column-pruned Catalyst
# estimate the (id, vec) projection is collected whole in one job instead
# of the 3-5-job two-phase rank. 32 MB of driver copy is well inside the
# transient footprint the post-collect caps elsewhere already accept
# (doc_top_terms' vocabulary, the percentile window rows), and at 100 TB
# the estimate exceeds the gate by orders of magnitude.
_SEED_SMALL_BYTES = 32 << 20


def norm(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(dot(a, a, dim))


def _stride_pick(rows: list, n_seeds: int) -> list:
    """Driver-side stride pick over collected (id, vec) rows — the small
    tier's arithmetic, shared by stride_seed_rows and pq_topk's folded
    one-collect path (r12) so the pick can never drift between them:
    ascending by id, NULLS FIRST (the distributed phase-2 ordering), every
    (N // n_seeds)-th row, first n_seeds picks."""
    rows = sorted(rows, key=lambda r: (r[0] is not None, r[0]))
    if not rows:
        return []
    stride = max(1, len(rows) // n_seeds)
    return rows[::stride][:n_seeds]


def stride_seed_rows(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_seeds: int,
    small_collect_bytes: int | None = None,
) -> list:
    """Distributed stride seeding shared by the IVF / PQ / k-means tiers:
    pick every (N // n_seeds)-th row by sorted id — positions 0, stride,
    2*stride, ... (first ``n_seeds`` picks) — WITHOUT materializing the
    corpus on the driver.

    Plan shape (two-phase global rank, r4 — VERDICT r3 #4): the id column
    alone is range-repartitioned by id (the only O(N) movement — ~8
    bytes/row, never vectors) and PERSISTED so both phases see identical
    row routing. Phase 1 collects per-partition row counts (one row per
    partition — metadata-sized, like the components convergence probe);
    the driver turns them into cumulative offsets, injected back as an
    array literal indexed by partition id. Phase 2 ranks WITHIN each
    partition (row_number over partitionBy(_pid) — a partition-parallel
    window, NO single-partition exchange anywhere in the plan, asserted
    in test_scale_patterns) and adds the offset: offset[pid] +
    local_rank == global rank by sorted id, because range partitioning
    makes partition p's ids all smaller than partition p+1's. The <=
    n_seeds picked ids broadcast back as a semi-join, so seed vectors
    reach the driver via a broadcast-pruned scan. Driver materialization
    is the P partition counts + exactly the seed rows (asserted). The
    r2/r3 single-partition ``Window.orderBy(id)`` rank — fine for ids
    through one task up to ~10^10 rows but a serial bottleneck past it —
    is gone.

    Identical picks to the previous driver-side ``ids[::stride][:n_seeds]``
    (and to the oracle's row_number-stride CTE), so downstream results are
    hash-stable.

    Small-input fast path (r11, guide §1.2): the two-phase rank costs 3-5
    Spark jobs (counts collect, range-sample, broadcast build, pruned
    scan) — pure fixed overhead when the corpus is small. Below
    ``_SEED_SMALL_BYTES`` (Catalyst's column-pruned estimate, the same
    plan-time signal usage_percentiles/doc_top_terms dispatch on) the
    (id, vec) projection is collected in ONE job and stride-picked
    driver-side — the ORIGINAL r2 semantics, byte-identical picks (ids
    sorted ascending, NULLS FIRST like Spark's orderBy). The distributed
    path is unchanged and remains the ONLY path at scale (estimate
    unavailable => distributed, same fallback polarity as the other
    dispatch sites). ``small_collect_bytes`` overrides the gate
    (``None`` => module default; ``0`` pins the distributed path — the
    scale-contract test uses that)."""
    from pyspark.sql import Window

    spark = df.sparkSession
    if small_collect_bytes is None:
        small_collect_bytes = _SEED_SMALL_BYTES
    proj = df.select(id_col, vec_col)  # one analysis, shared by est+collect
    try:
        est = int(
            proj._jdf.queryExecution()
            .optimizedPlan()
            .stats()
            .sizeInBytes()
        )
    except Exception:
        est = small_collect_bytes  # seam unavailable -> scale-safe tier
    if est < small_collect_bytes:
        return _stride_pick(proj.collect(), n_seeds)

    p = spark.sparkContext.defaultParallelism
    d = (
        df.select(id_col)
        .repartitionByRange(p, F.col(id_col))
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    try:
        counts = {
            r["_pid"]: r["c"]
            for r in d.groupBy("_pid").agg(F.count("*").alias("c")).collect()
        }
        if not counts:
            return []
        n = sum(counts.values())
        stride = max(1, n // n_seeds)
        offsets = []
        acc = 0
        for pid in range(max(counts) + 1):
            offsets.append(acc)
            acc += counts.get(pid, 0)
        off = F.element_at(
            F.array(*[F.lit(int(o)) for o in offsets]), F.col("_pid") + 1
        )
        local = F.row_number().over(
            Window.partitionBy("_pid").orderBy(id_col)
        ) - F.lit(1)
        picked = (
            d.withColumn("_rn", local + off)
            .filter(
                (F.col("_rn") % F.lit(stride) == F.lit(0))
                & (F.col("_rn") < F.lit(stride * n_seeds))
            )
            .select(id_col)
        )
        return (
            df.join(F.broadcast(picked), [id_col], "left_semi")
            .select(id_col, vec_col)
            .orderBy(id_col)
            .collect()
        )
    finally:
        d.unpersist()


def _empty_topk(df: DataFrame, score_col: str = "cosine_sim") -> DataFrame:
    """Empty top-k result — graceful degradation for empty corpora/queries.
    Ids are LongType to MATCH the non-empty output of the kernels that use
    this guard (their Arrow schemas hardcode long ids); a type that varied
    with emptiness would break unions across calls."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("candidate_id", T.LongType()),
            T.StructField("rank", T.IntegerType()),
            T.StructField(score_col, T.DoubleType()),
        ]
    )
    return df.sparkSession.createDataFrame([], schema)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int | None = None,
    unroll_dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k nearest corpus
    vectors (excluding itself), deterministic tiebreak on candidate id.

    Geometry contract (r8 NULL half + r9 dim half, shared by every
    similarity tier and the oracle builders via geometry_pred_sql): rows
    whose vector is NULL or, with ``dim`` declared, of the wrong length
    are excluded from BOTH sides — they can neither query nor be
    candidates. This keeps the HOF twin bit-identical to the vectorized
    kernel, whose Arrow path would otherwise die stacking a ragged batch.
    ``unroll_dim`` is the static-fold measurement record (see dot()).

    API changelog (r9, noted per ADVICE r9): ``dim`` used to be the
    fold-unroll hint and is now the row-filtering geometry predicate; the
    old meaning moved to ``unroll_dim``. Out-of-tree callers passing
    ``dim=`` for unrolling must switch to ``unroll_dim=`` — with ragged
    data the old call now silently drops wrong-length rows."""
    from pyspark.sql import Window

    queries = queries.filter(geometry_ok(vec_col, dim))
    corpus = corpus.filter(geometry_ok(vec_col, dim))
    # Norms are per-row, so compute them once per side before the join —
    # the per-pair work drops from three HOF folds to one.
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", norm(F.col("qv"), unroll_dim))
    c = corpus.select(
        F.col(id_col).alias("candidate_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm(F.col("cv"), unroll_dim))
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("candidate_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        "candidate_id",
        # try_divide: a zero-norm side makes cosine 0/0 — plain double
        # division yields NaN, which Spark ranks FIRST under desc while
        # DuckDB's x/0 NULL ranks LAST (review r5); try_divide returns
        # NULL, and desc's default NULLS LAST matches the oracle
        F.try_divide(
            dot(F.col("qv"), F.col("cv"), unroll_dim), F.col("qn") * F.col("cn")
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("candidate_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "candidate_id", "rank", "cosine_sim")
    )


def cosine_topk_oracle_sql(
    table: str,
    id_col: str,
    vec_col: str,
    k: int,
    query_pred: str,
    dim: int | None = None,
) -> str:
    """DuckDB oracle for cosine_topk: identical double fold via
    list_reduce(list_transform(list_zip(...)))."""
    dot = (
        "list_reduce(list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), "
        "(x, y) -> x + y)"
    )
    # list_reduce has no init: first product becomes the accumulator —
    # identical to a 0.0-init left fold under IEEE (+0.0 + x == x).
    d_qc = dot.format(a="q.v", b="c.v")
    d_qq = dot.format(a="q.v", b="q.v")
    d_cc = dot.format(a="c.v", b="c.v")
    # Geometry contract (r8 NULL + r9 dim): both sides exclude NULL and
    # wrong-length vectors, mirroring the plan-side geometry_ok filters.
    vec_ok = geometry_pred_sql(vec_col, dim)
    return f"""
WITH q AS (SELECT {id_col} AS query_id, {vec_col} AS v FROM {table}
           WHERE ({query_pred}) AND {vec_ok}),
c AS (SELECT {id_col} AS candidate_id, {vec_col} AS v FROM {table}
      WHERE {vec_ok}),
scored AS (
    SELECT q.query_id, c.candidate_id,
           {d_qc} / (sqrt({d_qq}) * sqrt({d_cc})) AS cosine_sim
    FROM q, c
    WHERE q.query_id <> c.candidate_id
),
ranked AS (
    SELECT query_id, candidate_id, cosine_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine_sim DESC, candidate_id ASC) AS rank
    FROM scored
)
SELECT query_id, candidate_id, CAST(rank AS BIGINT) AS rank, cosine_sim
FROM ranked WHERE rank <= {k}
"""


def cosine_topk_exact_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k, vectorized — BIT-IDENTICAL to ``cosine_topk``
    (and hence to the DuckDB oracle) at ~2x the speed. ``dim`` declares
    the geometry contract (see geometry_ok): without it one ragged
    vector kills the whole batch stack.

    The trick: the oracle's left-to-right fold is *sequential over
    dimensions* but has no ordering constraint *across pairs*, so the
    kernel loops over the 64 dims (one rank-1 update per dim:
    ``acc += c_i * q_i``) and vectorizes over the corpus-batch x query
    plane. Every partial sum is produced in exactly the fold's order, so
    the resulting doubles equal the HOF/zip_with plan bit-for-bit —
    verified in tests/test_scale_patterns.py — unlike ``np.dot``/BLAS,
    whose pairwise reductions differ in the last ulp (that fast path is
    ``cosine_topk_matmul``, rows-only).

    Per-batch selection keeps the global answer exact: rows are pre-sorted
    by candidate id and selected with a STABLE argsort on -sim, so
    boundary ties resolve (sim desc, id asc) — the same total order as the
    final window, and top-k of unioned per-batch top-ks = global top-k.
    Scale: corpus-linear, one pass, shuffle carries only k rows per query
    per batch into a tiny final window.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pyspark.sql import Window
    from pyspark.sql import types as T

    # geometry contract (r9): prune NULL/ragged vectors plan-side on
    # both sides before any collect or Arrow batch reaches numpy
    queries = queries.filter(geometry_ok(vec_col, dim))
    corpus = corpus.filter(geometry_ok(vec_col, dim))
    # Query side is the broadcast-sized side BY CONTRACT (it rides every
    # task's closure): brute-force top-k is the small-query/rerank tier;
    # corpus-sized query sets belong on the bucketed LSH/IVF tiers.
    q_rows = queries.select(id_col, vec_col).collect()
    if not q_rows:
        return _empty_topk(corpus)
    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("candidate_id", T.LongType()),
            T.StructField("cosine_sim", T.DoubleType()),
        ]
    )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([[float(x) for x in r[1]] for r in q_rows], dtype=np.float64)
    n_dims = Q.shape[1]

    def seq_norm(M: "np.ndarray") -> "np.ndarray":
        # acc += m_i * m_i, dim by dim: the fold's exact addition order.
        acc = np.zeros(M.shape[0])
        for i in range(M.shape[1]):
            acc += M[:, i] * M[:, i]
        return np.sqrt(acc)

    Qn = seq_norm(Q)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL vectors are excluded from the candidate set (crash
            # guard, review r7 — np.array cannot coerce None; same
            # contract as the k-means fit; the LSH tiers skip them too)
            pdf = pdf[pdf[vec_col].notna()]
            if not len(pdf):
                continue
            pdf = pdf.sort_values(id_col)  # ties later resolve id-asc
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            C = np.array(list(pdf[vec_col]), dtype=np.float64)
            Cn = seq_norm(C)
            S = np.zeros((len(cids), len(q_ids)))
            for i in range(n_dims):  # exact left fold, vectorized over pairs
                S += C[:, i][:, None] * Q[None, :, i]
            S = S / (Qn[None, :] * Cn[:, None])
            # Zero-norm pairs are 0/0 = NaN here, NULL in both SQL tiers
            # (DuckDB x/0, try_divide) — KEPT, ranked last (review r5: a
            # -inf mask + post-filter silently dropped a zero-norm QUERY
            # entirely, while the oracle still emits its k rows with NULL
            # sims). NaN -> NULL happens at the Arrow boundary; the
            # argsort below puts NaN last (ascending -S), stable order =
            # id-asc among NULL ties — the final window's exact order.
            # Self-matches stay IN the batch cut (hence k+1 rows) and are
            # dropped by an explicit id filter after the kernel.
            kk = min(k + 1, S.shape[0])
            # stable sort on -sim over id-ascending rows == (sim desc
            # nulls last, id asc)
            top = np.argsort(-S, axis=0, kind="stable")[:kk]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids[None, :], kk, 0).ravel(),
                    "candidate_id": cids[top].ravel(),
                    "cosine_sim": np.take_along_axis(S, top, axis=0).ravel(),
                }
            )

    partial = corpus.select(id_col, vec_col).mapInPandas(kernel, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc_nulls_last(), F.col("candidate_id").asc()
    )
    return (
        partial.filter(F.col("candidate_id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "candidate_id", "rank", "cosine_sim")
    )


def cosine_topk_matmul(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Brute-force cosine top-k on the Arrow/numpy fast path: the query
    matrix (small side) is collected and closed over; each corpus partition
    streams through ``mapInPandas`` where one BLAS matmul scores a whole
    Arrow batch against every query at once; per-batch top-k heaps shrink
    the output to k rows per query per batch, and a final window picks the
    global top-k.

    ~10-40x the per-pair HOF fold's throughput; float association differs
    from a sequential fold (BLAS reduction order), so scores can differ in
    the last ulp => rows-only correctness, with `cosine_topk` as the
    bit-exact oracle-checked baseline. Scale: corpus-linear, shuffle only
    of candidate rows (k x |queries| per partition).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pyspark.sql import Window
    from pyspark.sql import types as T

    # geometry contract (r9): NULL/ragged vectors pruned plan-side
    queries = queries.filter(geometry_ok(vec_col, dim))
    corpus = corpus.filter(geometry_ok(vec_col, dim))
    # query side broadcast-sized by contract (see cosine_topk_exact_vectorized)
    q_rows = queries.select(id_col, vec_col).collect()
    if not q_rows:
        return _empty_topk(corpus)
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norms = np.linalg.norm(Q, axis=1, keepdims=True)
    Qn = Q / np.where(q_norms == 0, 1.0, q_norms)  # zero-norm: no NaN column

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("candidate_id", T.LongType()),
            T.StructField("cosine_sim", T.DoubleType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            # id-ascending rows + STABLE selection — ties at the batch
            # cut keep the lowest ids, matching the final window's
            # (sim desc nulls last, id asc) exactly; argpartition kept an
            # ARBITRARY k of tied candidates, so the row set diverged
            # from cosine_topk and varied with partitioning (review r7)
            pdf = pdf[pdf[vec_col].notna()]  # NULL vec: skip (crash guard, r7)
            if not len(pdf):
                continue
            pdf = pdf.sort_values(id_col)
            cand_ids = pdf[id_col].to_numpy(dtype=np.int64)
            C = np.array(list(pdf[vec_col]), dtype=np.float64)
            norms = np.linalg.norm(C, axis=1, keepdims=True)
            Cn = C / np.where(norms == 0, 1.0, norms)
            S = Cn @ Qn.T  # (n_corpus_batch, n_queries)
            # zero-norm candidate OR query: cosine undefined -> NaN,
            # KEPT and ranked last (NaN -> NULL at the Arrow boundary;
            # numpy sorts NaN to the end of ascending -S). The old -inf
            # mask + post-filter silently dropped such candidates while
            # cosine_topk (the declared rows-only baseline) and both SQL
            # tiers emit them with NULL sims filling the top-k
            # (review r7 — the candidate-side twin of the r5 query fix).
            S[(norms == 0).ravel(), :] = np.nan
            S[:, (q_norms == 0).ravel()] = np.nan
            # self-matches stay IN the batch cut (k+1 slots) and drop in
            # the id filter below, same as the baseline
            kk = min(k + 1, S.shape[0])
            top = np.argsort(-S, axis=0, kind="stable")[:kk]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids[None, :], kk, 0).ravel(),
                    "candidate_id": cand_ids[top].ravel(),
                    "cosine_sim": np.take_along_axis(S, top, axis=0).ravel(),
                }
            )

    partial = corpus.select(id_col, vec_col).mapInPandas(kernel, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc_nulls_last(), F.col("candidate_id").asc()
    )
    return (
        partial.filter(F.col("query_id") != F.col("candidate_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "candidate_id", "rank", "cosine_sim")
    )


def _seq_norms(M):
    """Row norms in the fold's exact addition order (acc += m_i*m_i dim by
    dim) — bit-identical to sqrt(list_reduce(self-products))."""
    import numpy as np

    acc = np.zeros(M.shape[0])
    for i in range(M.shape[1]):
        acc += M[:, i] * M[:, i]
    return np.sqrt(acc)


def _seq_cosine_matrix(V, Vn, C, Cn):
    """(len(V), len(C)) cosine matrix where every dot is produced in the
    left fold's addition order (one rank-1 update per dim), then divided by
    the precomputed sequential norms — the SQL fold, vectorized over
    pairs."""
    import numpy as np

    S = np.zeros((V.shape[0], C.shape[0]))
    for i in range(V.shape[1]):
        S += V[:, i][:, None] * C[None, :, i]
    return S / (Vn[:, None] * Cn[None, :])


def semantic_decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-space decontamination: flag every corpus vector whose max
    cosine similarity to ANY eval-set vector reaches ``threshold`` — the
    semantic twin of the n-gram `decontaminate` (catches paraphrased /
    reformatted benchmark leakage that exact n-grams miss).

    Scale shape: the eval matrix rides the task closure (benchmarks are
    KBs–MBs against a 100 TB corpus — same contract as the broadcast
    n-gram set), so the whole pass is ONE exchange-free corpus-linear
    mapInPandas scan; each Arrow batch does a vectorized (batch × eval)
    similarity block. max() over doubles is order-independent, and every
    dot uses the dim-sequential fold, so the result is bit-identical to
    the DuckDB cross-join oracle."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    # geometry contract (r8 NULL + r9 dim): both sides pruned plan-side
    eval_set = eval_set.filter(geometry_ok(vec_col, dim))
    corpus = corpus.filter(geometry_ok(vec_col, dim))
    e_rows = eval_set.select(id_col, vec_col).orderBy(id_col).collect()
    schema = T.StructType(
        [
            T.StructField(id_col, corpus.schema[id_col].dataType),
            T.StructField("max_eval_sim", T.DoubleType()),
            T.StructField("contaminated", T.BooleanType()),
        ]
    )
    spark = corpus.sparkSession
    if not e_rows:
        # no eval vectors => no (corpus x eval) pairs: empty result, the
        # same semantics as the oracle's cross join over an empty side
        return spark.createDataFrame([], schema)
    E = np.array([[float(x) for x in r[1]] for r in e_rows], dtype=np.float64)
    En = _seq_norms(E)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]  # NULL vec: skip (crash guard, r7)
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            S = _seq_cosine_matrix(V, _seq_norms(V), E, En)
            # zero-norm vectors make cosine 0/0: NaN here but NULL in the
            # SQL engines. Mirror SQL MAX: ignore NULL (NaN) entries, and
            # a row whose cosines are ALL NULL aggregates to NULL with a
            # NULL threshold verdict (extreme sweep, r4).
            nan_mask = np.isnan(S)
            all_nan = nan_mask.all(axis=1)
            mx = np.where(nan_mask, -np.inf, S).max(axis=1)
            mx_out = pd.array(mx, dtype="Float64")
            cont = pd.array(mx >= threshold, dtype="boolean")
            mx_out[all_nan] = pd.NA
            cont[all_nan] = pd.NA
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "max_eval_sim": mx_out,
                    "contaminated": cont,
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(kernel, schema)


def semantic_decontaminate_oracle_sql(
    table: str,
    id_col: str,
    vec_col: str,
    eval_pred: str,
    threshold: str,
    dim: int | None = None,
) -> str:
    """DuckDB twin: cross join corpus × eval, dim-sequential cosine fold,
    MAX per corpus id. ``threshold`` must be passed as a string literal to
    be CAST AS DOUBLE (a bare decimal would compare as DECIMAL)."""
    dot = (
        "list_reduce(list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), "
        "(x, y) -> x + y)"
    )
    d_tc = dot.format(a="tr.v", b="ev.v")
    d_tt = dot.format(a="tr.v", b="tr.v")
    d_cc = dot.format(a="ev.v", b="ev.v")
    # NULL-embedding contract (r8): both sides exclude NULL vectors — the
    # kernel drops NULL corpus rows entirely (the oracle's MAX over their
    # all-NULL sims would instead KEEP the row with NULL verdicts), and an
    # all-NULL eval side must mean "no eval vectors" on both engines.
    vec_ok = geometry_pred_sql(vec_col, dim)
    return f"""
WITH ev AS (SELECT {vec_col} AS v FROM {table}
            WHERE ({eval_pred}) AND {vec_ok}),
tr AS (SELECT {id_col}, {vec_col} AS v FROM {table}
       WHERE NOT ({eval_pred}) AND {vec_ok})
SELECT tr.{id_col},
       MAX({d_tc} / (sqrt({d_tt}) * sqrt({d_cc}))) AS max_eval_sim,
       MAX({d_tc} / (sqrt({d_tt}) * sqrt({d_cc}))) >= CAST('{threshold}' AS DOUBLE)
           AS contaminated
FROM tr, ev
GROUP BY tr.{id_col}
"""


#: IVF cells, and the cells each query probes.
IVF_N_LISTS = 16
IVF_N_PROBE = 4


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the corpus is partitioned into
    ``IVF_N_LISTS`` Voronoi cells around deterministic centroids (every
    (|corpus|/IVF_N_LISTS)-th corpus vector by id — training-free and
    seeded by the data itself); each query scores only the cells of its
    ``IVF_N_PROBE`` nearest centroids.

    Scale shape: assignment is one corpus-linear pass; search work drops to
    ~IVF_N_PROBE/IVF_N_LISTS of brute force; candidates meet queries through an
    equi-join on the cell id (no cross join).

    Oracle-checked despite being approximate: cell assignment and probe
    selection use the dim-sequential fold (bit-identical doubles to the
    DuckDB list_reduce) with (sim desc, centroid-index asc) tie order —
    np.argmax/stable argsort pick the first max, row_number's rank-1 twin —
    so the cells, the candidate set, and the final rerank all reproduce in
    SQL (`ivf_topk_oracle_sql`).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pyspark.sql import Window
    from pyspark.sql import types as T

    # Geometry contract (r8 NULL + r9 dim): excluded PLAN-SIDE, not just
    # in the kernels — a NULL/ragged row reaching stride_seed_rows
    # becomes a bad seed centroid (np.array coercion crash), and the
    # stride itself must be computed over the geometry-bearing rows to
    # match the oracle's ids CTE.
    corpus = corpus.filter(geometry_ok(vec_col, dim))
    queries = queries.filter(geometry_ok(vec_col, dim))
    # deterministic centroids: every stride-th corpus vector by sorted id,
    # picked distributed (ids-only rank + broadcast semi-join — no O(N)
    # driver materialization; see stride_seed_rows)
    cent_rows = stride_seed_rows(corpus, id_col, vec_col, IVF_N_LISTS)
    if not cent_rows:  # empty corpus: no cells, no candidates
        return _empty_topk(corpus)
    # clamp (review r7): a tiny corpus yields fewer centroids than
    # IVF_N_PROBE — order[:, :n_probe] then has fewer columns than the
    # n_probe-repeated qid/qvec arrays and the kernel crashed with a
    # length mismatch; the oracle's rnk <= n_probe self-clamps
    n_probe = min(IVF_N_PROBE, len(cent_rows))
    Cm = np.array([[float(x) for x in r[1]] for r in cent_rows], dtype=np.float64)
    Cn = _seq_norms(Cm)

    assign_schema = T.StructType(
        [
            T.StructField("vid", T.LongType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("vec", T.ArrayType(T.DoubleType())),
            T.StructField("nvec", T.DoubleType()),
        ]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]  # NULL vec: no cell (crash guard, r7)
            if not len(pdf):
                continue
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            Vn = _seq_norms(V)
            S = _seq_cosine_matrix(V, Vn, Cm, Cn)
            # NaN sims (zero-norm vector OR zero-norm seed centroid) are
            # NULL in the oracle, which ranks NULLS LAST — np.argmax would
            # instead return the FIRST NaN index (NaN propagates as max),
            # sending the whole corpus to a degenerate cell. -inf = the
            # oracle's NULLS-LAST; all-(-inf) rows argmax to index 0, the
            # oracle's cidx-ASC tiebreak (extreme sweep, r4).
            cells = np.argmax(np.where(np.isnan(S), -np.inf, S), axis=1).astype(
                np.int32
            )  # ties: first idx
            yield pd.DataFrame(
                {
                    "vid": pdf[id_col].to_numpy(),
                    "cell": cells,
                    "vec": list(V),
                    "nvec": Vn,
                }
            )

    assigned = corpus.select(id_col, vec_col).mapInPandas(assign, assign_schema)

    probe_schema = T.StructType(
        [
            T.StructField("qid", T.LongType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("qvec", T.ArrayType(T.DoubleType())),
            T.StructField("nq", T.DoubleType()),
        ]
    )

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]  # NULL vec: no probes (r7)
            if not len(pdf):
                continue
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            Vn = _seq_norms(V)
            S = _seq_cosine_matrix(V, Vn, Cm, Cn)
            # stable argsort on -sim == (sim desc, centroid idx asc);
            # NaN -> -inf first: the oracle's NULL sims rank NULLS LAST
            # (np.argsort happens to sort NaN last too, but only for the
            # all-NaN-row tiebreak does the explicit -inf matter: stable
            # argsort then yields 0,1,2,... = the oracle's cidx ASC).
            order = np.argsort(
                -np.where(np.isnan(S), -np.inf, S), axis=1, kind="stable"
            )[:, :n_probe].astype(np.int32)
            yield pd.DataFrame(
                {
                    "qid": np.repeat(pdf[id_col].to_numpy(), n_probe),
                    "cell": order.ravel(),
                    "qvec": list(np.repeat(V, n_probe, axis=0)),
                    "nq": np.repeat(Vn, n_probe),
                }
            )

    probes = queries.select(id_col, vec_col).mapInPandas(probe, probe_schema)

    # No broadcast hint: the probe side is queries x n_probe — the caller
    # controls its size, and nothing bounds it structurally (the catalog
    # query derives it from a constant fraction of embeddings). AQE
    # re-plans the equi-join on "cell" from real runtime sizes: broadcast
    # when the probe set is small (bench scale), shuffle join (with skew
    # split — "cell" has only n_lists keys) when it isn't (r8 unhint).
    pairs = assigned.join(probes, "cell").filter(
        F.col("vid") != F.col("qid")
    )
    # Arrow rerank over norm-carrying frames, not the interpreted HOF
    # cosine fold (review r7): each candidate pair evaluated THREE
    # interpreted 64-dim zip_with/aggregate folds per row — the exact
    # pattern the r4 LSH rework measured at 9+ s and replaced with
    # _cosine_rerank; norms ride the assign/probe frames so the rerank
    # is one vectorized pass, bit-identical doubles (same seq fold).
    scored_in = pairs.select(
        F.col("qid").alias("query_id"),
        F.col("vid").alias("candidate_id"),
        F.col("qvec").alias("va"),
        F.col("vec").alias("vb"),
        F.col("nq").alias("na"),
        F.col("nvec").alias("nb"),
    )
    scored = _cosine_rerank(
        scored_in, "query_id", "candidate_id", T.LongType(), T.LongType()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("candidate_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "candidate_id", "rank", "cosine_sim")
    )


def _dot_sql(a: str, b: str) -> str:
    """DuckDB text for the same left-to-right double fold as `dot`."""
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), "
        "(x, y) -> x + y)"
    )


def ivf_topk_oracle_sql(
    table: str,
    id_col: str,
    vec_col: str,
    k: int = 5,
    query_pred: str = "TRUE",
    dim: int | None = None,
) -> str:
    """DuckDB twin of ivf_topk: stride-selected centroids, rank-1 cell
    assignment, rank<=IVF_N_PROBE probes, exact cosine rerank — every
    double from the same fold, every tie broken (sim desc, idx asc)."""
    vec_ok = geometry_pred_sql(vec_col, dim)
    d_vc = _dot_sql("v.vec", "c.cv")
    d_vv = _dot_sql("v.vec", "v.vec")
    d_cc = _dot_sql("c.cv", "c.cv")
    d_qa = _dot_sql("q.vec", "a.vec")
    d_qq = _dot_sql("q.vec", "q.vec")
    d_aa = _dot_sql("a.vec", "a.vec")
    # Geometry contract (r8 NULL + r9 dim): the ids CTE (and hence the
    # stride and the seed centroids) and the scored vector set all
    # exclude NULL/ragged vectors, mirroring ivf_topk's plan-side filters.
    return f"""
WITH ids AS (
    SELECT {id_col} AS id, row_number() OVER (ORDER BY {id_col}) - 1 AS rn
    FROM {table} WHERE {vec_ok}
),
params AS (SELECT greatest(1, COUNT(*) // {IVF_N_LISTS}) AS stride FROM ids),
cents AS (
    SELECT CAST(i.rn // p.stride AS INTEGER) AS cidx, e.{vec_col} AS cv
    FROM ids i CROSS JOIN params p
    JOIN {table} e ON e.{id_col} = i.id
    WHERE i.rn % p.stride = 0 AND i.rn // p.stride < {IVF_N_LISTS}
),
vecs AS (SELECT {id_col} AS id, {vec_col} AS vec FROM {table}
         WHERE {vec_ok}),
sims AS (
    SELECT v.id, c.cidx,
           {d_vc} / (sqrt({d_vv}) * sqrt({d_cc})) AS sim
    FROM vecs v CROSS JOIN cents c
),
cells AS (
    SELECT id, cidx AS cell FROM (
        SELECT id, cidx,
               row_number() OVER (PARTITION BY id ORDER BY sim DESC, cidx ASC) AS rnk
        FROM sims) WHERE rnk = 1
),
probes AS (
    SELECT id AS qid, cidx AS cell FROM (
        SELECT id, cidx,
               row_number() OVER (PARTITION BY id ORDER BY sim DESC, cidx ASC) AS rnk
        FROM sims WHERE {query_pred}) WHERE rnk <= {IVF_N_PROBE}
),
scored AS (
    SELECT p.qid AS query_id, ca.id AS candidate_id,
           {d_qa} / (sqrt({d_qq}) * sqrt({d_aa})) AS cosine_sim
    FROM probes p
    JOIN cells ca ON ca.cell = p.cell AND ca.id <> p.qid
    JOIN vecs q ON q.id = p.qid
    JOIN vecs a ON a.id = ca.id
),
ranked AS (
    SELECT query_id, candidate_id, cosine_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine_sim DESC, candidate_id ASC) AS rank
    FROM scored
)
SELECT query_id, candidate_id, CAST(rank AS BIGINT) AS rank, cosine_sim
FROM ranked WHERE rank <= {k}
"""


def cosine_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    dim: int | None = None,
) -> DataFrame:
    """[EXT] Embedding-cosine near-duplicate detection, exact tier: every
    unordered pair (id_a < id_b) whose cosine similarity reaches the
    threshold.

    All-pairs is O(n^2) by definition — correct as the small-scale oracle
    tier and the within-bucket kernel; the 100 TB path is
    `lsh_neardup_pairs` (equi-join on bucket ids, work scales with
    collisions). Threshold comparison is safe across engines because the
    fold order (and hence the double) is bit-identical to the DuckDB
    oracle's list_reduce.

    Plan shape (r4 rework): the r3 broadcast-nested-loop + interpreted
    HOF cosine spent ~20 s at sf0.1 evaluating 2M interpreted 64-dim
    folds (and fed three catalog queries, so the components query paid
    it transitively). Now ONE corpus-linear mapInPandas pass: the corpus
    matrix rides a ``sparkContext.broadcast`` — the IDENTICAL
    executor-memory contract as the ``F.broadcast(b)`` join side it
    replaces (both pin the full corpus on every executor via the
    driver) — and each Arrow batch computes a (batch x corpus)
    dim-sequential cosine block (`_seq_cosine_matrix`, the
    decontaminate/IVF kernels' fold — same doubles as the HOF form).
    Zero-norm vectors produce 0/0 cosines and are EXCLUDED: both SQL
    engines evaluate x/0 as NULL (DuckDB division, try_divide on the JVM
    tier) and NULL >= t never passes — the kernel's NaN >= t is already
    False, the aligned semantics (extreme sweep, r4). NULL vectors never
    pair, as before.

    Eager-evaluation contract (advice r4): building the corpus broadcast
    runs one collect() job AT CALL TIME — unlike the other pair
    generators this operator is not lazy, and the broadcast snapshots the
    corpus as of the call (upstream mutations between call and
    consumption are not observed). Callers wanting plan-time laziness use
    `lsh_neardup_pairs`, which stays a pure plan builder.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    spark = df.sparkSession
    id_type = df.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cosine_sim", T.DoubleType()),
        ]
    )
    # geometry contract (r9): NULL/ragged vectors never pair — ONE
    # plan-side filter is the single contract point (the old per-site
    # `is not None` guards below it were made unreachable and removed,
    # review r9)
    df = df.filter(geometry_ok(vec_col, dim))
    rows = df.select(id_col, vec_col).collect()
    if not rows:
        return spark.createDataFrame([], schema)
    ids = [r[0] for r in rows]
    B = np.array([[float(x) for x in r[1]] for r in rows], dtype=np.float64)
    bc = spark.sparkContext.broadcast((np.array(ids), B, _seq_norms(B)))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_ids, Bm, Bn = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            a_ids = pdf[id_col].to_numpy()
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            S = _seq_cosine_matrix(V, _seq_norms(V), Bm, Bn)
            # id_a < id_b upper triangle. A zero-norm vector's cosine is
            # 0/0: NaN here, but NULL in BOTH SQL engines (x/0 is NULL in
            # DuckDB; try_divide on the JVM tier) — and NULL >= t filters
            # the pair out. numpy's NaN >= t is already False, so the
            # plain comparison is the aligned semantics (the old
            # `| isnan` branch wrongly kept zero-norm pairs — extreme
            # sweep, r4).
            hit = (S >= threshold) & (b_ids[None, :] > a_ids[:, None])
            ri, ci = np.nonzero(hit)
            if not len(ri):
                continue
            yield pd.DataFrame(
                {
                    "id_a": a_ids[ri],
                    "id_b": b_ids[ci],
                    "cosine_sim": S[ri, ci],
                }
            )

    return df.select(id_col, vec_col).mapInPandas(kernel, schema)


def neardup_pairs_oracle_sql(
    table: str,
    id_col: str,
    vec_col: str,
    threshold: float,
    dim: int | None = None,
) -> str:
    """DuckDB oracle for cosine_neardup_pairs (identical IEEE fold).

    The IS NOT NULL is semantics-preserving (a NULL-vec pair's cosine is
    NULL and NULL >= t never passes) but makes the shared contract
    explicit and prunes the pair scan (r8); the len() half (r9) is
    load-bearing — a ragged pair's DuckDB fold stops at the shorter
    length and could still clear the threshold."""
    d_ab = _dot_sql("a.v", "b.v")
    d_aa = _dot_sql("a.v", "a.v")
    d_bb = _dot_sql("b.v", "b.v")
    return f"""
WITH v AS (SELECT {id_col}, {vec_col} AS v FROM {table}
           WHERE {geometry_pred_sql(vec_col, dim)}),
scored AS (
    SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
           {d_ab} / (sqrt({d_aa}) * sqrt({d_bb})) AS cosine_sim
    FROM v a JOIN v b ON a.{id_col} < b.{id_col}
)
SELECT id_a, id_b, cosine_sim FROM scored WHERE cosine_sim >= {threshold}
"""


def cosine_dedup_survivors(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    keep_cols: tuple[str, ...] = ("label",),
    dim: int | None = None,
) -> DataFrame:
    """Greedy keep-first dedup over the near-dup pairs: drop every vector
    that has a near-duplicate with a smaller id (deterministic, one rule —
    not transitive-closure clustering, so it is exactly expressible in SQL
    for the oracle). Survivors = ids never appearing as the larger member,
    via a left_anti join against the distinct dropped-id set — column-pruned
    to the id before the shuffle. NULL/ragged-vector rows never pair, so
    they always SURVIVE (the outer scan stays unfiltered, both engines)."""
    pairs = cosine_neardup_pairs(df, id_col, vec_col, threshold, dim)
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(dropped, id_col, "left_anti").select(id_col, *keep_cols)


def neardup_survivors_oracle_sql(
    table: str,
    id_col: str,
    vec_col: str,
    threshold: float,
    keep_cols: tuple[str, ...],
    dim: int | None = None,
) -> str:
    d_ab = _dot_sql("a.v", "b.v")
    d_aa = _dot_sql("a.v", "a.v")
    d_bb = _dot_sql("b.v", "b.v")
    keep = ", ".join(f"e.{c}" for c in keep_cols)
    # v's geometry predicate is semantics-preserving for NULLs and
    # load-bearing for ragged lengths (see neardup_pairs_oracle_sql);
    # the outer scan stays UNfiltered — geometry-less rows never pair,
    # so they always survive, on both engines (r8/r9).
    return f"""
WITH v AS (SELECT {id_col}, {vec_col} AS v FROM {table}
           WHERE {geometry_pred_sql(vec_col, dim)}),
dropped AS (
    SELECT DISTINCT b.{id_col} AS id
    FROM v a JOIN v b ON a.{id_col} < b.{id_col}
    WHERE {d_ab} / (sqrt({d_aa}) * sqrt({d_bb})) >= {threshold}
)
SELECT e.{id_col}, {keep}
FROM {table} e LEFT JOIN dropped d ON e.{id_col} = d.id
WHERE d.id IS NULL
"""


#: Random-hyperplane LSH: bits per signature, the planes' seed, and the
#: signatures (tables) per near-dup pair search and per top-k search.
LSH_BITS = 6
LSH_SEED = 42
LSH_PAIR_TABLES = 4
LSH_TOPK_TABLES = 8


def _lsh_tables_planes(n_tables: int) -> list[list[list[float]]]:
    """The seeded hyperplane constant shared by lsh_neardup_pairs and its
    DuckDB oracle builder: same Python floats land as literals in BOTH the
    Spark plan and the SQL text (repr round-trips doubles exactly), so the
    sign tests — and hence buckets and candidates — agree bit-for-bit."""
    return [
        [
            [
                random.Random((LSH_SEED + 1) * 10_007 + t * 101 + i).gauss(0.0, 1.0)
                for _ in range(EMBED_DIM)
            ]
            for i in range(LSH_BITS)
        ]
        for t in range(n_tables)
    ]


def _signature_sql(vec_expr: str, planes: list[list[float]]) -> str:
    """DuckDB text for the same bucket id Spark computes: sum of CASE on
    the sign of the identical left-fold dot against literal planes."""
    bits = []
    for i, plane in enumerate(planes):
        lits = "[" + ", ".join(repr(w) for w in plane) + "]"
        d = (
            f"list_reduce(list_transform(list_zip({vec_expr}, {lits}), "
            "p -> CAST(p[1] AS DOUBLE) * p[2]), (x, y) -> x + y)"
        )
        bits.append(f"CASE WHEN {d} >= 0 THEN {1 << i} ELSE 0 END")
    return "(" + " + ".join(bits) + ")"


def lsh_neardup_pairs_oracle_sql(
    table: str,
    id_col: str,
    vec_col: str,
    threshold: float = 0.4,
) -> str:
    """DuckDB twin of lsh_neardup_pairs. The hyperplanes are embedded as
    double literals, the sign tests reuse the bit-identical fold, and the
    rerank is the exact cosine — so the approximate LSH pipeline is
    oracle-checked end-to-end, not rows-only."""
    planes = _lsh_tables_planes(LSH_PAIR_TABLES)
    # Geometry contract (r9): the signature CTE excludes NULL/ragged
    # vectors, mirroring the plan-side filter in lsh_neardup_pairs. For
    # NULLs this is output-identical to the r8 form (bucket-0 collisions
    # always reranked to NULL cosine and fell to the threshold); for
    # ragged lengths it is load-bearing — a truncated vector's zip fold
    # silently scores on the shorter prefix.
    vec_ok = geometry_pred_sql(vec_col, EMBED_DIM)
    sigs = "\nUNION ALL\n".join(
        f"SELECT {id_col} AS id, {vec_col} AS v, {t} AS tbl, "
        f"{_signature_sql(vec_col, p)} AS bucket FROM {table} "
        f"WHERE {vec_ok}"
        for t, p in enumerate(planes)
    )
    d_ab = _dot_sql("va.v", "vb.v")
    d_aa = _dot_sql("va.v", "va.v")
    d_bb = _dot_sql("vb.v", "vb.v")
    return f"""
WITH s AS (
{sigs}
),
cand AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM s a JOIN s b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id < b.id
),
scored AS (
    -- the vector re-fetch carries the same geometry predicate (r8/r9):
    -- semantics-preserving for the candidate set (s is already
    -- filtered) and required for DuckDB — list_zip(NULL, NULL) is an
    -- EMPTY list and list_reduce errors on empty input (first
    -- NULL-embedding sweep)
    SELECT c.id_a, c.id_b,
           {d_ab} / (sqrt({d_aa}) * sqrt({d_bb})) AS cosine_sim
    FROM cand c
    JOIN (SELECT {id_col} AS id, {vec_col} AS v FROM {table}
          WHERE {vec_ok}) va ON va.id = c.id_a
    JOIN (SELECT {id_col} AS id, {vec_col} AS v FROM {table}
          WHERE {vec_ok}) vb ON vb.id = c.id_b
)
SELECT id_a, id_b, cosine_sim FROM scored WHERE cosine_sim >= {threshold}
"""


def lsh_bucketed_topk_oracle_sql(
    table: str,
    id_col: str,
    vec_col: str,
    k: int = 5,
    query_pred: str = "TRUE",
) -> str:
    """DuckDB twin of lsh_bucketed_topk (OR over ``LSH_TOPK_TABLES`` plane
    sets — a UNION ALL of per-table bucket selects — distinct candidate
    pairs, exact cosine rerank, deterministic (sim desc, id asc) top-k)."""
    all_planes = _lsh_tables_planes(LSH_TOPK_TABLES)
    buckets = "\nUNION ALL\n".join(
        f"SELECT id, {t} AS tbl, {_signature_sql('v', planes)} AS bucket FROM s"
        for t, planes in enumerate(all_planes)
    )
    d_qc = _dot_sql("qs.v", "cs.v")
    d_qq = _dot_sql("qs.v", "qs.v")
    d_cc = _dot_sql("cs.v", "cs.v")
    # Geometry contract (r9): the base CTE excludes NULL/ragged vectors,
    # retiring the r8 NULL-keep semantics (NULL candidates used to fill
    # short top-k slots with NULL sims) — exclusion is the contract every
    # other similarity tier already had, and the Spark side now filters
    # plan-side to match.
    return f"""
WITH s AS (
    SELECT {id_col} AS id, {vec_col} AS v FROM {table}
    WHERE {geometry_pred_sql(vec_col, EMBED_DIM)}
),
e AS (
{buckets}
),
q AS (SELECT e.* FROM e JOIN s USING (id) WHERE {query_pred}),
cand AS (
    SELECT DISTINCT q.id AS query_id, c.id AS candidate_id
    FROM e c JOIN q ON c.tbl = q.tbl AND c.bucket = q.bucket AND c.id <> q.id
),
scored AS (
    -- s is geometry-filtered, so the fold can run directly: DuckDB's
    -- list_zip(NULL, NULL) is an EMPTY list and list_reduce errors on
    -- empty input (first NULL-embedding sweep) — unreachable here
    SELECT cand.query_id, cand.candidate_id,
           {d_qc} / (sqrt({d_qq}) * sqrt({d_cc})) AS cosine_sim
    FROM cand
    JOIN s qs ON qs.id = cand.query_id
    JOIN s cs ON cs.id = cand.candidate_id
),
ranked AS (
    SELECT query_id, candidate_id, cosine_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine_sim DESC, candidate_id ASC) AS rank
    FROM scored
)
SELECT query_id, candidate_id, CAST(rank AS BIGINT) AS rank, cosine_sim
FROM ranked WHERE rank <= {k}
"""


from ._persist import swept_persist


def _lsh_sig_frame(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    all_planes: list,
) -> DataFrame:
    """(id, v, n, buckets) per row: ALL table bucket ids + the sequential
    norm, computed in ONE Arrow pass (shared by lsh_neardup_pairs and
    lsh_bucketed_topk — both previously recomputed 24-48 interpreted HOF
    dots per row). Sign tests use the dim-sequential fold, bit-identical
    to the oracle's list_reduce.

    PRECONDITION (r9 geometry contract): input is geometry-filtered —
    both callers apply geometry_ok(vec_col, dim) before building
    signatures, so every vector is non-NULL and plane-length. The old
    NULL path (bucket 0 + NULL norm) was retired with the callers'
    NULL-keep semantics; a ragged batch would crash np.array, which the
    filter makes unreachable."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    n_tables, n_bits, dim = len(all_planes), LSH_BITS, EMBED_DIM
    PF = np.array(all_planes, dtype=np.float64).reshape(n_tables * n_bits, dim)
    sig_schema = T.StructType(
        [
            T.StructField("id", df.schema[id_col].dataType),
            T.StructField("v", df.schema[vec_col].dataType),
            T.StructField("n", T.DoubleType()),
            T.StructField("buckets", T.ArrayType(T.IntegerType())),
        ]
    )

    def sig_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            # geometry-filtered input (precondition above): stack directly
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            # dim-sequential fold against every plane at once: one
            # rank-1 update per dim == the oracle's left-to-right sum
            S = np.zeros((V.shape[0], PF.shape[0]))
            for i in range(V.shape[1]):
                S += V[:, i][:, None] * PF[None, :, i]
            bits = S >= 0
            Vn = _seq_norms(V)
            b_out = [
                [
                    int(
                        sum(
                            1 << i
                            for i in range(n_bits)
                            if bits[j, t * n_bits + i]
                        )
                    )
                    for t in range(n_tables)
                ]
                for j in range(len(V))
            ]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "v": pdf[vec_col],
                    "n": Vn.astype(float),
                    "buckets": pd.Series(b_out, dtype=object),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(sig_kernel, sig_schema)


def _cosine_rerank(
    scored_in: DataFrame, id_a: str, id_b: str, id_a_type, id_b_type
) -> DataFrame:
    """(id_a, id_b, va, vb, na, nb) -> (id_a, id_b, cosine_sim) via the
    dim-sequential pair dot divided by the precomputed sequential norms —
    the same doubles as the oracle's fold/sqrt form, vectorized over an
    Arrow batch. Rows with a NULL norm (NULL vector upstream) emit NULL
    cosine."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField(id_a, id_a_type),
            T.StructField(id_b, id_b_type),
            T.StructField("cosine_sim", T.DoubleType()),
        ]
    )

    def rerank_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            na = pdf["na"].to_numpy(dtype=object)
            nb = pdf["nb"].to_numpy(dtype=object)
            # pd.notna, NOT `is not None` (r8, found by the first sweep to
            # inject NULL embeddings): a NULL DoubleType norm reaches the
            # kernel as float NaN when pandas densifies the column — the
            # identity check passed it as valid, and the row's None vector
            # then made np.array inhomogeneous (kernel crash, not the
            # documented NULL-cosine emit).
            valid = np.array(
                [pd.notna(x) and pd.notna(y) for x, y in zip(na, nb)]
            )
            cos_out = [None] * len(pdf)
            if valid.any():
                A = np.array(
                    [v for v, ok in zip(pdf["va"], valid) if ok],
                    dtype=np.float64,
                )
                B = np.array(
                    [v for v, ok in zip(pdf["vb"], valid) if ok],
                    dtype=np.float64,
                )
                acc = np.zeros(A.shape[0])
                for i in range(A.shape[1]):  # dim-sequential pair dot
                    acc += A[:, i] * B[:, i]
                cos = acc / (
                    np.array([x for x, ok in zip(na, valid) if ok], dtype=np.float64)
                    * np.array([x for x, ok in zip(nb, valid) if ok], dtype=np.float64)
                )
                j = 0
                for row, ok in enumerate(valid):
                    if ok:
                        cos_out[row] = float(cos[j])
                        j += 1
            yield pd.DataFrame(
                {
                    id_a: pdf[id_a],
                    id_b: pdf[id_b],
                    "cosine_sim": pd.Series(cos_out, dtype=object),
                }
            )

    return scored_in.mapInPandas(rerank_kernel, out_schema)


def lsh_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """Scale-path near-dup: OR-of-ANDs banding over random-hyperplane
    signatures. Each of ``LSH_PAIR_TABLES`` independent signatures buckets the
    corpus; candidate pairs form via a self-equi-join on (table, bucket)
    (shuffle on the bucket key, linear in corpus + collisions — no n^2
    anywhere); dropDuplicates merges pairs that collide in several tables
    before the exact-cosine rerank so each pair is scored once.

    Recall for a pair at cosine c: per-bit collision p = 1 - acos(c)/pi,
    per-table p^LSH_BITS, overall 1 - (1 - p^LSH_BITS)^LSH_PAIR_TABLES —
    fewer bits / more tables suit looser thresholds. Approximate =>
    rows-only check; `cosine_neardup_pairs` is the exact baseline.

    Plan shape (r4 rework — the r3 form carried BOTH full vectors through
    the bucket self-join and scored candidates with the interpreted HOF
    fold, which at sf0.1 meant a ~1 KB/row shuffle of hundreds of
    thousands of candidate rows and 9+ s of interpreted eval; measured
    13x DuckDB): one Arrow pass computes ALL table buckets + the
    sequential norm per vector (`_seq_*` kernels — bit-identical to the
    oracle's list_reduce fold, same as the IVF/PQ/decontaminate tiers);
    the candidate self-join moves (id, tbl, bucket) rows ONLY (~24
    B/row); surviving deduped pairs re-fetch their two vectors by id
    (broadcast at small corpora, shuffle-on-id at scale) and a second
    Arrow kernel reranks with the same dim-sequential pair dot. NULL
    vectors keep their engine-shared semantics: every sign CASE falls to
    ELSE 0 (bucket 0) and the rerank emits NULL cosine, which the
    threshold filter drops on both engines. The signature and rerank
    kernels are the shared `_lsh_sig_frame` / `_cosine_rerank` helpers
    (also behind lsh_bucketed_topk).

    Cache contract (advice r4): the internal persist is swept by the NEXT
    operator call that routes through ``swept_persist`` — materialize the
    returned frame before invoking another such operator; a frame
    evaluated after its persist is swept transparently recomputes its
    (deterministic) lineage — correct, just slower.
    """
    all_planes = _lsh_tables_planes(LSH_PAIR_TABLES)
    # Geometry contract (r9): NULL/ragged vectors are excluded plan-side
    # — this tier's planes declare EMBED_DIM, so the check is always on. The
    # old NULL path (bucket 0 + NULL-cosine rerank, dropped by the
    # threshold) produced the identical pair set at the cost of a
    # bucket-0 collision flood; ragged vectors CRASHED the signature
    # kernel's batch stack. Output unchanged for NULLs, crash closed
    # for ragged, one contract across every similarity tier.
    df = df.filter(geometry_ok(vec_col, EMBED_DIM))
    id_type = df.schema[id_col].dataType

    # Persist: the signature frame feeds three consumers (candidate
    # explode + both vector re-fetch sides) — without it the corpus scan
    # and kernel run three times. swept_persist bounds cache residency to
    # the last call (review r4 — bench's min-of-3 loop leaked one
    # corpus-sized cache entry per call).
    sig = swept_persist(_lsh_sig_frame(df, id_col, vec_col, all_planes))

    cand = sig.select("id", F.posexplode("buckets").alias("tbl", "bucket"))
    pairs = (
        cand.select(F.col("id").alias("id_a"), "tbl", "bucket")
        .join(cand.select(F.col("id").alias("id_b"), "tbl", "bucket"),
              ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    scored_in = pairs.join(
        sig.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                   F.col("n").alias("na")),
        "id_a",
    ).join(
        sig.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                   F.col("n").alias("nb")),
        "id_b",
    )
    return (
        _cosine_rerank(scored_in, "id_a", "id_b", id_type, id_type)
        .filter(F.col("cosine_sim") >= threshold)
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Approximate top-k: OR-of-ANDs random-hyperplane bucketing — a
    candidate is scored if it shares a bucket with the query in ANY of
    ``LSH_TOPK_TABLES`` independent ``LSH_BITS``-bit signatures, then exact-cosine
    reranked. A single AND signature has recall 1-in-2^b for weakly
    correlated vectors (measured 5% on the driver embeddings); the OR
    construction multiplies candidate coverage while keeping per-table
    bucket density at n/2^b — the same recall calculus as
    lsh_neardup_pairs, tuned for top-k (recall floor regression-tested in
    tests/test_scale_patterns.py::test_ann_recall_floors).

    The hyperplanes are a seeded driver-side constant broadcast into the
    plan as literals — no fit step, fully deterministic.

    Plan shape (r4 rework, mirroring lsh_neardup_pairs): one Arrow pass
    per side computes all table buckets + the sequential norm
    (`_lsh_sig_frame` — the old form re-evaluated 48 interpreted HOF
    plane dots per row); the candidate join moves ids only, with the
    exploded QUERY side broadcast; deduped (query, candidate) pairs
    re-fetch vectors (queries via broadcast, corpus via its persisted
    signature frame) and `_cosine_rerank` scores them; the top-k window
    is pure JVM. Measured 6.2 s -> well under 1 s at sf0.1 with the
    hash gate unchanged.

    Cache contract (advice r4): the internal persist is swept by the NEXT
    operator call that routes through ``swept_persist`` — materialize the
    returned frame before invoking another such operator; a frame
    evaluated after its persist is swept transparently recomputes its
    (deterministic) lineage — correct, just slower.
    """
    from pyspark.sql import Window

    all_planes = _lsh_tables_planes(LSH_TOPK_TABLES)
    # Geometry contract (r9): NULL/ragged vectors excluded on both sides
    # plan-side (EMBED_DIM is always declared by this tier's planes). This
    # retires the r8 NULL-keep path (NULL candidates used to fill top-k
    # slots with NULL sims via bucket 0) — exclusion is the contract
    # every other similarity tier already had, and ragged rows CRASHED
    # the signature kernel's batch stack before this filter.
    corpus = corpus.filter(geometry_ok(vec_col, EMBED_DIM))
    queries = queries.filter(geometry_ok(vec_col, EMBED_DIM))
    id_type = corpus.schema[id_col].dataType

    sig_c = swept_persist(_lsh_sig_frame(corpus, id_col, vec_col, all_planes))
    sig_q = _lsh_sig_frame(queries, id_col, vec_col, all_planes)

    c = sig_c.select(
        F.col("id").alias("candidate_id"),
        F.posexplode("buckets").alias("tbl", "bucket"),
    )
    q = sig_q.select(
        F.col("id").alias("query_id"),
        F.posexplode("buckets").alias("tbl", "bucket"),
    )
    # No broadcast hints on the query-derived sides: the query set is
    # caller-sized and SF-proportional in the catalog query. Both joins
    # are equi-joins ((tbl,bucket) and query_id), so AQE broadcasts from
    # real runtime sizes at bench scale and shuffle-joins at 100 TB
    # (r8 unhint pass).
    pairs = (
        c.join(q, ["tbl", "bucket"])
        .filter(F.col("candidate_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "candidate_id"])
    )
    scored_in = pairs.join(
        sig_q.select(F.col("id").alias("query_id"), F.col("v").alias("va"),
                     F.col("n").alias("na")),
        "query_id",
    ).join(
        sig_c.select(F.col("id").alias("candidate_id"), F.col("v").alias("vb"),
                     F.col("n").alias("nb")),
        "candidate_id",
    )
    scored = _cosine_rerank(scored_in, "query_id", "candidate_id", id_type, id_type)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("candidate_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "candidate_id", "rank", "cosine_sim")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the compression tier of the ANN stack
# ---------------------------------------------------------------------------


def _pq_codebook(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    k_codes: int,
    dim: int | None = None,
    seed_rows: list | None = None,
):
    """Deterministic, training-free PQ codebook: the ``k_codes``
    stride-selected corpus vectors (every (|corpus|/k_codes)-th by sorted
    id — the same data-seeded sampling as ivf_topk's centroids, picked
    distributed via stride_seed_rows: no O(N) driver materialization), L2-
    normalized with the sequential fold, then sliced into ``m`` subspaces.
    Returns (norm_samples ndarray [k_codes, dim], sub_dim)."""
    import numpy as np

    # PRECONDITION (review r9): `corpus` is already geometry-filtered by
    # pq_topk (the only caller) — a second identical Filter node here
    # just stacked on the plan. A NULL/ragged row reaching the stride
    # pick would become a bad codebook sample AND desync the stride from
    # the oracle's geometry-filtered ids CTE, so direct callers must
    # filter with geometry_ok(vec_col, dim) first.
    # seed_rows: pre-collected (id, vec) picks from pq_topk's folded
    # one-collect small tier (r12) — same _stride_pick arithmetic, so
    # passing them through is pick-identical to dispatching here.
    rows = (
        seed_rows
        if seed_rows is not None
        else stride_seed_rows(corpus, id_col, vec_col, k_codes)
    )
    if not rows:
        return None, 0  # empty corpus — pq_topk returns empty
    S = np.array([[float(x) for x in r[1]] for r in rows], dtype=np.float64)
    with np.errstate(invalid="ignore"):  # zero-norm 0/0 -> NaN is intentional
        S = S / _seq_norms(S)[:, None]
    dim = S.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    return S, dim // m


#: PQ subspaces (codes per vector), and codebook entries per subspace.
PQ_M = 16
PQ_K_CODES = 128


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Product-quantization top-k (asymmetric distance computation).

    The 100 TB memory story of the ANN stack: every corpus vector is
    L2-normalized and compressed to ``PQ_M`` codebook indices (64 float32 =
    256 B -> 16 one-byte codes here, 16x), and queries scan the *codes*, not the
    vectors — each candidate costs m table lookups + m-1 adds instead of a
    dim-length dot product. Normalization makes the ADC inner product a
    cosine approximation.

    Plan shape: encode is one corpus-linear mapInPandas pass emitting
    (id, codes array<int>); per-query ADC lookup tables (m x k_codes
    doubles) are built the same way on the query side and broadcast; the
    scoring join + top-k window are pure JVM (an explicit m-term
    element_at chain — small enough to stay inside codegen, unlike the
    dim-length unroll documented in `dot`).

    Oracle-checked despite being approximate (`pq_topk_oracle_sql`): the
    codebook is data-seeded (stride sampling), code assignment is a
    sequential-fold L2 argmin with (d2 asc, code asc) tie order, and the
    ADC sum is a fixed-order m-term chain — every double reproduces in
    DuckDB exactly.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pyspark.sql import Window
    from pyspark.sql import types as T

    m, k_codes = PQ_M, PQ_K_CODES
    # geometry contract (r9): NULL/ragged vectors excluded plan-side on
    # both sides (a ragged row crashed the encode kernel's batch stack)
    corpus = corpus.filter(geometry_ok(vec_col, dim))
    queries = queries.filter(geometry_ok(vec_col, dim))

    def _proj_est(proj) -> int:
        try:
            return int(
                proj._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        except Exception:
            return _SEED_SMALL_BYTES  # seam unavailable -> scale-safe tier

    # Folded small tier (r12, VERDICT r11 item 4 — guide §1.2): when BOTH
    # the corpus seed pick and the query-table build ride the driver-side
    # small tier, ONE tagged union collect serves both (seed rows come
    # out of the corpus half via the shared _stride_pick; query rows out
    # of the other half) instead of two separate collect jobs. Gated on
    # the same per-side estimates the independent tiers use, plus
    # type-identical (id, vec) projections so the union is cast-free —
    # any miss falls through to the unchanged independent dispatches
    # (estimate unavailable => distributed, same polarity as every other
    # dispatch site).
    cproj = corpus.select(id_col, vec_col)
    qproj = queries.select(id_col, vec_col)
    # one Catalyst stats pass for the query side serves both dispatches
    q_small = _proj_est(qproj) < _SEED_SMALL_BYTES
    seed_rows = None
    q_rows: list | None = None
    if (
        q_small
        and _proj_est(cproj) < _SEED_SMALL_BYTES
        and [f.dataType for f in cproj.schema.fields]
        == [f.dataType for f in qproj.schema.fields]
    ):
        both = (
            cproj.select(
                F.lit(0).alias("_pq_side"),
                F.col(id_col).alias("_pq_id"),
                F.col(vec_col).alias("_pq_vec"),
            )
            .unionAll(
                qproj.select(
                    F.lit(1).alias("_pq_side"),
                    F.col(id_col).alias("_pq_id"),
                    F.col(vec_col).alias("_pq_vec"),
                )
            )
            .collect()
        )
        seed_rows = _stride_pick(
            [(r[1], r[2]) for r in both if r[0] == 0], k_codes
        )
        # NULL-vec query rows skipped exactly like the unfolded tier
        q_rows = [(r[1], r[2]) for r in both if r[0] == 1 and r[2] is not None]

    S, sub = _pq_codebook(
        corpus, id_col, vec_col, m, k_codes, dim, seed_rows=seed_rows
    )
    if S is None:  # empty corpus
        return _empty_topk(corpus, "adc_score")
    k_codes = S.shape[0]  # tiny corpora yield fewer samples than requested

    def _norm_rows(pdf: "pd.DataFrame") -> "np.ndarray":
        V = np.array(list(pdf[vec_col]), dtype=np.float64)
        with np.errstate(invalid="ignore"):  # zero-norm 0/0 -> NaN intentional
            return V / _seq_norms(V)[:, None]

    encode_schema = T.StructType(
        [
            T.StructField("vid", T.LongType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]  # NULL vec: skip (crash guard, r7)
            if not len(pdf):
                continue
            V = _norm_rows(pdf)
            codes = np.empty((len(V), m), dtype=np.int32)
            for j in range(m):
                Vj = V[:, j * sub : (j + 1) * sub]
                Cj = S[:, j * sub : (j + 1) * sub]
                # sequential-fold squared L2: acc += diff*diff, dim by dim
                D = np.zeros((len(V), k_codes))
                for i in range(sub):
                    diff = Vj[:, i][:, None] - Cj[None, :, i]
                    D += diff * diff
                # NaN d2 (zero-norm vector or zero-norm codebook sample
                # normalizes to NaN; the oracle's x/0 is NULL) ranks
                # NULLS LAST in the oracle's argmin — +inf here; an
                # all-inf row argmins to code 0, the cidx-ASC tiebreak.
                codes[:, j] = np.argmin(
                    np.where(np.isnan(D), np.inf, D), axis=1
                )  # ties: lowest code
            yield pd.DataFrame({"vid": pdf[id_col].to_numpy(), "codes": list(codes)})

    encoded = corpus.select(id_col, vec_col).mapInPandas(encode, encode_schema)

    table_schema = T.StructType(
        [
            T.StructField("qid", T.LongType()),
            T.StructField("tables", T.ArrayType(T.DoubleType())),
        ]
    )

    def _adc_tables(Q: "np.ndarray") -> "np.ndarray":
        """ADC lookup tables for L2-normalized query rows Q — the ONE
        arithmetic shared by the executor kernel and the small-tier
        driver build below (identical sequential-fold dots, so the two
        tiers are bit-identical by construction)."""
        out = np.zeros((len(Q), m * k_codes))
        for j in range(m):
            Qj = Q[:, j * sub : (j + 1) * sub]
            Cj = S[:, j * sub : (j + 1) * sub]
            T_j = np.zeros((len(Q), k_codes))
            for i in range(sub):  # sequential-fold dot, dim by dim
                T_j += Qj[:, i][:, None] * Cj[None, :, i]
            out[:, j * k_codes : (j + 1) * k_codes] = T_j
        return out

    def _null_nans(out: "np.ndarray") -> list:
        # NaN lookup values (zero-norm query or zero-norm codebook
        # sample) are NULL in the oracle's qtab: ship them as nulls so
        # the JVM ADC chain NULL-propagates exactly like DuckDB's
        # list_reduce over NULL elements.
        nan_mask = np.isnan(out)
        if nan_mask.any():
            obj = out.astype(object)
            obj[nan_mask] = None
            return list(obj)
        return list(out)

    def build_tables(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]  # NULL vec: skip (crash guard, r7)
            if not len(pdf):
                continue
            tables = _null_nans(_adc_tables(_norm_rows(pdf)))
            yield pd.DataFrame({"qid": pdf[id_col].to_numpy(), "tables": tables})

    # Small-tier driver build (r11, guide §1.2 — same dispatch as
    # stride_seed_rows): a bounded query set's lookup tables are built
    # driver-side and enter the plan as a LOCAL relation, removing the
    # mapInPandas broadcast-build job AND its Python-worker round-trip;
    # r12 folds the collect itself into the tagged union job above. The
    # floats are identical: FloatType widens exactly to float64 on both
    # the Arrow and the Row path, and _adc_tables is the shared
    # arithmetic. The distributed kernel remains the only path at scale
    # (estimate unavailable => distributed, same polarity as every
    # other dispatch site); callers with an SF-scale query set were
    # already required to batch queries (broadcast note below).
    # q_rows already collected by the folded one-job small tier above;
    # when the fold was not taken, re-check the query side alone (the
    # independent pre-r12 dispatch: corpus big / queries small still
    # builds the tables driver-side).
    if q_rows is None and q_small:
        q_rows = [r for r in qproj.collect() if r[1] is not None]
    if q_rows is not None:
        if q_rows:
            Q = np.array(
                [[float(x) for x in r[1]] for r in q_rows], dtype=np.float64
            )
            with np.errstate(invalid="ignore"):  # zero-norm 0/0 -> NaN is intentional (_null_nans)
                Q = Q / _seq_norms(Q)[:, None]
            tables = _null_nans(_adc_tables(Q))
            # Native Python floats, NOT numpy scalars: when the session's
            # Arrow serializer is unavailable (driver harness), the
            # createDataFrame row-path verifier rejects numpy.float64
            # (CORRECTNESS_r11 gate-breaker).
            local = pd.DataFrame(
                {
                    "qid": [r[0] for r in q_rows],
                    "tables": [
                        [None if x is None else float(x) for x in t]
                        for t in tables
                    ],
                }
            )
        else:
            local = pd.DataFrame({"qid": [], "tables": []})
        # pandas input rides the session's Arrow serializer — the
        # row-list form shipped ~1 MB of doubles through py4j and cost
        # MORE than the mapInPandas job it replaced
        qtables = queries.sparkSession.createDataFrame(local, table_schema)
    else:
        qtables = qproj.mapInPandas(build_tables, table_schema)

    # ADC score: fixed left-to-right m-term chain of table lookups
    # (JVM-side). Assembled as ONE F.expr string — the Column-by-Column
    # chain cost ~130 py4j round-trips (~0.13 s) per invocation; the SQL
    # parses to the identical left-associated add chain with the same
    # INT index casts, so every double is bit-identical.
    score = F.expr(
        " + ".join(
            f"element_at(tables, CAST(({j * k_codes + 1} "
            f"+ element_at(codes, {j + 1})) AS INT))"
            for j in range(m)
        )
    )

    # The broadcast here is load-bearing, not a hint-for-speed: ADC is a
    # keyless query x corpus scan, and without the hint Spark plans a
    # CartesianProduct that RECOMPUTES the mapInPandas qtables per corpus
    # partition. Delivering per-query lookup tables to every corpus
    # partition is definitionally a broadcast (Jegou et al., TPAMI'11);
    # callers with an SF-scale query set must batch queries. At bounded
    # query-set sizes the small tier above makes qtables a LocalRelation,
    # so the hint is bounded under the broadcast guard's rule; only the
    # at-scale mapInPandas tier broadcasts a query-derived frame.
    scored = (
        encoded.join(F.broadcast(qtables))
        .filter(F.col("vid") != F.col("qid"))
        .select(
            F.col("qid").alias("query_id"),
            F.col("vid").alias("candidate_id"),
            score.alias("adc_score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_score").desc(), F.col("candidate_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "candidate_id", "rank", "adc_score")
    )


def pq_topk_oracle_sql(
    table: str,
    id_col: str,
    vec_col: str,
    k: int = 5,
    query_pred: str = "TRUE",
    dim: int | None = None,
) -> str:
    """DuckDB twin of pq_topk on EMBED_DIM-long vectors: stride-sampled
    normalized codebook, per-subspace sequential-fold L2 argmin codes,
    ADC = fold over the PQ_M lookup values in subspace order —
    bit-identical doubles throughout."""
    m, k_codes, sub = PQ_M, PQ_K_CODES, EMBED_DIM // PQ_M
    d_vv = _dot_sql(f"e.{vec_col}", f"e.{vec_col}")
    sq = (
        "p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])"
    )
    # Geometry contract (r8 NULL + r9 dim): vecs (and hence ids/stride/
    # codebook) excludes NULL/ragged vectors, mirroring _pq_codebook's
    # plan-side filter and pq_topk's entry filters.
    return f"""
WITH vecs AS (
    SELECT {id_col} AS id,
           list_transform(e.{vec_col}, x -> CAST(x AS DOUBLE) / sqrt({d_vv})) AS vec
    FROM {table} e WHERE {geometry_pred_sql(f"e.{vec_col}", dim)}
),
ids AS (SELECT id, row_number() OVER (ORDER BY id) - 1 AS rn FROM vecs),
params AS (SELECT greatest(1, COUNT(*) // {k_codes}) AS stride FROM ids),
codebook AS (
    SELECT CAST(i.rn // p.stride AS INTEGER) AS cidx,
           CAST(t.j AS INTEGER) AS j,
           list_slice(v.vec, t.j * {sub} + 1, (t.j + 1) * {sub}) AS cv
    FROM ids i
    CROSS JOIN params p
    JOIN vecs v ON v.id = i.id
    CROSS JOIN range({m}) t(j)
    WHERE i.rn % p.stride = 0 AND i.rn // p.stride < {k_codes}
),
dists AS (
    SELECT v.id, cb.j, cb.cidx,
           list_reduce(list_transform(
               list_zip(list_slice(v.vec, cb.j * {sub} + 1, (cb.j + 1) * {sub}), cb.cv),
               {sq}), (x, y) -> x + y) AS d2
    FROM vecs v CROSS JOIN codebook cb
),
codes AS (
    SELECT id, j, cidx AS code FROM (
        SELECT id, j, cidx,
               row_number() OVER (PARTITION BY id, j ORDER BY d2 ASC, cidx ASC) AS rnk
        FROM dists) WHERE rnk = 1
),
qtab AS (
    SELECT q.id AS qid, cb.j, cb.cidx,
           {_dot_sql(f"list_slice(q.vec, cb.j * {sub} + 1, (cb.j + 1) * {sub})", "cb.cv")} AS tv
    FROM vecs q CROSS JOIN codebook cb
    WHERE {query_pred}
),
scored AS (
    SELECT qt.qid AS query_id, c.id AS candidate_id,
           list_reduce(list(qt.tv ORDER BY qt.j ASC), (x, y) -> x + y) AS adc_score
    FROM codes c
    JOIN qtab qt ON qt.j = c.j AND qt.cidx = c.code AND c.id <> qt.qid
    GROUP BY qt.qid, c.id
),
ranked AS (
    SELECT query_id, candidate_id, adc_score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_score DESC, candidate_id ASC) AS rank
    FROM scored
)
SELECT query_id, candidate_id, CAST(rank AS BIGINT) AS rank, adc_score
FROM ranked WHERE rank <= {k}
"""
