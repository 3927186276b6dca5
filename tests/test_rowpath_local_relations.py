"""Row-path (Arrow-disabled) regression tests for every driver-side
local-relation tier (VERDICT r11 item 1).

The r11 gate-breaker: the PQ small tier shipped ``numpy.float64``
elements into ``createDataFrame``. The builder's session always takes
the Arrow serializer for pandas local relations, so the bug only
surfaced under the driver's session where the row-path type verifier
rejects numpy scalars. These tests pin the row path explicitly by
disabling ``spark.sql.execution.arrow.pyspark.enabled`` for the call,
so every driver-built local relation is exercised through the strict
``verify_func`` path at least once per test run.

Covered tiers:
- PQ ADC lookup tables (similarity.py small-tier driver build) — the
  actual r11 breakage.
- Stride seeds small tier (collect-side only, but the gate shares the
  dispatch; exercised through pq_topk above and directly).
- usage_percentiles bracket tier (driver-reconstructed result relation
  + broadcast bracket rows) and kernel/sorted-agg tiers.
- heavy_hitter_terms verified-counts local relation.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import functions as F

ARROW_KEY = "spark.sql.execution.arrow.pyspark.enabled"


@contextmanager
def arrow_disabled(spark):
    old = spark.conf.get(ARROW_KEY)
    spark.conf.set(ARROW_KEY, "false")
    try:
        yield
    finally:
        spark.conf.set(ARROW_KEY, old)


def _embedding_corpus(spark):
    return spark.range(0, 400).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                ((F.col("id") * (i + 3)) % 17).cast("float") / 16.0
                for i in range(16)
            ]
        ).alias("embedding"),
    )


def test_pq_small_tier_rowpath(spark):
    """The exact r11 failure mode: ADC tables built driver-side must
    enter the plan through the non-Arrow createDataFrame row path
    without tripping the numpy-scalar type verifier, and must score
    identically to the Arrow path."""
    import billing_data_pipeline_spark.operators.similarity as S

    corpus = _embedding_corpus(spark)
    queries = corpus.filter(F.col("vec_id") % 40 == 0)

    def rows(df):
        return sorted(
            (r["query_id"], r["candidate_id"], r["rank"], r["adc_score"])
            for r in df.collect()
        )

    arrow = rows(
        S.pq_topk(corpus, queries, "vec_id", "embedding", k=3, dim=16)
    )
    with arrow_disabled(spark):
        rowpath = rows(
            S.pq_topk(
                corpus, queries, "vec_id", "embedding", k=3, dim=16
            )
        )
    assert rowpath == arrow and len(rowpath) > 0


def test_pq_small_tier_rowpath_zero_norm_query(spark):
    """Zero-norm queries make the ADC tables carry NULLs (NaN -> None in
    _null_nans): the object-dtype branch must also ship native Python
    values through the row path."""
    import billing_data_pipeline_spark.operators.similarity as S

    corpus = _embedding_corpus(spark).withColumn(
        "embedding",
        F.when(
            F.col("vec_id") == 80, F.array(*[F.lit(0.0).cast("float")] * 16)
        ).otherwise(F.col("embedding")),
    )
    queries = corpus.filter(F.col("vec_id") % 40 == 0)  # includes 80
    with arrow_disabled(spark):
        out = S.pq_topk(
            corpus, queries, "vec_id", "embedding", k=3, dim=16
        ).collect()
    got_queries = {r["query_id"] for r in out}
    assert len(out) > 0
    # the zero-norm query yields NULL-propagated scores, never a crash
    assert 0 in got_queries


def test_stride_seeds_small_tier_rowpath(spark):
    import billing_data_pipeline_spark.operators.similarity as S

    corpus = _embedding_corpus(spark)
    with arrow_disabled(spark):
        rows = S.stride_seed_rows(corpus, "vec_id", "embedding", 8)
    assert len(rows) == 8
    assert all(isinstance(r[0], int) for r in rows)


def test_usage_percentiles_all_tiers_rowpath(spark, sf_dir):
    """Every percentile tier that builds a driver-side local relation
    (bracket result + broadcast brackets, sorted-agg, kernel) must
    survive the row path and agree with each other."""
    from billing_data_pipeline_spark.plans.stats import (
        _usage_percentiles_kernel,
        _usage_percentiles_sorted_agg,
        usage_percentiles,
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    expected = rows(usage_percentiles(spark, sf_dir))
    with arrow_disabled(spark):
        bracket = rows(usage_percentiles(spark, sf_dir, bracket_min_bytes=0))
        sorted_agg = rows(_usage_percentiles_sorted_agg(spark, sf_dir))
        kernel = rows(_usage_percentiles_kernel(spark, sf_dir))
    assert bracket == expected
    assert sorted_agg == expected
    assert kernel == expected
    assert len(expected) > 0


def test_heavy_hitter_terms_rowpath(spark):
    from billing_data_pipeline_spark.operators.text import heavy_hitter_terms

    docs = spark.createDataFrame(
        [(i, "alpha beta " + ("gamma " * (1 + i % 3))) for i in range(40)],
        "doc_id long, text string",
    )
    with arrow_disabled(spark):
        out = heavy_hitter_terms(
            docs, "doc_id", "text", threshold_ppm=100_000
        ).collect()
    assert {r["term"] for r in out} >= {"alpha", "beta", "gamma"}
