"""Every catalog query with an oracle must match DuckDB at sf0.01 —
a local replica of the driver's correctness gate."""

from __future__ import annotations

import glob
import os

import pytest

from billing_data_pipeline_spark.registry import load_catalog

from .conftest import SF_CORRECTNESS
from .oracle import assert_matches_oracle

CATALOG = load_catalog()
WITH_ORACLE = sorted(n for n, s in CATALOG.items() if s.oracle)
ROWS_ONLY = sorted(n for n, s in CATALOG.items() if not s.oracle)


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_parity(spark, name):
    spec = CATALOG[name]
    df = spec.fn(spark, SF_CORRECTNESS)
    assert_matches_oracle(df, spec.oracle, SF_CORRECTNESS)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    spec = CATALOG[name]
    df = spec.fn(spark, SF_CORRECTNESS)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


WITH_BENCH_BASELINE = sorted(
    n for n, s in CATALOG.items() if s.bench_baseline_sql
)


@pytest.mark.parametrize("name", WITH_BENCH_BASELINE)
def test_bench_baseline_sql_matches_oracle(name):
    """A bench_baseline_sql times a different ALGORITHM than the
    correctness oracle — the co-measure is only honest if both produce the
    identical result set on the same data (registry.QuerySpec contract)."""
    from billing_data_pipeline_spark.sources.tables import duckdb_connect

    spec = CATALOG[name]
    assert spec.oracle, f"{name}: bench_baseline_sql requires an oracle"
    con = duckdb_connect(SF_CORRECTNESS)
    a = con.execute(spec.oracle)
    a_cols = [d[0].lower() for d in a.description]
    a_rows = a.fetchall()
    b = con.execute(spec.bench_baseline_sql)
    b_cols = [d[0].lower() for d in b.description]
    b_rows = b.fetchall()
    assert a_cols == b_cols
    assert sorted(map(str, a_rows)) == sorted(map(str, b_rows))


BENCH_INSTRUMENTED = sorted(
    n
    for n, s in CATALOG.items()
    if s.bench and s.oracle
)


@pytest.mark.parametrize("name", BENCH_INSTRUMENTED)
def test_bench_de_instrumented_baseline_matches_oracle(name):
    """bench.py times the DE-INSTRUMENTED oracle (the parity-only per-row
    STRING->DECIMAL route stripped — see plans/_util.de_instrument_sql):
    the co-measure is only honest if the natural form is result-identical
    on the bench tables. (It diverges only on >15-significant-digit
    doubles, which the clean testdata never contains; the extreme-values
    fixture is exactly where the instrumented form earns its keep.)"""
    from billing_data_pipeline_spark.plans._util import de_instrument_sql
    from billing_data_pipeline_spark.sources.tables import duckdb_connect

    spec = CATALOG[name]
    timed_sql = de_instrument_sql(spec.bench_baseline_sql or spec.oracle)
    reference_sql = spec.bench_baseline_sql or spec.oracle
    if timed_sql == reference_sql:
        pytest.skip("oracle carries no per-row string route")
    con = duckdb_connect(SF_CORRECTNESS)
    a = con.execute(reference_sql)
    a_cols = [d[0].lower() for d in a.description]
    a_rows = a.fetchall()
    b = con.execute(timed_sql)
    b_cols = [d[0].lower() for d in b.description]
    b_rows = b.fetchall()
    assert a_cols == b_cols
    assert sorted(map(str, a_rows)) == sorted(map(str, b_rows))


#: The only rows-only (no-oracle) names allowed in the driver sample — the
#: three never-externally-checked sketch tiers (r6) plus the r6-changed
#: ml persist-barrier variant. Everything else in the sample must be
#: value-hash checkable.
ROWS_ONLY_SAMPLE_ALLOWED = frozenset(
    {
        "event_value_deciles_scalable",
        "incremental_rollup_merge",
        "usage_percentiles_approx",
        "ml_minhash_neardup_pairs",
    }
)


def test_driver_sample_priority_front_loads_oracle_flagships():
    """The external gate samples the first 50 registry entries; every
    priority name must exist, lead the catalog ordering, and carry an
    oracle — except the documented rows-only allowlist (r6: the three
    never-externally-checked sketch tiers + the changed ml persist
    variant, which get the driver's weaker rows-only check)."""
    from billing_data_pipeline_spark.registry import DRIVER_SAMPLE_PRIORITY

    cat = load_catalog()
    assert len(DRIVER_SAMPLE_PRIORITY) == 50
    assert len(set(DRIVER_SAMPLE_PRIORITY)) == 50
    assert list(cat)[: len(DRIVER_SAMPLE_PRIORITY)] == list(
        DRIVER_SAMPLE_PRIORITY
    )
    for name in DRIVER_SAMPLE_PRIORITY:
        if name in ROWS_ONLY_SAMPLE_ALLOWED:
            continue
        assert cat[name].oracle, f"{name} has no oracle"
    assert ROWS_ONLY_SAMPLE_ALLOWED <= set(DRIVER_SAMPLE_PRIORITY)


def _write_events(tmp_path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            pa.field("event_id", pa.int64()),
            pa.field("ts", pa.timestamp("us")),
            pa.field("user_id", pa.int64()),
            pa.field("event_type", pa.string()),
            pa.field("value", pa.float64()),
            pa.field("props", pa.string()),
        ]
    )
    d = tmp_path / "sf"
    d.mkdir(exist_ok=True)
    pq.write_table(pa.table(rows, schema=schema), str(d / "events.parquet"))
    return str(d)


def test_session_oracle_holds_under_duplicate_timestamps(spark, tmp_path):
    """The r3 hardening claim, exercised: duplicate (user, ts) events where
    one dup row is a session boundary must still hash-match the oracle
    (whose cumsum now tiebreaks on event_id like its lag does)."""
    t0 = 1_700_000_000_000_000
    h2 = 2 * 3600 * 1_000_000  # > the 30-min gap
    rows = {
        # user 7: event at t0, then a DUPLICATE-ts pair at t0+2h where the
        # lower event_id carries the new-session mark
        "event_id": [1, 2, 3, 4],
        "ts": [t0, t0 + h2, t0 + h2, t0 + h2 + 60_000_000],
        "user_id": [7, 7, 7, 7],
        "event_type": ["click"] * 4,
        "value": [1.0] * 4,
        "props": [None] * 4,
    }
    sf = _write_events(tmp_path, rows)
    spec = CATALOG["session_window_stats"]
    assert_matches_oracle(spec.fn(spark, sf), spec.oracle, sf)


def test_null_event_time_contract_asof_and_windows(spark, tmp_path):
    """r8 (NULL-ts sweep): a row with no event timestamp has no time
    semantics — it cannot anchor or answer an as-of probe, and it has no
    tumbling/sliding/session window. DuckDB's ASOF JOIN violated its own
    `l.ts >= r.ts` predicate by matching a NULL-ts anchor to the user's
    LATEST click (the NULL probe sorts last inside its sort-based
    implementation), so the oracle now routes NULL-ts anchors around the
    ASOF operator; the window oracles carry ts IS NOT NULL to mirror
    Spark's native drop. NULL-ts purchase, click, and plain rows below
    exercise every branch."""
    t0 = 1_700_000_000_000_000
    rows = {
        "event_id": [1, 2, 3, 4, 5, 6],
        "ts": [t0, None, t0 + 60_000_000, None, t0 + 120_000_000, None],
        "user_id": [7, 7, 7, 7, 8, 8],
        "event_type": ["click", "click", "purchase", "purchase", "view", "view"],
        "value": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
        "props": [None] * 6,
    }
    sf = _write_events(tmp_path, rows)
    for name in (
        "purchase_last_click_asof",
        "purchase_last_click_asof_cogroup",
        "tumbling_event_counts",
        "sliding_window_volume",
        "session_window_stats",
    ):
        spec = CATALOG[name]
        assert_matches_oracle(spec.fn(spark, sf), spec.oracle, sf)
    # the NULL-ts purchase (id 4) must emit with NULL asof columns
    spec = CATALOG["purchase_last_click_asof"]
    got = {r["event_id"]: r["asof_event_id"] for r in spec.fn(spark, sf).collect()}
    assert got[4] is None
    assert got[3] == 1  # the dated purchase still matches the dated click


def test_null_key_contract_ohlc_and_range_join(spark, tmp_path):
    """r8 (NULL-key sweep): a NULL event_id must not desynchronize the
    OHLC open/close tiebreak — DuckDB's arithmetic arg_min key NULLed and
    SKIPPED the row while Spark's struct key ranked it; both now order
    NULL ids first via COALESCE(-1). The range-join oracle's USING
    self-join silently dropped NULL-id error rows a plain filter keeps."""
    t0 = 1_700_000_000_000_000
    rows = {
        # user 7: NULL-id row is the EARLIEST of its day -> it must be
        # the bar's open on both engines; user 8: NULL-id error anchors
        # the range join
        "event_id": [None, 2, 3, None, 5],
        "ts": [t0, t0 + 60_000_000, t0 + 120_000_000, t0 + 60_000_000, t0],
        "user_id": [7, 7, 7, 8, 8],
        "event_type": ["click", "click", "click", "error", "view"],
        "value": [10.0, 20.0, 30.0, 1.0, 2.0],
        "props": [None] * 5,
    }
    sf = _write_events(tmp_path, rows)
    spec = CATALOG["daily_value_ohlc"]
    assert_matches_oracle(spec.fn(spark, sf), spec.oracle, sf)
    bars = {r["user_id"]: r for r in spec.fn(spark, sf).collect()}
    assert bars[7]["open"] == 10.0  # the NULL-id earliest row opens the bar
    spec = CATALOG["error_burst_range_join"]
    assert_matches_oracle(spec.fn(spark, sf), spec.oracle, sf)
    got = spec.fn(spark, sf).collect()
    # the NULL-id error row must still anchor a group (2 events in window)
    assert [(r["event_id"], r["n_recent"]) for r in got] == [(None, 2)]


def test_entity_window_null_ts_matches_oracle(spark, tmp_path):
    """A NULL event timestamp must sort the SAME on both engines: Spark's
    ascending default is NULLS FIRST, DuckDB's is NULLS LAST —
    entity_window pins asc_nulls_last (review r4), and this fixture locks
    it for the whole seq/lag/session chain (the null sweep never injects
    ts NULLs, so without this the divergence would be latent)."""
    t0 = 1_700_000_000_000_000
    rows = {
        "event_id": [1, 2, 3, 4],
        "ts": [t0, None, t0 + 60_000_000, t0 + 120_000_000],
        "user_id": [7, 7, 7, 7],
        "event_type": ["click", "view", "click", "purchase"],
        "value": [1.0, 2.0, 3.0, 4.0],
        "props": [None] * 4,
    }
    sf = _write_events(tmp_path, rows)
    for name in ("user_sessions", "user_event_sequence"):
        if name in CATALOG and CATALOG[name].oracle:
            spec = CATALOG[name]
            assert_matches_oracle(spec.fn(spark, sf), spec.oracle, sf)


def test_quality_checks_oracle_holds_under_null_keys(spark, tmp_path):
    """The r3 hardening claim, exercised: NULL natural-key components must
    not split the engines' dup counts (Spark's count_distinct drops them,
    DuckDB's row-struct DISTINCT counts them — both sides now count dups
    over fully-keyed rows only)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            pa.field("l_orderkey", pa.int64()),
            pa.field("l_linenumber", pa.int64()),
            pa.field("l_shipdate", pa.timestamp("us")),
            pa.field("l_extendedprice", pa.float64()),
            pa.field("l_discount", pa.float64()),
        ]
    )
    t0 = 800_000_000_000_000
    rows = {
        "l_orderkey": [1, 1, 2, None, None],
        "l_linenumber": [1, 1, 1, 1, 1],  # (1,1) duplicated; two NULL keys
        "l_shipdate": [t0, t0, t0, t0, None],
        "l_extendedprice": [10.0, 10.0, -5.0, 1.0, 1.0],
        "l_discount": [0.1, 0.1, 0.5, 2.0, 0.0],
    }
    d = tmp_path / "sf"
    d.mkdir(exist_ok=True)
    pq.write_table(pa.table(rows, schema=schema), str(d / "lineitem.parquet"))
    spec = CATALOG["lineitem_quality_checks"]
    assert_matches_oracle(spec.fn(spark, str(d)), spec.oracle, str(d))


SWEEP_SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize(
    "name",
    ["doc_model_quality_scores", "vocabulary_tfidf", "doc_top_terms_tfidf",
     "best_survivor_dedup_docs", "quality_quantile_filter"],
)
def test_ln_free_queries_hold_at_alternate_sf(spark, name):
    """Regression for the StrictMath-vs-libm ln divergence: these queries
    failed the hash gate at sf0.001 (while passing at sf0.01 by luck of
    the inputs) when idf / the model's length feature used Spark's
    runtime ln. The fix removes runtime transcendentals (sqrt feature;
    driver-side libm idf) — assert at the SF that exposed it."""
    spec = CATALOG[name]
    assert_matches_oracle(spec.fn(spark, SWEEP_SF), spec.oracle, SWEEP_SF)


def test_percentile_interpolation_bitwise_on_irregular_values(spark, tmp_path):
    """Review r5: the percentile kernel must reproduce quantile_cont's OWN
    IEEE expression (0-based RN, v[frn]*(crn-rn) + v[crn]*(rn-frn)) — the
    prior 1-based (1-f)*lo + f*hi form drifted a ulp on ~1.3% of random
    groups; TPC-H's cent-granular prices masked it. Irregular full-mantissa
    values + groups of co-prime sizes force interpolated ranks."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import random

    rnd = random.Random(42)
    flags, prices = [], []
    for flag, n in (("A", 7), ("N", 13), ("R", 29)):
        flags += [flag] * n
        prices += [rnd.uniform(0.1, 999999.9) for _ in range(n)]
    d = tmp_path / "sf"
    d.mkdir(exist_ok=True)
    li = pa.table(
        {
            "l_returnflag": pa.array(flags),
            "l_extendedprice": pa.array(prices, pa.float64()),
        }
    )
    pq.write_table(li, str(d / "lineitem.parquet"))
    spec = CATALOG["usage_percentiles"]
    assert_matches_oracle(spec.fn(spark, str(d)), spec.oracle, str(d))


def test_usage_percentiles_wide_group_domain_join_path(spark, tmp_path):
    """r7 bracket plan: >64 groups routes brackets through the broadcast
    join (`_bracketed_join`) instead of the literal CASE chain — same
    hash-exact result. 100 groups of co-prime-ish sizes with irregular
    full-mantissa values force interpolated ranks down the join path, and
    a NULL group key exercises the null-safe join condition
    (bracket_min_bytes=0 forces the bracket tier on this tiny fixture)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import random

    from billing_data_pipeline_spark.plans.stats import usage_percentiles

    rnd = random.Random(7)
    flags, prices = [], []
    for g in range(100):
        n = 3 + (g * 7) % 11
        flags += [f"g{g:03d}"] * n
        prices += [rnd.uniform(0.1, 999999.9) for _ in range(n)]
    flags += [None] * 5
    prices += [rnd.uniform(0.1, 999999.9) for _ in range(5)]
    d = tmp_path / "sf"
    d.mkdir(exist_ok=True)
    li = pa.table(
        {
            "l_returnflag": pa.array(flags),
            "l_extendedprice": pa.array(prices, pa.float64()),
        }
    )
    pq.write_table(li, str(d / "lineitem.parquet"))
    spec = CATALOG["usage_percentiles"]
    assert_matches_oracle(
        usage_percentiles(spark, str(d), bracket_min_bytes=0),
        spec.oracle,
        str(d),
    )


def test_usage_percentiles_bracket_tier_jvm_selection_on_ties(spark, tmp_path):
    """r12: the bracket tier selects order statistics JVM-side (element_at
    over the sorted window at rank − below − eq_lo) instead of shipping
    the window arrays to the driver. The hardest inputs for that index
    arithmetic are massed duplicates AT the bracket endpoints: a 3-value
    group collapses every bracket to lo == hi (empty window, eq_hi
    re-count guard), a two-distinct-value group puts every rank on an
    endpoint, an all-NULL-measure group must keep its row with NULL
    percentiles, and one normal group checks the in-window element path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from billing_data_pipeline_spark.plans.stats import usage_percentiles

    flags, prices = [], []
    # 3 distinct values, heavily duplicated -> degenerate lo == hi brackets
    flags += ["T"] * 90
    prices += [10.0] * 30 + [20.0] * 30 + [30.0] * 30
    # two distinct values -> every target rank sits on a bracket endpoint
    flags += ["U"] * 40
    prices += [1.5] * 20 + [2.5] * 20
    # all-NULL measures -> row kept, NULL percentiles
    flags += ["V"] * 4
    prices += [None] * 4
    # irregular full-mantissa values -> in-window element selection
    flags += ["W"] * 13
    prices += [float(i) * 1.0000000000001 + 0.1 for i in range(13)]
    d = tmp_path / "sf"
    d.mkdir(exist_ok=True)
    li = pa.table(
        {
            "l_returnflag": pa.array(flags),
            "l_extendedprice": pa.array(prices, pa.float64()),
        }
    )
    pq.write_table(li, str(d / "lineitem.parquet"))
    spec = CATALOG["usage_percentiles"]
    assert_matches_oracle(
        usage_percentiles(spark, str(d), bracket_min_bytes=0),
        spec.oracle,
        str(d),
    )


def test_usage_percentiles_bracket_tier_exact_at_sf001(spark):
    """The bracket tier forced onto sf0.01 (which the size dispatch would
    route to the kernel) must stay hash-exact — the dispatch may only
    ever change the physical plan, never the values."""
    from billing_data_pipeline_spark.plans.stats import usage_percentiles

    spec = CATALOG["usage_percentiles"]
    assert_matches_oracle(
        usage_percentiles(spark, SF_CORRECTNESS, bracket_min_bytes=0),
        spec.oracle,
        SF_CORRECTNESS,
    )


def test_usage_percentiles_kernel_fallback_is_exact(spark, tmp_path):
    """The bracket plan's correctness net: `_usage_percentiles_kernel`
    (the r6 per-group exact tier it falls back to on a sketch-guarantee
    violation, and the small-input tier of the size dispatch) must
    itself stay hash-exact against quantile_cont."""
    from billing_data_pipeline_spark.plans.stats import (
        _usage_percentiles_kernel,
    )

    spec = CATALOG["usage_percentiles"]
    assert_matches_oracle(
        _usage_percentiles_kernel(spark, SF_CORRECTNESS),
        spec.oracle,
        SF_CORRECTNESS,
    )


def test_usage_percentiles_sorted_agg_tier_is_exact(spark):
    """The r11 small-input tier (JVM sort_array(collect_list) + the shared
    quantile_cont interpolation as a codegen'd projection) must stay
    hash-exact against quantile_cont, like the kernel tier it replaced in
    the dispatch."""
    from billing_data_pipeline_spark.plans.stats import (
        _usage_percentiles_sorted_agg,
    )

    spec = CATALOG["usage_percentiles"]
    assert_matches_oracle(
        _usage_percentiles_sorted_agg(spark, SF_CORRECTNESS),
        spec.oracle,
        SF_CORRECTNESS,
    )


def test_asof_null_value_tie_picks_whole_row(spark, tmp_path):
    """Review r5: duplicate (user, ts) clicks where the max-event_id row
    carries a NULL value — per-column arg_max(value, event_id) skipped the
    NULL and stitched together a row that never existed (id 200 with id
    100's value); both asof oracles now dedup row-wise via QUALIFY."""
    t0 = 1_700_000_000_000_000
    rows = {
        "event_id": [100, 200, 300],
        "ts": [t0, t0, t0 + 60_000_000],
        "user_id": [7, 7, 7],
        "event_type": ["click", "click", "purchase"],
        "value": [5.0, None, 9.0],
        "props": [None] * 3,
    }
    sf = _write_events(tmp_path, rows)
    for name in ("purchase_last_click_asof", "purchase_last_click_asof_cogroup"):
        spec = CATALOG[name]
        assert_matches_oracle(spec.fn(spark, sf), spec.oracle, sf)


def test_timeseries_null_ts_contract(spark, tmp_path):
    """Review r5: undated rows are excluded from OHLC bars, SCD2 intervals,
    and the EWMA fold on BOTH engines (Spark sorted NULL-ts first via its
    struct keys while DuckDB's arg_min/arg_max skipped or ordered them
    last — the engines disagreed on every one of these shapes)."""
    t0 = 1_700_000_000_000_000
    rows = {
        "event_id": [1, 2, 3, 4],
        "ts": [None, t0, t0 + 60_000_000, None],
        "user_id": [7, 7, 7, 7],
        "event_type": ["click", "view", "click", "view"],
        "value": [1.5, 2.5, 3.5, 4.5],
        "props": [None] * 4,
    }
    sf = _write_events(tmp_path, rows)
    for name in ("daily_value_ohlc", "user_state_scd2", "user_value_ewma"):
        spec = CATALOG[name]
        assert_matches_oracle(spec.fn(spark, sf), spec.oracle, sf)


def test_cosine_topk_zero_norm_query_and_candidate(spark, tmp_path):
    """Review r5: a zero-norm QUERY must still emit its k rows (NULL
    cosine, candidates in id order) and a zero-norm CANDIDATE must rank
    NULLS-LAST, exactly as the DuckDB oracle's x/0 = NULL does — the old
    -inf mask + post-filter dropped the query entirely, and the JVM
    tier's plain double division produced NaN, which Spark ranks FIRST
    under desc."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    rnd = random.Random(7)
    ids = list(range(0, 120, 10))  # 0, 40, 80 are the %40 queries
    # 64-dim: the geometry contract (r9) excludes vectors that violate
    # the catalog's declared EMBED_DIM, so the fixture must honor it
    vecs = [[rnd.uniform(-1, 1) for _ in range(64)] for _ in ids]
    vecs[ids.index(40)] = [0.0] * 64  # zero-norm query
    vecs[ids.index(30)] = [0.0] * 64  # zero-norm candidate
    d = tmp_path / "sf"
    d.mkdir(exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array(["x"] * len(ids)),
            }
        ),
        str(d / "embeddings.parquet"),
    )
    spec = CATALOG["embedding_cosine_topk"]
    df = spec.fn(spark, str(d))
    assert_matches_oracle(df, spec.oracle, str(d))
    got = {r["query_id"] for r in df.collect()}
    assert 40 in got  # the zero-norm query's rows survived


def test_null_embedding_contract_across_similarity_tiers(spark, tmp_path):
    """r8 (ADVICE r7): rows with a NULL embedding are excluded from every
    kernel-backed similarity tier — they can neither query, be candidates,
    seed centroids/codebooks, nor shift the stride — and each oracle now
    carries the matching IS NOT NULL. NULL rows land on query positions
    (%40, %20) AND candidate/seed positions so both directions and the
    stride arithmetic are exercised. Before this the sweep never injected
    NULL embeddings, so the divergence (oracle scoring NULL-vec rows with
    NULL sims / keeping NULL-verdict rows) was latent."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    rnd = random.Random(11)
    ids = list(range(0, 480, 10))  # 0,40,...,440 hit the %40 query set
    vecs: list = [[rnd.uniform(-1, 1) for _ in range(64)] for _ in ids]
    # NULL queries (both %40 and %20 positions) + NULL candidates at
    # stride-sensitive low ids (seed picks are every (N//k)-th by id)
    for null_id in (40, 60, 10, 30, 250):
        vecs[ids.index(null_id)] = None
    d = tmp_path / "sf"
    d.mkdir(exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array(["x"] * len(ids)),
            }
        ),
        str(d / "embeddings.parquet"),
    )
    for name in (
        "embedding_cosine_topk",
        "embedding_ivf_topk",
        "embedding_pq_topk",
        "decontaminate_embedding",
        "embedding_neardup_pairs",
        "embedding_dedup_survivors",
        # LSH tiers: r8 kept NULL-vec rows (bucket 0, NULL sims); r9's
        # geometry contract unified them with every other tier — NULL
        # rows are excluded plan-side and in the oracles' base CTEs
        # (output-identical for the pairs tier, deliberate change for
        # the top-k filler rows; see lsh_bucketed_topk).
        "embedding_lsh_neardup_pairs",
        "embedding_lsh_topk",
    ):
        spec = CATALOG[name]
        df = spec.fn(spark, str(d))
        assert_matches_oracle(df, spec.oracle, str(d))
        if name == "embedding_cosine_topk":
            got = {r["query_id"] for r in df.collect()}
            assert 40 not in got and 60 not in got  # NULL queries excluded
            assert 0 in got  # real queries still present


def test_ragged_embedding_geometry_contract(spark, tmp_path):
    """r9 (--ragged sweep, 10 job-killing crashes on first run): vectors
    whose length differs from the declared EMBED_DIM — truncated,
    padded, or empty — are excluded from every similarity tier on BOTH
    engines, exactly like NULLs (geometry_ok / geometry_pred_sql).
    Before the contract, one ragged row turned np.array batch stacking
    into a ValueError that killed the whole job; the oracles meanwhile
    would have happily folded a truncated pair on the shorter prefix.
    Ragged rows land on query positions (%40, %20) AND low candidate/
    seed ids so stride arithmetic is exercised; survivors semantics:
    geometry-less rows never pair, so they always SURVIVE dedup."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    rnd = random.Random(13)
    ids = list(range(0, 480, 10))
    vecs: list = [[rnd.uniform(-1, 1) for _ in range(64)] for _ in ids]
    vecs[ids.index(40)] = vecs[ids.index(40)][:48]  # truncated query
    vecs[ids.index(60)] = vecs[ids.index(60)] + [0.25] * 4  # padded query
    vecs[ids.index(10)] = []  # empty candidate
    vecs[ids.index(30)] = vecs[ids.index(30)][:16]  # truncated seed-range id
    vecs[ids.index(250)] = None  # NULL still composes with ragged
    d = tmp_path / "sf"
    d.mkdir(exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array(["x"] * len(ids)),
            }
        ),
        str(d / "embeddings.parquet"),
    )
    for name in (
        "embedding_cosine_topk",
        "embedding_ivf_topk",
        "embedding_pq_topk",
        "decontaminate_embedding",
        "embedding_neardup_pairs",
        "embedding_dedup_survivors",
        "embedding_lsh_neardup_pairs",
        "embedding_lsh_topk",
        "embedding_dedup_components",
    ):
        spec = CATALOG[name]
        df = spec.fn(spark, str(d))
        assert_matches_oracle(df, spec.oracle, str(d))
        if name == "embedding_cosine_topk":
            got = {r["query_id"] for r in df.collect()}
            assert 40 not in got and 60 not in got  # ragged queries out
            assert 0 in got
        if name == "embedding_dedup_survivors":
            kept = {r["vec_id"] for r in df.collect()}
            assert {40, 60, 10, 30, 250} <= kept  # geometry-less survive


def test_badjson_props_contained_all_three_tiers(spark, tmp_path):
    """r9 (--badjson sweep): malformed/adversarial JSON props must yield
    NULL k_val on every tier of the JSON surface, not kill the job.
    Pre-fix, verified directly against the fixture: the string tier died
    in ANSI CAST_INVALID_INPUT (get_json_object('{"x":1}').cast(int)),
    the variant tier in MALFORMED_RECORD_IN_PARSING / INVALID_VARIANT_CAST,
    and the DuckDB oracle errored outright on truncated JSON. Fixture
    respects the tier-identity precondition ($.k integer/null/absent —
    see _JSON_ROLLUP_ORACLE for the four-way by-nature divergence
    beyond it)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    props = [
        '{"k": 1',          # truncated -> malformed
        "",                 # empty -> malformed
        "42", "null", "[1, 2]", '"bare"', "{ }",
        '{"K": 5}', '{"k": null}', '{"k": [1]}',
        '{"k": {"x": 1}}',  # the exact pre-fix ANSI-cast killer
        '{"k": 7}',         # control
        None,
    ]
    d = tmp_path / "sf"
    d.mkdir(exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(props)), pa.int64()),
                "ts": pa.array(
                    [1_700_000_000_000_000 + i for i in range(len(props))],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([1] * len(props), pa.int64()),
                "event_type": pa.array(["view"] * len(props)),
                "value": pa.array([float(i) for i in range(len(props))]),
                "props": pa.array(props, pa.string()),
            }
        ),
        str(d / "events.parquet"),
    )
    for name in (
        "json_props_rollup",
        "variant_props_rollup",
        "json_props_typed_rollup",
    ):
        spec = CATALOG[name]
        df = spec.fn(spark, str(d))
        assert_matches_oracle(df, spec.oracle, str(d))
        got = {r["k_val"]: r["n"] for r in df.collect()}
        assert got[7] == 1  # control row still parsed
        assert got[None] == len(props) - 1  # all junk -> NULL k_val


def test_quality_kept_and_transcripts_edge_rows(spark, tmp_path):
    """Review r5: (a) a digits-only doc (alpha-token diversity 0/0 ->
    NULL model score) must get kept=FALSE on both engines, not NULL vs
    FALSE; (b) an undated event is excluded from transcripts on both
    engines (Spark's concat_ws skipped the NULL ts and emitted a bare
    'type' element sorted first; DuckDB nulled and dropped it)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "sf"
    d.mkdir(exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2], pa.int64()),
                "text": pa.array(["42 7", "a real document with words"]),
                "lang": pa.array(["en", "en"]),
                "source": pa.array(["src1", "src1"]),
                "n_chars": pa.array([4, 27], pa.int64()),
            }
        ),
        str(d / "documents.parquet"),
    )
    spec = CATALOG["doc_model_quality_scores"]
    df = spec.fn(spark, str(d))
    assert_matches_oracle(df, spec.oracle, str(d))
    kept = {r["doc_id"]: r["kept"] for r in df.collect()}
    assert kept[1] is False  # NULL score -> FALSE, not None

    t0 = 1_700_000_000_000_000
    sf = _write_events(
        tmp_path,
        {
            "event_id": [1, 2, 3],
            "ts": [t0, None, t0 + 60_000_000],
            "user_id": [7, 7, 7],
            "event_type": ["click", "view", "buy"],
            "value": [1.0, 2.0, 3.0],
            "props": [None] * 3,
        },
    )
    spec = CATALOG["user_event_transcripts"]
    assert_matches_oracle(spec.fn(spark, sf), spec.oracle, sf)


def test_scd2_null_state_transitions(spark, tmp_path):
    """Review r7 (verified live): NULL is a legal state value, so the
    change test must be null-safe and first-row detection must be its own
    marker. Events A, NULL, NULL, B for one user are exactly three
    versions — A -> NULL (previously missed) -> B — with the NULL-run
    collapsed (previously each NULL row after the first re-emitted). Both
    engines shared the old bug, so this asserts the exact rows, not just
    the hash gate."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "sf"
    d.mkdir(exist_ok=True)
    ts = [1_000_000 * i for i in (1, 2, 3, 4)]
    ev = pa.table(
        {
            "user_id": pa.array([7, 7, 7, 7], pa.int64()),
            "event_type": pa.array(["A", None, None, "B"]),
            "ts": pa.array(ts, pa.timestamp("us")),
            "event_id": pa.array([1, 2, 3, 4], pa.int64()),
        }
    )
    pq.write_table(ev, str(d / "events.parquet"))
    spec = CATALOG["user_state_scd2"]
    got = spec.fn(spark, str(d)).orderBy("version").collect()
    assert [(r["state"], r["version"]) for r in got] == [
        ("A", 1),
        (None, 2),
        ("B", 3),
    ]
    assert_matches_oracle(spec.fn(spark, str(d)), spec.oracle, str(d))


def test_udaf_median_extreme_magnitudes(spark, tmp_path):
    """Review r7 (verified live): even-count medians of huge same-sign
    doubles must interpolate without overflow — np.median's (lo+hi)/2
    gave inf where DuckDB's median gives 1.25e308."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "sf"
    d.mkdir(exist_ok=True)
    ev = pa.table(
        {
            "event_type": pa.array(["x", "x", "y", "y", "y"]),
            "value": pa.array(
                [1e308, 1.5e308, 1.7e308, 1.7e308, None], pa.float64()
            ),
            # load_table normalizes events.ts — the column must exist
            "ts": pa.array([1_000_000 * i for i in range(5)], pa.timestamp("us")),
        }
    )
    pq.write_table(ev, str(d / "events.parquet"))
    spec = CATALOG["udaf_median_event_value"]
    got = {r["event_type"]: r["median_value"] for r in spec.fn(spark, str(d)).collect()}
    assert got == {"x": 1.25e308, "y": 1.7e308}
    assert_matches_oracle(spec.fn(spark, str(d)), spec.oracle, str(d))


def test_kmeans_excludes_null_and_short_vectors(spark, tmp_path):
    """Review r7: a NULL or wrong-dimension embedding previously got
    ASSIGNED to a cell but contributed zero posexplode rows to the
    update, while the oracle's CROSS JOIN range counted it in the mean's
    denominator. Both engines now exclude such vectors from the fit."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import random

    rnd = random.Random(3)
    vecs = [[rnd.uniform(-1, 1) for _ in range(64)] for _ in range(20)]
    ids = list(range(1, 21)) + [100, 101]
    embs = vecs + [None, [1.0, 2.0]]  # NULL + wrong-dim stragglers
    d = tmp_path / "sf"
    d.mkdir(exist_ok=True)
    tbl = pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(embs, pa.list_(pa.float64())),
        }
    )
    pq.write_table(tbl, str(d / "embeddings.parquet"))
    for name in ("embedding_kmeans_step", "embedding_kmeans_fit2"):
        spec = CATALOG[name]
        assert_matches_oracle(spec.fn(spark, str(d)), spec.oracle, str(d))
        total_members = sum(
            r["n_members"]
            for r in spec.fn(spark, str(d)).collect()
            if r["dim"] == 0
        )
        assert total_members == 20  # the two stragglers are excluded


def test_usage_percentiles_keeps_all_null_measure_group(spark, tmp_path):
    """Review r6 (reproduced live): a group whose measures are ALL NULL
    must stay in the output with NULL percentiles — the old pre-groupBy
    isNotNull filter deleted the group while the oracle's GROUP BY kept
    it (spark=3 rows vs oracle=4)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "sf"
    d.mkdir(exist_ok=True)
    li = pa.table(
        {
            "l_returnflag": pa.array(["A", "A", "N", "Z", "Z"]),
            "l_extendedprice": pa.array(
                [10.0, 20.0, 5.0, None, None], pa.float64()
            ),
        }
    )
    pq.write_table(li, str(d / "lineitem.parquet"))
    spec = CATALOG["usage_percentiles"]
    got = spec.fn(spark, str(d))
    assert got.count() == 3  # Z survives alongside A and N
    z = got.filter("l_returnflag = 'Z'").collect()[0]
    assert z["p50"] is None
    assert_matches_oracle(spec.fn(spark, str(d)), spec.oracle, str(d))


def test_star_contract_empty_and_tight_max_rounds(spark):
    """Review r6 (reproduced live): zero edges returned immediately with
    rounds=0 (the docstring's promise); an already-star edge set confirms
    in round 1 because the input's signature seeds the fixpoint test —
    max_rounds equal to the true round count no longer raises."""
    from billing_data_pipeline_spark.operators.components import (
        _star_contract,
        connected_components,
    )

    empty = spark.createDataFrame([], "a long, b long")
    out, rounds = _star_contract(empty, 1)
    assert rounds == 0 and out.count() == 0

    star = spark.createDataFrame([(2, 1), (3, 1)], "a long, b long")
    out, rounds = _star_contract(star, 1)
    assert rounds == 1
    assert sorted(map(tuple, out.collect())) == [(2, 1), (3, 1)]

    # end-to-end: a node set with no edges labels every node as itself
    nodes = spark.createDataFrame([(1,), (2,), (9,)], "id long")
    cc = connected_components(nodes, empty.selectExpr("a as src", "b as dst"), "id")
    assert sorted(map(tuple, cc.collect())) == [(1, 1), (2, 2), (9, 9)]


def test_scalar_matrix_key_hash_null_column_matches_oracle(spark, tmp_path):
    """Review r6 (live-verified divergence class): DuckDB's '||' nulls a
    rendered field and concat_ws then SKIPS it, separator and all, while
    Spark coalesces to the \\x00 sentinel and keeps the separator — the
    oracle now COALESCEs per field (row_content_hash_sql). NULL
    o_orderstatus is the trigger the NULL sweep never injects."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "sf"
    d.mkdir(exist_ok=True)
    orders = pa.table(
        {
            "o_orderkey": pa.array([50, 100], pa.int64()),
            "o_orderstatus": pa.array(["F", None]),
            "o_orderdate": pa.array(
                [1_600_000_000_000_000] * 2, pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(["1-URGENT", "2-HIGH"]),
        }
    )
    pq.write_table(orders, str(d / "orders.parquet"))
    spec = CATALOG["scalar_function_matrix"]
    assert_matches_oracle(spec.fn(spark, str(d)), spec.oracle, str(d))


def test_array_matrix_empty_embedding_matches_oracle(spark, tmp_path):
    """Review r6 (live-verified): DuckDB list_reduce ERRORS on an empty
    list while Spark's seeded F.aggregate returns 0.0 — the oracle now
    seeds via list_prepend(0.0, ...). A zero-length embedding row is the
    trigger."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "sf"
    d.mkdir(exist_ok=True)
    emb = pa.table(
        {
            "vec_id": pa.array([20, 40], pa.int64()),
            "embedding": pa.array(
                [[], [0.5, -0.25, 0.125, 2.0]], pa.list_(pa.float32())
            ),
        }
    )
    pq.write_table(emb, str(d / "embeddings.parquet"))
    spec = CATALOG["array_function_matrix"]
    assert_matches_oracle(spec.fn(spark, str(d)), spec.oracle, str(d))


TESTDATA_SFS = sorted(
    glob.glob(os.path.join(os.path.dirname(SF_CORRECTNESS), "sf*"))
)


@pytest.mark.parametrize("sf_dir", TESTDATA_SFS, ids=os.path.basename)
def test_lineitem_shipdate_has_no_time_of_day(sf_dir):
    """Data contract behind ``daily_aggregates`` and
    ``daily_aggregates_hll``: both group by the raw ``l_shipdate``, a
    TIMESTAMP, and split it into year/month/day after the aggregate. That
    equals grouping by the calendar day only while every value is a
    midnight; a time of day would split one day into several groups.
    Pinned on every shipped scale factor, DuckDB-side."""
    import duckdb

    path = os.path.join(sf_dir, "lineitem.parquet")
    rows, off_midnight = duckdb.connect().execute(
        "SELECT count(*), count(*) FILTER "
        "(WHERE l_shipdate <> date_trunc('day', l_shipdate)) "
        f"FROM read_parquet('{path}')"
    ).fetchone()
    assert rows > 0
    assert off_midnight == 0, f"{off_midnight} of {rows} rows carry a time"
