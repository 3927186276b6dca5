"""Scale-pattern tests: mergeable incremental aggregation (batch folds ==
full recompute) and the plan shapes the catalog's scale claims rest on."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from billing_data_pipeline_spark.operators.incremental import (
    finalize_profile,
    merge_partials,
    partial_profile,
)
from billing_data_pipeline_spark.sources.tables import load_table

from .conftest import SF_SMOKE


def test_incremental_merge_equals_recompute(spark):
    """Partial-aggregate two disjoint batches, merge, finalize: counts and
    sums are EXACT (decimal merge is associative); HLL distinct estimates
    are identical to sketching the full data directly (sketch union is
    lossless w.r.t. sketch state)."""
    li = load_table(spark, SF_SMOKE, "lineitem")
    groups = ["l_returnflag"]
    distincts = {"unique_suppliers": "l_suppkey"}

    batch1 = li.filter(F.col("l_orderkey") % 2 == 0)
    batch2 = li.filter(F.col("l_orderkey") % 2 == 1)
    p1 = partial_profile(batch1, groups, "l_extendedprice", distincts)
    p2 = partial_profile(batch2, groups, "l_extendedprice", distincts)
    merged = finalize_profile(
        merge_partials(p1.unionByName(p2), groups, distincts), distincts
    )

    direct = finalize_profile(
        merge_partials(
            partial_profile(li, groups, "l_extendedprice", distincts),
            groups,
            distincts,
        ),
        distincts,
    )

    m = {r["l_returnflag"]: r for r in merged.collect()}
    d = {r["l_returnflag"]: r for r in direct.collect()}
    assert set(m) == set(d)
    for k in d:
        assert m[k]["transaction_count"] == d[k]["transaction_count"]
        assert m[k]["total_usage"] == d[k]["total_usage"]  # exact decimal
        assert m[k]["unique_suppliers"] == d[k]["unique_suppliers"]  # same sketch
        # estimate is within HLL error of the exact count
        exact = (
            li.filter(F.col("l_returnflag") == k)
            .select("l_suppkey").distinct().count()
        )
        assert abs(m[k]["unique_suppliers"] - exact) / max(exact, 1) < 0.05


def test_incremental_avg_matches_exact_twin_under_null_measures(spark):
    """avg_usage must divide by the NON-NULL measure count (AVG
    semantics, like the exact grouped_profile twin) — the old
    transaction_count divisor silently halved the average when half the
    measures were NULL, and an all-NULL group must yield NULL avg, not
    0/n (review r4)."""
    df = spark.createDataFrame(
        [("a", 10.0), ("a", None), ("a", 30.0), ("b", None), ("b", None)],
        "g string, v double",
    )
    out = {
        r["g"]: r
        for r in finalize_profile(
            merge_partials(partial_profile(df, ["g"], "v"), ["g"])
        ).collect()
    }
    assert out["a"]["transaction_count"] == 3
    assert out["a"]["avg_usage"] == 20.0  # 40 / 2 non-null, NOT 40 / 3
    assert out["b"]["avg_usage"] is None  # all-NULL group: AVG is NULL
    # parity with the exact AVG
    exact = {
        r["g"]: r["avg"]
        for r in df.groupBy("g").agg(F.avg("v").alias("avg")).collect()
    }
    assert out["a"]["avg_usage"] == exact["a"] and exact["b"] is None


def test_streaming_rollup_matches_batch_recompute(spark, tmp_path):
    """Stream events file-by-file into an incremental rollup; after the
    catch-up drain, finalized counts/sums equal a batch recompute over all
    data, and HLL estimates equal direct sketching (lossless merge)."""
    from billing_data_pipeline_spark.streaming.event_windows import read_event_stream
    from billing_data_pipeline_spark.streaming.rollup_stream import StreamingRollup

    src = tmp_path / "ev"
    src.mkdir()
    ev = load_table(spark, SF_SMOKE, "events")
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"f{i}"))

    rollup = StreamingRollup(
        spark,
        str(tmp_path / "rollup"),
        group_cols=["event_type"],
        measure="value",
        distinct_cols={"unique_users": "user_id"},
    )
    stream = read_event_stream(spark, str(src) + "/*", max_files_per_trigger=1)
    rollup.attach(stream, str(tmp_path / "ckpt")).awaitTermination()

    got = {r["event_type"]: r for r in rollup.read_finalized().collect()}
    expected = {
        r["event_type"]: r
        for r in finalize_profile(
            merge_partials(
                partial_profile(ev, ["event_type"], "value", {"unique_users": "user_id"}),
                ["event_type"],
                {"unique_users": "user_id"},
            ),
            {"unique_users": "user_id"},
        ).collect()
    }
    assert set(got) == set(expected)
    for k in expected:
        assert got[k]["transaction_count"] == expected[k]["transaction_count"]
        assert got[k]["total_usage"] == expected[k]["total_usage"]
        assert got[k]["unique_users"] == expected[k]["unique_users"]

    # Replay safety: re-delivering the LAST batch id (the only shape a
    # restart from an intact checkpoint produces) is a no-op; an OLDER id
    # means the checkpoint was reset and must fail loudly instead of
    # silently freezing the rollup (review r5).
    import pytest

    before = sorted(map(tuple, rollup.read_finalized().collect()))
    rollup.merge_batch(ev.limit(50), batch_id=2)
    assert sorted(map(tuple, rollup.read_finalized().collect())) == before
    with pytest.raises(RuntimeError, match="checkpoint was reset"):
        rollup.merge_batch(ev.limit(50), batch_id=0)


def test_new_query_plan_properties(spark):
    """Plan regressions for the subquery/stats/sampling additions: the
    properties PLANS.md documents must hold (see that file for why each
    matters at scale)."""
    from billing_data_pipeline_spark.registry import load_catalog

    cat = load_catalog()
    sf = "/root/testdata/sf0.001"

    def plan_of(name):
        return cat[name].fn(spark, sf)._jdf.queryExecution().executedPlan().toString()

    # EXISTS is fact-probes-broadcast-build: the quarter's orders (small
    # side) must be the broadcast build, never the lineitem fact (LeftSemi
    # BHJ can only BuildRight, which broadcast the fact — rewritten r2 to
    # inner-join + per-order dedup; see the query docstring)
    p = plan_of("late_shipment_priority")
    assert "BroadcastHashJoin" in p and "LeftSemi" not in p

    # global-extreme subqueries never single-partition a window
    for q in ("top_supplier_revenue", "important_parts_share"):
        p = plan_of(q)
        assert "Window" not in p, q

    # samplers are scan-side filters: no exchange anywhere
    for q in ("hash_sample_docs", "stratified_sample_docs"):
        p = plan_of(q)
        assert "Exchange" not in p, q

    # histogram aggregates partially before its (tiny) exchange
    p = plan_of("usage_histogram")
    assert "partial_count" in p or "partial" in p.lower()

    # funnel is one groupBy pass: exactly one data shuffle (user_id),
    # plus the final single-partition fold of per-user rows
    p = plan_of("conversion_funnel")
    assert p.count("Exchange hashpartitioning") == 1


def test_cosine_topk_vectorized_bit_identical_to_hof(spark):
    """The dim-sequential numpy kernel must reproduce the HOF fold's
    doubles BIT-FOR-BIT (same IEEE op order), including rank/tiebreak —
    this is what licenses the fast kernel as the oracle-checked
    implementation of embedding_cosine_topk."""
    from billing_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_exact_vectorized,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") % 40 == 0)
    hof = sorted(
        tuple(r) for r in cosine_topk(emb, queries, "vec_id", "embedding", k=5).collect()
    )
    vec = sorted(
        tuple(r)
        for r in cosine_topk_exact_vectorized(
            emb, queries, "vec_id", "embedding", k=5
        ).collect()
    )
    assert hof == vec  # exact equality: ids, ranks, and double bits


def test_grouped_profile_one_shuffle_and_alias_shadow(spark):
    """r4-late grouped_profile contract: (1) exact multi-distinct plans as
    ONE data exchange (the group-key repartition) + one collocated
    collect_set aggregate — Catalyst's Expand rewrite (which re-exchanges
    on (group, distinct, gid)) must not come back; (2) a group expression
    whose alias shadows an input column must not corrupt measure /
    distinct expressions that reference the original column."""
    import re

    from billing_data_pipeline_spark.operators.aggregates import (
        grouped_profile,
    )
    from billing_data_pipeline_spark.registry import load_catalog

    cat = load_catalog()
    df = cat["daily_aggregates"].fn(spark, SF_SMOKE)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in p
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1

    # alias-shadow: group by upper(g) AS g while counting DISTINCT raw g
    src = spark.createDataFrame(
        [("a", 1.0), ("A", 2.0), ("b", 3.0)], ["g", "v"]
    )
    out = {
        r["g"]: r
        for r in grouped_profile(
            src,
            [F.upper("g").alias("g")],
            "v",
            distinct_cols={"raw_gs": "g"},
        ).collect()
    }
    assert out["A"]["raw_gs"] == 2  # 'a' and 'A' both survive under upper
    assert out["B"]["raw_gs"] == 1
    assert out["A"]["transaction_count"] == 2


def test_grouped_profile_helper_columns_never_shadow_inputs(spark):
    """The k >= 2 tier adds helper columns (_gp_m, _gp_c{i}) beside the
    input's; an input that already carries those names must keep its own
    columns and still aggregate the declared measure and conditions."""
    from billing_data_pipeline_spark.operators.aggregates import (
        grouped_profile,
    )

    src = spark.createDataFrame(
        [("a", 1.0, "x", 100.0, 0), ("a", 2.0, "y", 200.0, 0), ("b", 4.0, "x", 400.0, 0)],
        ["g", "v", "d", "_gp_m", "_gp_c0"],
    )
    out = {
        r["g"]: r
        for r in grouped_profile(
            src,
            ["g"],
            "v",
            distinct_cols={"nd": "d", "nm": "_gp_m"},
            conditions={"big": F.col("v") > 1.5, "helper_set": F.col("_gp_c0") == 0},
        ).collect()
    }
    assert out["a"]["total_usage"] == 3.0 and out["b"]["total_usage"] == 4.0
    assert (out["a"]["nd"], out["a"]["nm"]) == (2, 2)
    assert (out["a"]["big"], out["a"]["helper_set"]) == (1, 2)
    assert (out["b"]["big"], out["b"]["helper_set"]) == (1, 1)


def test_widen_scan_tier_equivalent_and_round_robin(spark):
    """r11 widen_scan opt-in (single-distinct tier, low group
    cardinality): (1) results are bit-identical to the plain tier — the
    fan_out is a pure physical rewrite; (2) the widened plan actually
    carries the round-robin exchange on a narrow scan; (3) the plain
    tier keeps its exchange-free-scan shape (no accidental default
    flip)."""
    from billing_data_pipeline_spark.operators.aggregates import (
        grouped_profile,
    )
    from billing_data_pipeline_spark.sources.tables import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    kwargs = dict(
        group_cols=["l_returnflag", "l_linestatus"],
        measure="l_extendedprice",
        distinct_cols={"unique_suppliers": "l_suppkey"},
    )
    plain = grouped_profile(li, **kwargs)
    wide = grouped_profile(li, widen_scan=True, **kwargs)

    assert sorted(map(tuple, plain.collect()), key=lambda t: t[:2]) == sorted(
        map(tuple, wide.collect()), key=lambda t: t[:2]
    )  # exact equality incl. double bits (decimal sums are associative)

    wide_plan = wide._jdf.queryExecution().executedPlan().toString()
    plain_plan = plain._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in wide_plan
    assert "RoundRobinPartitioning" not in plain_plan


def test_round2_plan_properties(spark):
    """Round-2 plan regressions: tf-idf must not window over the term
    partition (vocab skew trap), repetition stats must be exchange-free,
    and the upsert's anti-join must broadcast the key-pruned update side."""
    from billing_data_pipeline_spark.registry import load_catalog

    cat = load_catalog()
    sf = "/root/testdata/sf0.001"

    def plan_of(name):
        return cat[name].fn(spark, sf)._jdf.queryExecution().executedPlan().toString()

    # r4 two-pass form: the returned plan is the score pass — one Arrow
    # kernel (mapInArrow since r4), NO windows, NO joins, NO hash exchange
    # (the vocab pass ran as its own vocab-sized job at build time); the
    # term-partition window skew trap must never come back
    p = plan_of("doc_top_terms_tfidf")
    assert "MapInArrow" in p or "PythonMapInArrow" in p
    assert "Window" not in p
    assert "windowspecdefinition(term" not in p
    assert "Exchange hashpartitioning" not in p

    # per-row HOF stats: zero exchanges of any kind
    p = plan_of("doc_repetition_stats")
    assert "Exchange hashpartitioning" not in p

    # MERGE: existing anti-joins a BROADCAST of the pruned update keys
    p = plan_of("upsert_latest_wins")
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_upsert_latest_wins_semantics(spark):
    """Updates overwrite matched keys, inserts land, untouched rows
    survive — and the op never duplicates a key."""
    from billing_data_pipeline_spark.operators.ingest import upsert_latest_wins

    existing = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], ["k", "s", "v"]
    )
    updates = spark.createDataFrame(
        [(2, "b2", 20.0), (4, "d", 4.0)], ["k", "s", "v"]
    )
    got = {r["k"]: (r["s"], r["v"]) for r in upsert_latest_wins(existing, updates, ["k"]).collect()}
    assert got == {1: ("a", 1.0), 2: ("b2", 20.0), 3: ("c", 3.0), 4: ("d", 4.0)}


def test_cogrouped_asof_equals_window_asof(spark):
    """The cogrouped-pandas as-of must agree with the union+window form on
    edge topologies: no-match-yet rows (NULLs), exact-ts matches
    (inclusive), and entities present on only one side."""
    from datetime import datetime

    from billing_data_pipeline_spark.operators.asof import (
        asof_join_backward,
        asof_join_backward_cogrouped,
    )

    def ts(m):
        return datetime(2025, 1, 1, 10, m)

    left = spark.createDataFrame(
        [(1, 100, ts(5)), (1, 101, ts(1)), (2, 200, ts(3)), (3, 300, ts(2))],
        ["user_id", "event_id", "ts"],
    ).select("event_id", "user_id", "ts")
    right = spark.createDataFrame(
        [(1, 900, ts(2), 9.0), (1, 901, ts(5), 10.0), (2, 902, ts(4), 11.0),
         (4, 903, ts(1), 12.0)],
        ["user_id", "event_id", "ts", "value"],
    ).select("event_id", "user_id", "ts", "value")

    win = sorted(
        tuple(r)
        for r in asof_join_backward(
            left, right, "user_id", "ts", ["event_id", "value"]
        ).select("event_id", "user_id", "asof_event_id", "asof_value").collect()
    )
    cog = sorted(
        tuple(r)
        for r in asof_join_backward_cogrouped(
            left, right, "user_id", "ts", ["event_id", "value"]
        ).select("event_id", "user_id", "asof_event_id", "asof_value").collect()
    )
    assert win == cog
    d = {r[0]: r for r in cog}
    assert d[100][2] == 901 and d[100][3] == 10.0  # exact-ts inclusive
    assert d[101][2] is None  # before any click
    assert d[300][2] is None  # user with no clicks at all


def test_curation_plan_properties(spark):
    """Curation operators keep their scale shapes: PII scrub is
    exchange-free, decontamination broadcasts the eval n-gram set and
    never shuffle-joins the train side, segment dedup spends exactly two
    hash exchanges (segment-hash window + per-doc regroup)."""
    from billing_data_pipeline_spark.registry import load_catalog

    cat = load_catalog()
    sf = "/root/testdata/sf0.001"

    def plan_of(name):
        return cat[name].fn(spark, sf)._jdf.queryExecution().executedPlan().toString()

    p = plan_of("pii_scrub_docs")
    assert "Exchange hashpartitioning" not in p

    p = plan_of("decontaminate_ngram")
    # Arrow-kernel form (r4; r12 vectorized it as raw-Arrow mapInArrow):
    # the eval gram set rides a sparkContext broadcast into ONE
    # corpus-linear kernel pass — no joins and no hash exchange anywhere
    # in the plan (the strongest possible shape; the r3 broadcast-join +
    # groupBy form carried two exchanges)
    assert "MapInArrow" in p
    assert "Join" not in p
    assert "Exchange hashpartitioning" not in p

    p = plan_of("segment_dedup_docs")
    assert p.count("Exchange hashpartitioning") == 2

    # epoch/shard manifest: the manifest groupBy plus the exchange Spark's
    # two-phase distinct-aggregate inserts for n_docs (partial agg keyed
    # (shard, doc), then final on shard) — both carry compact rows
    p = plan_of("epoch_shard_manifest")
    assert p.count("Exchange hashpartitioning") == 2


def test_ivf_topk_clamps_probes_on_tiny_corpus(spark):
    """Review r7: a corpus yielding fewer centroids than n_probe crashed
    the probe kernel with a column-length mismatch; n_probe now clamps to
    the centroid count (the oracle's rnk <= n_probe self-clamps)."""
    from billing_data_pipeline_spark.operators.similarity import ivf_topk

    rows = [(i, [float(i), 1.0]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = ivf_topk(df, df.limit(1), k=2, n_lists=16, n_probe=4)
    assert got.count() >= 1  # degrades, never crashes


def test_matmul_topk_matches_baseline_on_ties_and_zero_norms(spark):
    """Review r7: the matmul tier's per-batch argpartition kept an
    ARBITRARY k of tied candidates and dropped zero-norm candidates that
    the baseline emits with NULL sims — its ROW SET now matches
    cosine_topk exactly (sims may differ in the last ulp: BLAS order)."""
    from billing_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_matmul,
    )

    rows = (
        [(i, [1.0, 0.0]) for i in range(8)]  # 8 identical vectors: ties
        + [(100, [0.0, 0.0])]  # zero-norm candidate
        + [(200, [0.7, 0.7])]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id = 200")
    base = {
        (r["query_id"], r["candidate_id"], r["rank"])
        for r in cosine_topk(df, q, k=9).collect()
    }
    fast = {
        (r["query_id"], r["candidate_id"], r["rank"])
        for r in cosine_topk_matmul(df, q, k=9).collect()
    }
    assert base == fast
    # the zero-norm candidate fills the last slot with a NULL sim
    assert any(c == 100 for (_, c, _) in fast)


def test_minhash_band_size_must_divide_k(spark):
    """Review r7: flooring k // band_size silently dropped the trailing
    signature components from every band key (recall loss both engines,
    invisible to the parity gate) — both tiers now fail loudly."""
    import pytest

    from billing_data_pipeline_spark.operators.dedup import minhash_neardup_pairs
    from billing_data_pipeline_spark.operators.portable_dedup import (
        minhash_portable_pairs,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="divisible"):
        minhash_neardup_pairs(df, "doc_id", "text", k=16, band_size=3)
    with pytest.raises(ValueError, match="divisible"):
        minhash_portable_pairs(df, "doc_id", "text", k=12, band_size=5)


def test_ann_recall_floors(spark):
    """The approximate similarity paths must actually find neighbors:
    recall@5 against the exact brute-force result, measured on the driver
    testdata. Floors are deliberately conservative — they catch a broken
    bucketing/probing change, not tune approximation quality."""
    from billing_data_pipeline_spark.registry import load_catalog

    cat = load_catalog()
    sf = "/root/testdata/sf0.01"
    exact = {
        (r["query_id"], r["candidate_id"])
        for r in cat["embedding_cosine_topk"].fn(spark, sf).collect()
    }
    n = len(exact)
    assert n > 0
    # measured on this data: ivf ~0.38 (4/16 lists probed), lsh ~0.54
    # (8 tables x 6 bits OR'd), pq ~0.68 (16 subspaces x 128 codes);
    # floors leave room for plan-level noise only
    for name, floor in (
        ("embedding_ivf_topk", 0.25),
        ("embedding_lsh_topk", 0.35),
        ("embedding_pq_topk", 0.5),
    ):
        approx = {
            (r["query_id"], r["candidate_id"]) for r in cat[name].fn(spark, sf).collect()
        }
        recall = len(exact & approx) / n
        assert recall >= floor, f"{name} recall@5 {recall:.2f} < {floor}"


def test_runtime_bloom_filter_prunes_selective_join(spark):
    """Spark's runtime row-level filtering: for a shuffle join with a
    selective filter on the creation side, the optimizer injects a bloom
    filter on the application (fact) side, discarding non-joining rows
    BEFORE the shuffle — at 100 TB this is the difference between
    shuffling the whole fact table and shuffling the ~matching fraction.
    The thresholds below only shrink the size gates so the sf0.001 fixture
    qualifies; the rewrite itself is stock Catalyst, and the filtered plan
    must still produce the plain join's result."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
    }
    saved = {}
    for k, v in confs.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        orders = load_table(spark, SF_SMOKE, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, SF_SMOKE, "lineitem")
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        n = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower(), plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    plain = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
        "o_orderpriority"
    ).count().collect()
    assert sorted(map(tuple, n)) == sorted(map(tuple, plain))


def test_cdc_and_regression_plan_shapes(spark):
    """Scale contract for the round's new operators (PLANS.md rows):
    order_snapshot_diff = ONE full-outer join with comparisons in the
    projection (no second exchange pair, no extra aggregate);
    price_quantity_regression = a single grouped-aggregate pass, zero
    joins (every statistic derives from the five power sums)."""
    from billing_data_pipeline_spark.registry import load_catalog

    cat = load_catalog()
    sf = "/root/testdata/sf0.001"

    diff_plan = (
        cat["order_snapshot_diff"].fn(spark, sf)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "FullOuter" in diff_plan
    assert diff_plan.count("Join") <= 2  # one join node (+possible reuse line)
    # The keyed path never aggregates; the r6 NULL-key multiset branch
    # adds exceptAll aggregates, but ONLY under `key IS NULL`-filtered
    # subtrees (pushed to the scan, prunable via parquet null_count
    # stats at scale) — assert the filters made it down with the
    # aggregates, i.e. every aggregate is on the null-key side.
    if "HashAggregate" in diff_plan:
        assert "isnull(o_orderkey" in diff_plan
        # the main keyed join side still filters NULL keys OUT
        assert "isnotnull(o_orderkey" in diff_plan

    reg_plan = (
        cat["price_quantity_regression"].fn(spark, sf)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in reg_plan
    # partial + final aggregate of ONE groupBy; no second pass over the data
    assert reg_plan.count("Exchange hashpartitioning") == 1


def test_aqe_splits_skewed_join_partition(spark):
    """Runtime skew handling, the AQE tier above operators/skew.salted_join:
    a join whose hot key dwarfs the median reduce partition must come out
    of adaptive execution as SortMergeJoin(skew=true) reading a split
    ('AQEShuffleRead skewed') hot partition — Spark re-plans from actual
    shuffle statistics, no manual salting. Size gates are shrunk so the
    fixture qualifies; the mechanism is stock AQE (the bloom-filter test
    above plays the same trick). The pad column is md5 output because a
    COMPRESSIBLE pad defeats the byte threshold — shuffle stats measure
    compressed bytes (a finding worth keeping: skew thresholds act on
    wire size, not row counts)."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        fact = spark.range(0, 220_000).select(
            F.when(F.col("id") < 200_000, 0)
            .otherwise((F.col("id") % 99) + 1)
            .alias("k"),
            F.md5(F.col("id").cast("string")).alias("pad"),
        )
        dim = spark.range(0, 100).select(
            F.col("id").alias("k"), F.lit("d").alias("dv")
        )
        j = fact.join(dim, "k").select(F.count(F.lit(1)).alias("n"))
        assert j.collect()[0]["n"] == 220_000  # every row joined exactly once
        plan = j._jdf.queryExecution().toString()
        assert "skew=true" in plan
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)


def test_stride_seeding_never_collects_the_corpus(spark, monkeypatch):
    """The ANN/k-means seeding contract (VERDICT r2 #1): centroid/codebook
    seeding must materialize only the seed rows on the driver, never the
    corpus. Wrap DataFrame.collect to record every driver materialization
    during seeding and assert each one is <= n_seeds, on a corpus 100x
    bigger than the seed count."""
    from billing_data_pipeline_spark.operators.similarity import (
        stride_seed_rows,
    )

    corpus = spark.range(0, 3200).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("double"), (F.col("id") % 11).cast("double")
        ).alias("embedding"),
    )

    sizes: list[int] = []
    plans: list[str] = []
    # patch the concrete class (pyspark.sql.classic), not the abstract base
    df_cls = type(corpus)
    real_collect = df_cls.collect

    def counting_collect(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        rows = real_collect(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(df_cls, "collect", counting_collect)
    # small_collect_bytes=0 pins the DISTRIBUTED path: the r11 small-input
    # fast path legitimately collects a tiny corpus in one job (its own
    # equivalence test is test_stride_seeding_small_path_matches); this
    # test is the scale contract of the path that runs at 100 TB.
    seeds = stride_seed_rows(
        corpus, "vec_id", "embedding", 16, small_collect_bytes=0
    )
    monkeypatch.undo()

    assert len(seeds) == 16
    # every stride-th id by sort order: 0, 200, 400, ...
    assert [r["vec_id"] for r in seeds] == [i * 200 for i in range(16)]
    # allowed driver materializations: the per-partition count rows
    # (metadata-sized: one per partition) and the seed rows themselves
    p = spark.sparkContext.defaultParallelism
    assert sizes and max(sizes) <= max(16, p), f"driver collects of sizes {sizes}"
    # r4 two-phase rank: NO single-partition exchange anywhere — the rank
    # runs partition-parallel (VERDICT r3 #4)
    for plan in plans:
        assert "Exchange SinglePartition" not in plan, plan


def test_stride_seeding_small_path_matches(spark):
    """The r11 small-input fast path (one driver collect under the size
    gate) must pick EXACTLY the rows the distributed two-phase rank
    picks — downstream codebooks/centroids are hash-gated on them."""
    from billing_data_pipeline_spark.operators.similarity import (
        stride_seed_rows,
    )

    corpus = spark.range(0, 3200).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("double"), (F.col("id") % 11).cast("double")
        ).alias("embedding"),
    )
    fast = stride_seed_rows(
        corpus, "vec_id", "embedding", 16, small_collect_bytes=1 << 30
    )
    dist = stride_seed_rows(
        corpus, "vec_id", "embedding", 16, small_collect_bytes=0
    )
    assert [(r["vec_id"], list(r["embedding"])) for r in fast] == [
        (r["vec_id"], list(r["embedding"])) for r in dist
    ]
    # and the default gate dispatches this tiny corpus to the fast path
    # (same picks either way — asserted above)
    assert [r["vec_id"] for r in stride_seed_rows(
        corpus, "vec_id", "embedding", 16
    )] == [i * 200 for i in range(16)]


def test_pq_fold_tiers_identical(spark, monkeypatch):
    """r12 one-collect fold (VERDICT r11 item 4): the tagged-union small
    tier (corpus seeds + query tables from ONE collect), the mixed tier
    (corpus distributed / query tables driver-built — threshold between
    the two estimates), and the fully distributed kernel must all score
    identically."""
    import billing_data_pipeline_spark.operators.similarity as S

    def vecs(rng):
        return rng.select(
            F.col("id").alias("vec_id"),
            F.array(
                *[
                    ((F.col("id") * (i + 3)) % 17).cast("float") / 16.0
                    for i in range(16)
                ]
            ).alias("embedding"),
        )

    corpus = vecs(spark.range(0, 400))
    # independent 10-row relation (NOT a filter of corpus): Catalyst's
    # row-count-based estimate is then genuinely smaller, so a threshold
    # between the two estimates forces the mixed tier below
    queries = vecs(spark.range(0, 400, 40))

    def rows(df):
        return sorted(
            (r["query_id"], r["candidate_id"], r["rank"], r["adc_score"])
            for r in df.collect()
        )

    def run():
        return rows(
            S.pq_topk(corpus, queries, "vec_id", "embedding", k=3, m=4, dim=16)
        )

    folded = run()  # default threshold: both sides small -> fold
    # threshold between the two projections' estimates: corpus (400 rows)
    # goes distributed, the 10-row query side still builds driver-side
    c_est = int(
        corpus.select("vec_id", "embedding")
        ._jdf.queryExecution()
        .optimizedPlan()
        .stats()
        .sizeInBytes()
    )
    q_est = int(
        queries.select("vec_id", "embedding")
        ._jdf.queryExecution()
        .optimizedPlan()
        .stats()
        .sizeInBytes()
    )
    assert q_est < c_est
    monkeypatch.setattr(S, "_SEED_SMALL_BYTES", (q_est + c_est) // 2)
    mixed = run()
    monkeypatch.setattr(S, "_SEED_SMALL_BYTES", 0)
    distributed = run()
    assert folded == mixed == distributed and len(folded) > 0


def test_pq_qtables_small_tier_matches_kernel(spark, monkeypatch):
    """The r11 ADC-table small tier (driver-side numpy build entering
    the plan as a local relation) must score IDENTICALLY to the
    distributed mapInPandas kernel — both run _adc_tables on float64
    widenings of the same float32 vectors, and the hash gate rides the
    scores. Forcing the gate to 0 pins the distributed path (the
    scale-contract polarity: estimate unavailable/large => kernel)."""
    import billing_data_pipeline_spark.operators.similarity as S

    corpus = spark.range(0, 400).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                ((F.col("id") * (i + 3)) % 17).cast("float") / 16.0
                for i in range(16)
            ]
        ).alias("embedding"),
    )
    queries = corpus.filter(F.col("vec_id") % 40 == 0)

    def rows(df):
        return sorted(
            (r["query_id"], r["candidate_id"], r["rank"], r["adc_score"])
            for r in df.collect()
        )

    small = rows(
        S.pq_topk(corpus, queries, "vec_id", "embedding", k=3, m=4, dim=16)
    )
    monkeypatch.setattr(S, "_SEED_SMALL_BYTES", 0)
    dist = rows(
        S.pq_topk(corpus, queries, "vec_id", "embedding", k=3, m=4, dim=16)
    )
    assert small == dist and len(small) > 0


def test_text_neardup_recall_floors(spark):
    """Text near-dup tiers vs the EXACT 3-gram Jaccard truth
    (ngram_jaccard_pairs, >= 0.5) at sf0.01 — the text twin of the ANN
    recall floors. MinHash-LSH approximates exactly this measure, so its
    floor is tight (measured 1.0 on both hash tiers). SimHash targets a
    different, much stricter criterion (Hamming<=3 of 64 bit-votes ~
    near-identical token multisets), so against the Jaccard truth it
    legitimately recalls only the closest pairs (measured 0.24/0.16);
    its floor here guards collapse, while its banding-vs-brute exactness
    is asserted in test_operators (pigeonhole recall 1.0 on its own
    criterion)."""
    from billing_data_pipeline_spark.registry import load_catalog

    cat = load_catalog()
    sf = "/root/testdata/sf0.01"

    def pairset(name):
        return {
            (min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]))
            for r in cat[name].fn(spark, sf).collect()
        }

    truth = pairset("ngram_jaccard_pairs")
    assert truth
    for name, floor in (
        ("minhash_neardup_pairs_portable", 0.9),
        ("minhash_neardup_pairs", 0.9),
        ("simhash_neardup_pairs_portable", 0.12),
        ("simhash_neardup_pairs", 0.1),
    ):
        recall = len(truth & pairset(name)) / len(truth)
        assert recall >= floor, f"{name} recall {recall:.2f} < {floor}"


def test_aqe_skew_join_engages(spark):
    """r10 (VERDICT r9 item 7, plan-shape half): AQE's skew-join split
    must ACTUALLY ENGAGE on a hot-key sort-merge join — not just produce
    the right answer. One key owns ~90% of the big side with
    incompressible (md5) payloads (AQE thresholds act on COMPRESSED
    shuffle bytes), thresholds lowered to fixture scale; the finalized
    adaptive plan must carry the skew=true marker on the join."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16384",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.range(0, 40_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(1))
            .otherwise(F.col("id"))
            .alias("k"),
            F.concat(
                *[
                    F.md5((F.col("id") + F.lit(i * 1_000_003)).cast("string"))
                    for i in range(4)
                ]
            ).alias("payload"),
        )
        small = spark.range(0, 200).select(
            F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("v")
        )
        joined = big.join(small, "k")
        # execute JOINED's own QueryExecution (count() builds a new one
        # whose adaptive plan finalizes separately — reading joined's
        # plan after count() still shows isFinalPlan=false)
        rows = joined.collect()
        assert len(rows) == 36_000 + len(
            [i for i in range(40_000) if i % 10 >= 9 and i < 200]
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan[:500]
        assert "skew=true" in plan, (
            "AQE skew-join split did not engage:\n" + plan[:3000]
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_salted_join_spreads_hot_key(spark):
    """r10 (VERDICT r9 item 7): the manual salting tier's plan must
    shuffle on (key, _salt) — the hot key's rows spread across n_salts
    buckets — and the result must equal the plain join."""
    from billing_data_pipeline_spark.operators.skew import salted_join

    big = spark.range(0, 5_000).select(
        F.when(F.col("id") % 2 == 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("val"),
    )
    small = spark.range(0, 50).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("v")
    )
    # force the shuffle join the salting tier exists for (with broadcast
    # on, the small side broadcasts and there is no partitioning to read)
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = salted_join(big, small, ["k"], n_salts=8)
        assert joined.count() == big.join(small, "k").count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "_salt" in plan and "hashpartitioning" in plan
        # the exchange key set includes the salt (spread), not the bare key
        import re

        parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
        assert any("_salt" in p and "k#" in p for p in parts), parts
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
