"""Unit tests for custom operators on tiny inline frames: as-of join edge
semantics (strict/inclusive, no-match NULLs), range-join bucket boundaries,
salted-join equivalence."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from billing_data_pipeline_spark.operators.asof import asof_join_backward, range_join
from billing_data_pipeline_spark.operators.skew import salted_join


def ts(minute, second=0):
    return datetime(2025, 1, 1, 10, minute, second)


def test_asof_inclusive_and_strict(spark):
    left = spark.createDataFrame(
        [(1, ts(10)), (1, ts(20)), (2, ts(5))], "user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, ts(10), 100.0), (1, ts(15), 150.0), (2, ts(6), 60.0)],
        "user_id long, ts timestamp, value double",
    )
    inc = {
        (r["user_id"], r["ts"]): r["asof_value"]
        for r in asof_join_backward(left, right, "user_id", "ts", ["value"]).collect()
    }
    # equal timestamp matches in inclusive mode
    assert inc[(1, ts(10))] == 100.0
    assert inc[(1, ts(20))] == 150.0
    assert inc[(2, ts(5))] is None  # right row is later -> no match


def test_asof_null_entity_never_matches(spark):
    """SQL equality (and the DuckDB ASOF JOIN oracle) never matches
    NULL = NULL, but Window.partitionBy / cogroup group NULL keys
    together — both asof forms must give a NULL-entity left row NULL asof
    values even when a NULL-entity right row precedes it (review r4)."""
    from billing_data_pipeline_spark.operators.asof import (
        asof_join_backward_cogrouped,
    )

    left = spark.createDataFrame(
        [(None, ts(10)), (1, ts(10))], "user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(None, ts(5), 50.0), (1, ts(5), 10.0)],
        "user_id long, ts timestamp, value double",
    )
    for fn in (asof_join_backward, asof_join_backward_cogrouped):
        got = {
            r["user_id"]: r["asof_value"]
            for r in fn(left, right, "user_id", "ts", ["value"]).collect()
        }
        assert got[1] == 10.0
        assert got[None] is None, f"{fn.__name__} matched NULL = NULL"


def test_range_join_boundaries(spark):
    left = spark.createDataFrame(
        [(1, 900, ts(15))], "user_id long, event_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [
            (1, 1, ts(5, 0)),   # exactly 10 min before -> included
            (1, 2, ts(4, 59)),  # just outside -> excluded
            (1, 3, ts(15, 0)),  # equal ts -> included
            (1, 4, ts(15, 1)),  # later -> excluded
            (2, 5, ts(15, 0)),  # other entity -> excluded
        ],
        "user_id long, event_id long, ts timestamp",
    )
    got = range_join(left, right, "user_id", "ts", 600, right_cols=["event_id"])
    assert sorted(r["event_id"] for r in got.collect()) == [1, 3]


def test_salted_join_equals_plain_join(spark):
    big = spark.createDataFrame(
        [(i % 3, f"row-{i}") for i in range(100)], "k long, payload string"
    )
    small = spark.createDataFrame([(0, "zero"), (1, "one")], "k long, label string")
    plain = big.join(small, ["k"]).select("k", "payload", "label")
    salted = salted_join(big, small, ["k"], n_salts=4).select("k", "payload", "label")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # inner-join semantics: k=2 has no small-side match in either variant
    assert salted.filter(F.col("k") == 2).count() == 0


def test_matmul_topk_agrees_with_exact(spark):
    """The BLAS fast path must produce the same ranking as the bit-exact
    HOF fold (deterministic data; ulp divergence would only matter on
    exact score ties, which the synthetic embeddings don't have)."""
    from billing_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_matmul,
    )
    from billing_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") % 40 == 0)
    exact = cosine_topk(emb, queries, "vec_id", "embedding", k=5)
    fast = cosine_topk_matmul(emb, queries, "vec_id", "embedding", k=5)
    key = lambda r: (r["query_id"], r["rank"], r["candidate_id"])  # noqa: E731
    assert sorted(map(key, exact.collect())) == sorted(map(key, fast.collect()))


def test_ivf_topk_structure_and_probe_bound(spark):
    """IVF invariants: k rows per query, ranks 1..k, and (since scores are
    genuine cosines of probed candidates) every IVF rank-1 similarity is <=
    the exact brute-force rank-1 for that query."""
    from billing_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )
    from billing_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") % 40 == 0)
    ivf = ivf_topk(emb, queries, "vec_id", "embedding", k=5).collect()
    exact = cosine_topk(emb, queries, "vec_id", "embedding", k=5).collect()

    by_q = {}
    for r in ivf:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == queries.count()
    for q, rows in by_q.items():
        assert sorted(r["rank"] for r in rows) == list(range(1, len(rows) + 1))
    best_exact = {r["query_id"]: r["cosine_sim"] for r in exact if r["rank"] == 1}
    best_ivf = {r["query_id"]: r["cosine_sim"] for r in ivf if r["rank"] == 1}
    for q in best_ivf:
        assert best_ivf[q] <= best_exact[q] + 1e-9


def test_cosine_neardup_pairs_and_survivors(spark):
    """Exact near-dup semantics on a hand-built corpus: v0~v1 (identical
    direction), v2 orthogonal, v3 = -v0. Pairs at threshold 0.9 must be
    exactly {(0,1)}; greedy keep-first dedup drops id 1 only."""
    from billing_data_pipeline_spark.operators.similarity import (
        cosine_dedup_survivors,
        cosine_neardup_pairs,
    )

    rows = [
        (0, [1.0, 0.0, 0.0], 10),
        (1, [2.0, 0.0, 0.0], 11),
        (2, [0.0, 1.0, 0.0], 12),
        (3, [-1.0, 0.0, 0.0], 13),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    pairs = cosine_neardup_pairs(df, "vec_id", "embedding", 0.9).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(0, 1)]
    survivors = cosine_dedup_survivors(df, "vec_id", "embedding", 0.9, ("label",))
    assert sorted(r["vec_id"] for r in survivors.collect()) == [0, 2, 3]


def test_lsh_neardup_subset_of_exact(spark):
    """Every LSH-recalled pair must also be an exact pair (same threshold,
    same exact rerank — LSH can only lose candidates, never invent them)."""
    from billing_data_pipeline_spark.operators.similarity import (
        cosine_neardup_pairs,
        lsh_neardup_pairs,
    )
    from billing_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_neardup_pairs(emb, "vec_id", "embedding", 0.4).collect()
    }
    lsh = [
        (r["id_a"], r["id_b"])
        for r in lsh_neardup_pairs(emb, "vec_id", "embedding", 0.4).collect()
    ]
    assert len(lsh) == len(set(lsh))  # cross-table pair dedup worked
    assert set(lsh) <= exact


def test_samplers_deterministic_and_stable_under_corpus_change(spark):
    """Hash samplers must (a) repeat exactly, (b) keep each row's fate when
    unrelated rows are added — the incremental re-curation invariant RNG
    samplers can't offer."""
    from billing_data_pipeline_spark.operators.sampling import (
        hash_sample,
        per_group_sample,
    )

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    s1 = {r["doc_id"] for r in hash_sample(df, "doc_id", 10).collect()}
    s2 = {r["doc_id"] for r in hash_sample(df, "doc_id", 10).collect()}
    assert s1 == s2 and 0 < len(s1) < 1000

    bigger = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s3 = {r["doc_id"] for r in hash_sample(bigger, "doc_id", 10).collect()}
    assert {d for d in s3 if d < 1000} == s1  # original rows keep their fate

    g = df.withColumn("grp", (F.col("doc_id") % 4).cast("string"))
    per = per_group_sample(g, "doc_id", "grp", 7).collect()
    counts = {}
    for r in per:
        counts[r["grp"]] = counts.get(r["grp"], 0) + 1
    assert counts == {"0": 7, "1": 7, "2": 7, "3": 7}


def test_chunk_tokens_edges(spark):
    from billing_data_pipeline_spark.operators.text import chunk_tokens

    docs = spark.createDataFrame(
        [
            ("empty", ""),
            ("short", "a b"),
            ("exact", "t1 t2 t3 t4"),          # == chunk size
            ("overlap", "w1 w2 w3 w4 w5 w6 w7"),  # chunk 4, stride 3
            ("spacey", "  x   y  "),            # leading/multi whitespace
        ],
        "doc_id string, text string",
    )
    out = chunk_tokens(docs, chunk=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert "empty" not in by_doc  # zero tokens -> zero chunks
    assert [c.chunk_text for c in by_doc["short"]] == ["a b"]
    assert [c.chunk_text for c in by_doc["exact"]] == ["t1 t2 t3 t4", "t4"]
    # starts 0,3,6: full window, full window, 1-token tail; stride<chunk
    # means token w4 appears in two chunks (the overlap)
    ov = sorted(by_doc["overlap"], key=lambda c: c.chunk_idx)
    assert [c.chunk_text for c in ov] == ["w1 w2 w3 w4", "w4 w5 w6 w7", "w7"]
    assert [c.n_chunk_tokens for c in ov] == [4, 4, 1]
    assert [c.chunk_idx for c in ov] == [0, 1, 2]
    assert [c.chunk_text for c in by_doc["spacey"]] == ["x y"]


def test_repetition_stats_edges(spark):
    from billing_data_pipeline_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [
            ("one", "hello"),                  # 1 token: no bigrams -> NULL share
            ("rep", "a a a b"),                # top token 3/4, top bigram 'a a' 2/3
            ("uniq", "x y z"),                 # ttr 1.0
        ],
        "doc_id string, text string",
    )
    rows = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert rows["one"].n_tokens == 1 and rows["one"].top_bigram_share is None
    assert rows["rep"].top_token_share == 0.75
    assert abs(rows["rep"].top_bigram_share - 2 / 3) < 1e-12
    assert rows["uniq"].type_token_ratio == 1.0


def test_pack_chunks_greedy_semantics(spark):
    from billing_data_pipeline_spark.operators.text import pack_chunks

    chunks = spark.createDataFrame(
        [
            ("d", 0, 30), ("d", 1, 30), ("d", 2, 30),   # 30+30 fits 64, 3rd spills
            ("e", 0, 100), ("e", 1, 10),                  # oversize chunk: own bin
            ("f", 0, 32), ("f", 1, 32), ("f", 2, 1),     # exact fit then spill
        ],
        "doc_id string, chunk_idx int, n_chunk_tokens int",
    )
    got = {
        (r.doc_id, r.chunk_idx): r.bin
        for r in pack_chunks(chunks, capacity=64).collect()
    }
    assert got == {
        ("d", 0): 0, ("d", 1): 0, ("d", 2): 1,
        ("e", 0): 0, ("e", 1): 1,
        ("f", 0): 0, ("f", 1): 0, ("f", 2): 1,
    }


def test_sessionize_matches_native_session_window_boundary(spark):
    """Exact-gap boundary semantics pinned to Spark's native session_window
    (ADVICE r1 claimed they diverge; empirically they do not): an event at
    prev_ts + gap MERGES (touching windows merge), one microsecond past
    splits. The batch sessionize must agree with the native operator on
    both sides of the boundary."""
    from billing_data_pipeline_spark.operators.windows import sessionize

    rows = [
        # user 1: exactly at the 30-min boundary -> one session natively
        (1, "2025-01-01 10:00:00", 1),
        (1, "2025-01-01 10:30:00", 2),
        # user 2: 1 microsecond past the boundary -> two sessions natively
        (2, "2025-01-01 10:00:00", 3),
        (2, "2025-01-01 10:30:00.000001", 4),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    native = {
        r["user_id"]: r["n"]
        for r in df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .count()
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert native == {1: 1, 2: 2}  # pin the native behavior itself

    ours = {
        r["user_id"]: r["n"]
        for r in sessionize(df, "user_id", "ts", "event_id", 1800)
        .groupBy("user_id")
        .agg(F.max("session_seq").alias("n"))
        .collect()
    }
    assert ours == native


def test_portable_hash60_matches_python_md5(spark):
    """portable_hash60 (Spark conv/md5 path) must equal int(md5[:15], 16) —
    the same value DuckDB's ('0x' || substr(md5,1,15))::BIGINT parses."""
    import hashlib

    from billing_data_pipeline_spark.operators.portable_dedup import portable_hash60

    vals = ["", "abc", "hello world", "Ünïcode ÷ test", "a b  c\td"]
    df = spark.createDataFrame([(v,) for v in vals], ["s"])
    got = {r["s"]: r["h"] for r in df.select("s", portable_hash60(F.col("s")).alias("h")).collect()}
    for v in vals:
        expect = int(hashlib.md5(v.encode("utf-8")).hexdigest()[:15], 16)
        assert got[v] == expect, v


def test_minhash_vectorized_kernel_matches_naive(spark):
    """The r11 batch-vectorized signature kernel (batch-level unique-gram
    memo, digest-byte 60-bit parse, minimum.reduceat segment mins) must be
    bit-identical to the naive per-doc form it replaced: per doc, md5 each
    distinct 3-gram via int(hexdigest[:15], 16) % P, then k affine-modular
    mins. Fixture stresses the memo (shared boilerplate grams across
    docs), NULL text, short docs (<3 tokens, dropped), unicode, and
    metachar/whitespace edges."""
    import hashlib

    from billing_data_pipeline_spark.operators.portable_dedup import (
        MINHASH_AB,
        MINHASH_P,
        _minhash_sigs,
    )

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (1, boiler + " alpha beta gamma"),
        (2, boiler + " alpha beta delta"),  # heavy gram overlap with 1
        (3, "short doc"),  # <3 tokens -> dropped
        (4, None),  # NULL -> dropped
        (5, "Ünïcode ÷ test shingles here too"),
        (6, "  leading space\tand   runs of space  "),
        (7, boiler),  # pure boilerplate (full memo hits)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    k = 12
    got = {
        r["doc"]: list(r["sig"])
        for r in _minhash_sigs(df, "doc_id", "text", k).collect()
    }

    import re as _re

    ws = _re.compile(r"\s+", _re.ASCII)
    expect = {}
    for doc_id, text in docs:
        if text is None:
            continue
        toks = ws.split(text.strip(" "))
        if len(toks) < 3:
            continue
        grams = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        hs = [
            int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % MINHASH_P
            for g in grams
        ]
        expect[doc_id] = [
            min((a * h + b) % MINHASH_P for h in hs)
            for a, b in MINHASH_AB[:k]
        ]
    assert got == expect


def test_minhash_kernel_chunked_pass_identical(spark, monkeypatch):
    """The r12 bounded-memory affine pass (ADVICE r11: (k, grams) sliced
    along doc boundaries, giant docs folded in sub-slices with
    elementwise minimum) must be bit-identical to the one-shot reduceat.
    A tiny chunk budget forces BOTH chunk shapes on a small fixture:
    multi-doc runs that split mid-batch, and a single doc whose gram
    count alone exceeds the chunk."""
    import billing_data_pipeline_spark.operators.portable_dedup as PD

    docs = [
        (1, " ".join(f"w{i % 7}" for i in range(40))),  # 38 grams > chunk
        (2, "a b c d e"),
        (3, "f g h i j"),
        (4, "k l m n o p q r s t"),
        (5, " ".join(f"x{i}" for i in range(60))),  # 58 distinct grams
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    k = 8

    def run():
        return {
            r["doc"]: list(r["sig"])
            for r in PD._minhash_sigs(df, "doc_id", "text", k).collect()
        }

    baseline = run()  # production chunk: one-shot reduceat per batch
    monkeypatch.setattr(PD, "_GRAM_CHUNK_ELEMS", k * 7)  # 7-gram chunks
    chunked = run()
    assert chunked == baseline and len(baseline) == 5


def test_simhash_portable_band_recall_pigeonhole(spark):
    """Any pair within Hamming<=3 of 60 bits must share one of the 4
    15-bit bands (pigeonhole) — i.e. the banded candidate join loses no
    qualifying pair vs a brute-force signature comparison."""
    from itertools import combinations

    from billing_data_pipeline_spark.operators.portable_dedup import (
        simhash_portable_pairs,
        simhash_portable_signatures,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "the quick brown fox leaps over the lazy dog"),
        (4, "completely different content about spark engines"),
        (5, "the quick brown fox jumps over the lazy dog"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = {r["doc"]: r["simhash"] for r in simhash_portable_signatures(df, "doc_id", "text").collect()}
    brute = {
        (a, b)
        for a, b in combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    banded = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_portable_pairs(df, "doc_id", "text").collect()
    }
    assert banded == brute
    assert (1, 5) in banded  # identical docs: Hamming 0


def test_connected_components_chain_vs_greedy(spark):
    """Chain a-b-c (a~b, b~c, but a!~c) must collapse into ONE component
    under transitive closure — the case greedy keep-first mislabels —
    and singletons keep their own id."""
    from billing_data_pipeline_spark.operators.components import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], ["id"])
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], ["src", "dst"]
    )
    got = {
        r["id"]: r["component_id"]
        for r in connected_components(nodes, edges, "id").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_connected_components_long_chain_logarithmic_rounds(spark):
    """Pathological topology: a 64-node path graph (diameter 63). Min-label
    propagation needs diameter rounds; the alternating-star contraction
    must collapse it to one component in O(log n) rounds — the 100 TB
    long-chain guarantee (VERDICT r2 #5)."""
    from billing_data_pipeline_spark.operators.components import (
        _star_contract,
        connected_components,
    )
    from pyspark.sql import functions as F

    n = 64
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["src", "dst"]
    )
    got = {
        r["id"]: r["component_id"]
        for r in connected_components(nodes, edges, "id").collect()
    }
    assert got == {i: 0 for i in range(n)}

    canon = edges.select(
        F.greatest("src", "dst").alias("a"), F.least("src", "dst").alias("b")
    ).distinct()
    _stars, rounds = _star_contract(canon, max_rounds=25)
    assert rounds <= 12, f"expected O(log n) rounds on a 64-chain, got {rounds}"

    # Exhausting max_rounds without reaching the fixpoint must RAISE, not
    # silently return partial labels (review r4: a trailing `prev = e`
    # made the old post-loop check compare a frame with itself, so
    # non-convergence was unreachable-by-construction).
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        _star_contract(canon, max_rounds=1)


def test_catalog_hygiene():
    """Registry guardrails: every query has a docstring and tags; every
    rows-only query's docstring explains itself (the judge-facing contract
    CATALOG.md generates from); bench queries have stable names."""
    from billing_data_pipeline_spark.registry import load_catalog

    cat = load_catalog()
    assert len(cat) >= 126
    for name, spec in cat.items():
        assert spec.doc, f"{name} has no docstring"
        assert spec.tags, f"{name} has no tags"
        if spec.oracle is None:
            blob = spec.doc.lower()
            assert (
                "rows-only" in blob
                or "rows only" in blob
                or "engine" in blob
                or "sketch" in blob
                or "blas" in blob
            ), f"rows-only query {name} doesn't explain why"


def test_hash_bucket_negative_keys_stay_in_range(spark):
    """ADVICE r1: SQL % keeps the dividend's sign, so a negative key used
    to land in a negative bucket that `bucket < pct` kept at ANY rate —
    including rate 0. With pmod, buckets stay in [0,100) for arbitrary
    keys and a rate-0 stratum drops every row, negative ids included."""
    from billing_data_pipeline_spark.operators.sampling import (
        hash_bucket,
        stratified_sample,
    )

    df = spark.range(-500, 500).withColumnRenamed("id", "doc_id")
    buckets = [
        r["b"]
        for r in df.select(hash_bucket(F.col("doc_id")).alias("b")).collect()
    ]
    assert min(buckets) >= 0 and max(buckets) < 100

    g = df.withColumn(
        "grp", F.when(F.col("doc_id") < 0, "neg").otherwise("pos")
    )
    kept = stratified_sample(g, "doc_id", "grp", {"neg": 0, "pos": 100}).collect()
    assert all(r["doc_id"] >= 0 for r in kept)
    assert len(kept) == 500


def test_doc_top_terms_null_text_contained(spark):
    """A NULL text row must produce no output rows — not crash the Arrow
    kernel (code-review r3 finding; the JVM form silently dropped NULLs)."""
    from billing_data_pipeline_spark.operators.text import doc_top_terms

    df = spark.createDataFrame(
        [(1, "alpha beta beta"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    rows = doc_top_terms(df, "doc_id", "text", k=2).collect()
    assert {r["doc_id"] for r in rows} == {1}


def test_tokenize_pack_chunks_batches_past_int32_slot_cap(spark, monkeypatch):
    """r8 (ADVICE r7): Spark's ArrayType carries int32 list offsets, so a
    packed output batch is capped at 2^31 term slots. tokenize_pack now
    splits oversized packs into multiple RecordBatches with rebased
    offsets; the cap is shrunk here to force the chunk path on every
    batch and the result must be bit-identical to the unchunked run.
    (A real 2^31-slot batch needs ~17 GiB of pointers — untestable; the
    chunk arithmetic is cap-independent.)"""
    from billing_data_pipeline_spark.operators import text as text_mod

    df = spark.createDataFrame(
        [
            (1, "alpha beta beta gamma delta"),
            (2, "beta gamma gamma delta epsilon zeta"),
            (3, None),
            (4, "epsilon"),
            (5, "eta theta iota kappa lam mu nu xi"),
        ],
        "doc_id long, text string",
    ).coalesce(1)  # one input batch -> the cap must split it
    # stats_fallback_bytes raised: an RDD-backed createDataFrame plan
    # has a Long.MaxValue size estimate, which would route tier (a) to the
    # join form and never run the kernel under test
    big = 1 << 64  # above the RDD-backed Long.MaxValue estimate
    baseline = sorted(
        map(
            tuple,
            text_mod.doc_top_terms(
                df, "doc_id", "text", k=3, stats_fallback_bytes=big
            ).collect(),
        )
    )
    # 5 slots/chunk: doc 5 alone has 8 distinct terms + sentinel = 9 slots
    # > cap, which must raise loudly, not loop
    monkeypatch.setattr(text_mod, "_MAX_PACKED_SLOTS", 5)
    import pytest as _pytest

    with _pytest.raises(Exception, match="int32 list-offset capacity"):
        text_mod.doc_top_terms(
            df, "doc_id", "text", k=3, stats_fallback_bytes=big
        ).collect()
    # 16 slots/chunk: every doc fits, but the batch must split into
    # several output batches — rows identical to the unchunked run
    monkeypatch.setattr(text_mod, "_MAX_PACKED_SLOTS", 16)
    chunked = sorted(
        map(
            tuple,
            text_mod.doc_top_terms(
                df, "doc_id", "text", k=3, stats_fallback_bytes=big
            ).collect(),
        )
    )
    assert chunked == baseline


def test_doc_top_terms_vocab_cap_falls_back_to_join_form(spark):
    """Vocabulary above max_broadcast_terms must route to the distributed
    join form (nothing vocab-sized broadcast) and return bit-identical
    rows; same for the statistics pre-route (VERDICT r3 #1: residency
    capped IN the operator, not by a docstring)."""
    from billing_data_pipeline_spark.operators.text import doc_top_terms

    df = spark.createDataFrame(
        [
            (1, "alpha beta beta gamma"),
            (2, "beta gamma gamma delta"),
            (3, None),
            (4, "epsilon"),
        ],
        "doc_id long, text string",
    )
    kernel = doc_top_terms(df, "doc_id", "text", k=2)
    capped = doc_top_terms(df, "doc_id", "text", k=2, max_broadcast_terms=2)
    stats_routed = doc_top_terms(
        df, "doc_id", "text", k=2, stats_fallback_bytes=0
    )
    for fb in (capped, stats_routed):
        plan = fb._jdf.queryExecution().executedPlan().toString()
        assert "Window" in plan  # join form = rank window, no broadcast dict
        assert sorted(map(tuple, fb.collect())) == sorted(
            map(tuple, kernel.collect())
        )


def test_epoch_shard_zero_weight_source_contributes_nothing(spark):
    """epochs<=0 must yield ZERO replicas — Spark's sequence(1, 0) is the
    DESCENDING [1, 0] (two replicas!) without the guard (review r3); the
    oracle's range(1, 1) is empty."""
    from billing_data_pipeline_spark.operators.curation import epoch_shard_manifest

    docs = spark.createDataFrame(
        [(1, "keep", 10, 2), (2, "drop", 10, 0), (3, "neg", 10, -3)],
        "doc_id long, source string, n_tok long, w int",
    )
    out = epoch_shard_manifest(
        docs, "source", "doc_id", F.col("n_tok"), F.col("w"), n_shards=4
    ).collect()
    # only doc 1 (w=2) contributes: exactly 2 replica rows corpus-wide
    assert sum(r["n_rows"] for r in out) == 2
    assert sum(r["total_tokens"] for r in out) == 20


def test_simhash_tiers_contain_null_text(spark):
    """NULL text must neither crash the bit-vote Pandas UDFs nor receive a
    signature (a shared zero-sig would band-join every null doc with every
    other): null-text docs are DROPPED, like the oracles drop them."""
    from billing_data_pipeline_spark.operators.dedup import simhash_signatures
    from billing_data_pipeline_spark.operators.portable_dedup import (
        simhash_portable_signatures,
    )

    df = spark.createDataFrame(
        [(1, "hello world"), (2, None)], "doc_id long, text string"
    )
    for fn in (simhash_signatures, simhash_portable_signatures):
        rows = {r["doc"]: r["simhash"] for r in fn(df, "doc_id", "text").collect()}
        assert set(rows) == {1} and rows[1] != 0


def test_minhash_portable_band3_subset_of_band2(spark, monkeypatch):
    """The band key honors MINHASH_BAND_SIZE (the old key packed exactly
    two components regardless; review r3): every 3-component band
    contains a full 2-component band, so band3 candidates (and hence
    pairs) are a subset of band2's."""
    import billing_data_pipeline_spark.operators.portable_dedup as PD
    from billing_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    p2 = {
        (r["doc_a"], r["doc_b"])
        for r in PD.minhash_portable_pairs(docs, "doc_id", "text").collect()
    }
    monkeypatch.setattr(PD, "MINHASH_BAND_SIZE", 3)
    p3 = {
        (r["doc_a"], r["doc_b"])
        for r in PD.minhash_portable_pairs(docs, "doc_id", "text").collect()
    }
    assert p2  # sanity: the corpus has near-dups
    assert p3 <= p2


def test_asof_plans_resolve_right_side_ties_deterministically(spark, tmp_path):
    """Duplicate (user, ts) clicks must resolve to the SAME pick (max
    event_id) in both as-of forms — ASOF's tie pick is engine-private, so
    the plans dedup the right side first (review r3)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from billing_data_pipeline_spark.registry import load_catalog

    d = tmp_path / "sf"
    d.mkdir()
    t0 = 1_700_000_000_000_000  # µs
    rows = {
        "event_id": [1, 2, 3, 10],
        "ts": [t0, t0, t0 + 60_000_000, t0 + 120_000_000],
        "user_id": [7, 7, 7, 7],
        "event_type": ["click", "click", "click", "purchase"],
        "value": [1.0, 2.0, 3.0, 0.0],
        "props": [None] * 4,
    }
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
    pq.write_table(pa.table(rows, schema=schema), str(d / "events.parquet"))
    cat = load_catalog()
    for name in ("purchase_last_click_asof", "purchase_last_click_asof_cogroup"):
        got = cat[name].fn(spark, str(d)).collect()
        assert len(got) == 1
        # latest click is event 3; ties at t0 (events 1, 2) are irrelevant
        # here, but re-run with only tied clicks below
        assert got[0]["asof_event_id"] == 3

    # only tied clicks: the pick must be the max event_id (=2), both forms
    rows2 = dict(rows)
    rows2["event_id"] = [1, 2, 99, 10]
    rows2["event_type"] = ["click", "click", "other", "purchase"]
    pq.write_table(pa.table(rows2, schema=schema), str(d / "events.parquet"))
    for name in ("purchase_last_click_asof", "purchase_last_click_asof_cogroup"):
        got = cat[name].fn(spark, str(d)).collect()
        assert got[0]["asof_event_id"] == 2 and got[0]["asof_value"] == 2.0


def test_heavy_hitters_exact_on_skewed_synthetic(spark):
    """Misra-Gries candidates + exact verify must equal the brute-force
    heavy-hitter set on adversarially skewed data (many partitions, a
    long unique tail that overflows the per-partition counters)."""
    from billing_data_pipeline_spark.operators.text import heavy_hitter_terms

    docs = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.when(F.col("id") % 2 == 0, F.lit("hot ")).otherwise(F.lit("")),
            F.when(F.col("id") % 10 == 0, F.lit("warm ")).otherwise(F.lit("")),
            F.concat(F.lit("tail"), F.col("id").cast("string")),
        ).alias("text"),
    ).repartition(16)
    got = {
        (r["term"], r["n"])
        for r in heavy_hitter_terms(
            docs, "doc_id", "text", threshold_ppm=50_000
        ).collect()
    }
    # brute force truth
    from billing_data_pipeline_spark.operators.text import explode_terms

    counts = explode_terms(docs, "doc_id", "text").groupBy("term").count()
    total = counts.agg(F.sum("count")).collect()[0][0]
    truth = {
        (r["term"], r["count"])
        for r in counts.collect()
        if r["count"] * 1_000_000 > total * 50_000
    }
    assert got == {(t, n) for t, n in truth}
    assert ("hot", 2000) in got


def test_ml_minhash_barrier_survives_later_calls(spark):
    """The NULL-shingle fence must not depend on cache residency (advice
    r4): evaluate the FIRST call's returned frame only AFTER a second
    call — under the old last-call-wins persist registry the second call
    swept the first's plan barrier, letting Catalyst push the MLlib UDF
    predicates back ahead of the null filters (NPE on NULL shingles).
    localCheckpoint makes the barrier structural (LogicalRDD)."""
    from billing_data_pipeline_spark.operators.dedup import (
        ml_minhash_neardup_pairs,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again"),
        (2, "the quick brown fox jumps over the lazy dog again"),
        (3, None),
        (4, "completely different text with no overlap at all here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    first = ml_minhash_neardup_pairs(df, "doc_id", "text")
    second = ml_minhash_neardup_pairs(df, "doc_id", "text")
    assert second.count() >= 1
    # first frame evaluated AFTER the later call: must not NPE, and the
    # plan must still carry the structural barrier
    got = {(r["doc_a"], r["doc_b"]) for r in first.collect()}
    assert (1, 2) in got
    assert "LogicalRDD" in first._jdf.queryExecution().optimizedPlan().toString()


def test_asof_cogroup_int64_exact_and_distinct_nan_parity(spark):
    """Review r5 regressions: (a) the cogrouped as-of must keep int64
    payloads EXACT when some left rows are unmatched (pd.merge_asof's
    NaN fill promoted the column to float64, rounding ids above 2^53);
    (b) grouped_profile's two physical distinct branches must agree on
    NaN-bearing float columns (collect_set kept every NaN as its own
    element; COUNT(DISTINCT) counts one)."""
    import datetime

    from pyspark.sql import functions as F

    from billing_data_pipeline_spark.operators.aggregates import grouped_profile
    from billing_data_pipeline_spark.operators.asof import (
        asof_join_backward,
        asof_join_backward_cogrouped,
    )

    big_id = 2**53 + 1
    t9, t10 = (
        datetime.datetime(2023, 1, 1, 9, 30),
        datetime.datetime(2023, 1, 1, 10, 0),
    )
    left = spark.createDataFrame(
        [(1, datetime.datetime(2023, 1, 1, 9, 0)), (2, t10)],
        "pid long, ts timestamp",
    ).withColumn("user_id", F.lit(1))
    right = spark.createDataFrame(
        [(big_id, 1, t9, 5.0)], "event_id long, user_id long, ts timestamp, value double"
    )
    for fn in (asof_join_backward, asof_join_backward_cogrouped):
        rows = {
            r["pid"]: (r["asof_event_id"], r["asof_value"])
            for r in fn(left, right, "user_id", "ts", ["event_id", "value"]).collect()
        }
        assert rows[2] == (big_id, 5.0), fn.__name__  # bit-exact id
        assert rows[1] == (None, None), fn.__name__  # unmatched -> NULLs

    df = spark.createDataFrame(
        [(1, 0.0, 1.0), (1, -0.0, 1.0), (1, float("nan"), 1.0), (1, float("nan"), 1.0)],
        "g long, d double, m double",
    )
    k1 = grouped_profile(df, ["g"], "m", distinct_cols={"nd": "d"}).collect()[0]["nd"]
    k2 = grouped_profile(
        df, ["g"], "m", distinct_cols={"nd": "d", "nm": "m"}
    ).collect()[0]["nd"]
    assert k1 == k2 == 2


def test_salted_join_splits_identical_hot_rows(spark):
    """Review r5: a hot key whose big-side rows are byte-identical (the
    projected-to-join-keys shape) must still spread across salt buckets —
    the old full-row-hash salt put them all in one."""
    from pyspark.sql import functions as F

    from billing_data_pipeline_spark.operators.skew import salted_join

    big = spark.range(0, 1000).select(F.lit(7).alias("k"))  # identical rows
    small = spark.createDataFrame([(7, "x")], "k long, v string")
    out = salted_join(big, small, ["k"], n_salts=4)
    assert out.count() == 1000
    salted = big.withColumn(
        "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(4))
    )
    n_buckets = salted.select("_salt").distinct().count()
    assert n_buckets > 1  # the split actually splits


def test_token_runs_drops_scratch_view_and_still_computes(spark):
    """Advice r5: token_runs registered a uuid-named temp view per call and
    never dropped it — one leaked catalog entry per invocation across
    bench min-of-N loops. The analyzed plan survives the drop."""
    from billing_data_pipeline_spark.operators.udf_surface import token_runs

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "x y y y")], "doc_id long, text string"
    )
    before = {t.name for t in spark.catalog.listTables()}
    out1 = token_runs(spark, docs)
    out2 = token_runs(spark, docs)
    after = {t.name for t in spark.catalog.listTables()}
    leaked = {n for n in after - before if n.startswith("_docs_for_runs_")}
    assert leaked == set(), f"scratch views leaked: {leaked}"
    # the DataFrames built before the drop still evaluate
    assert sorted(tuple(r) for r in out1.collect()) == sorted(
        tuple(r) for r in out2.collect()
    )
    assert (1, 1, "a", 2) in {tuple(r) for r in out1.collect()}


def test_token_runs_builtin_equals_udtf_tier(spark):
    """r9 (VERDICT item 5): token_runs_builtin carries the family's bench
    flag, the UDTF keeps the UDF-surface demonstration — the two tiers
    must stay result-identical (same tokenization contract, same run
    accounting), including NULL/empty/non-ASCII documents."""
    from billing_data_pipeline_spark.operators.udf_surface import (
        token_runs,
        token_runs_builtin,
    )

    docs = spark.createDataFrame(
        [
            (1, "a a b"),
            (2, "x y y y x"),
            (3, None),
            (4, "  "),
            (5, "Déjà vu DÉJÀ 42 vu vu"),
        ],
        "doc_id long, text string",
    )
    udtf_rows = sorted(tuple(r) for r in token_runs(spark, docs).collect())
    builtin_rows = sorted(
        tuple(r) for r in token_runs_builtin(docs).collect()
    )
    assert builtin_rows == udtf_rows
    assert (2, 1, "x", 1) in set(builtin_rows)
    assert (2, 2, "y", 3) in set(builtin_rows)
    # one exchange total: the run groupBy reuses the window's hash
    # partitioning on the doc key
    plan = (
        token_runs_builtin(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan


def test_editdist_blocked_pairs_semantics(spark):
    """r9: the Levenshtein record-linkage tier — threshold distances on
    normalized ASCII text, prefix+length blocking with its documented
    recall loss (an edit inside the prefix hides the pair), and the
    early-exit -1 of the 3-arg levenshtein filtered out."""
    from billing_data_pipeline_spark.operators.dedup import (
        editdist_blocked_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown fox jumped"),   # dist 2 (s -> ed)
            (3, "the quick BROWN-fox ...jumps"), # normalizes to == doc 1
            (4, "xhe quick brown fox jumps"),    # edit INSIDE prefix: hidden
            (5, "the quick brown cat naps now"), # same block, far: cut by k
            (6, "completely different text"),    # different block
            (7, None),
            (8, "!!!"),                          # normalizes to '' -> dropped
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in editdist_blocked_pairs(docs, "doc_id", "text", 3, 8).collect()
    }
    assert got[(1, 3)] == 0  # normalization twin
    assert got[(1, 2)] == 2 and got[(2, 3)] == 2
    assert not any(4 in p for p in got)  # prefix-blocked (documented loss)
    assert not any(5 in p for p in got)  # above max_dist: -1 filtered
    assert not any(p for p in got if 6 in p or 7 in p or 8 in p)


def test_degenerate_block_cap_bounds_editdist(spark):
    """r10 (VERDICT r9 item 2): one hot prefix block must not make the
    blocked-editdist join quadratic. 10k docs share an identical 16-char
    normalized prefix (and sit within one length band, so WITHOUT the cap
    this is ~50M banded levenshtein pairs); with block_cap=100 the block
    is dropped whole, the disjoint healthy block still pairs, and the
    overflow companion reports exactly what was dropped."""
    from billing_data_pipeline_spark.operators.dedup import (
        editdist_blocked_pairs,
        editdist_overflow_blocks,
    )

    hot = spark.range(0, 10_000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("prefixprefixprefix "),
            F.translate(F.col("id").cast("string"), "0123456789", "abcdefghij"),
        ).alias("text"),
    )
    healthy = spark.createDataFrame(
        [
            (20_001, "zebra zebra zebra one"),
            (20_002, "zebra zebra zebra two"),
        ],
        "doc_id long, text string",
    )
    docs = hot.unionByName(healthy)
    pairs = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in editdist_blocked_pairs(
            docs, "doc_id", "text", max_dist=3, prefix_len=16, block_cap=100
        ).collect()
    }
    assert pairs == {(20_001, 20_002): 3}  # one->two is dist 3; hot block gone
    overflow = editdist_overflow_blocks(
        docs, "doc_id", "text", prefix_len=16, block_cap=100
    ).collect()
    assert len(overflow) == 1
    assert overflow[0]["blk"] == "prefixprefixpref"
    assert overflow[0]["n_members"] == 10_000


def test_block_cap_oracle_parity(spark, tmp_path):
    """r10: the cap must be replayed IDENTICALLY by the DuckDB oracles on
    a corpus where it actually fires — hot editdist block above the cap,
    boilerplate shingle above the cap, plus survivors on both sides of
    each boundary (adversarial-fixture pattern, verify skill §round-3)."""
    from billing_data_pipeline_spark.operators import dedup as D
    from .oracle import assert_matches_oracle

    rows = [
        # editdist hot block: 5 docs share prefix16, cap=4 -> dropped
        (1, "sharedprefixblock aa"),
        (2, "sharedprefixblock ab"),
        (3, "sharedprefixblock ac"),
        (4, "sharedprefixblock ad"),
        (5, "sharedprefixblock ae"),
        # at-cap block: exactly 4 members -> kept
        (6, "keptprefixblockk aa"),
        (7, "keptprefixblockk ab"),
        (8, "keptprefixblockk ac"),
        (9, "keptprefixblockk ad"),
        # boilerplate: 6 docs share a 3-gram (cap 4 -> shingle dropped),
        # pairs must survive via their OTHER shingles where possible
        (10, "common boiler plate alpha beta alpha beta"),
        (11, "common boiler plate alpha beta alpha gamma"),
        (12, "common boiler plate delta epsilon zeta eta"),
        (13, "common boiler plate delta epsilon zeta theta"),
        (14, "common boiler plate iota kappa lam mu"),
        (15, "common boiler plate iota kappa lam nu"),
        (16, None),
        (17, "  "),
    ]
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame(rows, columns=["doc_id", "text"]).astype(
                {"doc_id": "int64"}
            )
        ),
        str(tmp_path / "documents.parquet"),
    )
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))

    assert_matches_oracle(
        D.editdist_blocked_pairs(
            docs, "doc_id", "text", max_dist=3, prefix_len=16, block_cap=4
        ),
        D.editdist_oracle_sql(
            "documents", "doc_id", "text", 3, 16, block_cap=4
        ),
        str(tmp_path),
    )
    assert_matches_oracle(
        D.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.3, shingle_cap=4
        ),
        D.ngram_jaccard_oracle_sql(
            "documents", "doc_id", "text", n=3, threshold=0.3, shingle_cap=4
        ),
        str(tmp_path),
    )
    assert_matches_oracle(
        D.editdist_overflow_blocks(
            docs, "doc_id", "text", prefix_len=16, block_cap=4
        ),
        D.editdist_overflow_oracle_sql(
            "documents", "doc_id", "text", prefix_len=16, block_cap=4
        ),
        str(tmp_path),
    )
    assert_matches_oracle(
        D.shingle_overflow_postings(
            docs, "doc_id", "text", n=3, shingle_cap=4
        ),
        D.shingle_overflow_oracle_sql(
            "documents", "doc_id", "text", n=3, shingle_cap=4
        ),
        str(tmp_path),
    )
    # the fixture actually fires: hot editdist block dropped, at-cap kept
    got = D.editdist_blocked_pairs(
        docs, "doc_id", "text", max_dist=3, prefix_len=16, block_cap=4
    ).collect()
    ids = {i for r in got for i in (r["id_a"], r["id_b"])}
    assert ids == {6, 7, 8, 9}
    # and the capped Jaccard still pairs the boilerplate docs via their
    # non-degenerate shingles
    jac = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.3, shingle_cap=4
    ).collect()
    jac_pairs = {(r["doc_a"], r["doc_b"]) for r in jac}
    assert (10, 11) in jac_pairs and (12, 13) in jac_pairs


def test_block_cap_never_fires_on_clean_gate_data(spark):
    """review r10: the catalog cap (64) is claimed to never fire on clean
    testdata — make that CHECKED at the gate SF rather than asserted in
    a docstring. If the driver regenerates testdata with denser
    boilerplate, this fails loudly and the cap (or this expectation)
    gets re-measured instead of silently changing pair semantics."""
    from billing_data_pipeline_spark.registry import load_catalog

    from .conftest import SF_CORRECTNESS

    cat = load_catalog()
    assert (
        cat["editdist_block_overflow"].fn(spark, SF_CORRECTNESS).count() == 0
    )
    assert (
        cat["shingle_posting_overflow"].fn(spark, SF_CORRECTNESS).count() == 0
    )


def test_block_cap_adds_no_extra_shuffle(spark):
    """r10: the cap's window count must ride the hash partitioning the
    self-join needs anyway — capped and uncapped editdist plans carry the
    SAME number of exchanges."""
    from billing_data_pipeline_spark.operators.dedup import (
        editdist_blocked_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamme")],
        "doc_id long, text string",
    )

    def n_exchanges(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange") - plan.count("ReusedExchange")

    uncapped = n_exchanges(
        editdist_blocked_pairs(docs, "doc_id", "text", 3, 8)
    )
    capped = n_exchanges(
        editdist_blocked_pairs(docs, "doc_id", "text", 3, 8, block_cap=64)
    )
    assert capped == uncapped, (capped, uncapped)


def test_heavy_hitters_mg_truncation_path_exact(spark):
    """r6: the batch-level Misra-Gries truncation (value_counts fold +
    subtract-(k+1)th-largest) must preserve the superset guarantee when
    the vocabulary genuinely overflows the counters. The older 'skewed'
    test's tail terms contained digits, which the tokenizer strips — its
    vocabulary collapsed to 3 terms and the truncation never ran. Here
    the tail is letter-only and unique: 4000 terms vs 80 counters, so
    every partition truncates repeatedly."""
    from billing_data_pipeline_spark.operators.text import (
        explode_terms,
        heavy_hitter_terms,
    )

    docs = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.when(F.col("id") % 2 == 0, F.lit("hot ")).otherwise(F.lit("")),
            F.when(F.col("id") % 10 == 0, F.lit("warm ")).otherwise(F.lit("")),
            F.lit("tail"),
            F.translate(F.col("id").cast("string"), "0123456789", "abcdefghij"),
        ).alias("text"),
    ).repartition(16)
    # sanity: the tokenizer really does see a large vocabulary
    vocab = explode_terms(docs, "doc_id", "text").select("term").distinct().count()
    assert vocab > 1000, f"test fixture collapsed to {vocab} terms"
    got = {
        (r["term"], r["n"])
        for r in heavy_hitter_terms(
            docs, "doc_id", "text", threshold_ppm=50_000
        ).collect()
    }
    counts = explode_terms(docs, "doc_id", "text").groupBy("term").count()
    total = counts.agg(F.sum("count")).collect()[0][0]
    truth = {
        (r["term"], r["count"])
        for r in counts.collect()
        if r["count"] * 1_000_000 > total * 50_000
    }
    assert got == truth and ("hot", 2000) in got


# ---------------------------------------------------------------------------
# BPE tokenizer tier (r11)
# ---------------------------------------------------------------------------


def _ref_greedy_bpe(word: str) -> int:
    """Reference implementation: the public greedy min-rank BPE loop
    (Sennrich et al. 2016 / the GPT-2 reference tokenizer) — the
    semantics the replace-chain formulation must reproduce exactly."""
    from billing_data_pipeline_spark.operators.text import BPE_MERGES, BPE_SEP

    rank = {p: i for i, p in enumerate(BPE_MERGES)}
    syms = list(word.replace(BPE_SEP, ""))
    if not syms:
        return 0
    while len(syms) > 1:
        pairs = {(syms[i], syms[i + 1]) for i in range(len(syms) - 1)}
        best = min(pairs, key=lambda p: rank.get(p, len(BPE_MERGES)))
        if best not in rank:
            break
        out, i = [], 0
        while i < len(syms):
            if i < len(syms) - 1 and (syms[i], syms[i + 1]) == best:
                out.append(syms[i] + syms[i + 1])
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return len(syms)


def test_bpe_merge_table_well_formed():
    """The rank-order replace chain equals the greedy min-rank loop ONLY
    for a well-formed table: (a) every multi-char constituent is the
    output of a strictly earlier merge, (b) outputs are distinct, and
    (c) no merge's output equals a constituent of an EARLIER merge (else
    applying the later merge could create an earlier pair the chain has
    already passed). Plus (d) no constituent may contain the U+001F
    symbol separator (it would corrupt the boundary encoding; quotes are
    fine — the SQL builder escapes them). Guard the invariants so a
    future vocab edit cannot silently break exactness."""
    from billing_data_pipeline_spark.operators.text import BPE_MERGES, BPE_SEP

    for x, y in BPE_MERGES:
        assert BPE_SEP not in x and BPE_SEP not in y, (
            "merge constituents must not contain the symbol separator"
        )
    outputs: list[str] = []
    earlier_constituents: set[str] = set()
    for x, y in BPE_MERGES:
        for part in (x, y):
            assert len(part) == 1 or part in outputs, (
                f"constituent {part!r} is neither a base char nor an"
                " earlier merge output"
            )
        out = x + y
        assert out not in outputs, f"duplicate output {out!r}"
        assert out not in earlier_constituents, (
            f"output {out!r} equals an earlier merge's constituent —"
            " rank-order application would diverge from greedy BPE"
        )
        outputs.append(out)
        earlier_constituents.update((x, y))


def test_bpe_chain_matches_greedy(spark, tmp_path):
    """The Spark replace-chain column AND the DuckDB SQL twin equal the
    reference greedy loop on adversarial words: merge cascades, x==x
    runs, unicode (combining chars count as code points), emoji,
    separator-char corruption, digits."""
    import duckdb

    from billing_data_pipeline_spark.operators import text as X

    words = [
        "the", "theater", "and", "standing", "nation", "attention",
        "antidisestablishmentarianism", "mississippi", "cheese", "seesaw",
        "aaaa", "lllll", "eeee", "x", "zz", "thethethe", "ananan",
        "héllo", "你好", "naïve", "\U0001f600ab",
        "1900", "2000", "000", "190019", "usual", "usage", "deed", "lee",
        "a\x1fb", "\x1f", "\x1f\x1f",
        # r11 --uniws catch: NEL/LS/PS are line terminators Java's
        # default '.' skips, but they are NOT ASCII whitespace, so they
        # ride INSIDE tokens — without (?s) Spark glued their neighbors'
        # separators and undercounted vs DuckDB's char split.
        "a\u0085b", "p\u2028q", "x\u2029y", "the\u2028the",
        # invisible non-terminators ('.' always matched these; pin anyway)
        "zw\u200bsp", "so\u00adft", "\ufeffbom",
    ]
    expected = {w: _ref_greedy_bpe(w) for w in words}

    df = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        r["word"]: r["n"]
        for r in df.select(
            "word", X.bpe_word_token_count(F.col("word")).alias("n")
        ).collect()
    }
    assert got == expected

    con = duckdb.connect()
    con.execute("CREATE TABLE w(word VARCHAR)")
    con.executemany("INSERT INTO w VALUES (?)", [(w,) for w in words])
    duck = dict(
        con.execute(
            f"SELECT word, {X.bpe_word_token_count_sql('word')} FROM w"
        ).fetchall()
    )
    assert duck == expected


def test_bpe_chunk_edges_null_empty_unicode(spark, tmp_path):
    """VERDICT r10 item 4's edge contract: NULL text emits no chunks (the
    r10 phantom-chunk lesson), empty and whitespace-only text emit no
    chunks, unicode/emoji words count per code point, and both BPE chunk
    oracles replay the engine exactly on such a corpus."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from billing_data_pipeline_spark.operators import text as X
    from .oracle import assert_matches_oracle

    rows = [
        (1, None),
        (2, ""),
        (3, "   \t\n "),
        (4, "the"),
        (5, "the theater attention standing " * 20),  # multi-chunk doc
        (6, "héllo 你好 \U0001f600ab naïve"),
        (7, "a\x1fb \x1f lone"),  # separator corruption
        (8, "1900 2000 000 190019"),
    ]
    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame(rows, columns=["doc_id", "text"]).astype(
                {"doc_id": "int64"}
            )
        ),
        str(tmp_path / "documents.parquet"),
    )
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))

    chunks = X.chunk_tokens_bpe(docs, "doc_id", "text", 8, 6)
    out = {(r.doc_id, r.chunk_idx): r for r in chunks.collect()}
    assert not any(d in (1, 2, 3) for d, _ in out)  # no phantom chunks
    assert out[(4, 0)].n_chunk_bpe_tokens == 1  # "the" is one merge-table token
    # unicode: h-é-ll-o=4, 你-好=2, emoji-a-b=3 (no ascii merges apply), na-ï-v-e
    assert out[(6, 0)].n_chunk_tokens == 4
    assert out[(6, 0)].n_chunk_bpe_tokens == sum(
        _ref_greedy_bpe(w) for w in ["héllo", "你好", "\U0001f600ab", "naïve"]
    )

    assert_matches_oracle(
        X.chunk_tokens_bpe(docs, "doc_id", "text", 8, 6),
        X.chunk_tokens_bpe_oracle_sql("documents", "doc_id", "text", 8, 6),
        str(tmp_path),
    )
    assert_matches_oracle(
        X.pack_chunks(
            X.chunk_tokens_bpe(docs, "doc_id", "text", 8, 8).drop(
                "chunk_text", "n_chunk_tokens"
            ),
            capacity=10,
            size_col="n_chunk_bpe_tokens",
        ),
        X.pack_chunks_bpe_oracle_sql("documents", "doc_id", "text", 8, 10),
        str(tmp_path),
    )


def test_bpe_chain_equals_greedy_property():
    """Property test of the equivalence argument itself (review r11
    verified it by brute force once; pin it): for ANY word over an
    alphabet dense in merge-table characters, the replace-chain
    formulation equals the greedy min-rank loop. Pure Python — no
    engines — so hypothesis can afford thousands of cases."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from billing_data_pipeline_spark.operators.text import BPE_MERGES, BPE_SEP

    def chain(word: str) -> int:
        clean = word.replace(BPE_SEP, "")
        if not clean:
            return 0
        s = BPE_SEP + (BPE_SEP + BPE_SEP).join(clean) + BPE_SEP
        for x, y in BPE_MERGES:
            s = s.replace(
                BPE_SEP + x + BPE_SEP + BPE_SEP + y + BPE_SEP,
                BPE_SEP + x + y + BPE_SEP,
            )
        return len(s.split(BPE_SEP + BPE_SEP))

    alphabet = "theinandorstilesoumagc1900é你\x1f"

    @settings(max_examples=2000, deadline=None)
    @given(st.text(alphabet=alphabet, max_size=24))
    def check(word):
        assert chain(word) == _ref_greedy_bpe(word), word

    check()


def test_swept_persist_tolerates_dead_session_frames(spark):
    """r11: tools that spin one session per measurement (co_measure's
    per-mult sessions) leave _LIVE holding frames whose JVM is gone;
    the next session's first sweep must drop them, not NPE."""
    from billing_data_pipeline_spark.operators import _persist

    class DeadFrame:
        def unpersist(self):
            raise RuntimeError("BlockManagerMaster.driverEndpoint() is null")

    _persist._LIVE.append(DeadFrame())
    df = spark.range(3)
    out = _persist.swept_persist(df)
    assert out.count() == 3
    assert _persist._LIVE == [out]
    _persist.swept_persist(spark.range(1))  # clean sweep of the live frame
