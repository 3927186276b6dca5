"""Edge semantics for the curation operators (operators/curation.py)."""

from pyspark.sql import functions as F

from billing_data_pipeline_spark.operators import curation as C


def test_scrub_pii_sequential_counts_and_order(spark):
    # The email is scrubbed FIRST, so its digits/dots never count as an IP
    # or phone; the IP and phone are then counted on the scrubbed text.
    df = spark.createDataFrame(
        [
            (1, "mail a.b%c@x-y.example.io then 10.0.0.1 call 555-1234 end"),
            (2, "no pii here at all"),
            (3, "999.999.999.999 and 123-4567"),  # ip-shaped + phone-shaped
        ],
        "id long, text string",
    )
    rows = {r["id"]: r for r in C.scrub_pii(df, "id", "text").collect()}
    assert rows[1]["n_emails"] == 1
    assert rows[1]["n_ips"] == 1
    assert rows[1]["n_phones"] == 1
    assert rows[1]["clean_text"] == "mail <EMAIL> then <IP> call <PHONE> end"
    assert rows[2]["clean_text"] == "no pii here at all"
    assert (rows[2]["n_emails"], rows[2]["n_ips"], rows[2]["n_phones"]) == (0, 0, 0)
    # The scrubber is syntactic: 999.* still matches the IPv4 shape (range
    # validation is out of scope, as in most corpus scrubbers).
    assert rows[3]["n_ips"] == 1 and rows[3]["n_phones"] == 1


def test_segment_dedup_keep_first_and_reassembly(spark):
    # doc 1 and doc 2 share their first segment; doc 2 keeps only its tail.
    # doc 3 is a full duplicate of doc 1 -> everything dropped, clean_text ''.
    seg1 = "a b c"
    df = spark.createDataFrame(
        [
            (1, f"{seg1} x y z"),
            (2, f"{seg1} p q r"),
            (3, f"{seg1} x y z"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in C.segment_dedup(df, "doc_id", "text", seg=3).collect()
    }
    assert out[1]["segments_kept"] == 2 and out[1]["clean_text"] == "a b c x y z"
    assert out[2]["segments_kept"] == 1 and out[2]["clean_text"] == "p q r"
    assert out[3]["segments_kept"] == 0 and out[3]["clean_text"] == ""
    assert all(out[i]["n_segments"] == 2 for i in (1, 2, 3))


def test_decontaminate_flags_only_overlapping_docs(spark):
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated words in this one sentence"),
            (3, "short"),  # fewer tokens than n -> no ngrams, never flagged
        ],
        "doc_id long, text string",
    )
    eval_set = spark.createDataFrame(
        [(100, "quick brown fox jumps over and more")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in C.decontaminate(train, eval_set, "doc_id", "text", n=5).collect()
    }
    assert out[1]["contaminated"] and out[1]["n_hit_ngrams"] == 1
    assert not out[2]["contaminated"] and out[2]["n_hit_ngrams"] == 0
    assert not out[3]["contaminated"]
    assert set(out) == {1, 2, 3}  # every train doc present


def test_decontaminate_nonascii_whitespace_matches_engines(spark):
    """Python's Unicode-aware \\s must NOT be used as the tokenizer: both
    the replaced JVM F.split and the DuckDB oracle treat NBSP as a TOKEN
    character, not whitespace (ASCII-only \\s). A doc where NBSP-joined
    words straddle an n-gram must tokenize the engine way (review r4)."""
    import duckdb

    # "alpha<NBSP>beta" is ONE token to Java/RE2; 5 space-separated tokens
    # follow so the doc has exactly one 5-gram under engine semantics.
    text = "alpha\xa0beta one two three four"
    train = spark.createDataFrame([(1, text)], "doc_id long, text string")
    eval_set = spark.createDataFrame([(2, text)], "doc_id long, text string")
    row = C.decontaminate(train, eval_set, "doc_id", "text", n=5).collect()[0]
    n_grams_duck = duckdb.sql(
        "SELECT count(DISTINCT g) FROM ("
        "  SELECT array_to_string(tk[i : i + 4], ' ') AS g FROM ("
        f"    SELECT list_filter(regexp_split_to_array('{text}', '\\s+'),"
        "          x -> x <> '') AS tk"
        "  ) s, unnest(range(1, greatest(len(tk) - 4, 0) + 1)) AS u(i))"
    ).fetchone()[0]
    # engine tokenization: ["alpha\xa0beta","one","two","three","four"] ->
    # exactly ONE 5-gram; a Unicode-aware splitter would see 6 tokens and
    # report 2 shared grams.
    assert row["n_hit_ngrams"] == n_grams_duck == 1


def test_decontaminate_vectorized_kernel_matches_naive(spark):
    """The r12 Arrow-vectorized decontaminate kernel must reproduce the
    per-doc Python loop it replaced, bit-for-bit, on the adversarial
    tokenizer/window edges: ASCII whitespace the class must split on
    (\\v, \\f, \\r, \\t), non-ASCII whitespace it must NOT split on
    (NBSP, U+2000, ideographic space, ZWSP), NULL/empty/all-whitespace
    docs, sub-n docs, repeated grams (distinct counting), and —
    critical to the flattened-window formulation — grams that would
    match only across a document boundary."""
    import re

    n = 3
    train_rows = [
        (1, "a b c"),  # boundary probe: "b c d" must NOT form
        (2, "d e f"),  # across docs 1|2
        (3, "x y x y x y"),  # repeated grams -> distinct count
        (4, None),
        (5, ""),
        (6, " \t\x0b\f\r "),  # all ASCII whitespace -> no tokens
        (7, "p\x0bq\fr\ts u"),  # \v \f \t split -> p q r s u
        (8, "m\xa0n o p q"),  # NBSP glues m&n into one token
        (9, "g h　i j k l"),  # U+2000/ideographic glue
        (10, "zw​sp one two"),  # ZWSP inside a token
        (11, "a b"),  # shorter than n
    ]
    eval_rows = [
        (100, "b c d"),  # boundary gram — only via doc 1|2 concat
        (101, "x y x"),
        (102, "y x y"),
        (103, "p q r"),
        (104, "m\xa0n o p"),
        (105, "g h　i j"),
        (106, "zw​sp one two"),
    ]
    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    ev = spark.createDataFrame(eval_rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_hit_ngrams"], r["contaminated"])
        for r in C.decontaminate(train, ev, "doc_id", "text", n=n).collect()
    }

    # the replaced kernel's exact semantics, reimplemented naively
    ws = re.compile(r"\s+", re.ASCII)

    def grams(t):
        tk = [x for x in ws.split(t) if x]
        return {" ".join(tk[i : i + n]) for i in range(len(tk) - n + 1)}

    evg = set().union(*(grams(t) for _, t in eval_rows))
    expect = {
        i: (len(grams(t) & evg) if t is not None else 0,
            bool(grams(t) & evg) if t is not None else False)
        for i, t in train_rows
    }
    assert got == expect
    assert got[1] == (0, False) and got[2] == (0, False)  # boundary mask
    assert got[3] == (2, True)  # distinct, not per-occurrence


def test_decontaminate_chunked_pass_identical(spark, monkeypatch):
    """The kernel's bounded window chunks must not change the result. A
    4-window chunk splits every batch into several chunks. All ten of
    doc 1's 3-grams are eval grams, so wherever the doc lands in its
    batch, hits include windows whose tokens straddle a chunk
    boundary; "c d t0" only forms across a document boundary."""
    n = 3
    doc1 = " ".join(f"t{i}" for i in range(12))
    train = spark.createDataFrame(
        [(1, doc1), (2, "a b c d"), (3, "t3 t4 t5 t6 z"), (4, "x y")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, doc1), (101, "c d t0")], "doc_id long, text string"
    )

    def run():
        return {
            r["doc_id"]: (r["n_hit_ngrams"], r["contaminated"])
            for r in C.decontaminate(train, ev, "doc_id", "text", n=n).collect()
        }

    baseline = run()  # production chunk: one chunk per batch
    monkeypatch.setattr(C, "_WINDOW_CHUNK", 4)
    chunked = run()
    assert chunked == baseline
    assert baseline == {1: (10, True), 2: (0, False), 3: (2, True), 4: (0, False)}


def test_epoch_shard_manifest_conservation(spark):
    # 3 docs x epochs (2, 2, 1) = 5 replica rows; shard totals must
    # conserve rows and tokens, and n_docs per shard <= docs overall.
    df = spark.createDataFrame(
        [("a", 1, "x y"), ("a", 2, "z"), ("b", 3, "w v u")],
        "source string, doc_id long, text string",
    )
    out = C.epoch_shard_manifest(
        df,
        "source",
        "doc_id",
        F.size(F.split("text", " ")),
        F.when(F.col("source") == "a", 2).otherwise(1),
        n_shards=4,
    ).collect()
    assert sum(r["n_rows"] for r in out) == 5
    # tokens: doc1 (2 tokens x2) + doc2 (1 x2) + doc3 (3 x1) = 9
    assert sum(r["total_tokens"] for r in out) == 9
    assert all(0 <= r["shard_id"] < 4 for r in out)
    assert all(r["n_docs"] <= 3 for r in out)


def test_repeated_ngram_stats_counts_cross_doc_spans(spark):
    # docs 1 and 2 share exactly one 3-gram ("a b c"); doc 3 is too short
    # for any 3-gram but must still appear with zeros.
    df = spark.createDataFrame(
        [
            (1, "a b c d"),   # grams: "a b c", "b c d"
            (2, "z a b c"),   # grams: "z a b", "a b c"
            (3, "x y"),       # no 3-grams
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in C.repeated_ngram_stats(df, "doc_id", "text", n=3).collect()
    }
    assert out[1]["n_ngrams"] == 2 and out[1]["n_shared"] == 1
    assert out[2]["n_ngrams"] == 2 and out[2]["n_shared"] == 1
    assert out[1]["shared_frac"] == 0.5
    assert out[3]["n_ngrams"] == 0 and out[3]["shared_frac"] == 0.0


def test_mix_to_budget_respects_budgets(spark):
    # Two sources, equal weights, 10 tokens total, budget_num/den = 1/2 =>
    # 5 tokens split by weight => 2 each (integer floor of 2.5); each doc
    # is 1 token, so each source keeps exactly 2 docs.
    rows = [(f"s{j}", i + 10 * j, "tok") for j in range(2) for i in range(5)]
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")
    out = C.mix_to_budget(
        df,
        "source",
        "doc_id",
        F.lit(1),
        F.lit(1),
    ).collect()
    assert {r["source"]: r["docs_kept"] for r in out} == {"s0": 2, "s1": 2}
    assert all(r["tokens_kept"] == 2 and r["budget_tokens"] == 2 for r in out)


def test_best_survivor_dedup_picks_quality_then_min_id(spark):
    from billing_data_pipeline_spark.operators.dedup import best_survivor_dedup

    # Docs 1/2 normalize identically (punctuation differs); doc 2 gets the
    # higher score -> keep 2. Docs 3/4 also normalize identically and TIE
    # on score -> min id (3) wins.
    df = spark.createDataFrame(
        [
            (1, "same text!!"),
            (2, "same;;;text"),
            (3, "tie words here"),
            (4, "tie, words... here"),
        ],
        "doc_id long, text string",
    )
    score = (
        F.when(F.col("doc_id") == 2, 2.0)
        .when(F.col("doc_id").isin(3, 4), 1.0)
        .otherwise(0.5)
    )
    out = best_survivor_dedup(df, "doc_id", "text", score).collect()
    assert len(out) == 2
    assert all(r["copies"] == 2 for r in out)
    keep = {r["keep_id"]: r["keep_score"] for r in out}
    assert keep == {2: 2.0, 3: 1.0}


def test_assign_split_partitions_every_row_stably(spark):
    from billing_data_pipeline_spark.operators.sampling import assign_split

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    out = df.withColumn("split", assign_split(F.col("doc_id")))
    counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    # every row labeled, all three splits non-empty at this size,
    # train dominates (90/5/5 cut)
    assert sum(counts.values()) == 500
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # stability: the same ids get the same split on a fresh computation
    again = {
        r["doc_id"]: r["split"]
        for r in df.withColumn("split", assign_split(F.col("doc_id"))).collect()
    }
    first = {r["doc_id"]: r["split"] for r in out.collect()}
    assert first == again


def test_leakage_safe_split_keeps_duplicate_groups_together(spark):
    from billing_data_pipeline_spark.operators.dedup import normalized_text
    from billing_data_pipeline_spark.operators.portable_dedup import portable_hash60
    from billing_data_pipeline_spark.operators.sampling import assign_split

    # many duplicate groups, each with formatting-variant copies — every
    # copy must land in its group's split
    rows = []
    for g in range(60):
        rows.append((3 * g, f"group {g} words here"))
        rows.append((3 * g + 1, f"GROUP {g} words... here"))
        rows.append((3 * g + 2, f"group   {g} WORDS here!!"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = df.withColumn(
        "split", assign_split(portable_hash60(normalized_text("text")))
    ).collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["doc_id"] // 3, set()).add(r["split"])
    assert all(len(s) == 1 for s in by_group.values())
    # and the cut still produces more than one split across groups
    assert len({next(iter(s)) for s in by_group.values()}) >= 2


def test_sampling_sql_edges_and_shared_mixer(spark):
    """Review r5 regressions: empty rates must not emit a WHEN-less CASE
    (a SQL syntax error while the engine twin succeeds),
    per_group_sample_sql's default cols='*' must not leak sample_rank,
    and the shared mix_rank helpers must equal the hash_bucket mixer."""
    import duckdb

    from billing_data_pipeline_spark.operators.sampling import (
        mix_rank_sql,
        per_group_sample_sql,
        stratified_sample,
        stratified_sample_sql,
        MIX_MULT,
        MIX_PRIME,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT range AS k, range % 3 AS g FROM range(30)")
    r = con.execute(per_group_sample_sql("t", "k", "g", 2))
    assert [d[0] for d in r.description] == ["k", "g"]  # no sample_rank leak
    assert len(r.fetchall()) == 6

    assert con.execute(stratified_sample_sql("t", "k", "g", {})).fetchall() == []
    df = spark.createDataFrame([(1, "a")], "k long, g string")
    assert stratified_sample(df, "k", "g", {}).count() == 0  # engine twin agrees

    # shared mixer == the documented algebra, negative keys included
    got = con.execute(
        f"SELECT {mix_rank_sql('k', 17)} FROM (SELECT -12345 AS k)"
    ).fetchone()[0]
    assert got == ((((-12345 + 17) % MIX_PRIME) + MIX_PRIME) % MIX_PRIME * MIX_MULT) % MIX_PRIME


def test_date_spine_edges_and_url_fragment(spark):
    """Review r7: date_spine yields the EMPTY spine for end<start (the
    reference loop's behavior, not a mid-job sequence error);
    hive_partition_value stops at a URL fragment delimiter like it
    already stops at '?'/'&'."""
    from billing_data_pipeline_spark.functions.scalars import (
        date_spine,
        hive_partition_value,
    )

    assert date_spine(spark, "2024-01-05", "2024-01-01").count() == 0
    assert date_spine(spark, "2024-01-01", "2024-01-03").count() == 3

    got = (
        spark.createDataFrame(
            [("https://h/p/day=2024-01-01#frag",)], "p string"
        )
        .select(hive_partition_value("p", "day").alias("v"))
        .collect()[0]["v"]
    )
    assert got == "2024-01-01"


def test_epoch_shard_key_survives_int_typed_ids(spark):
    """Review r7: the shard key multiplied an IntegerType id by 31 in int
    arithmetic — silent wraparound above 2^31/31 scrambled shard
    assignment while the BIGINT oracle computed the true value. The cast
    makes a large int id shard identically to the same value as a long."""
    from billing_data_pipeline_spark.operators.curation import (
        epoch_shard_manifest,
    )

    big = 100_000_000  # > 2^31/31: wraps without the cast
    as_int = spark.createDataFrame(
        [("web", big, 5, 1)], "src string, doc_id int, toks int, epochs int"
    )
    as_long = spark.createDataFrame(
        [("web", big, 5, 1)], "src string, doc_id long, toks int, epochs int"
    )
    r_int = epoch_shard_manifest(
        as_int, "src", "doc_id", F.col("toks"), F.col("epochs")
    ).collect()
    r_long = epoch_shard_manifest(
        as_long, "src", "doc_id", F.col("toks"), F.col("epochs")
    ).collect()
    assert [r.asDict() for r in r_int] == [r.asDict() for r in r_long]


def test_per_group_sample_rejects_reserved_column(spark):
    """Review r7: an input column named sample_rank would be silently
    replaced then dropped — the guard fails loudly instead."""
    import pytest

    from billing_data_pipeline_spark.operators.sampling import per_group_sample

    df = spark.createDataFrame([(1, "a", 9)], "k long, g string, sample_rank int")
    with pytest.raises(ValueError, match="sample_rank"):
        per_group_sample(df, "k", "g", 1)


def test_null_text_docs_emit_zero_chunks_both_engines(spark, tmp_path):
    """r10 regression (found by the skewhot∘null composed probe): DuckDB's
    least()/greatest() IGNORE NULL arguments, so the r9 slice-free chunk
    oracle emitted ONE phantom empty chunk per NULL-text document —
    least(chunk, NULL - s) = chunk rode past the n > 0 guard — while
    Spark's chunk_tokens emits none. Pins the NULL/empty/whitespace
    zero-segment contract across chunk_tokens_oracle_sql,
    segment_dedup_sql, boilerplate_strip_sql, and pack_chunks_oracle_sql
    on a fixture where every class is present."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from billing_data_pipeline_spark.operators.text import (
        chunk_tokens,
        chunk_tokens_oracle_sql,
        pack_chunks,
        pack_chunks_oracle_sql,
    )
    from .oracle import assert_matches_oracle

    rows = [
        (1, None),
        (2, ""),
        (3, "   "),
        (4, "one two three four five six seven eight nine ten eleven"),
        (5, "shared words here"),
        (6, "shared words here"),
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

    chunks = chunk_tokens(docs, "doc_id", "text", 10, 10)
    got_ids = {r["doc_id"] for r in chunks.collect()}
    assert got_ids == {4, 5, 6}  # NULL/empty/whitespace: zero chunks
    assert_matches_oracle(
        chunks,
        chunk_tokens_oracle_sql("documents", "doc_id", "text", 10, 10),
        str(tmp_path),
    )
    assert_matches_oracle(
        C.segment_dedup(docs, "doc_id", "text", seg=10),
        C.segment_dedup_sql("documents", "doc_id", "text", 10),
        str(tmp_path),
    )
    assert_matches_oracle(
        C.boilerplate_strip(docs, "doc_id", "text", seg=10, max_df=1),
        C.boilerplate_strip_sql("documents", "doc_id", "text", 10, 1),
        str(tmp_path),
    )
    assert_matches_oracle(
        pack_chunks(
            chunk_tokens(docs, "doc_id", "text", 10, 10).drop("chunk_text"),
            capacity=16,
        ),
        pack_chunks_oracle_sql("documents", "doc_id", "text", 10, 16),
        str(tmp_path),
    )


def test_decontaminate_bloom_equals_exact_tier(spark):
    """r10: the bloom tier is exact by construction (prefilter + string
    confirm; no false negatives) — pin bit-equality with the set tier on
    real data, plus the empty-eval and NULL-text edges."""
    from .conftest import SF_SMOKE
    from billing_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    tr = docs.filter(F.col("doc_id") % 20 != 0)
    exact = {
        tuple(r)
        for r in C.decontaminate(tr, ev, "doc_id", "text", n=5).collect()
    }
    bloom = {
        tuple(r)
        for r in C.decontaminate_bloom(tr, ev, "doc_id", "text", n=5).collect()
    }
    assert bloom == exact
    assert any(r[2] for r in bloom)  # the fixture genuinely contaminates

    empty_ev = ev.filter(F.lit(False))
    out = C.decontaminate_bloom(tr, empty_ev, "doc_id", "text", n=5).collect()
    assert len(out) == tr.count() and not any(r["contaminated"] for r in out)

    nulls = spark.createDataFrame(
        [(1, None), (2, "a b c d e f g")], "doc_id long, text string"
    )
    out2 = {
        r["doc_id"]: r["contaminated"]
        for r in C.decontaminate_bloom(
            nulls, nulls.filter("doc_id = 2"), "doc_id", "text", n=5
        ).collect()
    }
    assert out2 == {1: False, 2: True}
