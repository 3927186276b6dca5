"""Property-based tests (hypothesis): operator semantics checked against
naive Python reference implementations on randomized inputs — coverage the
reference repo never had (SURVEY.md §5: 'no property-based/randomized
testing')."""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from billing_data_pipeline_spark.operators.asof import asof_join_backward
from billing_data_pipeline_spark.operators.windows import sessionize

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

events = st.lists(
    st.tuples(
        st.integers(0, 2),        # entity
        st.integers(0, 5000),     # ts offset seconds (collisions likely)
        st.integers(0, 999),      # payload
    ),
    min_size=1,
    max_size=25,
)


def _ts(off):
    return datetime(2025, 1, 1) + timedelta(seconds=off)


@SLOW
@given(left=events, right=events)
def test_asof_matches_naive_reference(spark, left, right):
    # unique right (entity, ts): as-of is only defined with unique right
    # timestamps; keep max payload per key like callers must.
    rmap = {}
    for e, t, v in right:
        rmap[(e, t)] = max(v, rmap.get((e, t), -1))
    rrows = [(e, _ts(t), float(v)) for (e, t), v in rmap.items()]
    lrows = [(i, e, _ts(t)) for i, (e, t, _) in enumerate(left)]

    ldf = spark.createDataFrame(lrows, "row_id long, user_id long, ts timestamp")
    rdf = spark.createDataFrame(rrows, "user_id long, ts timestamp, value double")
    got = {
        r["row_id"]: r["asof_value"]
        for r in asof_join_backward(ldf, rdf, "user_id", "ts", ["value"]).collect()
    }

    for i, (e, t, _) in enumerate(left):
        cands = [(tt, v) for (ee, tt), v in rmap.items() if ee == e and tt <= t]
        expected = float(max(cands)[1]) if cands else None
        assert got[i] == expected, (i, e, t, cands)


@SLOW
@given(data=events, gap=st.integers(1, 600))
def test_sessionize_matches_naive_gap_split(spark, data, gap):
    rows = [(e, _ts(t), i) for i, (e, t, _) in enumerate(data)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    got = sessionize(df, "user_id", "ts", "event_id", gap)
    n_sessions = (
        got.select("user_id", "session_seq").distinct().count()
    )

    # naive: per entity, sort by (ts, id); new session when delta > gap
    # (session_window merges touching windows — exact-gap events extend,
    # verified against the native operator in test_operators.py)
    by_e = {}
    for e, t, i in rows:
        by_e.setdefault(e, []).append((t, i))
    expected = 0
    for seq in by_e.values():
        seq.sort()
        expected += 1 + sum(
            1
            for a, b in zip(seq, seq[1:])
            if (b[0] - a[0]).total_seconds() > gap
        )
    assert n_sessions == expected


token_lists = st.lists(
    st.text(alphabet="abc", min_size=1, max_size=3), min_size=0, max_size=20
)


@SLOW
@given(tokens=token_lists, chunk=st.integers(1, 8), overlap=st.integers(0, 7))
def test_chunk_tokens_covers_every_token(spark, tokens, chunk, overlap):
    """For any stride <= chunk: chunk starts are exact stride multiples,
    every token appears in at least one chunk, no chunk exceeds the window,
    and with stride == chunk the chunks partition the document exactly."""
    from billing_data_pipeline_spark.operators.text import chunk_tokens

    stride = max(1, chunk - min(overlap, chunk - 1))  # 1 <= stride <= chunk
    df = spark.createDataFrame([("d", " ".join(tokens))], "doc_id string, text string")
    out = sorted(
        chunk_tokens(df, chunk=chunk, stride=stride).collect(),
        key=lambda r: r.chunk_idx,
    )
    if not tokens:
        assert out == []
        return
    assert [r.chunk_idx for r in out] == list(range(len(out)))
    covered = []
    for r in out:
        got = r.chunk_text.split(" ")
        start = r.chunk_idx * stride
        assert got == tokens[start : start + chunk]
        assert 1 <= r.n_chunk_tokens <= chunk
        covered.extend(range(start, start + len(got)))
    assert set(covered) == set(range(len(tokens)))
    if stride == chunk:  # non-overlapping: exact partition
        assert " ".join(r.chunk_text for r in out) == " ".join(tokens)


@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40
        ),
        min_size=1,
        max_size=8,
        unique=True,
    )
)
def test_portable_hash60_matches_md5_for_arbitrary_unicode(spark, texts):
    """portable_hash60 must equal int(md5(utf8)[:15], 16) for ANY unicode
    payload — the invariant every portable dedup tier's oracle parity
    rests on."""
    import hashlib

    from pyspark.sql import functions as F

    from billing_data_pipeline_spark.operators.portable_dedup import portable_hash60

    df = spark.createDataFrame([(t,) for t in texts], ["s"])
    got = {
        r["s"]: r["h"]
        for r in df.select("s", portable_hash60(F.col("s")).alias("h")).collect()
    }
    for s in texts:
        assert got[s] == int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


pii_texts = st.lists(
    st.text(
        alphabet=st.characters(
            codec="ascii", categories=("L", "N", "P", "Z")
        ),
        max_size=60,
    ),
    min_size=1,
    max_size=8,
)


@SLOW
@given(texts=pii_texts)
def test_scrub_pii_idempotent(spark, texts):
    """Scrubbing is a projection to a fixed point: scrub(scrub(x)) ==
    scrub(x) and the second pass finds zero hits — the redaction tokens
    must never themselves match a PII pattern."""
    from billing_data_pipeline_spark.operators.curation import scrub_pii

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    once = scrub_pii(df, "id", "text").withColumnRenamed("clean_text", "text")
    twice = scrub_pii(once.select("id", "text"), "id", "text")
    rows = twice.collect()
    assert all(
        r["n_emails"] == 0 and r["n_ips"] == 0 and r["n_phones"] == 0
        for r in rows
    )
    first = {r["id"]: r["text"] for r in once.select("id", "text").collect()}
    assert {r["id"]: r["clean_text"] for r in rows} == first


@SLOW
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcd"), min_size=1, max_size=12).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    seg=st.integers(1, 4),
)
def test_segment_dedup_conservation(spark, docs, seg):
    """Kept segments across the corpus == distinct segment count; per doc
    kept <= total; reassembled text only loses whole segments."""
    from billing_data_pipeline_spark.operators.curation import segment_dedup

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    out = segment_dedup(df, "doc_id", "text", seg=seg).collect()
    # naive reference: non-overlapping seg-token windows per doc
    segments = {}
    for i, t in enumerate(docs):
        toks = t.split()
        segments[i] = [
            " ".join(toks[j : j + seg]) for j in range(0, len(toks), seg)
        ]
    distinct = len({s for segs in segments.values() for s in segs})
    assert sum(r["segments_kept"] for r in out) == distinct
    # exact keep-first reference: walk docs in (doc_id, idx) order
    seen: set[str] = set()
    expect = {}
    for i in sorted(segments):
        kept = []
        for s in segments[i]:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        expect[i] = kept
    for r in out:
        i = r["doc_id"]
        assert r["n_segments"] == len(segments[i])
        assert r["segments_kept"] == len(expect[i])
        assert r["clean_text"] == " ".join(expect[i])


@SLOW
@given(
    data=st.lists(
        st.tuples(
            st.integers(0, 2),     # source idx
            st.integers(0, 200),   # doc id (deduped below)
            st.integers(0, 5),     # token count
        ),
        min_size=1,
        max_size=30,
    ),
)
def test_mix_to_budget_matches_naive_greedy(spark, data):
    """The windowed greedy budget mix equals a sequential Python reference
    (same mixer ordering, same integer budget arithmetic)."""
    from pyspark.sql import functions as F

    from billing_data_pipeline_spark.operators.curation import mix_to_budget
    from billing_data_pipeline_spark.operators.sampling import MIX_MULT, MIX_PRIME

    rows = {(s, i): t for s, i, t in data}  # dedupe doc ids per source
    rows = [(f"s{s}", i, t) for (s, i), t in sorted(rows.items())]
    seen_ids = set()
    rows = [r for r in rows if not (r[1] in seen_ids or seen_ids.add(r[1]))]
    df = spark.createDataFrame(rows, "source string, doc_id long, tokens long")

    got = {
        r["source"]: (r["budget_tokens"], r["docs_kept"], r["tokens_kept"])
        for r in mix_to_budget(
            df, "source", "doc_id", F.col("tokens"), F.lit(1)
        ).collect()
    }

    total = sum(t for _, _, t in rows)
    sources = sorted({s for s, _, _ in rows})
    W = len(sources)
    expect = {}
    for s in sources:
        budget = (total * 1 * 1) // (W * 2)
        docs = [
            (((i + 17) % MIX_PRIME) * MIX_MULT % MIX_PRIME, i, t)
            for (src, i, t) in rows
            if src == s
        ]
        cum = kept = tok = 0
        for _, _i, t in sorted(docs):
            if cum + t > budget:
                break
            cum += t
            kept += 1
            tok += t
        if kept:
            expect[s] = (budget, kept, tok)
    assert got == expect


@SLOW
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcde"), min_size=1, max_size=10).map(" ".join),
        min_size=2,
        max_size=10,
    ),
    n=st.integers(2, 4),
)
def test_decontaminate_matches_naive_set_logic(spark, docs, n):
    """Broadcast n-gram decontamination equals plain Python set overlap:
    every train doc flagged iff it shares >= 1 word n-gram with the eval
    slice, with the exact distinct-shared count."""
    from billing_data_pipeline_spark.operators.curation import decontaminate

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ev = df.filter("doc_id % 3 = 0")
    tr = df.filter("doc_id % 3 <> 0")
    got = {
        r["doc_id"]: (r["n_hit_ngrams"], r["contaminated"])
        for r in decontaminate(tr, ev, "doc_id", "text", n=n).collect()
    }

    def grams(t):
        toks = t.split()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    ev_grams = set().union(*(grams(t) for i, t in rows if i % 3 == 0))
    expect = {
        i: (len(grams(t) & ev_grams), len(grams(t) & ev_grams) > 0)
        for i, t in rows
        if i % 3 != 0
    }
    assert got == expect


snapshot_rows = st.lists(
    st.tuples(
        st.integers(0, 15),                   # key (collisions likely)
        st.sampled_from(["a", "b", "c"]),     # group
        st.integers(-500, 500),               # measure in cents
    ),
    min_size=0,
    max_size=20,
)


@SLOW
@given(old=snapshot_rows, new=snapshot_rows)
def test_cdc_maintenance_equals_direct_recompute(spark, old, new):
    """diff_snapshots + maintain_rollup == recomputing the rollup from the
    new snapshot, for ANY pair of keyed snapshots (inserts/deletes/updates/
    group moves/no-ops in arbitrary mixture) — the incremental-view algebra
    as a property, not just the one catalog example."""
    from pyspark.sql import functions as F

    from billing_data_pipeline_spark.operators.cdc import (
        diff_snapshots,
        maintain_rollup,
    )

    def dedup(rows):  # snapshots are keyed: last write wins per key
        m = {}
        for k, g, cents in rows:
            m[k] = (k, g, cents / 100.0)
        return list(m.values())

    schema = "k int, g string, x double"
    odf = spark.createDataFrame(dedup(old), schema)
    ndf = spark.createDataFrame(dedup(new), schema)

    base = odf.groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(30,6)")).alias("total"),
    )
    maintained = maintain_rollup(
        base,
        diff_snapshots(odf, ndf, ["k"]),
        "g",
        count_col="n",
        sum_col="total",
        measure_col="x",
    )
    direct = ndf.groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(30,6)")).cast("double").alias("total"),
    )
    got = {r["g"]: (r["n"], r["total"]) for r in maintained.collect()}
    want = {r["g"]: (r["n"], r["total"]) for r in direct.collect()}
    assert got == want
