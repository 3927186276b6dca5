"""The python -m billing_data_pipeline_spark CLI (engine __main__)."""

import json

from billing_data_pipeline_spark.__main__ import main

from .test_pipeline_e2e import _write_lake


def test_cli_run_and_insights(spark, tmp_path, capsys):
    lake, _n = _write_lake(tmp_path)
    wh = str(tmp_path / "wh")

    rc = main(["run", "--source", str(lake), "--warehouse", wh])
    assert rc == 0
    out, err = capsys.readouterr()
    metrics = json.loads(out)
    assert metrics["ingest"]["rows_appended"] > 0
    assert "daily_aggs_rows" in metrics["aggregates"]
    assert metrics["raw_version"] == 0  # the raw_billing version reported on
    assert "Billing Insights" in err or "##" in err  # report on stderr

    rc = main(["insights", "--warehouse", wh])
    assert rc == 0
    out, err = capsys.readouterr()
    assert json.loads(out)  # metrics dict


def test_cli_curate_writes_deterministic_shards(spark, tmp_path, capsys):
    from .conftest import SF_SMOKE

    out1 = str(tmp_path / "corpus1")
    out2 = str(tmp_path / "corpus2")
    docs = f"{SF_SMOKE}/documents.parquet"
    for out in (out1, out2):
        rc = main(["curate", "--docs", docs, "--out", out, "--shards", "4"])
        assert rc == 0
    m1, m2 = (json.loads(line) for line in capsys.readouterr()[0].strip().splitlines())
    assert m1["chunks_written"] > 0 and m1["docs_kept"] <= m1["docs_in"]
    # conservation: shard manifest sums to the written totals
    assert sum(s["n_chunks"] for s in m1["shards"].values()) == m1["chunks_written"]
    assert sum(s["n_tokens"] for s in m1["shards"].values()) == m1["tokens_written"]
    # determinism: re-running produces the identical shard membership
    assert {k: v for k, v in m1["shards"].items()} == m2["shards"]
    # leakage-safe split labels: all chunks labeled, train dominates
    assert sum(m1["splits"].values()) == m1["chunks_written"]
    assert m1["splits"]["train"] == max(m1["splits"].values())
    assert m1["splits"] == m2["splits"]
    df1 = spark.read.parquet(out1).orderBy("doc_id", "chunk_idx")
    df2 = spark.read.parquet(out2).orderBy("doc_id", "chunk_idx")
    assert df1.collect() == df2.collect()


def test_curate_corpus_survives_everything_filtered(spark, tmp_path):
    """Zero surviving chunks (here: no docs in the requested language)
    must yield a zero-count metrics dict, not UNABLE_TO_INFER_SCHEMA from
    the empty partitioned write's read-back (review r4)."""
    from billing_data_pipeline_spark.curate import curate_corpus

    docs = spark.createDataFrame(
        [(1, "some english text here", "en")],
        "doc_id long, text string, lang string",
    )
    m = curate_corpus(spark, docs, str(tmp_path / "empty_corpus"), lang="xx")
    assert m["docs_in"] == 1
    assert m["docs_kept"] == 0
    assert m["chunks_written"] == 0 and m["tokens_written"] == 0
    assert m["shards"] == {} and m["splits"] == {}


def test_cli_stream_drains_lake(spark, tmp_path, capsys):
    lake, n = _write_lake(tmp_path)
    wh = str(tmp_path / "swh")
    rc = main(
        [
            "stream",
            "--source", lake,
            "--warehouse", wh,
            "--checkpoint", str(tmp_path / "ckpt"),
        ]
    )
    assert rc == 0
    out, _ = capsys.readouterr()
    assert json.loads(out)["stream"] == "drained"
    assert spark.read.parquet(f"{wh}/raw_billing").count() == n
