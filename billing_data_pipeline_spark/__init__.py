"""billing_data_pipeline_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference pipeline (brylie/billing-data-pipeline: a Dagster-orchestrated,
DuckDB-backed incremental billing ETL), re-expressed Spark-first:

- DataFrame / SQL logical plans, Catalyst/Tungsten physical execution
- idempotent incremental ingest (anti-join dedup + content-hash ledger)
- materialized group-by aggregate tables + top-k insight reports
- Structured Streaming operators for event-time windows and stateful rollups
- [EXT] LLM-data-pipeline operators: dedup (exact/MinHash/SimHash),
  similarity search, text analysis, multimodal binary columns

Layout:
    session.py    SparkSession factory (AQE, UTC, Arrow)
    registry.py   query catalog powering __spark_entry__ and bench.py
    sources/      scans: parquet tables, Hive-partitioned CSV, path ranges
    operators/    aggregates, ingest/dedup, top-k, windows, text, similarity
    functions/    scalar column helpers (hashing, dates, JSON)
    plans/        the registered query catalog (billing + extensions)
    streaming/    Structured Streaming surface (event windows, stateful rollups)
"""

__version__ = "0.1.0"
