"""etl_for_dumdums_spark — a PySpark-native analytics engine.

A brand-new engine with the query/data-processing capabilities of the
reference ELT+analytics pipeline (emily-flambe/etl-for-dumdums), re-expressed
Spark-first: DataFrame/SQL plans optimized by Catalyst, parquet scans with
pushdown, broadcast joins for small dims, window functions for all
rank/rolling semantics, and Arrow-batched Pandas UDFs only where built-ins
cannot express the operation.

Layout:
  session.py   — SparkSession factory (AQE on, UTC, local-tuned shuffle)
  functions.py — scalar helper library (safe_divide, clean_html, week_start…)
  io.py        — read/write + join-based MERGE upsert with schema evolution
  runner.py    — topo-sorted model-DAG executor (replaces dbt build)
  checks.py    — unique/not_null/accepted_values/relationships/range checks
  catalog/     — the operator inventory (SURVEY.md §2) as named queries,
                 each paired with a DuckDB oracle SQL string
  operators/   — reusable large-scale operators: dedup, similarity, text,
                 multimodal plumbing (PNG/GIF/BMP/ICO + WAV/AIFF/AU
                 decode, raw RGB8/PCM1 kernels)
  sources/     — Source connector contract + parquet/synthetic connectors
  models/      — reference dbt DAG re-expressed as DataFrame builders
  streaming/   — Structured Streaming surface over the events table
"""

__version__ = "0.1.0"
