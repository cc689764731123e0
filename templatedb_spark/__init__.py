"""templatedb_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of devillove084/TemplateDB, re-expressed Spark-first.

The reference (see SURVEY.md) is a single-node Rust SQL engine over Arrow batches
plus an LSM KV store. Here the entire binder/optimizer/executor stack collapses
into Catalyst; this package provides the *surface*:

- :mod:`templatedb_spark.session`   — tuned SparkSession factory (AQE, Arrow, shuffle sizing)
- :mod:`templatedb_spark.catalog`   — table registration (parquet/CSV), `main` namespace
- :mod:`templatedb_spark.engine`    — `Engine.sql()` entry with reference-semantics shims
- :mod:`templatedb_spark.operators` — relational helpers + LLM-data-pipeline operators
  (dedup, similarity search, text stats, multimodal)
- :mod:`templatedb_spark.sources`   — read_csv TVF, parquet, in-memory tables
- :mod:`templatedb_spark.functions` — scalar function registry, introspection TVFs,
  cross-engine deterministic hashing
- :mod:`templatedb_spark.plans`     — plan inspection (pushdown / codegen assertions)
- :mod:`templatedb_spark.kv`       — keyed-table KV layer (put/get/scan/snapshot parity
  with the reference storage engine, re-expressed over versioned parquet)
- :mod:`templatedb_spark.streaming` — Structured Streaming over the events table
"""

from templatedb_spark.session import build_session, EngineConfig
from templatedb_spark.engine import Engine

__version__ = "0.1.0"
__all__ = ["build_session", "EngineConfig", "Engine", "__version__"]
