"""Catalog: table registration for the engine.

Mirrors two reference behaviors (SURVEY.md §1.3):

- the slt harness auto-registers CSV files as tables named by file stem
  (reference: tests/sql_logic/src/lib.rs:10-22);
- the v2 engine has a DuckDB-style default schema ``main``
  (reference: src/query_engine/src/main_entry/db.rs:23-34).

On Spark both collapse to temp views over `spark.read` DataFrames — Catalyst then
owns projection/filter pushdown into the scans. `register_sf_dir` wires up the
driver's TPC-H-ish parquet tables for query entry points, tests, and bench.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# The driver's synthetic star schema (TESTDATA.md).
SF_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register_parquet_dir(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = SF_TABLES) -> dict[str, DataFrame]:
    """Register every `{table}.parquet` under `sf_dir` as a temp view.

    Returns the table-name → DataFrame mapping. Views are plain scans; Catalyst
    pushes filters/projections into the parquet reader per consuming query.
    """
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = spark.read.parquet(path)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def register_csv_dir(spark: SparkSession, csv_dir: str, header: bool = True) -> dict[str, DataFrame]:
    """Auto-register every CSV under `csv_dir` as a table named by file stem,
    with schema inference — the reference slt harness contract
    (tests/sql_logic/src/lib.rs:10-22; inference via arrow CSV, storage/csv.rs:100-105).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    out: dict[str, DataFrame] = {}
    for p in sorted(Path(csv_dir).glob("**/*.csv")):
        df = spark.read.csv(str(p), header=header, inferSchema=True)
        # arrow-CSV semantics (the reference's reader): an empty field in a
        # string column is the empty string, not NULL; numeric stays NULL
        # (reference fixture: employee.csv row 4, FIXTURES.md §1/§4)
        df = df.select(
            *[
                F.coalesce(F.col(f.name), F.lit("")).alias(f.name)
                if isinstance(f.dataType, StringType)
                else F.col(f.name)
                for f in df.schema.fields
            ]
        )
        df.createOrReplaceTempView(p.stem)
        out[p.stem] = df
    return out

