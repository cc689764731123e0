"""In-memory tables (reference: storage/memory.rs InMemoryTable;
VALUES / ExpressionScan: execution/volcano_executor/expression_scan.rs).

Every driver-side row set enters Spark here: catalog tables (`ddl.Catalog`
CREATE TABLE and INSERT ... VALUES), the introspection table functions, KV
write batches and the operators' small broadcast relations (the cosine
block pairs, the k-means centroid fingerprints).
Each becomes a JVM-side `LocalRelation`, so evaluating it never starts a
Python worker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType


def _struct(schema: str | StructType) -> StructType:
    """A DDL schema string ("k int, v decimal(38,0)") or a StructType, as a
    StructType. Parsed by Spark's DDL parser: a split on commas would cut
    `decimal(p,s)` in two."""
    if isinstance(schema, StructType):
        return schema
    return DataType.fromDDL(schema)


def local_df(spark: SparkSession, rows: list, schema: str | StructType) -> DataFrame:
    """Driver-local rows → DataFrame through the Arrow path.

    `createDataFrame(list)` parallelizes PICKLED python rows: every
    downstream evaluation spins Python workers to unpickle them (measured
    r10: ~400 ms per tiny KV batch on local[32] vs ~60 ms via Arrow — the
    dominant per-trigger cost of the streaming KV chains). Routing the same
    rows through pandas + Arrow creates a `LocalRelation`: no Python
    workers at eval, guide §4's "eliminate the JVM↔Python boundary" applied
    to the control-plane writes and the catalog tables. Falls back to the
    classic path when Arrow conversion cannot represent the values (e.g.
    lone-surrogate strings from the crash fuzz) — same semantics, old speed.
    """
    import pandas as pd

    struct = _struct(schema)
    if not rows:
        return empty_df(spark, struct)
    try:
        # session.py pins arrow.pyspark.enabled=true at build; setting it
        # HERE would silently mutate the caller's shared session conf on
        # every control-plane write (ADVICE r10). A session that disabled
        # Arrow converts through the classic pandas path — same semantics,
        # pre-r10 speed.
        df = spark.createDataFrame(
            pd.DataFrame(rows, columns=struct.names, dtype=object), struct
        )
    except Exception:
        df = spark.createDataFrame(rows, struct)
    # driver-local rows are by definition driver-sized: one task beats the
    # default defaultParallelism × 1-row slices (32 scheduled tasks each)
    return df.coalesce(1)


def empty_df(spark: SparkSession, schema: str | StructType) -> DataFrame:
    """0-row DataFrame that the optimizer turns into an empty `LocalRelation`
    (`LIMIT 0` over a one-row source), which then drops out of a union: the
    CREATE TABLE base of a catalog table schedules no task. Both
    `createDataFrame([], schema)` (an empty PICKLED rdd across
    defaultParallelism slices) and `range(0)` (a `Range` the optimizer keeps)
    schedule one no-op task per slice on every evaluation."""
    return spark.range(1).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in _struct(schema).fields]
    ).limit(0)
