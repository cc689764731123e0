"""Catalog introspection table functions.

Parity with the reference's v2 table functions (SURVEY.md §2.1):

- ``template_query_tables()`` → (schema_name, schema_oid, table_name, table_oid)
  (reference: function/table/query_tables.rs:14-117; tests/slt/table_function.slt:7-12
  shows schema ``main`` with schema_oid 1)
- ``template_query_columns()`` → ONE ROW PER TABLE:
  (table_name, column_names "[v1, v2, v3]", column_types "[Integer, Integer, Integer]")
  — the reference renders the column/type lists as bracketed varchar strings
  (function/table/query_columns.rs:60-100), and the type names are the
  LogicalType variant names (types/types.rs:9-26 + AsRefStr Display).

On Spark these are tiny driver-side metadata views (same as the reference, which
walks its catalog hash maps), built as JVM-side LocalRelations
(`sources.memory.local_df`). When a DDL :class:`~templatedb_spark.ddl.Catalog`
is supplied, its *declared* logical types are reported (so ``tinyint unsigned``
shows as ``UTinyint``, not the widened storage type); otherwise types derive
from the Spark schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

from templatedb_spark.sources.memory import local_df

# reference type text (ddl._TYPE_MAP keys) → LogicalType variant name
LOGICAL_TYPE_DISPLAY = {
    "boolean": "Boolean",
    "tinyint": "Tinyint",
    "tinyint unsigned": "UTinyint",
    "smallint": "Smallint",
    "smallint unsigned": "USmallint",
    "int": "Integer",
    "integer": "Integer",
    "int unsigned": "UInteger",
    "integer unsigned": "UInteger",
    "bigint": "Bigint",
    "bigint unsigned": "UBigint",
    "float": "Float",
    "double": "Double",
    "varchar": "Varchar",
    "string": "Varchar",
    "date": "Date",
}

# Spark DataType.simpleString() → LogicalType variant name (CTAS / csv tables)
SPARK_TYPE_DISPLAY = {
    "boolean": "Boolean",
    "tinyint": "Tinyint",
    "smallint": "Smallint",
    "int": "Integer",
    "bigint": "Bigint",
    "float": "Float",
    "double": "Double",
    "string": "Varchar",
    "date": "Date",
    "decimal(20,0)": "UBigint",
}


def type_display(type_text: str) -> str:
    t = type_text.strip().lower()
    return LOGICAL_TYPE_DISPLAY.get(t) or SPARK_TYPE_DISPLAY.get(t) or type_text


def _catalog_tables(spark: SparkSession, catalog) -> list[tuple[str, list[tuple[str, str]]]]:
    """(table_name, [(col, display_type)]) — from the DDL catalog if given,
    else from the session's temp views."""
    if catalog is not None:
        return [
            (name, [(d.name, type_display(d.logical_type)) for d in defs])
            for name, defs in sorted(catalog.tables.items())
        ]
    out = []
    for t in sorted(spark.catalog.listTables(), key=lambda t: t.name):
        cols = [
            (c.name, type_display(c.dataType.lower()))
            for c in spark.catalog.listColumns(t.name)
        ]
        out.append((t.name, cols))
    return out


def query_tables(spark: SparkSession, catalog=None) -> DataFrame:
    """template_query_tables(): (schema_name, schema_oid, table_name, table_oid)."""
    rows = [
        ("main", 1, name, i)
        for i, (name, _cols) in enumerate(_catalog_tables(spark, catalog))
    ]
    schema = StructType(
        [
            StructField("schema_name", StringType()),
            StructField("schema_oid", LongType()),
            StructField("table_name", StringType()),
            StructField("table_oid", LongType()),
        ]
    )
    return local_df(spark, rows, schema)


def query_columns(spark: SparkSession, table: str | None = None, catalog=None) -> DataFrame:
    """template_query_columns(): one row per table with bracketed column/type lists."""
    rows = []
    for name, cols in _catalog_tables(spark, catalog):
        if table is not None and name != table:
            continue
        names = "[" + ", ".join(c for c, _ in cols) + "]"
        types = "[" + ", ".join(t for _, t in cols) + "]"
        rows.append((name, names, types))
    schema = StructType(
        [
            StructField("table_name", StringType()),
            StructField("column_names", StringType()),
            StructField("column_types", StringType()),
        ]
    )
    return local_df(spark, rows, schema)
