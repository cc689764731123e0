"""DDL/DML surface — parity with the reference's v2 pipeline.

Covers SURVEY.md §2.1's DDL/DML rows: CREATE TABLE with typed columns
(including the unsigned integer types Spark lacks), INSERT with column
reordering / NULL fill / implicit casts / range checks, CTAS, and COPY FROM.

Type mapping (SURVEY.md §1.4): unsigned ints have no Spark equivalent, so each
widens to the next signed type and the declared *logical* range is enforced at
INSERT time — the reference errors on out-of-range values
(reference: tests/slt/insert_table.slt:81-86, types.rs:9-26 LogicalType):

    TINYINT UNSIGNED  → SMALLINT, range [0, 255]
    SMALLINT UNSIGNED → INT,      range [0, 65535]
    INT UNSIGNED      → BIGINT,   range [0, 4294967295]
    BIGINT UNSIGNED   → DECIMAL(20,0), range [0, 2^64-1]

Everything executes as Spark SQL against the session catalog (default
namespace `main`, mirroring main_entry/db.rs:23-34); the enforcement shim is
binder-level, exactly where the reference does it (insert.rs range checks).

A table is a temp view over a union: an empty base from CREATE TABLE, then
one relation per INSERT. CREATE TABLE and INSERT ... VALUES build their rows
through `sources.memory`, so the view is a union of JVM-side LocalRelations
(the empty base drops out at optimization) and a SELECT over it starts no
Python worker. An INSERT ... SELECT appends the query's own plan.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from templatedb_spark.sources.memory import empty_df, local_df

# reference LogicalType (types.rs:9-26) → (spark type, logical min, logical max)
_TYPE_MAP: dict[str, tuple[str, int | None, int | None]] = {
    "boolean": ("boolean", None, None),
    "tinyint": ("tinyint", -128, 127),
    "tinyint unsigned": ("smallint", 0, 255),
    "smallint": ("smallint", -32768, 32767),
    "smallint unsigned": ("int", 0, 65535),
    "int": ("int", -2147483648, 2147483647),
    "integer": ("int", -2147483648, 2147483647),
    "int unsigned": ("bigint", 0, 4294967295),
    "integer unsigned": ("bigint", 0, 4294967295),
    "bigint": ("bigint", None, None),
    "bigint unsigned": ("decimal(20,0)", 0, 18446744073709551615),
    "float": ("float", None, None),
    "double": ("double", None, None),
    "varchar": ("string", None, None),
    "string": ("string", None, None),
    "date": ("date", None, None),
}


# Truncate a table view's unionByName lineage after this many INSERTs.
_VIEW_CHECKPOINT_EVERY = 8


class RangeError(ValueError):
    """Out-of-range INSERT — the reference rejects these (insert_table.slt:81-86)."""


class DuplicateTableError(ValueError):
    """Duplicate CREATE TABLE (reference: create_table.slt duplicate-name error)."""


@dataclass
class ColumnDef:
    name: str
    logical_type: str  # reference-side type text, lowercased
    spark_type: str
    lo: int | None
    hi: int | None


class Catalog:
    """Typed-table catalog: the engine-side shim over Spark temp views.

    Mirrors the reference's v2 `Catalog → SchemaCatalogEntry('main') →
    TableCatalogEntry` chain (catalog/entry/) with the part Spark doesn't
    keep for us: declared logical types and their ranges.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.tables: dict[str, list[ColumnDef]] = {}
        self._insert_depth: dict[str, int] = {}

    # -- CREATE TABLE -------------------------------------------------------
    def create_table(self, sql_or_name: str, columns: list[tuple[str, str]] | None = None) -> None:
        """`create_table("t", [("v1", "int"), ...])` or a CREATE TABLE string."""
        if columns is None:
            name, columns = _parse_create(sql_or_name)
        else:
            name = sql_or_name
        name = name.lower()
        if name in self.tables:
            raise DuplicateTableError(f"table {name} already exists")
        defs = []
        for col, typ in columns:
            t = typ.strip().lower()
            if t not in _TYPE_MAP:
                raise ValueError(f"unsupported type: {typ}")
            spark_t, lo, hi = _TYPE_MAP[t]
            defs.append(ColumnDef(col.lower(), t, spark_t, lo, hi))
        self.tables[name] = defs
        schema = ", ".join(f"{d.name} {d.spark_type}" for d in defs)
        empty_df(self.spark, schema).createOrReplaceTempView(name)

    def create_table_as(self, name: str, df: DataFrame) -> None:
        """CTAS (reference: create_table.slt:31-38)."""
        name = name.lower()
        if name in self.tables:
            raise DuplicateTableError(f"table {name} already exists")
        self.tables[name] = [
            ColumnDef(f.name, f.dataType.simpleString(), f.dataType.simpleString(), None, None)
            for f in df.schema.fields
        ]
        df.createOrReplaceTempView(name)

    # -- INSERT -------------------------------------------------------------
    def insert(
        self,
        name: str,
        rows: list[tuple] | DataFrame,
        columns: list[str] | None = None,
    ) -> int:
        """INSERT INTO name[(columns)] VALUES rows | SELECT df.

        Reference semantics (execution/volcano_executor/insert.rs;
        tests/slt/insert_table.slt): explicit column list may reorder; missing
        columns become NULL; values implicitly cast to the declared type;
        out-of-range values error.
        """
        name = name.lower()
        defs = self.tables.get(name)
        if defs is None:
            raise ValueError(f"no such table: {name}")
        target_cols = [d.name for d in defs]
        in_cols = [c.lower() for c in columns] if columns else target_cols

        if isinstance(rows, DataFrame):
            if len(rows.columns) != len(in_cols):
                raise ValueError(
                    f"INSERT column count mismatch: {len(rows.columns)} values for "
                    f"{len(in_cols)} target column(s)"
                )
            src = rows.toDF(*in_cols)
        else:
            # arity check first — the reference rejects e.g.
            # `insert into t1(v3) values ('0','4')` (insert_table.slt:5-7)
            for row in rows:
                if len(row) != len(in_cols):
                    raise ValueError(
                        f"INSERT column count mismatch: {len(row)} values for "
                        f"{len(in_cols)} target column(s)"
                    )
            # build with the declared schema (avoids inference failures on
            # all-NULL columns); range checks below use decimal literals, so
            # take values in as decimal wide enough for bigint-unsigned
            by_name = {d.name: d for d in defs}
            schema = ", ".join(
                f"{c} {'decimal(38,0)' if by_name[c].lo is not None else by_name[c].spark_type}"
                for c in in_cols
            )
            import datetime
            from decimal import Decimal

            def coerce(c: str, v):
                if v is None:
                    return None
                if by_name[c].lo is not None:
                    return Decimal(v)
                if by_name[c].spark_type == "date" and isinstance(v, str):
                    return datetime.date.fromisoformat(v)
                return v

            rows = [tuple(coerce(c, v) for c, v in zip(in_cols, row)) for row in rows]
            src = local_df(self.spark, rows, schema)

        # reorder + NULL-fill + cast to declared spark types
        exprs = []
        for d in defs:
            if d.name in in_cols:
                exprs.append(F.col(d.name).cast(d.spark_type).alias(d.name))
            else:
                exprs.append(F.lit(None).cast(d.spark_type).alias(d.name))
        out = src.select(*exprs)

        # range enforcement for the logical (unsigned/narrow) types, checked on
        # the *source* value before the cast (a cast of an out-of-range value
        # wraps in non-ANSI mode). Bounds as decimal literals: bigint-unsigned's
        # max exceeds int64, so plain Python-int literals can't cross py4j.
        # All per-column violation counts (and the inserted-row count) fold into
        # ONE aggregate → one Spark job per INSERT regardless of column count.
        checked = [d for d in defs if d.lo is not None and d.name in in_cols]
        aggs = [F.count(F.lit(1)).alias("__inserted")]
        for d in checked:
            v = F.col(d.name).cast("decimal(38,0)")
            lo = F.expr(f"CAST('{d.lo}' AS DECIMAL(38,0))")
            hi = F.expr(f"CAST('{d.hi}' AS DECIMAL(38,0))")
            aggs.append(
                F.sum(
                    F.when(F.col(d.name).isNotNull() & ((v < lo) | (v > hi)), 1).otherwise(0)
                ).alias(f"__bad_{d.name}")
            )
        stats = src.agg(*aggs).first()
        for d in checked:
            bad = stats[f"__bad_{d.name}"] or 0
            if bad:
                raise RangeError(
                    f"{bad} value(s) out of range for {name}.{d.name} {d.logical_type} [{d.lo}, {d.hi}]"
                )

        merged = self.spark.table(name).unionByName(out)
        # Each INSERT stacks one more unionByName onto the view's plan; after K
        # inserts the analyzer re-walks a K-deep tree per query. Truncate the
        # lineage periodically (localCheckpoint materializes to executor-local
        # storage — no driver collect).
        depth = self._insert_depth.get(name, 0) + 1
        self._insert_depth[name] = depth
        if depth % _VIEW_CHECKPOINT_EVERY == 0:
            merged = merged.localCheckpoint(eager=True)
        merged.createOrReplaceTempView(name)
        return int(stats["__inserted"])

    # -- COPY FROM ----------------------------------------------------------
    def copy_from(self, name: str, path: str, header: bool = True, delim: str = ",") -> int:
        """COPY t FROM 'f.csv' — the reference rewrites this into
        `insert into t select * from read_csv(...)` at the SQL level
        (bind_copy.rs:9-36); we do the same through the reader."""
        from templatedb_spark.sources.csv import read_csv

        df = read_csv(self.spark, path, header=header, delim=delim, infer_schema=False,
                      schema=", ".join(f"{d.name} {d.spark_type}" for d in self.tables[name.lower()]))
        return self.insert(name, df)

    # -- introspection ------------------------------------------------------
    def show_tables(self) -> list[str]:
        return sorted(self.tables)

    def describe(self, name: str) -> list[tuple[str, str]]:
        """DESCRIBE t → (column, declared logical type) (bind_explain_table.rs)."""
        return [(d.name, d.logical_type) for d in self.tables[name.lower()]]


def _parse_create(sql: str) -> tuple[str, list[tuple[str, str]]]:
    m = re.match(r"(?is)\s*create\s+table\s+(\w+)\s*\((.*)\)\s*$", sql)
    if not m:
        raise ValueError(f"cannot parse CREATE TABLE: {sql!r}")
    name, body = m.group(1), m.group(2)
    cols = []
    for item in body.split(","):
        parts = item.strip().split(None, 1)
        if len(parts) != 2:
            raise ValueError(f"bad column def: {item!r}")
        cols.append((parts[0], parts[1]))
    return name, cols
