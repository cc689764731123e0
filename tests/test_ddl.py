"""DDL/DML parity tests — ported from the reference's create_table.slt /
insert_table.slt / csv.slt cases (FIXTURES.md §3)."""

from __future__ import annotations

import datetime

import pytest

from templatedb_spark.ddl import Catalog, DuplicateTableError, RangeError


@pytest.fixture()
def cat(spark):
    return Catalog(spark)


# reference: create_table.slt:1-38
def test_create_and_show(cat):
    cat.create_table("create table t1 (v1 int, v2 int, v3 int)")
    assert cat.show_tables() == ["t1"]
    with pytest.raises(DuplicateTableError):
        cat.create_table("t1", [("x", "int")])


def test_create_all_types(cat):
    # reference t2: (v1 boolean, v2 tinyint, ..., v8 varchar) create_table.slt:13-16
    cat.create_table(
        "t2",
        [
            ("v1", "boolean"),
            ("v2", "tinyint"),
            ("v3", "smallint"),
            ("v4", "int"),
            ("v5", "bigint"),
            ("v6", "float"),
            ("v7", "double"),
            ("v8", "varchar"),
        ],
    )
    assert cat.describe("t2")[1] == ("v2", "tinyint")


# reference: insert_table.slt — column reorder: insert into t1(v3, v2, v1)
def test_insert_column_reorder(cat, spark):
    cat.create_table("t1", [("v1", "int"), ("v2", "int"), ("v3", "int")])
    cat.insert("t1", [(0, 4, 1), (1, 5, 2)], columns=["v3", "v2", "v1"])
    rows = sorted(tuple(r) for r in spark.table("t1").collect())
    assert rows == [(1, 4, 0), (2, 5, 1)]


# reference: insert_table.slt — missing columns become NULL
def test_insert_missing_cols_null(cat, spark):
    cat.create_table("t", [("a", "int"), ("b", "varchar")])
    cat.insert("t", [(7,)], columns=["a"])
    row = spark.table("t").collect()[0]
    assert row.a == 7 and row.b is None


# reference: insert_table.slt:81-86 — 1481 into tinyint unsigned must error
def test_unsigned_range_error(cat):
    cat.create_table("t3", [("v1", "tinyint unsigned")])
    with pytest.raises(RangeError):
        cat.insert("t3", [(1481,)])
    cat.insert("t3", [(255,)])  # boundary ok


def test_unsigned_negative_rejected(cat):
    cat.create_table("t4", [("v1", "smallint unsigned"), ("v2", "bigint unsigned")])
    with pytest.raises(RangeError):
        cat.insert("t4", [(-1, 0)])
    cat.insert("t4", [(65535, 18446744073709551615)])


# reference: insert_table.slt NULL inserts into unsigned cols are fine (t4 cases)
def test_null_insert_ok(cat, spark):
    cat.create_table("t5", [("v1", "varchar"), ("v2", "smallint unsigned")])
    cat.insert("t5", [(None, None)])
    row = spark.table("t5").collect()[0]
    assert row.v1 is None and row.v2 is None


# reference: insert_table.slt:108-120 — INSERT INTO ... SELECT
def test_insert_from_select(cat, spark):
    from pyspark.sql import functions as F

    cat.create_table("integers", [("i", "int")])
    cat.insert("integers", spark.range(1).select(F.lit(42).alias("i")))
    assert spark.table("integers").collect()[0].i == 42


# reference: create_table.slt:31-38 — CTAS from read_csv
def test_ctas_from_read_csv(cat, spark):
    from tests.conftest import FIXTURES
    from templatedb_spark.sources.csv import read_csv

    cat.create_table_as("read_csv_table", read_csv(spark, f"{FIXTURES}/t2.csv"))
    rows = sorted(r.a for r in spark.table("read_csv_table").collect())
    assert rows == [10, 20, 30, 40]


# reference: tests/slt/csv/csv.slt — COPY FROM with delimiter
def test_copy_from(cat, spark, tmp_path):
    p = tmp_path / "state1.csv"
    p.write_text("id|state_code|state_name\n1|CA|California State\n2|CO|Colorado State\n")
    cat.create_table("state", [("id", "varchar"), ("state_code", "varchar"), ("state_name", "varchar")])
    n = cat.copy_from("state", str(p), header=True, delim="|")
    assert n == 2
    assert sorted(r.state_code for r in spark.table("state").collect()) == ["CA", "CO"]


# implicit casts on insert (reference: insert casts values to column type)
def test_insert_implicit_cast(cat, spark):
    cat.create_table("tc", [("v", "bigint")])
    cat.insert("tc", [(5,)])
    assert spark.table("tc").schema["v"].dataType.simpleString() == "bigint"


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


# CREATE TABLE and INSERT ... VALUES build JVM-side LocalRelations: a scan of
# the table must not reach a pickled-rows RDD (which starts Python workers)
def test_values_tables_are_local_relations(cat, spark):
    cat.create_table(
        "tl", [("i", "int"), ("u", "int unsigned"), ("d", "date"), ("s", "varchar")]
    )
    cat.insert("tl", [(1, 4294967295, "2024-02-29", "a"), (-2, 0, None, None)])
    cat.insert("tl", [(3, 7)], columns=["u", "i"])
    plan = _optimized_plan(spark.table("tl"))
    assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, plan
    assert "LocalRelation" in plan
    rows = sorted(tuple(r) for r in spark.table("tl").collect())
    assert rows == [
        (-2, 0, None, None),
        (1, 4294967295, datetime.date(2024, 2, 29), "a"),
        (7, 3, None, None),
    ]


# a row Arrow cannot convert (a lone surrogate, as the KV crash fuzz writes)
# takes the classic pickled path and inserts exactly what that path yields
def test_insert_arrow_fallback_matches_classic(cat, spark):
    rows = [(1, "lone \ud800 surrogate"), (2, "plain")]
    cat.create_table("tf", [("k", "int"), ("s", "varchar")])
    cat.insert("tf", rows)
    table = spark.table("tf")
    assert "LogicalRDD" in _optimized_plan(table)  # the fallback ran
    classic = spark.createDataFrame(rows, "k int, s string")
    assert sorted(tuple(r) for r in table.collect()) == sorted(
        tuple(r) for r in classic.collect()
    )


# the helper parses its schema with Spark's DDL parser: decimal(p,s) holds a
# comma, which a split on commas cut in two (local_df silently fell back to
# the pickled path, empty_df raised)
def test_memory_helpers_parse_decimal_schema(spark):
    from decimal import Decimal

    from templatedb_spark.sources.memory import empty_df, local_df

    schema = "k string, v decimal(38,0), w decimal(20,2)"
    df = local_df(spark, [("a", Decimal(5), Decimal("1.25"))], schema)
    assert "LogicalRDD" not in _optimized_plan(df)
    assert [tuple(r) for r in df.collect()] == [("a", Decimal(5), Decimal("1.25"))]
    empty = empty_df(spark, schema)
    assert empty.schema == df.schema
    assert empty.collect() == []
    # the optimizer turns the empty base into an empty LocalRelation, which
    # drops out of a union
    assert "Union" not in _optimized_plan(empty.unionByName(df))


def test_slt_session_splits_statements_on_tokens(spark):
    """A quote inside a `--` comment opens no string: the block is three
    statements and the last one's row comes back (a character splitter took
    the comment's quote as a string start and ran the rest as one statement).
    The same tokens split INSERT column lists and VALUES rows."""
    from templatedb_spark.slt import SltSession

    sess = SltSession(spark, base_dir=".")
    df = sess.run("SELECT 1 AS x; -- it's a note\nSELECT 2 AS x; SELECT 3 AS x")
    assert [tuple(r) for r in df.collect()] == [(3,)]

    sess.run("CREATE TABLE split_t (a INT, b VARCHAR); -- it's a table")
    sess.run("INSERT INTO split_t (b, a) VALUES ('x, (y); z', 1), ('it''s', 2)")
    got = sorted(tuple(r) for r in spark.table("split_t").collect())
    assert got == [(1, "x, (y); z"), (2, "it's")]
