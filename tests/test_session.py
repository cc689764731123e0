"""Engine session configuration: a warm query must not recompile its
generated code once the workload's distinct classes outnumber Spark's
default codegen cache (100 entries)."""

from __future__ import annotations

from templatedb_spark.session import codegen_compiles


def test_codegen_cache_holds_more_than_the_default(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"

    def query():
        spark.range(10).selectExpr("id + 1 AS y", "id % 3 AS z").collect()

    query()
    # each filler generates distinct classes: integer literals are inlined
    # into the generated Java source
    for i in range(150):
        spark.range(10).selectExpr(f"id * {i + 2} AS x").collect()
    before, _ = codegen_compiles(spark)
    query()
    assert codegen_compiles(spark)[0] == before, "warm query recompiled its generated code"
