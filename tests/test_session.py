"""Engine session configuration: a warm query must not recompile its
generated code once the workload's distinct classes outnumber Spark's
default codegen cache (100 entries); the measured session's core count and
input-sized shuffle partitions."""

from __future__ import annotations

import os

import pytest

from templatedb_spark.session import codegen_compiles, input_partitions, local_cpus


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


def test_local_cpus_defaults_to_the_host_and_rejects_malformed_values():
    assert local_cpus({}) == os.cpu_count()
    assert local_cpus({"SPARK_GRAFT_CPUS": "6"}) == 6
    for raw in ("", "six", "0", "-2", "1.5"):
        with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
            local_cpus({"SPARK_GRAFT_CPUS": raw})


def test_input_partitions_sizes_to_32mb_clamped_to_8_and_cpus(tmp_path):
    assert input_partitions(None, 32) == 8  # no input: the floor
    for i in range(12):  # 12 sparse 32 MB tables: 384 MB of parquet input
        with open(tmp_path / f"t{i}.parquet", "wb") as f:
            f.truncate(32 << 20)
    (tmp_path / "notes.txt").write_text("not an input")
    assert input_partitions(str(tmp_path), 32) == 12
    assert input_partitions(str(tmp_path), 10) == 10
    assert input_partitions(str(tmp_path), 4) == 8
