from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# the shared order-insensitive result normalization of the oracle checks
from tools.check_oracle import normalize as normalize_pdf  # noqa: E402,F401

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
FIXTURES = str(REPO / "tests" / "fixtures")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from templatedb_spark.session import EngineConfig, build_session

    warehouse = tmp_path_factory.mktemp("warehouse")
    s = build_session(
        EngineConfig(
            master="local[8]",
            shuffle_partitions=8,
            extra={"spark.sql.warehouse.dir": str(warehouse)},
        )
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    from templatedb_spark.catalog import SF_TABLES

    for t in SF_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'")
    return con


@pytest.fixture
def engine(spark):
    # function-scoped: the slt runner (test_slt_runner.py) clears the temp-view
    # namespace per file, so each consumer re-registers the fixture views
    # (createOrReplaceTempView — cheap, lazy).
    from templatedb_spark.engine import Engine

    eng = Engine(spark)
    eng.register_csv_dir(FIXTURES)
    return eng

