"""Mechanical replay of the reference's sqllogictest corpus.

The reference runs every ``tests/slt/**/*.slt`` file against both of its
engines (tests/sql_logic/tests/sql_logic.rs:16-35): v1 with the
``tests/csv/*.csv`` fixtures pre-registered by file stem, v2 with a fresh
catalog. We replay the same files through ``templatedb_spark.slt.run_slt_file``
under both personas; the gating directives (``onlyif/skipif
template_query_v2``) decide which records each persona executes.

Golden outputs are the reference's own; the only sanctioned differences live in
``slt.KNOWN_DEVIATIONS`` (reference goldens that are provably wrong — e.g. the
date-minus-one-day off-by-one in time.slt).
"""

from __future__ import annotations

from pathlib import Path

import pytest

from templatedb_spark.slt import V1, V2, run_slt_file

REFERENCE = Path("/root/reference")
SLT_DIR = REFERENCE / "tests" / "slt"
CSV_FIXTURES = str(REFERENCE / "tests" / "csv")

pytestmark = pytest.mark.skipif(
    not SLT_DIR.is_dir(), reason="reference slt corpus not available"
)


def _slt_files() -> list[Path]:
    return sorted(SLT_DIR.glob("**/*.slt")) if SLT_DIR.is_dir() else []


def _v2_files() -> list[Path]:
    return [p for p in _slt_files() if "onlyif template_query_v2" in p.read_text()]


def _v1_files() -> list[Path]:
    # every file: unconditioned records plus `skipif template_query_v2` ones
    # run under the v1 persona (which has the csv fixture tables)
    return [p for p in _slt_files() if "skipif template_query_v2" in p.read_text()]


def _params(persona: str, files: list[Path]) -> list:
    # ids are set per file rather than by an ids callable: with the corpus
    # absent the list is empty, and pytest would call the callable on its
    # NOTSET placeholder and fail collection instead of skipping
    return [pytest.param(p, id=f"{persona}-{p.stem}") for p in files]


@pytest.mark.parametrize("slt", _params("v2", _v2_files()))
def test_slt_v2(spark, slt):
    executed, failures = run_slt_file(
        spark, slt, engine_name=V2, base_dir=str(REFERENCE)
    )
    assert executed > 0
    assert not failures, "\n".join(str(f) for f in failures)


@pytest.mark.parametrize("slt", _params("v1", _v1_files()))
def test_slt_v1(spark, slt):
    executed, failures = run_slt_file(
        spark, slt, engine_name=V1, base_dir=str(REFERENCE), csv_fixture_dir=CSV_FIXTURES
    )
    assert executed > 0
    assert not failures, "\n".join(str(f) for f in failures)
