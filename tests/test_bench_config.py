"""bench.py configuration parsing: a malformed knob fails fast with a clear
message before any lane runs (ADVICE r11, bench.py baseline timeout)."""

from __future__ import annotations

import pytest

import bench


def test_baseline_timeout_default_and_override():
    assert bench.baseline_timeout_s({}) == 600.0
    assert bench.baseline_timeout_s({"SPARK_GRAFT_BASELINE_TIMEOUT_S": "1800"}) == 1800.0
    assert bench.baseline_timeout_s({"SPARK_GRAFT_BASELINE_TIMEOUT_S": " 2.5 "}) == 2.5


@pytest.mark.parametrize("raw", ["ten", "", "10s", "0", "-5", "nan", "inf"])
def test_baseline_timeout_malformed_fails_fast(raw):
    with pytest.raises(SystemExit) as exc:
        bench.baseline_timeout_s({"SPARK_GRAFT_BASELINE_TIMEOUT_S": raw})
    msg = str(exc.value)
    assert "SPARK_GRAFT_BASELINE_TIMEOUT_S" in msg and repr(raw) in msg


def test_main_rejects_malformed_timeout_before_any_lane(monkeypatch):
    # main() must stop on the config error before it builds a session or
    # touches the data directory
    monkeypatch.setenv("SPARK_GRAFT_BASELINE_TIMEOUT_S", "ten")
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/nonexistent")
    with pytest.raises(SystemExit, match="SPARK_GRAFT_BASELINE_TIMEOUT_S"):
        bench.main()
