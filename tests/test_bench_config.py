"""bench.py configuration parsing: each of the four knobs is parsed once by
`load_config`, and a malformed value fails fast with a message naming it,
before a session is built or the scratch dir is made (ADVICE r11, bench.py
baseline timeout)."""

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


def test_config_defaults_and_overrides(tmp_path):
    import os

    cfg = bench.load_config({"SPARK_GRAFT_SF_DIR": str(tmp_path), "SPARK_GRAFT_SCRATCH": ""})
    assert (cfg.sf_dir, cfg.cpus, cfg.scratch_root) == (str(tmp_path), os.cpu_count(), "")
    assert cfg.baseline_timeout_s == 600.0
    cfg = bench.load_config(
        {"SPARK_GRAFT_SF_DIR": str(tmp_path), "SPARK_GRAFT_CPUS": "3",
         "SPARK_GRAFT_SCRATCH": str(tmp_path / "scratch"), "SPARK_GRAFT_BASELINE_TIMEOUT_S": "5"}
    )
    assert (cfg.cpus, cfg.scratch_root, cfg.baseline_timeout_s) == (3, str(tmp_path / "scratch"), 5.0)


@pytest.mark.parametrize(
    "knob, raw",
    [
        ("SPARK_GRAFT_SF_DIR", ""),
        ("SPARK_GRAFT_SF_DIR", "/nonexistent/sf0.1"),
        ("SPARK_GRAFT_CPUS", "four"),
        ("SPARK_GRAFT_CPUS", "0"),
        ("SPARK_GRAFT_CPUS", "2.5"),
        ("SPARK_GRAFT_SCRATCH", "relative/scratch"),
        ("SPARK_GRAFT_SCRATCH", "FILE"),
        ("SPARK_GRAFT_BASELINE_TIMEOUT_S", "-1"),
    ],
)
def test_main_rejects_each_malformed_knob_before_any_step(monkeypatch, tmp_path, knob, raw):
    def step_ran(*a, **k):
        raise AssertionError("a protocol step ran before the config was checked")

    monkeypatch.setattr(bench, "make_scratch", step_ran)
    monkeypatch.setattr(bench, "settle", step_ran)
    monkeypatch.setattr(bench, "bench_session", step_ran)
    if raw == "FILE":
        raw = str(tmp_path / "a_file")
        (tmp_path / "a_file").write_text("")
    env = {
        "SPARK_GRAFT_SF_DIR": str(tmp_path),
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_SCRATCH": "",
        "SPARK_GRAFT_BASELINE_TIMEOUT_S": "60",
        knob: raw,
    }
    for k, v in env.items():
        monkeypatch.setenv(k, v)
    with pytest.raises(SystemExit) as exc:
        bench.main()
    assert knob in str(exc.value) and repr(raw) in str(exc.value)
