"""bench.py protocol steps without Spark and without sleeping: the phase
runner's retry discipline over injected window readings, and the emit
step's bounded stdout line."""

from __future__ import annotations

import json

import bench

# /proc/stat readings (steal, total, busy) and process-tree ticks: a window
# over 100 ticks with 5 steal ticks is dirty (5% > the 2% budget), one with
# none and all busy ticks our own is clean
_START = ((0, 0, 0), 0)
_DIRTY_END = ((5, 100, 50), 50)
_CLEAN_END = ((0, 100, 50), 50)


def _windows(*ends):
    readings = [r for end in ends for r in (_START, end)]
    return lambda: readings.pop(0)


def _attempts():
    calls = []

    def attempt():
        calls.append(len(calls) + 1)
        return {"total_sec": float(len(calls))}

    return attempt, calls


def test_phase_runner_retries_dirty_windows_until_clean():
    attempt, calls = _attempts()
    phases, settles = [], []
    out, clean = bench.run_phase(
        "spark_suite", attempt, phases,
        window=_windows(_DIRTY_END, _DIRTY_END, _CLEAN_END), settle=settles.append,
    )
    assert clean and out == {"total_sec": 3.0}
    assert [p["attempt"] for p in phases] == [1, 2, 3]
    assert [p["steal_pct"] for p in phases] == [5.0, 5.0, 0.0]
    assert [p["foreign_cpu_pct"] for p in phases] == [0.0, 0.0, 0.0]
    assert {p["phase"] for p in phases} == {"spark_suite"}
    assert settles == [bench.RETRY_SETTLE_S] * 2  # one settle before each retry


def test_phase_runner_gives_up_dirty_after_its_retries():
    attempt, calls = _attempts()
    phases = []
    out, clean = bench.run_phase(
        "spark_suite", attempt, phases,
        window=_windows(*[_DIRTY_END] * (bench.STEAL_RETRIES + 1)), settle=lambda s: None,
    )
    assert not clean
    assert len(phases) == len(calls) == bench.STEAL_RETRIES + 1
    assert out == {"total_sec": float(bench.STEAL_RETRIES + 1)}


def test_phase_runner_records_a_timeout_and_retries():
    import subprocess

    results = [subprocess.TimeoutExpired("bench_baseline", 600), {"total_sec": 2.5}]

    def attempt():
        r = results.pop(0)
        if isinstance(r, Exception):
            raise r
        return r

    phases = []
    readings = [_START, _START, _CLEAN_END]  # the timed-out attempt reads only its start
    out, clean = bench.run_phase(
        "duckdb_baseline", attempt, phases, window=lambda: readings.pop(0), settle=lambda s: None
    )
    assert clean and out == {"total_sec": 2.5}
    assert phases[0] == {
        "phase": "duckdb_baseline", "attempt": 1, "total_sec": None,
        "steal_pct": None, "foreign_cpu_pct": None, "error": "TimeoutExpired",
    }
    assert phases[1]["attempt"] == 2 and phases[1]["total_sec"] == 2.5
    assert "error" not in phases[1]


def test_emit_bounds_a_mass_failure_line(tmp_path):
    names = [f"dedup_ngram_jaccard_variant_{i:03d}" for i in range(221)]
    times = {n: -1.0 for n in names}
    suite = {
        "total_sec": 12.5, "times": times, "retried": list(names),
        "errs": {n: "Py4JNetworkError: An error occurred while trying to connect" for n in names},
        "steal_pct": 0.1, "foreign_cpu_pct": 0.2,
    }
    cfg = bench.BenchConfig("/data/sf0.1", 4, "", 600.0)
    result = bench.suite_result(cfg, suite, {}, [])
    result["duckdb_conc_total"] = None
    phases = [{"phase": "spark_suite", "attempt": 1, "total_sec": 12.5, "steal_pct": 0.1, "foreign_cpu_pct": 0.2}]
    bench.verdict(result, phases, 0.5)
    bench.pair_with_last_clean(result, len(times), tmp_path)
    line = bench.emit(result, times, tmp_path)
    assert len(line) < 1800
    parsed = json.loads(line)
    assert parsed["n_failed"] == parsed["n_retried"] == 221
    assert parsed["value"] == 12.5 and parsed["sf"] == 0.1 and parsed["clean"] is True
    full = json.loads((tmp_path / "latest.json").read_text())
    assert len(full["failed"]) == len(full["queries"]) == 221
