"""Tests of the benchmark's own pure logic (no Spark session).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import json
import sys
from collections import Counter
from pathlib import Path

import pandas as pd
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import checks, stats  # noqa: E402
from perfbench import workloads as W  # noqa: E402

MODULES = {
    "q1": "templatedb_spark.operators.tpch",
    "q3": "templatedb_spark.operators.tpch",
    "dedup_a": "templatedb_spark.operators.dedup",
    "dedup_b": "templatedb_spark.operators.dedup",
    "pyds_scan": "templatedb_spark.sources.pyds",
    "pyds_stream_source": "templatedb_spark.sources.pyds",
    "stream_x": W.GATE_MODULE,
    "kv_chain": W.GATE_MODULE,
    "stream_y": W.GATE_MODULE,
    "stream_z": W.GATE_MODULE,
}


def _mix(passes):
    return Counter((op.kind, op.name) for p in passes for op in p)


def _order(passes):
    return [(op.kind, op.name) for p in passes for op in p]


def _interactive(seed, cycles, chains=()):
    setup, gen = W.interactive_ops(seed, chains)
    return setup, list(itertools.islice(gen, cycles))


def test_chains_come_from_registering_module():
    batch, chains = W.split_registry(MODULES)
    assert chains == ["kv_chain", "pyds_stream_source", "stream_x", "stream_y", "stream_z"]
    assert batch == ["dedup_a", "dedup_b", "pyds_scan", "q1", "q3"]


def test_split_ignores_registration_order():
    reordered = dict(reversed(list(MODULES.items())))
    assert W.split_registry(reordered) == W.split_registry(MODULES)
    assert W.olap_panel(reordered) == W.olap_panel(MODULES)
    assert W.stream_panel(reordered) == W.stream_panel(MODULES)


def test_olap_panel_takes_one_spec_per_module():
    panel = W.olap_panel(MODULES, size=2)
    assert len(panel) == 2 and len({MODULES[n] for n in panel}) == 2
    assert len(W.olap_panel(MODULES, size=10)) == 3  # three modules


def test_stamp_changes_with_the_registry():
    a = W.stamp(list(MODULES))
    b = W.stamp([*MODULES, "new_spec"])
    assert a["specs"] + 1 == b["specs"] and a["specs_sha1"] != b["specs_sha1"]
    assert W.stamp(sorted(MODULES, reverse=True)) == a


@pytest.mark.parametrize("passes", [1, 3])
def test_spec_ops_same_seed_same_list_other_seed_same_mix(passes):
    panel = W.split_registry(MODULES)[0]
    a, b, c = (list(itertools.islice(W.spec_passes(panel, s), passes)) for s in (7, 7, 8))
    assert _order(a) == _order(b)
    assert _mix(a) == _mix(c)
    assert _order(a) != _order(c)
    assert all(sorted(op.name for op in p) == panel for p in a)


def test_interactive_same_seed_same_ops_other_seed_same_mix():
    a, b, c = (_interactive(s, 2, ["stream_x", "kv_chain"]) for s in (3, 3, 4))
    assert a == b
    kinds = lambda ops: Counter((op.kind, op.name if op.kind == "sql.select" else "") for p in ops[1] for op in p)  # noqa: E731
    assert kinds(a) == kinds(c)
    assert [op.kind for p in a[1] for op in p] != [op.kind for p in c[1] for op in p]
    # every cycle has the same mix, with one drain of each chain
    per_cycle = [Counter(op.kind for op in p) for p in a[1]]
    assert per_cycle[0] == per_cycle[1]
    assert all(sorted(op.name for op in p if op.kind == "spec") == ["kv_chain", "stream_x"] for p in a[1])


def test_interactive_scans_and_compaction_sit_at_fixed_points():
    for seed in (1, 2):
        setup, cycles = _interactive(seed, 2, ["kv_chain"])
        assert [op.kind for op in setup if op.kind.startswith("kv.")] == ["kv.write", "kv.get", "kv.scan", "kv.compact"]
        for ops in cycles:
            kinds = [op.kind for op in ops]
            assert kinds[4] == "kv.scan" and kinds[-2:] == ["kv.scan", "kv.compact"]
            assert kinds.count("kv.scan") == 2 and kinds.count("kv.compact") == 1


def test_interactive_selects_read_the_finished_generation():
    _, cycles = _interactive(5, 3)
    for g, ops in enumerate(cycles):
        prev = W.sql_tables(g - 1)
        for op in ops:
            if op.kind == "sql.select":
                assert any(t in op.args[0] for t in prev)
                assert not any(t in op.args[0] for t in W.sql_tables(g))


def test_percentile_enforces_ten_beyond():
    assert stats.samples_beyond(100, 90) == 10
    assert stats.percentile(list(range(1, 101)), 90) == 90
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(list(range(99)), 90)
    assert stats.percentile([3.0, 1.0, 2.0], 50) == 2.0  # the median is always given
    assert stats.tail(list(range(20))) is None
    assert stats.tail([float(i) for i in range(40)])[0] == 75.0
    assert stats.tail([float(i) for i in range(1000)])[0] == 99.0


def test_metric_names_are_valid():
    from perfbench import run

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in bench[k]]
    names += list(run.UNITS) + [w["name"] for w in bench["workloads"]]
    from templatedb_spark.suite import all_specs

    modules = {n: s.spark.__module__ for n, s in all_specs().items()}
    _, chains = W.split_registry(modules)
    names += [f"streaming.{c}.drain_s" for c in chains]
    names += [f"operators.{m.rsplit('.', 1)[1]}.busy_s" for m in set(modules.values())]
    assert [n for n in names if not stats.valid_metric_name(n)] == []
    assert not stats.valid_metric_name("bad name") and not stats.valid_metric_name("_x")


def test_kv_model_catches_a_wrong_read():
    initial = {"k1": "a", "k2": "b", "k3": "c"}
    ops = [
        W.Op("kv.write", "write_batch", ((("k2", "B"), ("k4", "d")), ("k1",))),
        W.Op("kv.get", "get", ("k2",)),
        W.Op("kv.get", "get", ("k1",)),
        W.Op("kv.scan", "scan", ("k1", "k4")),
        W.Op("kv.compact", "compact_range", ("k1", "k9")),
        W.Op("kv.get", "get", ("k4",)),
    ]
    right = [None, "B", None, [("k2", "B"), ("k3", "c")], None, "d"]
    wrong, model = checks.check_interactive([], list(zip(ops, right)), initial)
    assert wrong == [] and model.data == {"k2": "B", "k3": "c", "k4": "d"}
    injected = list(right)
    injected[2] = "a"  # a read that missed the delete
    wrong, _ = checks.check_interactive([], list(zip(ops, injected)), initial)
    assert wrong == [2]


def test_sql_model_catches_a_wrong_select():
    setup, cycles = _interactive(11, 1)
    ops = [op for op in cycles[0] if op.kind.startswith("sql.")]
    model = checks.SqlModel()
    for op in setup:
        model.apply(op)
    done = [(op, model.apply(op)) for op in ops]
    assert checks.check_interactive(setup, done, {})[0] == []
    i = next(i for i, (op, _) in enumerate(done) if op.kind == "sql.select" and op.name == "groupby")
    op, rows = done[i]
    done[i] = (op, [rows[0][:2] + (rows[0][2] + 1,), *rows[1:]])
    assert checks.check_interactive(setup, done, {})[0] == [i]


def test_spec_mismatch_catches_a_wrong_value():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert checks.spec_mismatch(a, a.copy()) is None
    assert checks.spec_mismatch(a, a[["v", "k"]].iloc[::-1]) is None  # order-insensitive
    b = a.copy()
    b.loc[1, "v"] = 1.25
    assert checks.spec_mismatch(a, b) == "values differ"
    assert "row count" in checks.spec_mismatch(a, a.iloc[:1])
    assert "columns" in checks.spec_mismatch(a, a.rename(columns={"v": "w"}))


def test_measure_runs_whole_passes_until_the_window_closes(tmp_path):
    import time
    from types import SimpleNamespace

    from perfbench.run import Run

    def make_run(pause):
        run = Run(SimpleNamespace(workload="olap_sf01", trace=0), tmp_path)

        def run_op(op_id, op):
            time.sleep(pause)
            return {"op": op_id, "name": op.name}

        run.run_op = run_op
        return run

    run = make_run(0.0)
    run.measure(W.spec_passes(["a", "b", "c"], 1), 0)
    assert [r["op"] for r in run.records] == [0, 1, 2] and run.pass_ops == 3
    run = make_run(0.01)
    run.measure(W.spec_passes(["a", "b", "c"], 1), 0.05)
    n = len(run.records)
    assert n >= 6 and n % 3 == 0 and [r["op"] for r in run.records] == list(range(n))
    assert [op.name for op in run.ops] == [r["name"] for r in run.records]
