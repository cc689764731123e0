"""Benchmark entry point.

    python3 perfbench/run.py --workload olap_sf01 --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, one table

Run from the repository root. One run: make the inputs from the seed, set
up (session, tables, warm-up), measure whole passes of the workload for
about --seconds, check the outputs outside the timed window, print a table
of every metric, and print as the last stdout line one JSON object
{"correct", "attempted", "failed", "metrics"}. With --trace 1 the run also
records spans around every engine call and writes them to
.perfbench_out/spans-<workload>-s<seed>.json; its metrics are then the
per-layer ones. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from collections import deque
from collections.abc import Callable, Iterator
from pathlib import Path

# setup_s is timed from here to the first timed op
PROCESS_START = time.perf_counter()

ROOT = Path(__file__).resolve().parent.parent

CORES = 4
SHUFFLE_PARTITIONS = 8
SCALE = 0.1
OLAP_CLIENTS = 4

UNITS = {
    "setup_s": "s", "throughput_ops_s": "ops/s", "latency_p50_s": "s", "latency_p90_s": "s",
    "cpu_per_op_s": "s",
    "error_rate": "ratio", "peak_rss_mb": "MB", "scratch_left_mb": "MB",
    "kv.get_p50_s": "s", "kv.write_p50_s": "s", "kv.scan_p50_s": "s",
    "sql.select_p50_s": "s", "sql.insert_p50_s": "s", "space_amp": "ratio",
}


def bench_spec() -> dict:
    """BENCHMARK.json at the root, or {} when there is none."""
    path = ROOT / "BENCHMARK.json"
    return json.loads(path.read_text()) if path.is_file() else {}


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


# -- inputs -----------------------------------------------------------------
def make_tables(out_dir: Path) -> None:
    """The ten sf0.1 tables: region and nation written here (the TPC-H
    region names and NATION_<i> nations), the rest by the repo's seeded
    generator (tools/gen_sf.py). The run reads nothing outside the
    checkout, so it generates its tables instead of reading a prepared
    data set."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tools.gen_sf import generate

    fixed = out_dir.parent / "fixed"
    fixed.mkdir(parents=True, exist_ok=True)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": regions,
    }), fixed / "region.parquet")
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), fixed / "nation.parquet")
    import contextlib
    import io

    with contextlib.redirect_stdout(io.StringIO()):
        generate(str(out_dir), SCALE, str(fixed))


# -- the run ------------------------------------------------------------------
class Run:
    def __init__(self, args, run_dir: Path):
        from perfbench.spans import NullTracer, Tracer

        self.args = args
        self.workload = args.workload
        self.traced = bool(args.trace)
        self.tracer = Tracer() if self.traced else NullTracer()
        self.dir = run_dir
        self.data = run_dir / "data"
        self.tmp = run_dir / "tmp"
        self.ckpt = run_dir / "ckpt"
        self.kv_path = run_dir / "kv"
        for d in (self.tmp, self.ckpt):
            d.mkdir(parents=True, exist_ok=True)
        self.spark = None
        self.jvm_pid = None
        self.records: list[dict] = []
        self.ops: list = []  # the measured ops, by op id
        self.pass_ops = 0
        self.probe_s = 0.0  # time spent on probes
        self._probe_lock = threading.Lock()
        self.layer: dict = {}

    # -- environment and session ---------------------------------------------
    def isolate(self) -> None:
        """Point every scratch location the engine uses at this run's dirs."""
        os.environ["TMPDIR"] = str(self.tmp)
        # SPARK_LOCAL_DIRS, when set, overrides spark.local.dir
        os.environ["SPARK_LOCAL_DIRS"] = str(self.tmp)
        tempfile.tempdir = str(self.tmp)
        os.environ["SPARK_GRAFT_STREAM_CKPT"] = str(self.ckpt)
        # spark-submit's launcher JVM: no hsperfdata under /tmp either
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
        paths = [str(ROOT), *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
        os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))

    def build_session(self):
        from templatedb_spark.session import EngineConfig, build_session

        extra = {
            "spark.scheduler.mode": "FAIR",
            "spark.local.dir": str(self.tmp),
            # no hsperfdata file: the JVM would write it under /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            extra.update({
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            })
        spark = build_session(EngineConfig(
            master=f"local[{CORES}]", shuffle_partitions=SHUFFLE_PARTITIONS,
            ui_enabled=self.traced, extra=extra,
        ))
        spark.sparkContext.setLogLevel("ERROR")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return spark

    def setup(self) -> dict:
        """The session build (JVM launch, engine and a tiny query), then the
        workload's own set-up and warm-up. Specs read their own tables, so
        the batch workloads register none."""
        from pyspark import SparkContext

        from templatedb_spark.engine import Engine

        t0 = time.perf_counter()
        with self.tracer.span("session.build"):
            self.spark = self.build_session()
            self.engine = Engine(self.spark)
            self.spark.range(1000).selectExpr("sum(id)").collect()
        build = time.perf_counter() - t0
        self.jvm_pid = SparkContext._gateway.proc.pid
        t0 = time.perf_counter()
        with self.tracer.span("warmup"):
            getattr(self, f"warm_{self.workload}")()
        return {"session.build_s": build, "warmup_s": time.perf_counter() - t0}

    def warm_panel(self) -> None:
        """One pass of the panel in sorted order, from the workload's
        clients, so the measured passes see warm code paths and Python
        workers instead of a fresh JVM's."""
        self._pool(self.panel, lambda _, name: self._spec_op(self.specs[name]))

    warm_olap_sf01 = warm_stream_chains = warm_panel

    def warm_interactive(self) -> None:
        """Open the KV table with its preload, build SQL generation -1,
        which the first cycle's SELECTs read, and run the warm round over
        it; the output models replay the same ops."""
        from templatedb_spark.ddl import Catalog
        from templatedb_spark.kv import KVTable

        from perfbench import workloads as W

        self.kv = KVTable(self.spark, str(self.kv_path))
        self.kv_initial = W.kv_preload()
        self.kv.write_batch(self.kv_initial)
        self.catalogs: dict[str, Catalog] = {}
        for op in self.setup_ops:
            self._do(op)

    # -- ops --------------------------------------------------------------------
    def _do(self, op):
        if op.kind == "spec":
            return self._spec_op(self.specs[op.name])
        if op.kind.startswith("kv."):
            return self._kv_op(op)
        return self._sql_op(op)

    def _probe(self, fn, *a):
        t0 = time.perf_counter()
        try:
            return fn(*a)
        finally:
            with self._probe_lock:
                self.probe_s += time.perf_counter() - t0

    def _spec_op(self, spec):
        chain = spec.name in self.chain_set
        build = "streaming.drain" if chain else "operators.build"
        run = "streaming.read" if chain else "operators.exec"
        module = spec.spark.__module__.rsplit(".", 1)[1]
        with self.tracer.span(build, spec=spec.name, module=module):
            df = spec.spark(self.spark, str(self.data))
        with self.tracer.span(run, spec=spec.name, module=module):
            df.write.format("noop").mode("overwrite").save()
        return df

    def _sql_op(self, op):
        from templatedb_spark.ddl import Catalog

        if op.kind == "sql.create":
            cat = Catalog(self.spark)
            with self.tracer.span("ddl.create", table=op.name):
                cat.create_table(op.args[0])
            self.catalogs[op.name] = cat
            return None
        if op.kind == "sql.insert":
            with self.tracer.span("ddl.insert", table=op.name, rows=len(op.args[0])):
                self.catalogs[op.name].insert(op.name, list(op.args[0]))
            return None
        # sql.select: the engine resolves columns through the catalog of
        # the generation it reads
        self.engine.catalog = self.catalogs[self._select_table(op.args[0])]
        with self.tracer.span("engine.sql", stmt=op.name):
            df = self.engine.sql(op.args[0])
        with self.tracer.span("engine.collect", stmt=op.name):
            return [tuple(r) for r in df.collect()]

    @staticmethod
    def _select_table(text: str) -> str:
        return text.split(" FROM ", 1)[1].split()[0]

    def _kv_op(self, op):
        kv = self.kv
        counters = {}
        if self.traced and op.kind in ("kv.get", "kv.scan"):
            counters["version_dirs"] = self._probe(self._version_dirs)
        before = self._probe(self._kv_inodes) if self.traced and op.kind in ("kv.write", "kv.compact") else None
        if op.kind == "kv.get":
            with self.tracer.span("kv.get", **counters):
                out = kv.get(op.args[0])
        elif op.kind == "kv.scan":
            with self.tracer.span("kv.scan", **counters):
                out = [(r.key, r.value) for r in kv.scan(*op.args).collect()]
        elif op.kind == "kv.write":
            puts, dels = op.args
            with self.tracer.span("kv.write_batch"):
                kv.write_batch(dict(puts), list(dels))
            out = None
        else:
            with self.tracer.span("kv.compact_range"):
                kv.compact_range(*op.args)
            out = None
        if before is not None:
            after = self._probe(self._kv_inodes)
            new = sum(size for ino, size in after.items() if ino not in before)
            self.layer.setdefault("kv_written", 0)
            self.layer["kv_written"] += new
            if op.kind == "kv.write":
                puts, dels = op.args
                self.layer["kv_user"] = self.layer.get("kv_user", 0) + sum(
                    len(k) + len(v) for k, v in puts
                ) + sum(len(k) for k in dels)
        return out

    def _version_dirs(self) -> int:
        return sum(1 for p in os.listdir(self.kv_path) if p.startswith("version="))

    def _kv_inodes(self):
        from perfbench.probes import dir_inodes

        return dir_inodes(str(self.kv_path))

    def run_op(self, op_id: int, op) -> dict:
        from perfbench.probes import cpu_by_class

        rec = {"op": op_id, "kind": op.kind, "name": op.name, "ok": True, "err": None, "out": None}
        if self.traced:
            self._probe(self.spark.sparkContext.setJobGroup, f"perfbench-op-{op_id}", op.name)
        cpu0 = self._probe(cpu_by_class, self.jvm_pid)
        rec["wall0"], rec["t0"] = time.time(), time.perf_counter()
        with self.tracer.span(f"op.{op.kind}", op=op_id, label=op.name) as span:
            try:
                rec["out"] = self._do(op)
            except Exception as e:  # an op failure is a measured outcome
                rec["ok"], rec["err"] = False, f"{type(e).__name__}: {str(e)[:300]}"
        rec["t1"], rec["wall1"] = time.perf_counter(), time.time()
        cpu1 = self._probe(cpu_by_class, self.jvm_pid)
        rec["cpu"] = sum(cpu1.values()) - sum(cpu0.values())
        if self.traced:
            span.counters.update({f"cpu.{k}_s": cpu1[k] - cpu0[k] for k in cpu0})
        return rec

    # -- workloads --------------------------------------------------------------
    def plan(self) -> Iterator[list]:
        """The run's passes, generated on demand, and the registry stamp."""
        from templatedb_spark.suite import all_specs

        from perfbench import workloads as W

        self.specs = all_specs()
        modules = {n: s.spark.__module__ for n, s in self.specs.items()}
        batch, chains = W.split_registry(modules)
        self.chain_set = set(chains)
        self.setup_ops = []
        if self.workload == "olap_sf01":
            self.panel = W.olap_panel(modules)
            self.stamp = {**W.stamp(batch), "panel": self.panel}
            return W.spec_passes(self.panel, self.args.seed)
        if self.workload == "stream_chains":
            self.panel = W.stream_panel(modules)
            self.stamp = {**W.stamp(chains), "panel": self.panel}
            return W.spec_passes(self.panel, self.args.seed)
        self.panel = W.stream_panel(modules, W.INTERACTIVE_CHAINS)
        self.setup_ops, cycles = W.interactive_ops(self.args.seed, self.panel)
        self.stamp = {**W.stamp(chains), "panel": self.panel}
        return cycles

    @property
    def clients(self) -> int:
        return OLAP_CLIENTS if self.workload == "olap_sf01" else 1

    def _pool(self, ops: list, fn, more: Callable[[], list] | None = None) -> list:
        """fn(op_id, op) for every op, in order, from a closed loop of
        ``clients`` threads; returns the results in op order. When the
        queue runs dry, ``more()`` may hand out further ops."""
        queue = deque(enumerate(ops))
        count = len(ops)
        lock = threading.Lock()
        out: dict[int, object] = {}

        def client() -> None:
            nonlocal count
            while True:
                with lock:
                    if not queue and more is not None:
                        extra = more()
                        queue.extend(enumerate(extra, count))
                        count += len(extra)
                    if not queue:
                        return
                    op_id, op = queue.popleft()
                res = fn(op_id, op)
                with lock:
                    out[op_id] = res

        threads = [threading.Thread(target=client, name=f"client-{i}") for i in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return [out[i] for i in range(count)]

    def measure(self, passes: Iterator[list], seconds: float) -> None:
        """Whole passes from the closed loop: a client starts the next pass
        only while fewer than ``seconds`` have passed since the first op."""
        t0 = time.perf_counter()

        def more() -> list:
            if self.ops and time.perf_counter() - t0 >= seconds:
                return []
            ops = next(passes)
            self.ops.extend(ops)
            self.pass_ops = len(ops)
            return ops

        self.records = self._pool([], self.run_op, more)

    # -- checks -------------------------------------------------------------------
    def check(self) -> dict:
        """Marks wrong results on the records; returns what was checked."""
        from perfbench import checks

        out = self._check_specs([r for r in self.records if r["kind"] == "spec"])
        if self.workload == "interactive":
            ok_recs = [r for r in self.records if r["ok"] and r["kind"] != "spec"]
            done = [(self.ops[r["op"]], r["out"]) for r in ok_recs]
            wrong, self.kv_model = checks.check_interactive(self.setup_ops, done, self.kv_initial)
            for i in wrong:
                ok_recs[i]["wrong"] = "differs from model"
            out.update({"checked_ops": len(done), "wrong": len(wrong)})
        return out

    def _check_specs(self, recs: list[dict]) -> dict:
        """Every spec against its DuckDB oracle: the DataFrame of the spec's
        last timed op is collected again, from the workload's clients. A
        spec whose every op failed has its failures counted already."""
        from templatedb_spark.catalog import SF_TABLES

        from perfbench import checks

        last = {r["name"]: r["out"] for r in recs if r["ok"]}
        if not last:
            return {}
        con = checks.duckdb_over(str(self.data), SF_TABLES)

        def check(_, name: str) -> str | None:
            try:
                oracle = con.cursor().sql(self.specs[name].oracle).df()
                return checks.spec_mismatch(last[name].toPandas(), oracle)
            except Exception as e:
                return f"check error {type(e).__name__}: {str(e)[:200]}"

        names = sorted(last)
        bad = {n: why for n, why in zip(names, self._pool(names, check)) if why}
        for r in recs:
            if r["name"] in bad:
                r["wrong"] = bad[r["name"]]
        return {"checked_specs": names, "wrong_specs": bad}


def pass_walls(records: list[dict], pass_ops: int) -> list[float]:
    """Wall seconds of each pass, first op start to last op end."""
    out = []
    for i in range(0, len(records), pass_ops):
        chunk = records[i : i + pass_ops]
        out.append(round(max(r["t1"] for r in chunk) - min(r["t0"] for r in chunk), 3))
    return out


def _p50(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def summarize(run: Run, setup: dict, window: dict) -> tuple[dict, dict, dict]:
    """(end-to-end metrics, per-layer metrics, notes)."""
    from perfbench import stats

    recs = run.records
    n = len(recs)
    good = [r for r in recs if r["ok"] and not r.get("wrong")]
    failed = n - len(good)
    lat = [r["t1"] - r["t0"] for r in recs if r["ok"]]
    wall = max(r["t1"] for r in recs) - min(r["t0"] for r in recs)
    e2e: dict[str, float | None] = {
        "setup_s": setup["setup_s"],
        "throughput_ops_s": len(good) / wall,
        "latency_p50_s": stats.percentile(lat, 50),
        # CPU of the whole process tree over the timed window, per op: what
        # an op costs, and far less sensitive than wall time to CPU stolen
        # by other guests of the host
        "cpu_per_op_s": sum(window["cpu"].values()) / n,
        "error_rate": failed / n,
        "peak_rss_mb": window["peak_rss"] / 2**20,
        "scratch_left_mb": window["scratch_left"] / 2**20,
    }
    notes = {"samples": len(lat), "timed_wall_s": wall}
    try:
        e2e["latency_p90_s"] = stats.percentile(lat, 90)
    except stats.TooFewSamples as e:
        e2e["latency_p90_s"] = None
        notes["latency_p90_s"] = str(e)
    tail = stats.tail(lat)
    notes["tail"] = f"p{tail[0]:g}={tail[1]:.4f}s of {len(lat)}" if tail else f"none of {len(lat)} samples"

    def kind_p50(kind: str) -> float | None:
        return _p50([r["t1"] - r["t0"] for r in recs if r["ok"] and r["kind"] == kind])

    if run.workload == "interactive":
        e2e.update({
            "kv.get_p50_s": kind_p50("kv.get"), "kv.write_p50_s": kind_p50("kv.write"),
            "kv.scan_p50_s": kind_p50("kv.scan"), "sql.select_p50_s": kind_p50("sql.select"),
            "sql.insert_p50_s": kind_p50("sql.insert"),
            "space_amp": window["kv_bytes"] / max(1, run.kv_model.live_bytes()),
        })
    else:
        for k in ("kv.get_p50_s", "kv.write_p50_s", "kv.scan_p50_s", "sql.select_p50_s", "sql.insert_p50_s", "space_amp"):
            e2e[k] = None

    layer = {k: setup[k] for k in ("session.build_s", "warmup_s")}
    for cls in ("driver_py", "jvm", "pyworker"):
        layer[f"cpu.{cls}_s"] = window["cpu"][cls] / n
    if run.traced:
        layer.update(trace_layers(run, wall))
    return e2e, layer, notes


def trace_layers(run: Run, wall: float) -> dict:
    """Per-layer metrics from the spans and the Spark status API."""
    from perfbench import probes
    from perfbench.spans import covered, self_times

    spans = run.tracer.spans
    timed = [s for s in spans if s.op is not None]  # set-up and warm-up spans have no op
    selfs = self_times(spans)
    n = len(run.records)
    op_spans = [s for s in spans if s.name.startswith("op.")]
    out: dict[str, float] = {}
    out["op.self_s"] = sum(selfs[s.id] for s in op_spans) / n
    by_name: dict[str, list] = {}
    for s in timed:
        if not s.name.startswith("op."):
            by_name.setdefault(s.name, []).append(s)
    for name, ss in sorted(by_name.items()):
        out[f"{name}_s"] = sum(s.end - s.start for s in ss) / len(ss)
    # layer self time (all layers' spans under ops), per op
    layer_self: dict[str, float] = {}
    for s in timed:
        if not s.name.startswith("op."):
            layer_self[s.layer] = layer_self.get(s.layer, 0.0) + selfs[s.id]
    for layer, t in layer_self.items():
        out[f"{layer}.self_s"] = t / n
    # self times in each op's subtree add back up to the op span
    by_op: dict[int, float] = {}
    for s in timed:
        by_op[s.op] = by_op.get(s.op, 0.0) + selfs[s.id]
    out["trace.self_sum_residual_s"] = max(
        (abs(by_op[s.op] - (s.end - s.start)) for s in op_spans), default=0.0
    )
    out["trace.op_coverage"] = covered([(s.start, s.end) for s in op_spans]) / wall
    # per-module busy time and per-chain drains
    drains: dict[str, list[float]] = {}
    for s in timed:
        if s.name in ("operators.build", "operators.exec"):
            key = f"operators.{s.counters['module']}.busy_s"
            out[key] = out.get(key, 0.0) + (s.end - s.start)
        elif s.name == "streaming.drain":
            drains.setdefault(s.counters["spec"], []).append(s.end - s.start)
    for chain, ts in drains.items():
        out[f"streaming.{chain}.drain_s"] = statistics.median(ts)
    if drains:
        out["streaming.scratch_left_bytes"] = run.window["ckpt_left"]
    if run.workload == "interactive":
        dirs = [s.counters["version_dirs"] for s in spans if "version_dirs" in s.counters]
        out["kv.version_dirs"] = statistics.mean(dirs) if dirs else 0.0
        out["kv.manifest_bytes"] = run.window["manifest_bytes"]
        out["kv.bytes_written_per_user_byte"] = run.layer.get("kv_written", 0) / max(1, run.layer.get("kv_user", 1))
    # Spark status API: jobs, stages, tasks, scheduler delay, executor time
    t_rest = time.perf_counter()
    jobs, stages = probes.spark_rest(run.spark.sparkContext.uiWebUrl)
    by_op = probes.attribute_jobs(jobs, run.records, single_client=run.clients == 1)
    sums: dict[str, float] = {}
    for op_jobs in by_op.values():
        for k, v in probes.stage_totals(op_jobs, stages).items():
            sums[k] = sums.get(k, 0) + v
    names = {
        "jobs": "spark.jobs", "stages": "spark.stages", "tasks": "spark.tasks",
        "sched_delay_s": "sched.delay_s", "run_s": "exec.run_s", "cpu_s": "exec.cpu_s",
        "gc_s": "exec.gc_s", "shuffle_read_bytes": "shuffle.read_bytes",
        "shuffle_write_bytes": "shuffle.write_bytes", "spill_bytes": "spill.bytes",
    }
    for k, name in names.items():
        out[name] = sums.get(k, 0) / n
    w0, w1 = min(r["wall0"] for r in run.records), max(r["wall1"] for r in run.records)
    in_window = sum(1 for j in jobs if j["_t0"] is not None and w0 <= j["_t0"] <= w1)
    out["spark.jobs_unattributed"] = in_window - sum(len(v) for v in by_op.values())
    run.probe_s += time.perf_counter() - t_rest
    out["trace.probe_s"] = run.probe_s / n
    return {k: v for k, v in out.items() if v is not None}


def execute(args) -> int:
    try:
        import bench  # noqa: F401  (host-noise counters)
        import templatedb_spark  # noqa: F401
        import tools.gen_sf  # noqa: F401
    except ImportError as e:
        return _fail(f"cannot import the engine from {ROOT}: {e}")
    from perfbench import probes

    run_dir = ROOT / ".perfbench_runs" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    run = Run(args, run_dir)
    run.isolate()
    load1 = probes.load1()
    rss = probes.RssSampler().start()
    passes = run.plan()
    t0 = time.perf_counter()
    make_tables(run.data)
    data_s = time.perf_counter() - t0
    try:
        setup = run.setup()
        window = {}
        host = probes.HostWindow()
        cpu0 = probes.cpu_by_class(run.jvm_pid)
        run.measure(passes, args.seconds)
        cpu1 = probes.cpu_by_class(run.jvm_pid)
        # process start to the first timed op, less making the inputs
        setup["setup_s"] = min(r["t0"] for r in run.records) - PROCESS_START - data_s
        host_noise = {"load1_before": load1, **host.close()}
        window["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu0}
        window["peak_rss"] = rss.stop()
        window["ckpt_left"] = probes.dir_bytes(str(run.ckpt))
        window["scratch_left"] = probes.dir_bytes(str(run.tmp)) + window["ckpt_left"]
        if args.workload == "interactive":
            window["kv_bytes"] = probes.dir_bytes(str(run.kv_path))
            manifest = run.kv_path / "MANIFEST"
            window["manifest_bytes"] = manifest.stat().st_size if manifest.exists() else 0
        run.window = window
        checked = run.check()
        e2e, layer, notes = summarize(run, setup, window)
        if run.traced:
            out = ROOT / ".perfbench_out"
            out.mkdir(exist_ok=True)
            run.tracer.write(str(out / f"spans-{args.workload}-s{args.seed}.json"), {
                "workload": args.workload, "seed": args.seed, "layers": layer,
            })
    finally:
        shutdown(run)
        shutil.rmtree(run_dir, ignore_errors=True)
    n = len(run.records)
    failed = sum(1 for r in run.records if not r["ok"] or r.get("wrong"))
    errors = sorted({f"{r['name']}: {r['err'] or r.get('wrong')}" for r in run.records if not r["ok"] or r.get("wrong")})
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "passes": n // run.pass_ops, "pass_ops": run.pass_ops, "ops": n, "clients": run.clients,
        "pass_walls_s": pass_walls(run.records, run.pass_ops), "registry": run.stamp, "host": host_noise,
        "data_gen_s": data_s,
        "checks": checked, "errors": errors[:20], "notes": notes,
        "op_latencies": [[r["name"], round(r["t1"] - r["t0"], 3), round(r["cpu"], 3)] for r in run.records],
        "end_to_end": {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()},
        "per_layer": layer,
    }
    print("REPORT " + json.dumps(report, default=str))
    for k, v in e2e.items():
        print(f"  {k:<22} {'n/a' if v is None else f'{v:.4f}'} {UNITS[k]}")
    declared = bench_spec().get("per_layer" if args.trace else "end_to_end", [])
    source = layer if args.trace else e2e
    metrics = {
        m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
        for m in declared if source.get(m["name"]) is not None
    }
    correct = failed == 0 and len(metrics) == len(declared)
    print(json.dumps({"correct": correct, "attempted": n, "failed": failed, "metrics": metrics}))
    return 0


def shutdown(run: Run) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    from perfbench import probes

    if run.spark is None:
        return
    from pyspark import SparkContext

    kids = probes.descendants(run.jvm_pid) if run.jvm_pid else []
    run.spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    for pid in probes.wait_gone(kids, 15):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    probes.wait_gone(kids, 15)


def _child(args, workload: str, trace: int) -> tuple[dict, dict] | None:
    """(REPORT object, last-line result) of one workload run in its own
    process, or None when it failed."""
    cmd = [sys.executable, __file__, "--workload", workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None
    report = json.loads(next(line for line in lines if line.startswith("REPORT "))[7:])
    return report, json.loads(lines[-1])


def run_all(args) -> int:
    """Each workload in its own process; prints one table. With --trace 1
    every workload also runs untraced with the same seed, and the table adds
    the tracing overhead: traced minus untraced p50 latency, and the
    throughput lost, in per cent."""
    from perfbench.workloads import WORKLOADS

    rows, total, failed, metrics = [], 0, 0, {}
    for w in WORKLOADS:
        got = _child(args, w, args.trace)
        base = _child(args, w, 0) if args.trace else got
        if got is None or base is None:
            return _fail(f"workload {w} failed")
        report, last = got
        if args.trace:
            traced, plain = report["end_to_end"], base[0]["end_to_end"]
            report["per_layer"]["trace.overhead_p50_s"] = (
                traced["latency_p50_s"]["value"] - plain["latency_p50_s"]["value"]
            )
            report["per_layer"]["trace.overhead_pct"] = 100.0 * (
                plain["throughput_ops_s"]["value"] / traced["throughput_ops_s"]["value"] - 1.0
            )
        total += last["attempted"]
        failed += last["failed"]
        rows.append((w, report))
        for k, v in last["metrics"].items():
            metrics[f"{w}.{k}"] = v
    names = list(UNITS) if not args.trace else sorted({k for _, r in rows for k in r["per_layer"]})
    print(f"{'metric':<40}" + "".join(f"{w:>16}" for w, _ in rows))
    for k in names:
        cells = []
        for _, r in rows:
            v = (r["end_to_end"].get(k) or {}).get("value") if not args.trace else r["per_layer"].get(k)
            cells.append("n/a" if v is None else f"{v:.4f}")
        unit = UNITS.get(k, "")
        print(f"{k + ' (' + unit + ')' if unit else k:<40}" + "".join(f"{c:>16}" for c in cells))
    print(json.dumps({"correct": failed == 0, "attempted": total, "failed": failed, "metrics": metrics}))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["olap_sf01", "stream_chains", "interactive", "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=float(bench_spec().get("run_seconds", 8)))
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, str(ROOT))  # the engine and this package import from the root
    if not (ROOT / "templatedb_spark").is_dir():
        return _fail(f"no engine sources under {ROOT}")
    if args.workload == "all":
        return run_all(args)
    return execute(args)


if __name__ == "__main__":
    sys.exit(main())
