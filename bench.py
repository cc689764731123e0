"""Benchmark harness: runs the full query suite at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}.
The core count defaults to the host's.

Execution is forced with the noop sink (full pipeline runs distributed; nothing
collects to the driver). An untimed warm-up pass of the whole suite amortizes
session/codegen startup.

The suite's queries are independent, so they are submitted from a pool of
driver threads onto a FAIR scheduler — the standard Spark pattern for
multi-tenant / multi-query workloads. A single query at sf0.1 uses a handful of
tasks and leaves most cores idle during planning and scheduling gaps;
concurrent submission overlaps those gaps and measures the true suite makespan
(what a cluster user doing a batch of queries actually waits). Per-query
numbers are each query's own submit→finish wall *under that concurrency*, so
they include contention; `value` is the makespan.

`main()` runs the protocol as named steps: scratch, pre-run settle, session,
warmup, timed suite, solo-warm audit, DuckDB baseline, verdict, emit. The two
timed phases (the Spark suite and the same-window DuckDB baseline) run through
one phase runner (`run_phase`) that judges each attempt's window against the
contention budgets, and every wait for a quiet host goes through `settle`.

Four environment knobs configure a run, parsed once by `load_config` before
any session is built; a malformed value exits with a message naming it:
SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_SCRATCH (tmpfs root for
per-run scratch, empty for none) and SPARK_GRAFT_BASELINE_TIMEOUT_S.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent
sys.path.insert(0, str(ROOT))

# Submission threads. r8, with the chain lane beside the flood: 20 is the
# basin floor — quiet-window pairs 20→26.9/29.0 s (0.93×, steal 0.02%) vs
# 28→35.0/28.5 s (1.23×, steal 0.79%); 16 batch jobs × 8 partitions already
# oversubscribe 32 cores 4×, so width past ~20 only adds driver event-loop
# latency that stretches the latency-bound chains in the lane beside it.
WORKERS = 20
# The serial trigger chains run in a dedicated lane of this many threads:
# quiet-window pairs measured 27.5 s (lane 4) / 28.9 s (lane 6) vs 51 s with
# no lane; a chains-only probe showed width 4 has the lowest per-chain
# stretch (8.9 s worst vs 20 s at width 8).
CHAIN_LANE = 4
# Contention budgets. Pre-run 1-min load average: /proc/stat steal is blind
# to same-host self-contention (a concurrent verification sweep produced a
# 42.96 s artifact that passed the steal budget).
LOAD_BUDGET = 3.0
# Steal % per timed phase (r8: 3.0 -> 2.0; windows at 0.03-0.1% steal ran the
# suite in 27.5-31 s, windows at 1.5-2.8% ran 33.6-45 s). The Spark and DuckDB
# phases run sequentially, so an asymmetric noise window skews the ratio.
STEAL_BUDGET = 2.0
# % of total host CPU burned OUTSIDE this bench's process tree over a timed
# window: enough to catch a concurrent sweep, lax enough for daemons.
FOREIGN_BUDGET = 5.0
# A dirty (or timed-out) phase attempt is re-run warm up to this many times.
STEAL_RETRIES = 3
# Settle waits: the pre-run one outlasts any finished workload's load1 decay
# (r9: the official artifact ran into a leftover sweep's load and recorded no
# ratio at all); a retry waits out a steal storm (the r8 official run re-ran
# straight back into a 5% steal window three times).
PRERUN_SETTLE_S = 900.0
RETRY_SETTLE_S = 120.0

# Longest-processing-time-first submission: the known-heavy queries start at
# t=0 so the many sub-second queries pack in behind them. The streaming and KV
# trigger chains come first (serial by construction — the true critical
# path); the rest is ordered by the last run's contended profile
# (bench_results/latest.json), and specs with no prior measurement schedule
# early (unknown = assume heavy). This static list is the cold-start seed.
CRITICAL = [
    "stream_sessionize_closed",  # 3 stateful streaming triggers: longest chain
    "stream_interval_join_clicks",  # 2-trigger stream-stream join chain
    "kv_compact_range_state",  # serial 4-write KV chain (r7 gate)
    "stream_neardup_reps",  # bounded-state rep-election chain (r7)
    "stream_cdc_kv_state",  # 2 sequential streaming triggers (3->2 r8)
    "stream_dedup_ingest",  # 2-trigger watermarked exact-dedup chain (3->2 r8)
    "stream_window_late",  # 3-trigger watermarked window-agg chain — KEPT at 3:
    # watermark stats lag 2 batches, the provably-dropped straggler
    # needs batch index 2 (gate.py n_batches=3; 2-batch attempt failed
    # the oracle in r8 and was reverted)
    "stream_neardup_pairs",  # 2-trigger stateful minhash chain (r6)
    "stream_static_enrich",  # 2-trigger stream-static broadcast join chain (3->2 r8)
    "kv_range_layout_scan",  # serial 3-write range-layout KV chain (r8) —
    # 3.8 s solo floor, so it enters the lane early (LPT), not last
    "stream_cms_tokens",  # 2-trigger counter-sketch KV chain (r9, 3->2 r10)
    "stream_hll_users",  # 2-trigger mergeable-sketch KV chain (r9, 3->2 r10)
    "pyds_stream_source",  # python streaming-source drain chain (r9)
    "stream_mv_join",  # 2-trigger incremental join-view chain (r9, 3->2 r10)
    "stream_mv_join_wide",  # 2-trigger distributed-merge wide-key view chain (r10)
    "ann_lsh_banded_topk",
    "dedup_ngram_prefix",
    "dedup_ngram_jaccard",
    "dedup_ngram_capped",
    "dedup_simhash",
    "dedup_minhash_lsh",
]
# The serial KV chains are the critical path's top items: every artifact
# carries their contended-vs-solo evidence (r9, VERDICT r8 #5).
PINNED_SOLO = ("kv_compact_range_state", "kv_range_layout_scan")


def _cpu_counters() -> tuple[int, int, int] | None:
    """(steal_ticks, total_ticks, busy_ticks) from /proc/stat's aggregate
    cpu line. Host steal has dominated absolute spread across rounds
    (13.9-21.7 s for near-identical suites, BASELINE.md) — persist the
    evidence. busy = total - idle - iowait - steal feeds the foreign-CPU
    tripwire (steal excluded so the two tripwires measure disjoint causes)."""
    try:
        with open("/proc/stat", encoding="ascii") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        # denominator: user..steal only — guest/guest_nice are already
        # folded into user/nice by the kernel (double-count otherwise)
        total = sum(vals[:8])
        # busy excludes steal too: steal ticks are hypervisor time no
        # process tree ever accrues, so counting them here would let
        # sub-budget steal leak into foreign% — the two tripwires must
        # measure disjoint causes (ADVICE r8)
        busy = total - vals[3] - (vals[4] if len(vals) > 4 else 0) - steal
        return steal, total, busy
    except Exception:
        return None


def _tree_cpu_ticks(root_pid: int | None = None) -> int | None:
    """utime+stime+cutime+cstime ticks attributed to root_pid's process tree
    (self + live descendants + reaped children). /proc/stat steal detects
    noisy neighbors but is blind to same-host self-contention (NOTES_r9: a
    concurrent verification sweep produced a 42.96 s artifact that passed
    the steal budget; BENCH_r07 started at load1 2.81 — just under the 3.0
    pre-check — and load is never sampled DURING the run). Host busy ticks
    minus our own tree's ticks over the same window IS the foreign CPU
    share, self-distinguishing by construction: our own 28-worker flood can
    never trip it. Delta accounting stays exact across worker deaths — a
    child's lifetime ticks move into its reaper's cutime/cstime, which this
    sum also counts."""
    try:
        stats: dict[int, tuple[int, int]] = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat", encoding="ascii", errors="replace") as f:
                    s = f.read()
            except OSError:
                continue  # raced a process exit
            # comm may contain spaces/parens: fields resume after last ')'
            rest = s[s.rindex(")") + 2 :].split()
            # rest[1]=ppid, rest[11..14]=utime,stime,cutime,cstime
            stats[int(p)] = (
                int(rest[1]),
                int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14]),
            )
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in stats.items():
            kids.setdefault(ppid, []).append(pid)
        total = 0
        stack = [root_pid if root_pid is not None else os.getpid()]
        while stack:
            pid = stack.pop()
            if pid in stats:
                total += stats[pid][1]
                stack.extend(kids.get(pid, []))
        return total
    except Exception:
        return None


def steal_pct(
    cpu0: tuple[int, int, int] | None, cpu1: tuple[int, int, int] | None
) -> float | None:
    """Host steal % over the window between two _cpu_counters readings."""
    if not cpu0 or not cpu1 or cpu1[1] <= cpu0[1]:
        return None
    return round(100.0 * (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1]), 2)


def foreign_cpu_pct(
    cpu0: tuple[int, int, int] | None,
    cpu1: tuple[int, int, int] | None,
    tree0: int | None,
    tree1: int | None,
) -> float | None:
    """% of total host CPU capacity over the window burned OUTSIDE the
    measured process tree."""
    if not cpu0 or not cpu1 or cpu1[1] <= cpu0[1]:
        return None
    if tree0 is None or tree1 is None:
        return None
    foreign = (cpu1[2] - cpu0[2]) - (tree1 - tree0)
    return round(100.0 * max(0, foreign) / (cpu1[1] - cpu0[1]), 2)


def contention_verdict(
    steal: float | None,
    foreign: float | None,
    steal_budget: float,
    foreign_budget: float,
) -> str | None:
    """None if the window is clean, else the reason a rerun is owed."""
    if steal is not None and steal > steal_budget:
        return f"steal {steal}% > {steal_budget}%"
    if foreign is not None and foreign > foreign_budget:
        return f"foreign CPU {foreign}% > {foreign_budget}%"
    return None


def baseline_timeout_s(environ=os.environ) -> float:
    """SPARK_GRAFT_BASELINE_TIMEOUT_S: the DuckDB baseline's hard cap in
    seconds (default 600; the sf1 lane's DuckDB tail needs a bigger one).
    Parsed once before any lane runs, so a malformed value stops the bench
    with a config error instead of being recorded as a failed baseline
    attempt after the Spark lanes."""
    raw = environ.get("SPARK_GRAFT_BASELINE_TIMEOUT_S", "600")
    try:
        value = float(raw)
    except ValueError:
        value = float("nan")
    if not 0 < value < float("inf"):
        raise SystemExit(
            f"SPARK_GRAFT_BASELINE_TIMEOUT_S={raw!r}: expected a positive number of seconds"
        )
    return value


@dataclass(frozen=True)
class BenchConfig:
    sf_dir: str
    cpus: int
    scratch_root: str  # "" = no per-run scratch dir
    baseline_timeout_s: float


def load_config(environ=os.environ) -> BenchConfig:
    """The run's four knobs, each parsed once; a malformed value exits with
    a message naming its variable."""
    from templatedb_spark.session import local_cpus

    timeout = baseline_timeout_s(environ)
    sf_dir = environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if not (sf_dir and Path(sf_dir).is_dir()):
        raise SystemExit(f"SPARK_GRAFT_SF_DIR={sf_dir!r}: expected a directory of suite tables")
    try:
        cpus = local_cpus(environ)
    except ValueError as e:
        raise SystemExit(str(e)) from None
    shm = "/dev/shm/spark-graft-bench" if Path("/dev/shm").is_dir() else ""
    scratch = environ.get("SPARK_GRAFT_SCRATCH", shm)
    if scratch and not (Path(scratch).is_absolute() and not Path(scratch).is_file()):
        raise SystemExit(
            f"SPARK_GRAFT_SCRATCH={scratch!r}: expected an absolute directory path, or empty for none"
        )
    return BenchConfig(sf_dir, cpus, scratch, timeout)


def make_scratch(scratch_root: str) -> str:
    """Scratch on tmpfs (r8): the serial trigger chains checkpoint offset/
    commit logs, state-store deltas, KV versions and staging slices through
    tempfile/java.io.tmpdir; on a single virtual disk 15 concurrent chains
    serialize on the journal+fsync path (chains-only at width 8 dropped
    36.1 s → 25.2 s just by moving scratch to tmpfs). A cluster puts
    checkpoints on HDFS/S3; RAM-backed scratch is the single-node analog.

    Each run gets its own dir under the shared root (ADVICE r8: a blanket
    rmtree of a fixed path would delete a concurrently-running bench's live
    spark.local.dir), stamped with its owner pid; stale siblings (crashed
    runs whose pid is gone) are reclaimed by liveness, never a live one. On
    tmpfs stale dirs are resident RAM, so reclaim matters. Returns the run
    dir ("" when scratch_root is empty) and points TMPDIR at it."""
    if not scratch_root:
        return ""
    root = Path(scratch_root)
    root.mkdir(parents=True, exist_ok=True)
    for sib in root.glob("run-*"):
        try:
            pid = int((sib / "owner.pid").read_text())
        except (ValueError, OSError):
            # ADVICE r9: a sibling between mkdtemp and its owner.pid
            # write has no pid file yet — "too young to judge" beats
            # reclaiming a live run. Age-gate on dir mtime.
            try:
                if time.time() - sib.stat().st_mtime < 60:
                    continue
            except OSError:
                continue  # raced its own cleanup
            shutil.rmtree(sib, ignore_errors=True)
            continue
        try:
            os.kill(pid, 0)  # ProcessLookupError iff the owner is gone
        except ProcessLookupError:
            shutil.rmtree(sib, ignore_errors=True)
        except PermissionError:
            # alive but another uid's — NOT reclaimable (ADVICE r9: it
            # is an OSError subclass, the old blanket catch deleted it).
            # Bound pid-recycling retention: a bench run lasts minutes,
            # so a day-old dir whose pid "lives" is a recycled pid.
            try:
                if time.time() - sib.stat().st_mtime > 86400:
                    shutil.rmtree(sib, ignore_errors=True)
            except OSError:
                pass
    # Create invisibly (dot-prefix escapes the run-* reclaim glob),
    # stamp the owner pid, then rename into place — the dir is never
    # discoverable without its pid file (ADVICE r9 startup race).
    staging = tempfile.mkdtemp(prefix=".run-", dir=str(root))
    (Path(staging) / "owner.pid").write_text(str(os.getpid()))
    scratch = str(root / f"run-{os.getpid()}-{Path(staging).name[5:]}")
    os.rename(staging, scratch)
    os.environ["TMPDIR"] = scratch
    tempfile.tempdir = scratch
    return scratch


def _load1() -> float | None:
    try:
        with open("/proc/loadavg", encoding="ascii") as f:
            return float(f.read().split()[0])
    except OSError:
        return None


def settle(seconds: float, load_budget: float | None = None) -> float | None:
    """The one wait for a quiet host: sample until live steal is at most half
    the steal budget and, when load_budget is given, the 1-min load average
    is within it, or `seconds` have passed (a foreign workload that is still
    running won't decay; the artifact then records the dirty window).
    Returns the last load1 reading."""
    deadline = time.time() + seconds
    while True:
        load1 = _load1()
        c0 = _cpu_counters()
        time.sleep(3.0)
        steal = steal_pct(c0, _cpu_counters())
        busy = (steal is not None and steal > STEAL_BUDGET / 2) or (
            load_budget is not None and load1 is not None and load1 > load_budget
        )
        if not busy or time.time() >= deadline:
            return load1
        print(f"SETTLE: load1 {load1} / steal {steal}% — waiting", file=sys.stderr)
        time.sleep(7)


def bench_session(cfg: BenchConfig, scratch: str):
    """The sized session, with FAIR scheduling so concurrently-submitted
    queries share the executor cores instead of queuing whole-job FIFO
    (weighted pools in conf/fairscheduler.xml keep the heavy queries from
    being starved by the many sub-second ones), and its JVM temp dir and
    shuffle scratch in the run's scratch dir."""
    from templatedb_spark.session import sized_session

    extra = {
        "spark.scheduler.mode": "FAIR",
        "spark.scheduler.allocation.file": str(ROOT / "conf" / "fairscheduler.xml"),
    }
    if scratch:
        extra["spark.driver.extraJavaOptions"] = f"-Djava.io.tmpdir={scratch}"
        extra["spark.local.dir"] = scratch
    return sized_session(cfg.sf_dir, cpus=cfg.cpus, extra=extra)


def _positive(d) -> dict[str, float]:
    return {k: v for k, v in (d or {}).items() if isinstance(v, (int, float)) and v > 0}


@dataclass
class SuitePlan:
    items: list  # (name, spec) in submission order
    pool_of: dict[str, str]  # FAIR pool per name; the rest run in "light"
    chains: set[str]  # the serial trigger chains, run in their own lane

    def pool(self, name: str) -> str:
        return self.pool_of.get(name, "light")


def plan_suite(specs: dict, prev_times: dict[str, float]) -> SuitePlan:
    """LPT order and FAIR pools: each trigger chain gets its own minShare
    pool (r5 verdict #3 — the chains are serial by construction and share no
    hot tables, so per-chain pools stop one chain's micro-batch jobs queuing
    behind another's); other heavies share "heavy"; the rest "light"."""

    def lpt_key(name: str):
        if name in CRITICAL:
            return (0, CRITICAL.index(name))
        t = prev_times.get(name)
        return (1, -1e9) if t is None else (1, -t)

    items = sorted(specs.items(), key=lambda kv: lpt_key(kv[0]))
    chains = [n for n in CRITICAL if n.startswith(("stream_", "kv_", "pyds_stream"))]
    heavy = {n for n, _ in sorted(prev_times.items(), key=lambda kv: -kv[1])[:25]}
    heavy |= {n for n, _ in items if n not in prev_times}
    pool_of = {n: ("critical" if n in CRITICAL else "heavy") for n in set(CRITICAL) | heavy}
    for i, n in enumerate(chains):
        pool_of[n] = f"stream{i % 15}"
    return SuitePlan(items, pool_of, set(chains))


def two_tier(plan: SuitePlan, run_fn) -> None:
    """Two-tier submission (r8, VERDICT r7 #1): the serial trigger chains are
    the makespan's critical path and also thrash EACH OTHER (15-wide
    all-at-once ran 30-56 s wall, a width-4 lane 24.5 s: each trigger's
    driver-side planning, foreachBatch callback and state commit are
    latency-bound). So the chains run in a lane of CHAIN_LANE threads, in
    LPT order, and the batch flood runs beside it capped at WORKERS - lane;
    when the last chain drains, the flood widens to the full worker count."""
    chain_items = [it for it in plan.items if it[0] in plan.chains]
    batch_items = [it for it in plan.items if it[0] not in plan.chains]
    if not chain_items:
        with ThreadPoolExecutor(max_workers=WORKERS) as pool:
            list(pool.map(run_fn, batch_items))
        return
    lane = min(CHAIN_LANE, len(chain_items))
    sem = threading.Semaphore(max(1, WORKERS - lane))
    remaining = [len(chain_items)]
    done_lock = threading.Lock()

    def run_chain(item) -> None:
        try:
            run_fn(item)
        finally:
            with done_lock:
                remaining[0] -= 1
                last = remaining[0] == 0
            if last:  # lane drained: widen the flood to full width
                sem.release(lane)

    def run_batch(item) -> None:
        with sem:
            run_fn(item)

    with ThreadPoolExecutor(max_workers=lane) as lane_pool, ThreadPoolExecutor(
        max_workers=WORKERS
    ) as batch_pool:
        futs = [lane_pool.submit(run_chain, it) for it in chain_items]
        futs += [batch_pool.submit(run_batch, it) for it in batch_items]
        for f in futs:
            f.result()


def _run_noop(spark, pool: str | None, spec, sf_dir: str) -> None:
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
    spec.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()


def warmup(spark, plan: SuitePlan, sf_dir: str) -> float:
    """Untimed pass of the whole suite at the target sf, through the same
    two-tier shape as the timed pass: the exact twin of the DuckDB
    baseline's warm-up (tools/bench_baseline.py). It compiles the generated
    classes the timed pass reuses (held by the session's suite-sized codegen
    cache, see session.py), spins up the Arrow python workers, warms the
    page cache and runs one full trigger cycle per streaming/KV chain
    (VERDICT r7 #6). Returns its wall seconds, stamped into `phases` as
    evidence that the timed phase measures warm steady state."""
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    def warm_one(item) -> None:
        name, spec = item
        try:
            _run_noop(spark, plan.pool(name), spec, sf_dir)
        except Exception as e:  # warmup never fails the bench, but says which query failed
            first = (str(e).strip().splitlines() or [""])[0]
            print(f"warmup: {name} failed: {type(e).__name__}: {first}", file=sys.stderr)

    t0 = time.time()
    two_tier(plan, warm_one)
    return round(time.time() - t0, 3)


def timed_suite(spark, plan: SuitePlan, sf_dir: str) -> dict:
    """One timed pass: {"total_sec": makespan, "times", "errs", "retried"}.
    A failing query records -1 and never kills the bench. Failures under
    concurrency were historically contention-induced (a 1g default JVM heap
    OOMing, fixed in session.py) and silently shrank the suite, so any query
    that failed in the pool gets ONE serial retry after the pool drains; its
    retry wall time joins the makespan (the work is real)."""
    times: dict[str, float] = {}
    errs: dict[str, str] = {}
    retried: list[str] = []

    def run_one(item) -> None:
        name, spec = item
        t0 = time.time()
        try:
            _run_noop(spark, plan.pool(name), spec, sf_dir)
            times[name] = round(time.time() - t0, 3)
            errs.pop(name, None)
        except Exception as e:
            msg = f"{type(e).__name__}: {e}"
            errs[name] = msg.splitlines()[0][:400]
            print(f"BENCH ERROR {name}: {msg}", file=sys.stderr)
            times[name] = -1.0

    t0 = time.time()
    two_tier(plan, run_one)
    for item in [it for it in plan.items if times.get(it[0], -1.0) < 0]:
        retried.append(item[0])
        run_one(item)
    return {"total_sec": round(time.time() - t0, 3), "times": times, "errs": errs, "retried": retried}


def _window():
    return _cpu_counters(), _tree_cpu_ticks()


def run_phase(phase: str, attempt_fn, phases: list[dict], *, window=_window, settle=settle):
    """Run one timed phase under the contention budgets (r7, VERDICT r6 #3:
    host steal has swung the artifact's absolute numbers 2-4x across
    rounds). Each attempt measures its own window (steal %, foreign CPU %),
    appends one `phases` record and asks contention_verdict; a dirty
    attempt, or one that raised (a baseline timeout), settles and runs
    again warm, up to STEAL_RETRIES more times. attempt_fn returns a dict
    with "total_sec". Returns (the last attempt's dict, None if it raised;
    whether that attempt ran clean)."""
    out = None
    for attempt in range(1, STEAL_RETRIES + 2):
        if attempt > 1:
            settle(RETRY_SETTLE_S)
        (cpu0, tree0) = window()
        try:
            out = attempt_fn()
        except Exception as e:
            out = None
            phases.append(
                {"phase": phase, "attempt": attempt, "total_sec": None, "steal_pct": None,
                 "foreign_cpu_pct": None, "error": type(e).__name__}
            )
            print(f"{phase} attempt {attempt} failed: {type(e).__name__}: {e}", file=sys.stderr)
            continue
        (cpu1, tree1) = window()
        st, fo = steal_pct(cpu0, cpu1), foreign_cpu_pct(cpu0, cpu1, tree0, tree1)
        phases.append(
            {"phase": phase, "attempt": attempt, "total_sec": out.get("total_sec"),
             "steal_pct": st, "foreign_cpu_pct": fo}
        )
        why = contention_verdict(st, fo, STEAL_BUDGET, FOREIGN_BUDGET)
        if why is None:
            return out, True
        print(f"CONTENTION BUDGET: {phase} attempt {attempt} saw {why} — re-running phase", file=sys.stderr)
    return out, False


def solo_warm_audit(spark, specs: dict, sf_dir: str, times: dict, prev_solo: dict):
    """Rerun specs one at a time in the same warm session, OUTSIDE the timed
    makespan: contended minus solo-warm time separates scheduler queueing
    from a real per-query regression. Audited (r5 verdict #4): the 10
    slowest contended specs, every spec whose contended time exceeds 2.5×
    its last recorded solo_warm, and PINNED_SOLO. Returns (solo_warm, the
    specs the 2.5× trigger alone added)."""
    slowest = [n for n, t in sorted(times.items(), key=lambda kv: -kv[1]) if t >= 0][:10]
    trigger = sorted(
        n for n, t in times.items()
        if t > 0 and n in prev_solo and t > 2.5 * prev_solo[n] and n not in slowest
    )
    pinned = [n for n in PINNED_SOLO if n in times and n not in slowest + trigger]
    solo: dict[str, float] = {}
    for name in slowest + trigger + pinned:
        t0 = time.time()
        try:
            _run_noop(spark, None, specs[name], sf_dir)
            solo[name] = round(time.time() - t0, 3)
        except Exception:
            solo[name] = -1.0
    return solo, trigger


def duckdb_baseline(sf_dir: str, timeout_s: float, phases: list[dict]) -> dict | None:
    """Same-window DuckDB concurrent baseline, run after spark.stop() so
    neither engine's window contaminates the other, under the same budgets
    as the Spark suite; a timeout burns a retry instead of voiding the
    artifact (r9). Returns tools/bench_baseline.py's result with the last
    attempt's steal and foreign CPU %, or None when no attempt completed.
    The baseline subprocess is our child, so its ticks count as our tree's."""

    def attempt() -> dict:
        script = str(ROOT / "tools" / "bench_baseline.py")
        proc = subprocess.run(
            [sys.executable, script, sf_dir, "--concurrent", str(WORKERS)],
            capture_output=True,
            text=True,
            timeout=timeout_s,
        )
        return json.loads(proc.stdout.strip().splitlines()[-1])

    duck, _ = run_phase("duckdb_baseline", attempt, phases)
    if duck is not None:
        duck["steal_pct"] = phases[-1]["steal_pct"]
        duck["foreign_cpu_pct"] = phases[-1]["foreign_cpu_pct"]
    return duck


def suite_result(cfg: BenchConfig, suite: dict, solo_warm: dict, solo_trigger: list) -> dict:
    """The artifact's head: the timed suite, its window and the solo audit."""
    sf = cfg.sf_dir.rstrip("/").split("sf")[-1]
    return {
        "metric": "suite_total_wall",
        "value": suite["total_sec"],
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in suite["times"].items()},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cfg.cpus,
        "mode": "concurrent",
        "workers": WORKERS,
        "failed": sorted(suite["errs"]),
        "retried": suite["retried"],
        "err": suite["errs"],
        # host steal% and foreign CPU% over the timed window (None if /proc
        # is unreadable); foreign catches same-host self-contention
        "steal_pct": suite["steal_pct"],
        "foreign_cpu_pct": suite["foreign_cpu_pct"],
        # contended-vs-solo accounting: 10 slowest + adaptive 2.5× movers
        "solo_warm": solo_warm,
        "solo_trigger": solo_trigger,
    }


def verdict(result: dict, phases: list[dict], load1_before: float | None) -> None:
    """Stamp the budgets and the `clean` verdict over every timed phase's
    LAST attempt (reruns keep earlier attempts in `phases` as evidence)."""
    last = {p["phase"]: p for p in phases if p["phase"] != "warmup"}
    result["steal_budget_pct"] = STEAL_BUDGET
    result["foreign_budget_pct"] = FOREIGN_BUDGET
    result["load1_before"] = load1_before
    result["load_budget"] = LOAD_BUDGET
    result["clean"] = all(
        p["steal_pct"] is not None
        and p["steal_pct"] <= STEAL_BUDGET
        and (p.get("foreign_cpu_pct") is None or p["foreign_cpu_pct"] <= FOREIGN_BUDGET)
        for p in last.values()
    ) and (load1_before is not None and load1_before <= LOAD_BUDGET)
    result["phases"] = phases


def pair_with_last_clean(result: dict, n_queries: int, out_dir: Path) -> None:
    """Clean-pair provenance (r9): a clean run with a real baseline refreshes
    clean_pair_latest.json; any other run embeds that file's summary, so the
    artifact is self-contained evidence either way."""
    pair_file = out_dir / "clean_pair_latest.json"
    duck_total = result.get("duckdb_conc_total")
    if result["clean"] and duck_total is not None:
        pair = {
            "recorded_at": time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime()),
            "sf": result["sf"],
            "n_queries": n_queries,
            "spark_total_sec": result["value"],
            "duckdb_conc_total": duck_total,
            "ratio": round(result["value"] / duck_total, 3) if duck_total else None,
            "steal_pct": result["steal_pct"],
            "foreign_cpu_pct": result["foreign_cpu_pct"],
        }
        pair_file.write_text(json.dumps(pair, indent=2) + "\n")
        return
    try:
        result["last_clean_pair"] = json.loads(pair_file.read_text())
    except Exception:
        result["last_clean_pair"] = None


def emit(result: dict, times: dict[str, float], out_dir: Path) -> str:
    """Write the full result to out_dir/latest.json and return the stdout
    line. The consumer keeps only a bounded (~2000-char) tail of stdout and
    parses the FINAL line as JSON (a 111-query map made that line 2.8k chars
    and truncated the head: BENCH_r01/r02 recorded parsed=null), so the line
    stays under 1800 chars: totals and failure counts always, per-query
    times only for the slowest queries that still fit."""
    (out_dir / "latest.json").write_text(json.dumps(result, indent=2) + "\n")
    line = json.dumps(result, separators=(",", ":"))
    if len(line) <= 1750:
        return line
    compact = {k: v for k, v in result.items() if k not in ("queries", "err", "solo_warm", "phases")}
    # failed/retried are unbounded in a mass-failure run (a dead gateway
    # fails every query): counts plus a bounded sample
    for key in ("failed", "retried"):
        names = compact.get(key) or []
        compact[f"n_{key}"] = len(names)
        compact[key] = names[:10]
    compact["queries_file"] = "bench_results/latest.json"
    shown: dict[str, float] = {}
    for name, t in sorted(times.items(), key=lambda kv: -kv[1]):
        shown[name] = t
        compact["queries"] = shown
        if len(json.dumps(compact, separators=(",", ":"))) > 1700:
            shown.pop(name)
            break
    compact["queries"] = shown
    compact["queries_shown"] = f"{len(shown)}/{len(times)} slowest"
    return json.dumps(compact, separators=(",", ":"))


def main() -> None:
    cfg = load_config()
    scratch = make_scratch(cfg.scratch_root)
    try:
        load1_before = settle(PRERUN_SETTLE_S, LOAD_BUDGET)
        spark = bench_session(cfg, scratch)
        from templatedb_spark.suite import all_specs, clear_memos

        out_dir = ROOT / "bench_results"
        try:
            prev_art = json.loads((out_dir / "latest.json").read_text())
        except Exception:
            prev_art = {}  # cold start: static seed only
        specs = all_specs()
        plan = plan_suite(specs, _positive(prev_art.get("queries")))
        phases = [{"phase": "warmup", "attempt": 1, "total_sec": warmup(spark, plan, cfg.sf_dir),
                   "steal_pct": None, "foreign_cpu_pct": None}]
        suite, _ = run_phase("spark_suite", lambda: timed_suite(spark, plan, cfg.sf_dir), phases)
        suite.update(steal_pct=phases[-1]["steal_pct"], foreign_cpu_pct=phases[-1]["foreign_cpu_pct"])
        solo = solo_warm_audit(spark, specs, cfg.sf_dir, suite["times"], _positive(prev_art.get("solo_warm")))
        result = suite_result(cfg, suite, *solo)
        # release the operators' memoized and cached intermediates before
        # teardown, then stop the JVM so no late log output can interleave
        # into the line
        clear_memos(spark)
        spark.stop()
        out_dir.mkdir(exist_ok=True)
        duck = duckdb_baseline(cfg.sf_dir, cfg.baseline_timeout_s, phases)
        if duck is None:
            print("BASELINE RUN FAILED: duckdb baseline never completed within its attempts", file=sys.stderr)
            result["duckdb_conc_total"] = None
        else:
            (out_dir / "duckdb_conc_latest.json").write_text(json.dumps(duck, indent=2) + "\n")
            result["duckdb_conc_total"] = duck.get("total_sec")
            result["duckdb_conc_steal_pct"] = duck.get("steal_pct")
        verdict(result, phases, load1_before)
        pair_with_last_clean(result, len(suite["times"]), out_dir)
        line = emit(result, suite["times"], out_dir)
        sys.stderr.flush()
        print(line, flush=True)
    finally:
        if scratch:
            shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
