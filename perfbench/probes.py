"""Counters read from outside the engine: /proc for CPU and memory of the
process tree, the host's load and steal, and Spark's status REST API.

Host-noise counters come from bench.py so both harnesses judge a window
the same way.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from datetime import datetime

from bench import _cpu_counters, _tree_cpu_ticks, foreign_cpu_pct

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def load1() -> float | None:
    try:
        with open("/proc/loadavg", encoding="ascii") as f:
            return float(f.read().split()[0])
    except OSError:
        return None


class HostWindow:
    """Steal % and foreign-CPU % of the host over one window."""

    def __init__(self) -> None:
        self._cpu0 = _cpu_counters()
        self._tree0 = _tree_cpu_ticks()

    def close(self) -> dict:
        cpu1, tree1 = _cpu_counters(), _tree_cpu_ticks()
        steal = None
        if self._cpu0 and cpu1 and cpu1[1] > self._cpu0[1]:
            steal = round(100.0 * (cpu1[0] - self._cpu0[0]) / (cpu1[1] - self._cpu0[1]), 2)
        return {
            "steal_pct": steal,
            "foreign_cpu_pct": foreign_cpu_pct(self._cpu0, cpu1, self._tree0, tree1),
        }


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, own utime+stime ticks, reaped-children ticks)."""
    out = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat", encoding="ascii", errors="replace") as f:
                s = f.read()
        except OSError:
            continue
        rest = s[s.rindex(")") + 2 :].split()
        out[int(p)] = (int(rest[1]), int(rest[11]) + int(rest[12]), int(rest[13]) + int(rest[14]))
    return out


def descendants(root: int, table: dict | None = None) -> list[int]:
    table = table if table is not None else _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def cpu_by_class(jvm_pid: int | None) -> dict[str, float]:
    """CPU seconds so far of the driver's Python, the JVM's own threads, and
    the JVM's descendants (Python workers, living and reaped)."""
    table = _proc_table()
    me = table.get(os.getpid(), (0, 0, 0))
    out = {"driver_py": me[1] / _TICK, "jvm": 0.0, "pyworker": 0.0}
    if jvm_pid and jvm_pid in table:
        _, own, reaped = table[jvm_pid]
        out["jvm"] = own / _TICK
        out["pyworker"] = (reaped + sum(sum(table[p][1:]) for p in descendants(jvm_pid, table))) / _TICK
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Background sampler of the process tree's resident set; ``peak`` is
    the largest sum seen."""

    def __init__(self, interval: float = 0.25) -> None:
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(self._interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak


def dir_bytes(path: str) -> int:
    """Bytes of the distinct inodes under path (hard links count once)."""
    return sum(dir_inodes(path).values())


def dir_inodes(path: str) -> dict[tuple[int, int], int]:
    seen: dict[tuple[int, int], int] = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                st = os.lstat(os.path.join(dirpath, f))
            except OSError:
                continue
            seen[(st.st_dev, st.st_ino)] = st.st_size
    return seen


def _epoch(ts: str | None) -> float | None:
    """Spark REST timestamps look like 2026-01-02T03:04:05.678GMT."""
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def spark_rest(ui_url: str) -> tuple[list[dict], dict[tuple[int, int], dict]]:
    """(jobs, stages keyed by (stageId, attemptId)) from the status REST API."""

    def get(path: str):
        with urllib.request.urlopen(f"{ui_url}/api/v1/{path}", timeout=30) as r:
            return json.load(r)

    app = get("applications")[0]["id"]
    jobs = get(f"applications/{app}/jobs")
    stages = {(s["stageId"], s["attemptId"]): s for s in get(f"applications/{app}/stages")}
    for j in jobs:
        j["_t0"] = _epoch(j.get("submissionTime"))
    for s in stages.values():
        s["_t0"] = _epoch(s.get("submissionTime"))
        s["_t1"] = _epoch(s.get("firstTaskLaunchedTime"))
    return jobs, stages


def attribute_jobs(jobs: list[dict], ops: list[dict], single_client: bool) -> dict[int, list[dict]]:
    """op id -> its jobs. A job belongs to the op whose job group it carries;
    with one client, a job from another thread (a streaming query's) belongs
    to the op running when it was submitted."""
    by_group = {f"perfbench-op-{o['op']}": o["op"] for o in ops}
    out: dict[int, list[dict]] = {}
    windows = sorted((o["wall0"], o["wall1"], o["op"]) for o in ops)
    for j in jobs:
        op = by_group.get(j.get("jobGroup") or "")
        if op is None and single_client and j["_t0"] is not None:
            op = next((i for a, b, i in windows if a <= j["_t0"] <= b), None)
        if op is not None:
            out.setdefault(op, []).append(j)
    return out


def stage_totals(op_jobs: list[dict], stages: dict) -> dict[str, float]:
    """Per-op Spark counters summed over the stages of its jobs."""
    t = {
        "jobs": len(op_jobs), "stages": 0, "tasks": 0, "sched_delay_s": 0.0,
        "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0, "spill_bytes": 0,
    }
    seen = set()
    for j in op_jobs:
        for sid in j.get("stageIds", []):
            for (s_id, att), s in stages.items():
                if s_id != sid or (s_id, att) in seen or s.get("status") == "SKIPPED":
                    continue
                seen.add((s_id, att))
                t["stages"] += 1
                t["tasks"] += s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
                if s["_t0"] is not None and s["_t1"] is not None:
                    t["sched_delay_s"] += max(0.0, s["_t1"] - s["_t0"])
                t["run_s"] += s.get("executorRunTime", 0) / 1e3
                t["cpu_s"] += s.get("executorCpuTime", 0) / 1e9
                t["gc_s"] += s.get("jvmGcTime", 0) / 1e3
                t["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
                t["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
                t["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
    return t


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Poll until every pid has exited; returns those still alive."""
    deadline = time.time() + timeout
    alive = list(pids)
    while alive and time.time() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if alive:
            time.sleep(0.1)
    return alive


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            s = f.read()
        return s[s.rindex(")") + 2] == "Z"
    except OSError:
        return False
