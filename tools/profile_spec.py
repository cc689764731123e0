"""Stage-level profile of one or more QuerySpecs.

Runs each named spec (noop sink) in a UI-enabled warm session, then dumps
its job and stage counts and per-stage wall/task metrics from the UI REST
API — the closest local[] gets to the Spark UI's Stages tab (guide §7.1)
without a browser — and the Janino
compiles of the measured (warm) run: a spec that still compiles when warm
generates different code from run to run.

Usage: python tools/profile_spec.py name [name ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
       SPARK_GRAFT_CPUS   (default: the host's core count)
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from templatedb_spark.session import codegen_compiles, sized_session
    from templatedb_spark.suite import all_specs
    from tools.iso_time import noop

    spark = sized_session(sf_dir, ui=True)
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    specs = all_specs()

    for name in names:
        # warm once (page cache, codegen, shared caches), then measure
        try:
            noop(specs[name].spark(spark, sf_dir))
        except Exception as e:
            print(f"warm ERR {name}: {e}")
            continue
        with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages") as r:
            seen = {s["stageId"] for s in json.load(r)}
        with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/jobs") as r:
            seen_jobs = {j["jobId"] for j in json.load(r)}
        spark.sparkContext.setJobDescription(f"profile:{name}")
        compiles0, compile_ms0 = codegen_compiles(spark)
        t0 = time.time()
        noop(specs[name].spark(spark, sf_dir))
        wall = time.time() - t0
        compiles, compile_ms = codegen_compiles(spark)
        with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages") as r:
            stages = json.load(r)
        fresh = [s for s in stages if s["stageId"] not in seen]
        with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/jobs") as r:
            jobs = [j for j in json.load(r) if j["jobId"] not in seen_jobs]
        fresh.sort(key=lambda s: -(s.get("executorRunTime") or 0))
        print(f"\n=== {name}: wall {wall:.3f}s, {len(jobs)} jobs, {len(fresh)} stages ===")
        print(
            f"{'stage':>6} {'run_ms':>8} {'cpu_ms':>9} {'tasks':>5} {'in_MB':>7} "
            f"{'sh_r_MB':>8} {'sh_w_MB':>8}  name"
        )
        for s in fresh[:15]:
            print(
                f"{s['stageId']:>6} {s.get('executorRunTime', 0):>8} "
                f"{(s.get('executorCpuTime', 0) or 0) // 1_000_000:>9} "
                f"{s.get('numCompleteTasks', 0):>5} "
                f"{(s.get('inputBytes', 0) or 0) / 1e6:>7.1f} "
                f"{(s.get('shuffleReadBytes', 0) or 0) / 1e6:>8.1f} "
                f"{(s.get('shuffleWriteBytes', 0) or 0) / 1e6:>8.1f}  "
                f"{(s.get('name') or '')[:60]}"
            )
        tot_run = sum(s.get("executorRunTime") or 0 for s in fresh)
        print(f"sum executorRunTime {tot_run} ms across {len(fresh)} stages")
        print(
            f"warm janino compiles {compiles - compiles0} "
            f"({compile_ms - compile_ms0:.1f} ms)"
        )
    spark.stop()


if __name__ == "__main__":
    main()
