"""Isolated warm timing of QuerySpecs: for each sf dir and each spec, one
warm-up run, then N timed reps (noop sink), one spec at a time. Prints the
cold (warm-up) run, the min and the median per spec, then one JSON line per
sf dir. This is the paired-A/B measurement unit of the optimization rounds
(full-suite numbers carry ordering noise; see OPTIMIZATION_r10.md
"Methodology note"), the engine-only cost curve across sf tiers (SCALE.md),
and, over the whole registry, the warm solo sweep: it then also writes
bench_results/solo_sweep_<TAG>.json ({"tag", "sf_dir", "total", "times"},
times being each spec's median, -1 on error).

Usage: python tools/iso_time.py [--reps N] [--tag TAG] [SF_DIR ...] [NAME ...]
       arguments that are directories are sf dirs (default: one, from the
       env); the rest are spec names (default: the whole registry).
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
       SPARK_GRAFT_CPUS   (default: the host's core count)
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def noop(df) -> None:
    """Run df to completion without collecting it to the driver."""
    df.write.format("noop").mode("overwrite").save()


def time_spec(spark, spec, sf_dir: str, reps: int) -> tuple[float, list[float]]:
    """(cold seconds, [rep seconds]): one warm-up run (page cache, codegen,
    shared caches), then `reps` timed runs, each tagged with the spec's name
    as its job description."""
    t0 = time.time()
    noop(spec.spark(spark, sf_dir))
    cold = time.time() - t0
    ts = []
    for _ in range(reps):
        spark.sparkContext.setJobDescription(f"iso:{spec.name}")
        t0 = time.time()
        noop(spec.spark(spark, sf_dir))
        ts.append(time.time() - t0)
    return cold, ts


def main() -> None:
    ap = argparse.ArgumentParser(usage=__doc__.split("Usage: ")[1].split("\n")[0])
    ap.add_argument("--reps", type=int, default=4, help="timed reps per spec")
    ap.add_argument("--tag", default="latest", help="solo sweep file tag")
    ap.add_argument("args", nargs="*", metavar="SF_DIR|NAME")
    opts = ap.parse_args()
    if opts.reps < 1:
        ap.error("--reps must be at least 1")
    reps, tag = opts.reps, opts.tag
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    dirs = [a for a in opts.args if Path(a).is_dir()]
    names = [a for a in opts.args if a not in dirs]
    dirs = dirs or [sf_dir]

    from templatedb_spark.session import input_partitions, local_cpus, sized_session
    from templatedb_spark.suite import all_specs

    spark = sized_session(dirs[0])
    specs = all_specs()
    for sf_dir in dirs:
        # each tier runs with the partition count bench.py would size it to
        spark.conf.set("spark.sql.shuffle.partitions", str(input_partitions(sf_dir, local_cpus())))
        out: dict[str, dict] = {}
        for name in names or specs:
            try:
                cold, ts = time_spec(spark, specs[name], sf_dir, reps)
            except Exception as e:
                out[name] = {"err": f"{type(e).__name__}: {e}"[:200]}
                print(f"{name:38s} ERR {out[name]['err']}", flush=True)
                continue
            row = out[name] = {"cold": round(cold, 3), "min": round(min(ts), 3), "med": round(statistics.median(ts), 3)}
            print(f"{name:38s} cold {row['cold']:7.3f}  min {row['min']:7.3f}  med {row['med']:7.3f}", flush=True)
        print(json.dumps({"sf_dir": sf_dir, "reps": reps, "specs": out}, separators=(",", ":")), flush=True)
        if not names:
            times = {n: r.get("med", -1.0) for n, r in out.items()}
            total = round(sum(v for v in times.values() if v > 0), 3)
            suffix = "" if len(dirs) == 1 else f"_{Path(sf_dir).name}"
            path = ROOT / "bench_results" / f"solo_sweep_{tag}{suffix}.json"
            sweep = {"tag": tag, "sf_dir": sf_dir, "total": total, "times": times}
            path.write_text(json.dumps(sweep, indent=2) + "\n")
            print(f"TOTAL {total:.1f}s -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
