"""Measure the DuckDB baseline on the same parquet data the Spark suite uses.

Two protocols (both reported in BASELINE.md):

- **sequential** (default): every oracle SQL, 1 warmup + 3 timed runs, median,
  total = sum of medians. This is the classic single-stream number.
- **concurrent** (``--concurrent [workers]``): one warmup pass, then all
  queries submitted from a thread pool (each thread its own ``con.cursor()``
  — DuckDB's documented multi-thread pattern), total = suite makespan. This
  is the apples-to-apples twin of the Spark bench's FAIR-scheduler protocol.

Writes one JSON line to stdout. The reference publishes no numbers of its own
(docs/bench/tpch.md is empty), so DuckDB on the same data is the recorded
baseline for the BENCH-vs-BASELINE gate.
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    import duckdb

    from templatedb_spark.catalog import SF_TABLES
    from templatedb_spark.suite import all_specs

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    concurrent = "--concurrent" in sys.argv
    workers = 16
    if concurrent:
        i = sys.argv.index("--concurrent")
        if i + 1 < len(sys.argv) and sys.argv[i + 1].isdigit():
            workers = int(sys.argv[i + 1])

    con = duckdb.connect()
    for t in SF_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    specs = [(n, s.oracle) for n, s in all_specs().items() if s.oracle is not None]
    out: dict[str, float] = {}

    if concurrent:
        def warm(item):
            name, sql = item
            try:
                con.cursor().sql(sql).fetchall()
            except Exception:
                pass

        with ThreadPoolExecutor(max_workers=workers) as pool:
            list(pool.map(warm, specs))

        def run_one(item):
            name, sql = item
            t0 = time.time()
            try:
                con.cursor().sql(sql).fetchall()
                out[name] = round(time.time() - t0, 3)
            except Exception as e:
                print(f"BASELINE ERROR {name}: {e}", file=sys.stderr)
                out[name] = -1.0

        t0 = time.time()
        with ThreadPoolExecutor(max_workers=workers) as pool:
            list(pool.map(run_one, specs))
        total = round(time.time() - t0, 3)
    else:
        for name, sql in specs:
            try:
                con.sql(sql).fetchall()  # warmup
                runs = []
                for _ in range(3):
                    t0 = time.time()
                    con.sql(sql).fetchall()
                    runs.append(time.time() - t0)
                out[name] = round(statistics.median(runs), 3)
            except Exception as e:
                print(f"BASELINE ERROR {name}: {e}", file=sys.stderr)
                out[name] = -1.0
        total = round(sum(v for v in out.values() if v >= 0), 3)

    print(
        json.dumps(
            {
                "baseline": "duckdb",
                "sf_dir": sf_dir,
                "mode": "concurrent" if concurrent else "sequential",
                "workers": workers if concurrent else 1,
                "total_sec": total,
                "queries": out,
            }
        )
    )


if __name__ == "__main__":
    main()
