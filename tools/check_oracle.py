"""Local mimic of the driver's correctness gate: run every QuerySpec's Spark
implementation and DuckDB oracle at a given sf dir, compare row count, column
names, and order-insensitive values. Usage:

    python tools/check_oracle.py [sf_dir] [name ...]
    python tools/check_oracle.py --jobs 8 [sf_dir] [name ...]   # parallel

--jobs N runs specs from a thread pool (Spark sessions are thread-safe for
concurrent queries — the bench's 16-thread protocol relies on it; DuckDB gets
one cursor per thread). Serial remains the default and is the exact driver
mimic; parallel is the fast full-sweep mode (~4x on 8 jobs).
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def normalize(df) -> list[tuple]:
    """pandas df → sorted list of value tuples with columns sorted by name."""
    import math

    cols = sorted(df.columns)
    df = df[cols]
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append("NULL")
            elif isinstance(v, float):
                vals.append(f"{v:.10g}")
            elif hasattr(v, "isoformat"):
                vals.append(str(v)[:19])
            else:
                vals.append(str(v))
        rows.append(tuple(vals))
    rows.sort()
    return rows


def main() -> int:
    import duckdb

    from templatedb_spark.session import sized_session
    from templatedb_spark.suite import all_specs

    argv = sys.argv[1:]
    jobs = 1
    if "--jobs" in argv:
        i = argv.index("--jobs")
        if i + 1 >= len(argv) or not argv[i + 1].isdigit():
            print("usage: check_oracle.py [--jobs N] [sf_dir] [name ...]")
            return 2
        jobs = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    spark = sized_session(sf_dir)
    con = duckdb.connect()
    from templatedb_spark.catalog import SF_TABLES

    for t in SF_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    specs = all_specs()
    failures = []

    def check_one(item) -> None:
        name, spec = item
        t0 = time.time()
        try:
            sdf = spec.spark(spark, sf_dir)
            spark_pd = sdf.toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            return
        if spec.oracle is None:
            print(f"ok-   {name}: rows={len(spark_pd)} (no oracle) [{time.time()-t0:.1f}s]")
            return
        try:
            duck_pd = con.cursor().sql(spec.oracle).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            return
        s_cols, d_cols = sorted(spark_pd.columns), sorted(duck_pd.columns)
        if s_cols != d_cols:
            failures.append(name)
            print(f"FAIL  {name}: columns differ spark={s_cols} duck={d_cols}")
            return
        s_rows, d_rows = normalize(spark_pd), normalize(duck_pd)
        if len(s_rows) != len(d_rows):
            failures.append(name)
            print(f"FAIL  {name}: rowcount spark={len(s_rows)} duck={len(d_rows)}")
            return
        if s_rows != d_rows:
            failures.append(name)
            diff = [(a, b) for a, b in zip(s_rows, d_rows) if a != b][:3]
            print(f"FAIL  {name}: values differ; first diffs: {diff}")
            return
        print(f"PASS  {name}: rows={len(s_rows)} [{time.time()-t0:.1f}s]")

    items = [kv for kv in specs.items() if not only or kv[0] in only]
    if jobs > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=jobs) as pool:
            list(pool.map(check_one, items))
    else:
        for item in items:
            check_one(item)

    print(f"\n{len(failures)} failures" + (f": {sorted(failures)}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
