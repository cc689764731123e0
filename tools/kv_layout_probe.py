"""KV layout probe: hash vs range bucketing — files opened and wall time for
point reads, range scans, and keyed-subrange compaction on the same data.

Builds two tables (layout=hash / layout=range) with V versions x K keys,
then measures, per layout:

  - point get: pruned delta paths (dirs opened) + wall
  - 5% range scan: pruned delta paths + wall
  - compact_range over the same 5% window: wall + bytes rewritten (the
    merged base version) vs hardlink-cloned (every other version) — the
    hash layout merges every version whose key range spans the window, the
    range layout only the buckets that overlap it, so it should clone most
    of the volume

The hash layout can prune a point read (bucket = crc32(key) % B) but NEVER a
range scan (a key range maps to every hash bucket); the range layout prunes
both through the manifest's per-bucket smallest/largest — the LSM skipping
SSTables by FileMetaData. Usage:

    python tools/kv_layout_probe.py [versions] [keys_per_version]

Prints one JSON line for SCALE.md.
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def build(spark, d, layout, n_versions, n_keys):
    from templatedb_spark.kv import KVTable

    kv = KVTable(spark, d, layout=layout)
    for v in range(n_versions):
        # each version touches an interleaved slice so every version's key
        # range spans the whole keyspace (worst case for version pruning —
        # bucket pruning is what's being isolated)
        kv.write_batch(
            puts={f"k{i:06d}": f"v{v}" for i in range(v, n_keys, n_versions)}
        )
    return kv


def bucket_dirs(kv, start, end, bucket=None):
    """Bucket dirs a read of [start, end) opens (the resolver's plan)."""
    state = kv._load_manifest()
    plan = kv._resolve(None, start, end, bucket)
    return sum(len(state[v]["buckets"] if bs is None else bs) for v, bs in plan.items())


def paths_and_wall(kv, start, end):
    t0 = time.monotonic()
    paths = bucket_dirs(kv, start, end)
    rows = kv.scan(start=start, end=end).count()
    return paths, rows, time.monotonic() - t0


def main():
    n_versions = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    n_keys = int(sys.argv[2]) if len(sys.argv) > 2 else 40_000

    from templatedb_spark.session import sized_session

    spark = sized_session()
    out = {"versions": n_versions, "keys": n_keys, "layouts": {}}
    lo, hi = f"k{int(n_keys*0.50):06d}", f"k{int(n_keys*0.55):06d}"  # 5% window
    for layout in ("hash", "range"):
        with tempfile.TemporaryDirectory() as d:
            kv = build(spark, d, layout, n_versions, n_keys)
            from templatedb_spark.kv import bucket_of

            key = f"k{n_keys // 3:06d}"
            t0 = time.monotonic()
            pp = bucket_dirs(
                kv, key, key + "\x00", bucket_of(key) if layout == "hash" else None
            )
            assert kv.get(key) is not None
            point_wall = time.monotonic() - t0
            scan_paths, scan_rows, scan_wall = paths_and_wall(kv, lo, hi)
            t0 = time.monotonic()
            base = kv.compact_range(lo, hi)
            cr_wall = time.monotonic() - t0
            # post-compaction physical accounting: the base is the one
            # version the compaction wrote, every other one is a hardlink
            # clone (the old dirs are gone, so st_nlink cannot tell them apart)
            cloned = rewritten = 0
            for f in Path(d).glob("version=*/bucket=*/*.parquet"):
                if f.parent.parent.name == f"version={base}":
                    rewritten += f.stat().st_size
                else:
                    cloned += f.stat().st_size
            out["layouts"][layout] = {
                "point_paths": pp,
                "point_wall_s": round(point_wall, 3),
                "scan_paths": scan_paths,
                "scan_rows": scan_rows,
                "scan_wall_s": round(scan_wall, 3),
                "compact_range_wall_s": round(cr_wall, 3),
                "post_cr_cloned_bytes": cloned,
                "post_cr_rewritten_bytes": rewritten,
            }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
