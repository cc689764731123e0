"""Parquet codec comparison: write the lineitem table with each compression
codec, report size + write/scan wall — the storage-tuning decision at 100 TB
(zstd usually wins size at comparable scan speed; snappy wins write CPU).

Usage: python tools/codec_report.py [sf_dir] [out_dir]
Prints one JSON line per codec.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_root = Path(sys.argv[2]) if len(sys.argv) > 2 else Path(tempfile.mkdtemp(prefix="codec_"))

    from templatedb_spark.session import sized_session

    spark = sized_session(sf_dir)
    src = spark.read.parquet(f"{sf_dir}/lineitem.parquet").cache()
    n = src.count()  # materialize once so write timing excludes the scan

    for codec in ["snappy", "zstd", "lz4", "gzip", "uncompressed"]:
        path = out_root / codec
        t0 = time.time()
        src.write.mode("overwrite").option("compression", codec).parquet(str(path))
        w = time.time() - t0
        size = sum(f.stat().st_size for f in path.rglob("*.parquet"))
        t0 = time.time()
        assert spark.read.parquet(str(path)).count() == n
        r = time.time() - t0
        print(
            json.dumps(
                {
                    "codec": codec,
                    "rows": n,
                    "bytes": size,
                    "write_sec": round(w, 3),
                    "scan_sec": round(r, 3),
                }
            )
        )
        shutil.rmtree(path, ignore_errors=True)


if __name__ == "__main__":
    main()
