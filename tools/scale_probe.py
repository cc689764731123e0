"""Empirical scaling probe: replicate the driver's sf0.1 tables k× by
key-offset (pyarrow, no Spark) and time a set of headline specs at
k = 1, 2, 4, 8 — the measured answer to "would this plan survive a scale-up".
Each spec is timed warm at each k through tools/iso_time.py's loop.

Replication semantics: every copy offsets its table's keys past the max, so
counts scale exactly k× while join/grain structure is preserved for the
single-table specs probed here. Content is NOT perturbed, so the replicated
corpora are duplication-heavy (every doc/vector has k exact copies) — a
deliberately adversarial distribution for the dedup/ANN family, whose
candidate generation is the usual quadratic risk.

Usage: python tools/scale_probe.py [outdir]   (writes one JSON line)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SRC = "/root/testdata/sf0.1"
SPECS = [
    "q1_pricing_summary", "sessionize", "events_hopping", "ann_ivf_topk",
    "ann_lsh_banded_topk", "dedup_substring", "dedup_ngram_capped",
    "bm25_topk", "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
    "graph_pagerank", "tfidf_top_terms",
]
REPLICATED = {
    "lineitem": ["l_orderkey"],
    "events": ["event_id", "user_id"],
    "embeddings": ["vec_id"],
    "documents": ["doc_id"],
}
COPIED = ["region", "nation", "customer", "supplier", "part", "orders"]


def build_dirs(root: str, ks=(2, 4, 8)) -> dict[int, str]:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    dirs = {1: SRC}
    for k in ks:
        out = f"{root}/x{k}"
        os.makedirs(out, exist_ok=True)
        for tbl, keycols in REPLICATED.items():
            t = pq.read_table(f"{SRC}/{tbl}.parquet")
            span = {c: pc.max(t[c]).as_py() + 1 for c in keycols}
            parts = []
            for i in range(k):
                c = t
                for col in keycols:
                    idx = c.schema.get_field_index(col)
                    c = c.set_column(idx, col, pc.add(c[col], i * span[col]))
                parts.append(c)
            pq.write_table(pa.concat_tables(parts), f"{out}/{tbl}.parquet")
        for tbl in COPIED:
            shutil.copy(f"{SRC}/{tbl}.parquet", f"{out}/{tbl}.parquet")
        dirs[k] = out
    return dirs


def main() -> None:
    root = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scaletest"
    dirs = build_dirs(root)

    from templatedb_spark.session import sized_session
    from templatedb_spark.suite import all_specs
    from tools.iso_time import time_spec

    spark = sized_session(dirs[max(dirs)])
    specs = all_specs()
    result = {
        name: {f"x{k}": round(time_spec(spark, specs[name], dirs[k], 1)[1][0], 2) for k in sorted(dirs)}
        for name in SPECS
    }
    spark.stop()
    print(json.dumps({"probe": "scale", "base": "sf0.1", "warm_sec": result}))


if __name__ == "__main__":
    main()
