"""Per-trigger durationMs decomposition for the state-store streaming chains
(VERDICT r10 #3): rebuilds each gated chain directly (same stagers, session
clones and stream builders as streaming/gate.py) so the StreamingQuery handle
is available, and prints every trigger's durationMs map plus the
state-operator commit times.

Usage: python tools/stream_probe.py [default|rocksdb] [chain ...]
       chains: join winlate ingest sessionize   (default: all)
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
       SPARK_GRAFT_CPUS   (default 32)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    args = sys.argv[1:]
    provider = args[0] if args and args[0] in ("default", "rocksdb") else "default"
    chains = [a for a in args if a not in ("default", "rocksdb")] or [
        "join",
        "winlate",
        "ingest",
        "sessionize",
    ]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if provider == "rocksdb":
        os.environ["SPARK_GRAFT_STATE_PROVIDER"] = "rocksdb"

    from templatedb_spark.session import EngineConfig, build_session
    from templatedb_spark.streaming import gate
    from templatedb_spark.streaming.events import (
        read_events_stream,
        stream_stream_interval_join,
        windowed_exact_rollup,
    )
    from templatedb_spark.streaming.ingest import stream_dedup_ingest
    from templatedb_spark.streaming.neardup import read_documents_stream
    from templatedb_spark.streaming.stateful import stream_sessionize

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_session(EngineConfig(master=f"local[{cpus}]", shuffle_partitions=8))
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def run(name: str, stage_fn, builder, n_warm: int = 1, n_meas: int = 2,
            clone=lambda stage: gate._stream_session(spark, stage)):
        for rep in range(n_warm + n_meas):
            stage = tempfile.mkdtemp(prefix=f"probe_{name}_")
            stage_fn(stage)
            s2 = clone(stage)
            df = builder(s2, stage)
            t0 = time.time()
            q = (
                df.writeStream.format("memory")
                .queryName(f"probe_{name}_{rep}")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            wall = time.time() - t0
            progress = [json.loads(p.json) for p in q.recentProgress]
            shutil.rmtree(stage, ignore_errors=True)
            if rep < n_warm:
                continue
            print(f"\n== {name} provider={provider} rep={rep} wall={wall:.3f}s")
            for p in progress:
                dm = p.get("durationMs", {})
                print(f"  batch {p.get('batchId')}: {dm}")
                for op in p.get("stateOperators", []):
                    keep = {
                        k: op.get(k)
                        for k in (
                            "operatorName",
                            "commitTimeMs",
                            "stateOnCurrentVersionSizeBytes",
                            "numStateStoreInstances",
                        )
                        if k in op
                    }
                    cpm = op.get("customMetrics", {})
                    interesting = {
                        k: v
                        for k, v in cpm.items()
                        if any(
                            s in k.lower()
                            for s in ("commit", "snapshot", "load", "checkpoint", "fileslist")
                        )
                        and v
                    }
                    print(f"    state: {keep} custom={interesting}")

    if "join" in chains:
        run(
            "join",
            lambda d: gate._stage_microbatches(sf_dir, d, n_batches=2),
            lambda s2, d: stream_stream_interval_join(read_events_stream(s2, d)),
        )
    if "winlate" in chains:
        run(
            "winlate",
            lambda d: gate._stage_late_microbatches(sf_dir, d),
            lambda s2, d: windowed_exact_rollup(read_events_stream(s2, d)),
        )
    if "ingest" in chains:
        run(
            "ingest",
            lambda d: gate._stage_ingest_microbatches(sf_dir, d),
            lambda s2, d: stream_dedup_ingest(read_documents_stream(s2, d)),
        )
    if "sessionize" in chains:
        run(
            "sessionize",
            lambda d: gate._stage_microbatches(sf_dir, d, n_batches=3),
            lambda s2, d: stream_sessionize(read_events_stream(s2, d)),
            clone=lambda stage: gate._python_state_session(spark),
        )

    spark.stop()


if __name__ == "__main__":
    main()
