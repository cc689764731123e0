"""Per-trigger durationMs decomposition for the state-store streaming chains
(VERDICT r10 #3): runs each gated chain from streaming/gate.py's own stager
and stream function (session clone and no-data setting included) through the
same drain, keeps the StreamingQuery handle, and prints every trigger's
durationMs map plus the state-operator commit times. `rocksdb` builds the session with
events.rocksdb_state_conf, which every gate clone inherits.

Usage: python tools/stream_probe.py [default|rocksdb] [chain ...]
       chains: join winlate ingest sessionize   (default: all)
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
       SPARK_GRAFT_CPUS   (default: the host's core count)
"""

from __future__ import annotations

import json
import os
import sys
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

    from templatedb_spark.session import sized_session
    from templatedb_spark.streaming import gate
    from templatedb_spark.streaming.drain import drain, run
    from templatedb_spark.streaming.events import rocksdb_state_conf

    spark = sized_session(sf_dir, extra=rocksdb_state_conf() if provider == "rocksdb" else None)

    if provider == "rocksdb":  # the clones must inherit the SparkConf provider
        clone_conf = gate._stream_session(spark, sf_dir).conf
        assert "RocksDB" in clone_conf.get("spark.sql.streaming.stateStore.providerClass")

    def probe(name: str, stage_fn, make_stream, n_warm: int = 1, n_meas: int = 2):
        for rep in range(n_warm + n_meas):
            with drain(spark, f"probe_{name}", stage_fn) as dr:
                df = make_stream(spark, dr.stage)
                t0 = time.time()
                writer = df.writeStream.format("memory").outputMode("append")
                q = run(writer, dr.name, dr.ckpt)
                wall = time.time() - t0
            progress = [json.loads(p.json) for p in q.recentProgress]
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
        probe(
            "join",
            lambda d: gate._stage_microbatches(sf_dir, d, n_batches=2),
            gate._interval_join_stream,
        )
    if "winlate" in chains:
        probe(
            "winlate",
            lambda d: gate._stage_late_microbatches(sf_dir, d),
            gate._window_late_stream,
        )
    if "ingest" in chains:
        probe(
            "ingest",
            lambda d: gate._stage_ingest_microbatches(sf_dir, d),
            gate._ingest_stream,
        )
    if "sessionize" in chains:
        probe(
            "sessionize",
            lambda d: gate._stage_microbatches(sf_dir, d, n_batches=3),
            gate._sessionize_stream,
        )

    spark.stop()


if __name__ == "__main__":
    main()
