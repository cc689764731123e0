"""SparkSession factory tuned for the engine.

The reference executes single-node, single-thread-per-query over 1024-row Arrow
batches (reference: src/query_engine/src/executor/mod.rs:34, storage/csv.rs:100-108).
Spark replaces that with a distributed, spill-capable, whole-stage-codegen engine;
this module centralizes the configuration we want everywhere:

- **AQE on** (runtime re-plan, skew-join splitting, partition coalescing) — at 100 TB
  the static plan is never right; AQE fixes partition counts and skew at runtime.
- **Arrow on** for any pandas interchange (the slow path; we stay JVM-side whenever
  the built-in functions can express the semantics).
- **Shuffle partitions** default to the local core count for tests; a real cluster
  deployment overrides via `EngineConfig(shuffle_partitions=...)` — with AQE coalescing
  enabled the initial number only needs to be an upper bound. `sized_session`, the
  session of `bench.py` and the tools, sizes them to the input (`input_partitions`).
- **Local cores** come from `SPARK_GRAFT_CPUS`, default the host's core count
  (`local_cpus`, the one place that reads it).
- **Broadcast threshold** left at default 10 MB; dimension tables (region/nation/
  supplier/part at TPC-H shape) broadcast automatically, and operators that *know*
  a side is dimension-sized hint `broadcast()` explicitly.
- **Codegen cache sized to the working set** (`spark.sql.codegen.cache.maxEntries`
  4096, default 100). The cache is an LRU over generated classes; one `olap_sf01`
  pass generates more than 100 and one pass of all 221 specs at sf0.01 about
  3040, so at the default a cyclic workload recompiles nearly every class every
  pass and the JIT threads outspend the tasks. Measured on a 4-core host:
  `olap_sf01` Janino compiles in the timed window 376 in 24 ops -> 20 in 32
  ops, `cpu_per_op_s` median 1.612 -> 1.321 s (9/10 pairs), per-op JVM CPU
  1.65 -> 1.21 s with identical jobs, tasks and shuffle bytes; a second serial
  pass of the registry 3647 -> 141 compiles, 125.7 -> 99.5 s wall, JVM
  non-heap 404 -> 435 MB. `codegen_compiles` reads the JVM's compile counters.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import SparkSession


def local_cpus(environ=os.environ) -> int:
    """SPARK_GRAFT_CPUS: the cores of a local[N] session, default the
    host's core count. A malformed value raises ValueError naming it."""
    raw = environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    try:
        n = int(raw)
    except ValueError:
        n = 0
    if n < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS={raw!r}: expected a positive number of cores")
    return n


def input_partitions(sf_dir: str | None, cpus: int) -> int:
    """Initial shuffle-partition count sized to the input volume: ~32 MB per
    partition (the granularity of files.maxPartitionBytes), clamped to
    [8, cpus]. AQE coalesces post-shuffle partitions at runtime, but the
    initial count still drives task-scheduling overhead: at sf0.1 (~60 MB)
    8 is right; at cluster scale the cap is the core count times whatever
    oversubscription the deployment wants."""
    files = Path(sf_dir).glob("*.parquet") if sf_dir else ()
    total = sum(f.stat().st_size for f in files if f.is_file())
    return max(8, min(cpus, total // (32 << 20) or 8))


@dataclass
class EngineConfig:
    """Engine-level Spark configuration. Defaults target local[] testing;
    every knob scales to a cluster by overriding, not by code changes."""

    master: str | None = None  # None → respect existing session / spark-submit
    app_name: str = "templatedb-spark"
    shuffle_partitions: int = field(default_factory=local_cpus)
    ui_enabled: bool = False
    # local[N] runs driver AND all executor threads in ONE JVM whose heap
    # defaults to 1g — under 16-way concurrent query submission that
    # intermittently OOMs (measured: java.lang.OutOfMemoryError cascades into a
    # dead py4j gateway and ConnectionRefused for every in-flight query; the
    # round-2 bench lost 1-4 queries per run this way). Counter-intuitively,
    # BIG heaps are far worse than small ones here: the concurrent suite
    # makespan at sf0.1/local[32] measured 9.1 s @ 4g, 9.9 s @ 2g, 10.5 s @ 8g,
    # ~14 s @ 1g (with one OOM), 215 s @ 30g, 170 s @ 64g — a large G1 heap
    # lets the 32-thread allocation churn spread over tens of GB of freshly
    # page-faulted memory instead of recycling cache-hot pages. 4g is the
    # measured sweet spot; on a real cluster this maps to executor.memory.
    driver_memory: str = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g")
    extra: dict[str, str] = field(default_factory=dict)

    def builder(self) -> SparkSession.Builder:
        b = SparkSession.builder.appName(self.app_name)
        if self.master:
            b = b.master(self.master)
        conf = {
            # AQE: runtime partition coalescing + skew-join handling. At 100 TB the
            # right shuffle partition count differs per stage; AQE picks it.
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.coalescePartitions.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.shuffle.partitions": str(self.shuffle_partitions),
            # Arrow for the pandas-UDF slow path (vectorized batch transfer).
            "spark.sql.execution.arrow.pyspark.enabled": "true",
            # Generated-class cache sized to the engine's working set (see the
            # module docstring): all 221 specs compile ~3040 classes, so 4096
            # holds the registry with headroom. JVM-wide static conf: only the
            # session that launches the JVM sets it; newSession() clones and
            # every later session share that cache.
            "spark.sql.codegen.cache.maxEntries": "4096",
            # ANSI off: the reference's v1 engine is permissive (arrow kernels);
            # strictness shims live in the binder layer (engine.py), not execution.
            "spark.sql.ansi.enabled": "false",
            "spark.ui.enabled": str(self.ui_enabled).lower(),
            # Parquet scans: pushdown + vectorized reader are on by default; pin
            # them so a misconfigured environment can't silently disable them.
            "spark.sql.parquet.filterPushdown": "true",
            "spark.sql.parquet.enableVectorizedReader": "true",
            # Applied only at JVM launch (getOrCreate on an existing session
            # keeps the old heap — the bench builds its session first).
            "spark.driver.memory": self.driver_memory,
        }
        conf.update(self.extra)
        for k, v in conf.items():
            b = b.config(k, v)
        return b


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """JVM-wide Janino compiles so far: (count, total compile ms). Diff two
    readings to see what a query compiled; a warm, deterministic query
    compiles nothing."""
    jvm = spark.sparkContext._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return count, nanos / 1e6


def build_session(config: EngineConfig | None = None) -> SparkSession:
    """Build (or reuse) the tuned SparkSession."""
    config = config or EngineConfig(
        master=os.environ.get("SPARK_GRAFT_MASTER", f"local[{local_cpus()}]")
    )
    return config.builder().getOrCreate()


def sized_session(
    sf_dir: str | None = None,
    *,
    cpus: int | None = None,
    ui: bool = False,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """The session `bench.py` and the tools measure on: local[cpus]
    (default `local_cpus()`), shuffle partitions sized to the parquet input
    in sf_dir (`input_partitions`; no dir sizes as an empty input), log
    level ERROR, and parquet nanosecond timestamps read as longs (the
    events table has shipped them), set once before any worker thread
    runs a query."""
    cpus = cpus or local_cpus()
    spark = build_session(
        EngineConfig(
            master=f"local[{cpus}]",
            shuffle_partitions=input_partitions(sf_dir, cpus),
            ui_enabled=ui,
            extra=extra or {},
        )
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark
