"""Structured Streaming over the events table.

Extension tier (SURVEY.md §2.9: the reference has no streaming). The batch twin
of every streaming query here lives in operators/relational.py
(`events_rollup`), so correctness is checked by running the stream with an
`availableNow` trigger and comparing to the batch result — the standard
Spark pattern for validating streaming logic.

Scale: file-source streaming with watermarked tumbling windows is the shape
that survives a real event firehose — state is bounded by the watermark, the
window agg is a partial+final hash agg per trigger, and `foreachBatch` gives
exactly-once sinks over any batch writer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from templatedb_spark.streaming.drain import run, run_memory

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),  # nanos-as-long (see suite.table note)
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet with event-time column.

    File streams require an explicit schema, but the driver has shipped ts as
    both TIMESTAMP(NANOS) (long under the legacy flag) and TIMESTAMP(MICROS),
    so probe the actual file schema with a batch footer read first, then
    normalize ts the same way as the batch path (suite.normalize_events_ts).
    """
    from templatedb_spark.suite import normalize_events_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}").schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{sf_dir}")
    )
    return normalize_events_ts(raw.filter(F.col("event_id").isNotNull()))


def windowed_rollup(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window rollup: count + sum(value) per event_type.

    The watermark bounds state: late events beyond it are dropped, finalized
    windows are evicted — the knob the reference's batch engine never needed.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def hopping_rollup(
    events: DataFrame,
    window: str = "60 minutes",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked hopping (sliding) window rollup — streaming twin of the
    batch `events_hopping` spec. Each event updates length/slide window
    states; the watermark evicts finalized slides. DECIMAL accumulation
    mirrors the batch spec so stream == batch is exact, not approximate.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_stream_interval_join(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: clicks within 30 min before each error,
    per user — the streaming twin of operators/analytics.range_join_clicks.

    Both sides carry watermarks so the join state is bounded: a click can be
    dropped from state once it is older than the maximum lookback plus the
    watermark delay. This is the canonical funnel/attribution join shape.
    """
    errors = (
        events.filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("event_id").alias("error_id"),
            F.col("ts").alias("err_ts"),
        )
        .withWatermark("err_ts", "1 hour")
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    return errors.join(
        clicks,
        (F.col("e_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("err_ts") - F.expr("INTERVAL 30 MINUTE"))
        & (F.col("click_ts") <= F.col("err_ts")),
        "inner",
    ).select("e_user", "error_id", "click_ts")


def stream_static_enrich(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with the customer dimension
    (user_id = c_custkey). The static side is planned per micro-batch — on a
    cluster it broadcasts when dimension-sized, and picks up dimension updates
    between batches (slowly-changing dim without restarts). No watermark is
    needed: static joins keep no stream-side state.
    """
    dim = customer.select(
        F.col("c_custkey").alias("dim_key"), "c_name", "c_mktsegment"
    )
    return (
        events.join(dim, events.user_id == F.col("dim_key"), "left")
        .select("event_id", "user_id", "event_type", "c_name", "c_mktsegment")
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id, state bounded by the watermark.

    `dropDuplicatesWithinWatermark` keeps a key in state only until the
    watermark passes its event time — the streaming twin of the batch
    `dedup_exact` operator, and the only dedup formulation whose state does
    NOT grow with stream lifetime (a plain dropDuplicates on an unbounded
    stream retains every key forever). Duplicates arriving within the
    watermark delay are suppressed by state; rows older than the watermark
    are dropped as late — either way each event_id is emitted exactly once.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def rocksdb_state_conf() -> dict[str, str]:
    """Session confs that move streaming state from the executor heap into
    embedded RocksDB — the configuration that makes watermarked state scale
    past memory (billions of in-flight keys) on a real cluster. Local tests
    run with the same provider to keep the code path identical.
    """
    return {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        ),
        # changelog checkpointing ships deltas, not full SST files, per batch
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    }


def sink_rollup_to_kv(rollup: DataFrame, kv, query_name: str = "rollup_to_kv"):
    """foreachBatch sink: land each micro-batch of the (already aggregated,
    hence small) rollup into a KVTable as one atomic write batch — streaming
    output with the KV layer's MVCC versioning as the exactly-once ledger.
    Each micro-batch == one KV version; replays overwrite the same keys
    idempotently. (The collect here is bounded by the rollup's cardinality,
    not the stream volume.)
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.collect()
        if rows:
            kv.write_batch(
                puts={
                    f"{r.hour}|{r.event_type}": f"{r.n_events}|{r.sum_value}" for r in rows
                }
            )

    run(rollup.writeStream.foreachBatch(write).outputMode("complete"), query_name)
    return kv


def run_available_now(
    stream_df: DataFrame,
    query_name: str = "events_rollup_stream",
    output_mode: str = "complete",
) -> list:
    """Drain the stream with availableNow into a memory sink; return rows.

    `availableNow` processes the full backlog then stops — the deterministic
    harness mode for validating streaming logic against its batch twin.
    `complete` mode emits every window including ones the watermark has not
    finalized (append mode would hold back the tail of a finite backlog).
    """
    return run_memory(stream_df, query_name, output_mode=output_mode).collect()


def windowed_exact_rollup(
    events: DataFrame, window: str = "1 hour", watermark: str = "10 minutes"
) -> DataFrame:
    """Append-mode tumbling-window agg with INTEGER-EXACT aggregates — the
    hash-compared twin of `windowed_rollup` (no float sums, so the output is
    bit-deterministic under any partition order and any micro-batch split).
    Used by the driver gate (streaming/gate.py stream_window_late) and the
    replay-determinism fuzz (grammar 10)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("user_id").cast("long").alias("sum_uid"),
            F.min("event_id").cast("long").alias("min_eid"),
            F.max("event_id").cast("long").alias("max_eid"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "sum_uid",
            "min_eid",
            "max_eid",
        )
    )
