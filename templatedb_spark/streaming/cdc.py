"""Streaming CDC ingestion: incremental net-effect apply into the KV layer.

The streaming twin of the batch spec `operators/pipeline.cdc_apply` (which
compacts the whole feed at once): here each micro-batch is compacted to its
own net effect (last change per key by (ts, event_id)) and applied to a
KVTable as ONE atomic write batch — upserts become puts, 'error' ops become
deletes. Because micro-batches arrive in feed order and each application is
atomic (one MVCC version per batch), the final KV state equals the batch
compaction of the full feed: last-writer-wins per key, deleted keys absent.
Asserted against the batch twin in tests/test_streaming.py.

This is the foreachBatch "merge into sink" pattern from the Structured
Streaming guide — the exactly-once recipe for CDC into stores without
native streaming MERGE. Exactly-once is transactional, not just idempotent:
each micro-batch commits with a (query, batch_id) tag in the KV manifest
record itself (kv.write_batch_df(tag=...)), so a replayed batch — Spark
re-runs the last uncommitted one after any failure — is recognized and
skipped instead of burning a duplicate version. (Post-compaction the tags
of collapsed versions are gone and the guarantee degrades to value-level
idempotency: same puts, deletes of already-absent keys — final state still
exact.)

Scale: compaction is one window per batch partitioned by key; since round 4
the apply is FULLY distributed (KVTable.write_batch_df — shuffle → bucketed
write on executors, no collect anywhere), so per-batch cost is independent
of driver memory (a real deployment swaps KVTable for a Delta MERGE or
RocksDB service with the same per-batch contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from templatedb_spark.streaming.drain import run

# Same key mapping as the batch twin (operators/pipeline.cdc_apply).
CDC_KEY_OFFSET = 1400


def changes_from_events(events: DataFrame) -> DataFrame:
    """Map the events table/stream to the CDC feed shape (key, ts, event_id,
    event_type, value) shared with the batch twin."""
    return events.select(
        (F.col("user_id") + CDC_KEY_OFFSET).alias("key"),
        "ts",
        "event_id",
        "event_type",
        "value",
    )


def compact_net_effect(changes: DataFrame) -> DataFrame:
    """Last change per key by (ts, event_id) — the net-effect compaction."""
    w = Window.partitionBy("key").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        changes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def kv_value(event_type: str, value: float) -> str:
    return f"{event_type}|{value}"


def kv_value_col():
    """Spark twin of kv_value: `event_type|value` with the DOUBLE formatted
    by the engine. For the events value range this matches Python's str()
    exactly (both emit shortest plain-decimal form; Java only diverges from
    Python outside [1e-3, 1e7), guarded by
    tests/test_streaming.test_event_values_format_safe)."""
    return F.concat_ws("|", F.col("event_type"), F.col("value").cast("string"))


def stream_cdc_to_kv(
    changes_stream: DataFrame,
    kv,
    query_name: str = "cdc_to_kv",
    checkpoint_dir: str | None = None,
):
    """Drain the CDC stream into `kv` with availableNow, one atomic KV write
    batch per micro-batch.

    Round 4: the batch apply is fully DISTRIBUTED — the compacted net-effect
    DataFrame flows straight into KVTable.write_batch_df (shuffle → bucketed
    write on executors). Nothing is collected to the driver; the round-3
    collect/dict roundtrip (O(distinct keys) driver memory per trigger) is
    gone, which is the shape that survives a firehose whose per-batch key
    set does not fit on the driver."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        net = compact_net_effect(batch_df)
        changes = net.select(
            F.col("key").cast("string").alias("key"),
            F.when(F.col("event_type") != "error", kv_value_col()).alias("value"),
            F.when(F.col("event_type") == "error", F.lit("del"))
            .otherwise(F.lit("put"))
            .alias("op"),
        )
        # the tag makes the sink transactional: Structured Streaming re-runs
        # the last uncommitted micro-batch after a failure, and the (query,
        # batch_id) tag — committed atomically with the KV version — turns
        # that replay into a recognized no-op instead of a duplicate version
        kv.write_batch_df(changes, tag=f"{query_name}:b{batch_id}")

    # with checkpoint_dir, progress is durable: a restarted query resumes
    # from the checkpoint's source offsets (already-drained files are never
    # re-read) and batch ids continue, so the KV's exactly-once tags stay
    # unique across restarts — the production deployment shape
    run(changes_stream.writeStream.foreachBatch(apply_batch), query_name, checkpoint_dir)
    return kv
