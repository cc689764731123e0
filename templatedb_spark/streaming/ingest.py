"""Bounded-state streaming exact dedup on ingest.

The batch exact dedup (`operators/dedup.py dedup_exact`) fingerprints with
md5 over whitespace-normalized lowercased text and keeps the min doc_id per
group. This module is its INGEST-TIME twin: documents arrive as a stream and
every fingerprint's first arrival passes through while all later copies are
suppressed — Spark's native `dropDuplicatesWithinWatermark`, the idiomatic
bounded-state path (state is one 16-byte key + one timestamp per distinct
fingerprint seen within the watermark horizon; rows older than the watermark
delay are evicted by the state store itself).

Contrast with streaming/neardup.py: near-dup needs custom per-band state
(a `pyrows.fold_by_key` fold) because Spark has no banded-LSH operator; EXACT
dedup is expressible with a built-in stateful operator, so we use it — no
Python state function on the hot path, and the state store (RocksDB on a
real cluster) handles eviction, checkpointing, and recovery for free.

100 TB: this is the production ingest-dedup shape. State is bounded by the
watermark horizon (`delay`), not the corpus: a 7-day horizon over a pipeline
ingesting 1 B docs/day holds 7 B (16-byte key, ~40-byte row) entries
sharded across the cluster's state stores — flat per-executor memory, while
the unbounded alternative (dropDuplicates with no watermark) grows with the
corpus forever. Choosing the horizon trades dedup recall against state: a
copy arriving after the horizon is admitted (and left for the periodic
BATCH dedup_exact sweep to collapse — the documented two-tier production
policy, same split as streaming/neardup.py's representative mode).

Reference parity: the reference has no streaming surface (SURVEY §2.9 —
extension tier); semantics mirror its batch distinct-on-write discipline
(src/query_engine/src/executor_v2/hash_agg.rs group-once semantics) applied
at ingest time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from templatedb_spark.functions.hashing import exact_fingerprint

# Arrival clock base for staged micro-batches (any fixed epoch works; the
# watermark only ever compares event times to each other).
_ARRIVAL_EPOCH = 1_700_000_000


def stream_dedup_ingest(docs: DataFrame, delay: str = "1 hour") -> DataFrame:
    """First-arrival-wins exact dedup over a documents stream.

    `docs` must carry (doc_id, text, batch_idx) where batch_idx is the
    staged micro-batch ordinal — the stream's arrival clock (one minute per
    batch). Emits exactly the rows that are the first arrival of their
    fingerprint within `delay`; later copies — whether in a later
    micro-batch (cross-batch state suppression) or later in the same batch —
    never appear in the output.

    The fingerprint expression is BIT-IDENTICAL to the batch dedup_exact /
    DuckDB oracle expression: md5(regexp_replace(lower(text),'\\s+',' ')).
    """
    return (
        docs.withColumn("fingerprint", exact_fingerprint())
        .withColumn(
            "arrival_ts",
            F.timestamp_seconds(
                F.lit(_ARRIVAL_EPOCH) + F.col("batch_idx").cast("long") * 60
            ),
        )
        .withWatermark("arrival_ts", delay)
        .dropDuplicatesWithinWatermark(["fingerprint"])
        .select(F.col("doc_id").cast("long").alias("doc_id"), "fingerprint")
    )
