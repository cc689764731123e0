"""Stateful streaming last-touch attribution as a keyed state fold
(`functions/pyrows.fold_by_key`).

Per-user state is the most recent touch (epoch-µs timestamp + type). Events
are applied in (ts, event_id) order — the fold's rows are (ts µs, event_id,
event_type, value) sorted as whole tuples, which is that order because
event_id is unique in the feed: clicks/views update the state, purchases
emit an attribution row — the touch type when the stored touch falls inside
the 7-day lookback, else 'direct'. The batch twin is
operators/analytics.attributed_purchases (the pre-rollup relation of the
exact-oracle `attribution_last_touch` spec); both sides apply the identical
ordering and lookback rule, so stream output equals the batch relation
row-for-row (asserted in tests/test_stateful_streaming.py).

Scale: state is one (long, string) per active user, keyed and partitioned by
user_id — the canonical online-attribution job shape for an event firehose;
watermarking bounds state exactly as in streaming/stateful.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from templatedb_spark.functions.pyrows import fold_by_key

LOOKBACK_US = 7 * 86_400 * 1_000_000

_OUTPUT_SCHEMA = "user_id long, event_id long, touch string, value double"
_STATE_SCHEMA = "touch_ts long, touch_type string"


def _attr_fold(key: tuple, state: tuple | None, rows: list) -> tuple:
    (user_id,) = key
    touch_ts, touch_type = state or (-1, "")
    out = []
    for ts_us, eid, etype, value in rows:
        if etype in ("click", "view"):
            touch_ts, touch_type = ts_us, etype
        elif etype == "purchase":
            attributed = (
                touch_type
                if touch_ts >= 0 and touch_ts >= ts_us - LOOKBACK_US
                else "direct"
            )
            out.append((user_id, eid, attributed, value))
    return (touch_ts, touch_type), out


def stream_attribution_last_touch(events: DataFrame) -> DataFrame:
    """Streaming per-purchase last-touch attribution."""
    return fold_by_key(
        events.select("user_id", "ts", "event_id", "event_type", "value"),
        ["user_id"],
        _attr_fold,
        _OUTPUT_SCHEMA,
        _STATE_SCHEMA,
    )
