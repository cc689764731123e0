"""Custom stateful streaming operator: gap sessionization as a keyed state
fold (`functions/pyrows.fold_by_key`).

The batch twin is operators/analytics.sessionize (gap-based sessions). In
streaming, per-user session state (start, last-seen, count, value) lives in the
state store; a session CLOSES when an event arrives more than `gap` after the
previous one, and the closed session is emitted. The in-flight session stays in
state (with a real event-time timeout it would flush on watermark expiry; the
availableNow harness drains the backlog in one pass, so tests compare closed
sessions only). The fold is plain Python over each user's (ts µs, value)
rows in time order; the Arrow/pandas plumbing and the state API live in
pyrows.

Scale: state is O(active users), keyed and partitioned by user_id; Arrow
batches flow per group — this is the Spark-native replacement for the per-user
driver loop that cannot exist at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from templatedb_spark.functions.pyrows import fmt_us, fold_by_key

SESSION_GAP_US = 30 * 60 * 1_000_000

_OUTPUT_SCHEMA = (
    "user_id long, session_start string, session_end string, "
    "n_events long, session_value double"
)
_STATE_SCHEMA = "start_us long, last_us long, n long, value double"


def _sessionize_fold(key: tuple, state: tuple | None, rows: list) -> tuple:
    (user_id,) = key
    start_us, last_us, n, value = state or (-1, -1, 0, 0.0)
    closed = []
    for ts_us, val in rows:
        if last_us >= 0 and ts_us - last_us > SESSION_GAP_US:
            closed.append((user_id, fmt_us(start_us), fmt_us(last_us), n, round(value, 2)))
            start_us, n, value = ts_us, 0, 0.0
        if start_us < 0:
            start_us = ts_us
        last_us = ts_us
        n += 1
        value += val
    return (start_us, last_us, n, value), closed


def stream_sessionize(events: DataFrame) -> DataFrame:
    """Streaming gap-sessionization; emits sessions as they close."""
    # Project to the three columns the fold reads BEFORE the stateful
    # operator: the Python state fold is opaque to column pruning, so
    # without this the full event row (event_id, event_type and the props
    # payload string) crosses the JVM->Arrow->Python boundary every trigger
    # for nothing (guide §4.1).
    return fold_by_key(
        events.select("user_id", "ts", "value"),
        ["user_id"],
        _sessionize_fold,
        _OUTPUT_SCHEMA,
        _STATE_SCHEMA,
    )
