"""Custom stateful streaming operator: running z-score anomaly detection as a
keyed state fold (`functions/pyrows.fold_by_key`).

Per-user state is the running (n, sum, sum-of-squares) of event values in
event order; each incoming event is scored against the distribution of the
events BEFORE it (z = (v - mean) / stddev_samp), flagged when |z| crosses the
threshold after a warmup count, then folded into the state. The fold reads
each user's (ts µs, event_id, value) rows in that order. The batch twin
(operators/pipeline.anomaly_zscore — an exact-oracle spec) computes the same
quantities with running window sums over the identical (ts, event_id) order,
and both sides evaluate the identical arithmetic expression, so stream and
batch agree bit-for-bit (asserted in tests/test_stateful_streaming.py).

Scale: state is three doubles per user — O(active users), keyed and
partitioned by user_id; Arrow batches stream per group. This is the shape of
every online feature/monitoring job a 100 TB event pipeline runs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from templatedb_spark.functions.pyrows import fmt_us, fold_by_key

Z_THRESHOLD = 3.0
MIN_PRIOR = 12  # events observed before scoring starts

_OUTPUT_SCHEMA = "user_id long, ts string, value double, n_prior long, z double"
_STATE_SCHEMA = "n long, s double, q double"


def _anomaly_fold(key: tuple, state: tuple | None, rows: list) -> tuple:
    (user_id,) = key
    n, s, q = state or (0, 0.0, 0.0)
    out = []
    for ts_us, _eid, v in rows:
        if n >= MIN_PRIOR:
            # identical expression to the batch twin / oracle:
            # var = (q - s*s/n) / (n-1), z = (v - s/n) / sqrt(var)
            var = (q - s * s / n) / (n - 1)
            if var > 0:
                z = round((v - s / n) / math.sqrt(var), 6)
                if abs(z) >= Z_THRESHOLD:
                    out.append((user_id, fmt_us(ts_us, "%Y-%m-%d %H:%M:%S.%f"), v, n, z))
        n += 1
        s += v
        q += v * v
    return (n, s, q), out


def stream_anomaly_zscore(events: DataFrame) -> DataFrame:
    """Streaming running z-score anomaly detection; emits flagged events."""
    return fold_by_key(
        events.select("user_id", "ts", "event_id", "value"),
        ["user_id"],
        _anomaly_fold,
        _OUTPUT_SCHEMA,
        _STATE_SCHEMA,
    )
