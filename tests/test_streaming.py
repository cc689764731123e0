"""Structured Streaming: the streaming rollup must agree with its batch twin
when the stream drains the full backlog (availableNow)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_stream_rollup_matches_batch(spark, tmp_path):
    from templatedb_spark.streaming.events import (
        read_events_stream,
        run_available_now,
        windowed_rollup,
    )
    from templatedb_spark.suite import table

    # the file stream source requires a *directory* of files
    import shutil

    stage = tmp_path / "events_in"
    stage.mkdir()
    shutil.copy(f"{SF_SMALL}/events.parquet", stage / "part-0.parquet")
    stream = read_events_stream(spark, str(stage))
    rollup = windowed_rollup(stream, window="1 hour", watermark="2 hours")
    got = {
        (r.hour, r.event_type): (r.n_events, r.sum_value)
        for r in run_available_now(rollup, "t_stream_rollup")
    }

    batch = (
        table(spark, SF_SMALL, "events")
        .groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    want = {(r.hour, r.event_type): (r.n_events, r.sum_value) for r in batch.collect()}
    assert got == want


def test_watermark_bounds_state(spark, tmp_path):
    """The rollup plan carries the watermark (state eviction contract)."""
    import shutil

    from templatedb_spark.streaming.events import read_events_stream, windowed_rollup

    stage = tmp_path / "events_in"
    stage.mkdir()
    shutil.copy(f"{SF_SMALL}/events.parquet", stage / "part-0.parquet")
    stream = read_events_stream(spark, str(stage))
    rollup = windowed_rollup(stream, watermark="2 hours")
    assert "EventTimeWatermark" in rollup._jdf.queryExecution().analyzed().toString()


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join (clicks before errors) drained with
    availableNow must reproduce the batch range join pair-for-pair."""
    import shutil

    from templatedb_spark.operators.analytics import range_join_clicks_before_error
    from templatedb_spark.streaming.events import (
        read_events_stream,
        run_available_now,
        stream_stream_interval_join,
    )

    stage = tmp_path / "events_in"
    stage.mkdir()
    shutil.copy(f"{SF_SMALL}/events.parquet", stage / "part-0.parquet")
    stream = read_events_stream(spark, str(stage))
    rows = run_available_now(
        stream_stream_interval_join(stream), "t_ss_join", output_mode="append"
    )
    got = {}
    for r in rows:
        got[(r.e_user, r.error_id)] = got.get((r.e_user, r.error_id), 0) + 1

    batch = range_join_clicks_before_error(spark, SF_SMALL)
    want = {(r.user_id, r.error_id): r.n_recent_clicks for r in batch.collect()}
    assert got == want
    assert len(got) > 0


def test_foreachbatch_sink_to_kv(spark, tmp_path):
    """Streaming rollup → foreachBatch → KVTable: the KV snapshot must hold
    exactly the batch rollup's rows, and replaying the stream must not
    duplicate state (idempotent puts, new MVCC version)."""
    import shutil

    from templatedb_spark.kv import KVTable
    from templatedb_spark.streaming.events import (
        read_events_stream,
        sink_rollup_to_kv,
        windowed_rollup,
    )
    from templatedb_spark.suite import table
    from pyspark.sql import functions as F

    stage = tmp_path / "events_in"
    stage.mkdir()
    shutil.copy(f"{SF_SMALL}/events.parquet", stage / "part-0.parquet")

    kv = KVTable(spark, str(tmp_path / "kv"))
    stream = read_events_stream(spark, str(stage))
    sink_rollup_to_kv(windowed_rollup(stream), kv, "t_kv_sink_1")

    batch = (
        table(spark, SF_SMALL, "events")
        .groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v"))
    )
    want = {f"{r.hour}|{r.event_type}": f"{r.n}|{r.v}" for r in batch.collect()}
    got = {r.key: r.value for r in kv.snapshot().collect()}
    assert got == want

    # replay: same keys overwritten, no duplicates, one more version
    v_before = kv.latest_version()
    stream2 = read_events_stream(spark, str(stage))
    sink_rollup_to_kv(windowed_rollup(stream2), kv, "t_kv_sink_2")
    got2 = {r.key: r.value for r in kv.snapshot().collect()}
    assert got2 == want
    assert kv.latest_version() == v_before + 1


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Two copies of the events file arrive in separate micro-batches; the
    watermarked streaming dedup emits each event_id exactly once, on the
    RocksDB state store (the at-scale state backend)."""
    import shutil

    from templatedb_spark.streaming.events import (
        dedup_stream,
        read_events_stream,
        rocksdb_state_conf,
        run_available_now,
    )
    from templatedb_spark.suite import table

    stage = tmp_path / "events_dup"
    stage.mkdir()
    shutil.copy(f"{SF_SMALL}/events.parquet", stage / "a.parquet")
    shutil.copy(f"{SF_SMALL}/events.parquet", stage / "b.parquet")

    old = {k: spark.conf.get(k, None) for k in rocksdb_state_conf()}
    for k, v in rocksdb_state_conf().items():
        spark.conf.set(k, v)
    try:
        stream = dedup_stream(read_events_stream(spark, str(stage)))
        rows = run_available_now(stream, "t_stream_dedup", output_mode="append")
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    n_batch = table(spark, SF_SMALL, "events").count()
    ids = [r.event_id for r in rows]
    assert len(ids) == len(set(ids)) == n_batch


def test_stream_dedup_plan_carries_watermark_state(spark, tmp_path):
    import shutil

    from templatedb_spark.streaming.events import dedup_stream, read_events_stream

    stage = tmp_path / "events_one"
    stage.mkdir()
    shutil.copy(f"{SF_SMALL}/events.parquet", stage / "a.parquet")
    plan = (
        dedup_stream(read_events_stream(spark, str(stage)))
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "DeduplicateWithinWatermark" in plan
    assert "EventTimeWatermark" in plan


def test_stream_static_enrich_matches_batch(spark, tmp_path):
    """Stream-static dimension join drained with availableNow equals the batch
    join (no stream-side state; dim planned per micro-batch)."""
    import shutil

    from templatedb_spark.streaming.events import (
        read_events_stream,
        run_available_now,
        stream_static_enrich,
    )
    from templatedb_spark.suite import table

    stage = tmp_path / "events_enrich"
    stage.mkdir()
    shutil.copy(f"{SF_SMALL}/events.parquet", stage / "a.parquet")
    customer = table(spark, SF_SMALL, "customer")
    stream = stream_static_enrich(read_events_stream(spark, str(stage)), customer)
    got = sorted(
        (r.event_id, r.c_name) for r in run_available_now(stream, "t_enrich", "append")
    )

    e = table(spark, SF_SMALL, "events")
    batch = e.join(
        customer.select(F.col("c_custkey").alias("dim_key"), "c_name"),
        e.user_id == F.col("dim_key"),
        "left",
    )
    want = sorted((r.event_id, r.c_name) for r in batch.select("event_id", "c_name").collect())
    assert got == want


def test_session_window_matches_sessionize_spec(spark):
    """Spark's built-in session_window (the streaming-native sessionization
    operator, usable in batch too) must agree with the window-function
    sessionize spec: same session count, event totals, and session starts
    per user at the same 30-min gap."""
    from templatedb_spark.operators.analytics import sessionize
    from templatedb_spark.suite import table

    e = table(spark, SF_SMALL, "events")
    sw = (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )
    got = {(r.user_id, r.session_start): r.n_events for r in sw.collect()}
    want = {
        (r.user_id, r.session_start): r.n_events
        for r in sessionize(spark, SF_SMALL).collect()
    }
    assert got == want


def test_session_window_streaming_plan(spark, tmp_path):
    """The same session_window aggregation is a legal watermarked streaming
    plan (bounded state) — assert the analyzed plan carries both."""
    import shutil

    from templatedb_spark.streaming.events import read_events_stream

    stage = tmp_path / "events_sw"
    stage.mkdir()
    shutil.copy(f"{SF_SMALL}/events.parquet", stage / "a.parquet")
    stream = (
        read_events_stream(spark, str(stage))
        .withWatermark("ts", "2 hours")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .count()
    )
    plan = stream._jdf.queryExecution().analyzed().toString()
    assert "session_window" in plan
    assert "EventTimeWatermark" in plan


def test_stream_cdc_apply_matches_batch_twin(spark, tmp_path):
    """Incremental CDC: the feed split into 3 ts-ordered micro-batches and
    applied batch-by-batch into the KV store must land on EXACTLY the state
    the batch twin computes by compacting the whole feed at once — last
    writer wins per key, keys whose final change is 'error' absent. Also
    asserts the application was genuinely incremental (one MVCC version per
    non-empty micro-batch)."""
    import os

    import pyarrow.parquet as pq

    from templatedb_spark.kv import KVTable
    from templatedb_spark.streaming.cdc import (
        changes_from_events,
        compact_net_effect,
        kv_value,
        stream_cdc_to_kv,
    )
    from templatedb_spark.streaming.events import read_events_stream
    from templatedb_spark.suite import table

    stage = tmp_path / "cdc_in"
    stage.mkdir()
    t = pq.read_table(f"{SF_SMALL}/events.parquet").to_pandas()
    t = t.sort_values(["ts", "event_id"]).reset_index(drop=True)
    thirds = [t.iloc[: len(t) // 3], t.iloc[len(t) // 3 : 2 * len(t) // 3], t.iloc[2 * len(t) // 3 :]]
    for i, part in enumerate(thirds):
        p = stage / f"part-{i}.parquet"
        part.to_parquet(p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))  # force file order

    kv = KVTable(spark, str(tmp_path / "kv_cdc"))
    v0 = kv.latest_version()
    stream = changes_from_events(read_events_stream(spark, str(stage)))
    stream_cdc_to_kv(stream, kv, "t_cdc_stream")

    batch = compact_net_effect(
        changes_from_events(table(spark, SF_SMALL, "events"))
    ).collect()
    want = {
        str(r.key): kv_value(r.event_type, r.value)
        for r in batch
        if r.event_type != "error"
    }
    got = {r.key: r.value for r in kv.snapshot().collect()}
    assert got == want
    assert len(want) > 0
    # deleted keys: present in the feed, absent from the final state
    deleted = {str(r.key) for r in batch if r.event_type == "error"}
    assert deleted and not (deleted & set(got))
    # incremental: three micro-batches → three KV versions
    assert kv.latest_version() == v0 + 3


def test_stream_hopping_matches_batch_spec(spark, tmp_path):
    """Hopping-window stream twin: complete-mode drain over the backlog must
    equal the batch events_hopping spec row-for-row on the shared columns
    (the batch spec's n_users needs countDistinct, unsupported in streaming
    aggs — the stream twin carries count + decimal-exact sum)."""
    import shutil

    from pyspark.sql import functions as F

    from templatedb_spark.streaming.events import (
        hopping_rollup,
        read_events_stream,
        run_available_now,
    )
    from templatedb_spark.suite import all_specs

    stage = tmp_path / "events_hop_in"
    stage.mkdir()
    shutil.copy(f"{SF_SMALL}/events.parquet", stage / "part-0.parquet")
    stream = read_events_stream(spark, str(stage))
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in run_available_now(hopping_rollup(stream), "t_stream_hopping")
    }
    batch = all_specs()["events_hopping"].spark(spark, SF_SMALL)
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in batch.collect()
    }
    assert got == want


def test_event_values_format_safe():
    """The distributed CDC write formats DOUBLE values with Spark
    (kv_value_col) while the batch-twin comparison formats with Python str().
    Java Double.toString and Python repr agree on shortest plain-decimal in
    [1e-3, 1e7) but diverge outside (scientific-notation thresholds). Guard:
    no event value may live in the divergence zone, so a data regen that
    lands there surfaces as a clear data problem, not a silent KV-value
    mismatch (same pattern as the documents-are-ASCII guard)."""
    import pyarrow.parquet as pq

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        col = pq.read_table(f"{sf}/events.parquet", columns=["value"])["value"]
        # NULLs would also diverge (Python 'etype|None' vs SQL null semantics)
        assert col.null_count == 0, f"{sf}: NULL event values"
        vals = col.to_pylist()
        bad = [v for v in vals if v != 0 and (abs(v) < 1e-3 or abs(v) >= 1e7)]
        assert not bad, f"{sf}: values in the Java/Python format-divergence zone: {bad[:5]}"


def _merge_view_feed(spark, view: str):
    """(KV view, its whole feed, the column the feed arrives ordered by) of
    one of the four KV-state gates, over the SF_SMALL tables."""
    from templatedb_spark.streaming import gate
    from templatedb_spark.suite import table

    if view == "hll":
        return gate._HLL_VIEW, table(spark, SF_SMALL, "events"), "event_id"
    if view == "cms":
        return gate._CMS_VIEW, table(spark, SF_SMALL, "documents"), "doc_id"
    orders = table(spark, SF_SMALL, "orders")
    dim = table(spark, SF_SMALL, "customer").select("c_custkey", "c_mktsegment")
    feed = orders.join(F.broadcast(dim), orders.o_custkey == dim.c_custkey)
    key = "o_orderstatus" if view == "mv" else "o_custkey"
    return gate._mv_view(key), feed, "o_orderkey"


@pytest.mark.parametrize("view", ["hll", "cms", "mv", "mv_wide"])
def test_mv_join_wide_distributed_merge_and_replay(spark, tmp_path, view):
    """The KV-state gates' per-batch merge (_merge_into_kv) is fully
    distributed and exactly-once, for each of the four views: after two
    ordered halves the decoded KV state equals the whole feed's state (keys
    in both halves prove the read-merge actually read prior state), and
    replaying either batch under its committed tag adds zero versions and
    changes nothing."""
    from templatedb_spark.kv import KVTable
    from templatedb_spark.streaming.gate import _decode_kv, _merge_into_kv

    v, feed, order = _merge_view_feed(spark, view)
    n = feed.count()
    half = feed.orderBy(order).limit(n // 2).select(F.max(order)).first()[0]
    b0 = feed.filter(F.col(order) <= half)
    b1 = feed.filter(F.col(order) > half)
    # non-vacuity: some view key must take rows from BOTH halves, otherwise
    # batch 1's merge never exercises the state read
    keys = [k for k, _ in v.keys]
    straddle = v.delta(b0).select(keys).intersect(v.delta(b1).select(keys)).count()
    assert straddle > 0

    kv = KVTable(spark, str(tmp_path / "kv"))
    _merge_into_kv(kv, v, b0, "q:b0")
    _merge_into_kv(kv, v, b1, "q:b1")
    v_done = kv.latest_version()
    state = sorted((r.key, r.value) for r in kv.snapshot().collect())
    got = sorted(map(tuple, _decode_kv(kv.snapshot(), v.keys, v.vals).collect()))
    assert got == sorted(map(tuple, v.delta(feed).collect()))
    if view == "mv_wide":  # the KV encoding: seg|custkey -> n|rev
        rev = F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("decimal(38,2)")
        expect = feed.groupBy("c_mktsegment", "o_custkey").agg(
            F.concat_ws("|", F.count(F.lit(1)), rev.cast("string")).alias("value")
        )
        assert state == sorted(
            (f"{r.c_mktsegment}|{r.o_custkey}", r.value) for r in expect.collect()
        )

    # replay both batches (restart without checkpoint): tags must no-op
    _merge_into_kv(kv, v, b0, "q:b0")
    _merge_into_kv(kv, v, b1, "q:b1")
    assert kv.latest_version() == v_done
    assert sorted((r.key, r.value) for r in kv.snapshot().collect()) == state
