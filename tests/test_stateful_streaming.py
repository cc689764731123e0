"""Custom stateful streaming operators (keyed state folds, pyrows.fold_by_key)
validated against their batch twins: e.g. the stream's closed sessions must
equal the batch sessions minus each user's final (still-open) session."""

from __future__ import annotations

import shutil

from tests.conftest import SF_SMALL


def test_stream_sessionize_matches_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    from templatedb_spark.operators.analytics import sessionize
    from templatedb_spark.streaming.events import read_events_stream, run_available_now
    from templatedb_spark.streaming.stateful import stream_sessionize

    stage = tmp_path / "events_in"
    stage.mkdir()
    shutil.copy(f"{SF_SMALL}/events.parquet", stage / "part-0.parquet")

    stream = read_events_stream(spark, str(stage))
    got = run_available_now(
        stream_sessionize(stream), "t_stream_sessions", output_mode="append"
    )
    got_set = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.session_value) for r in got
    }

    batch = sessionize(spark, SF_SMALL)
    # drop each user's last session (still open in the stream's state store)
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id")
    closed_batch = (
        batch.withColumn("max_seq", F.max("session_seq").over(w))
        .filter(F.col("session_seq") < F.col("max_seq"))
    )
    want_set = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.session_value)
        for r in closed_batch.collect()
    }
    assert got_set == want_set
    assert len(got_set) > 0  # the comparison is not vacuous


def test_stream_anomaly_matches_batch(spark, tmp_path):
    """The stateful z-score stream must agree bit-for-bit with the batch spec:
    both accumulate (n, sum, sumsq) in the same per-user (ts, event_id) order
    and evaluate the identical scoring expression."""
    from templatedb_spark.operators.pipeline import anomaly_zscore
    from templatedb_spark.streaming.events import read_events_stream, run_available_now
    from templatedb_spark.streaming.anomaly import stream_anomaly_zscore

    stage = tmp_path / "events_in"
    stage.mkdir()
    shutil.copy(f"{SF_SMALL}/events.parquet", stage / "part-0.parquet")

    got = run_available_now(
        stream_anomaly_zscore(read_events_stream(spark, str(stage))),
        "t_stream_anomaly",
        output_mode="append",
    )
    got_set = {(r.user_id, r.ts, r.value, r.n_prior, r.z) for r in got}
    want_set = {
        (r.user_id, r.ts, r.value, r.n_prior, r.z)
        for r in anomaly_zscore(spark, SF_SMALL).collect()
    }
    assert got_set == want_set
    assert len(want_set) > 0  # not vacuous


def test_stream_neardup_matches_batch_lsh(spark, tmp_path):
    """The band-keyed stateful near-dup stream must reproduce the batch
    minhash-LSH spec exactly: distinct emitted pairs == dedup_minhash_lsh
    output (same pair via several bands carries the same match count).
    Documents are split across two files so pairing spans micro-batches
    (state carries earlier docs forward)."""
    from templatedb_spark.operators.dedup import _MINHASH_K, dedup_minhash_lsh
    from templatedb_spark.streaming.events import run_available_now
    from templatedb_spark.streaming.neardup import (
        read_documents_stream,
        signature_projection,
        stream_neardup_pairs,
    )
    from templatedb_spark.suite import table

    # signature projection must equal the batch aggregation path first
    from templatedb_spark.operators.dedup import minhash_signatures_wide

    proj = {
        r["doc_id"]: list(r["sig"])
        for r in signature_projection(table(spark, SF_SMALL, "documents")).collect()
    }
    wide = {
        r["doc_id"]: [r[f"mh_{i}"] for i in range(_MINHASH_K)]
        for r in minhash_signatures_wide(spark, SF_SMALL).collect()
    }
    assert proj == wide

    stage = tmp_path / "docs_in"
    stage.mkdir()
    docs = table(spark, SF_SMALL, "documents")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(str(stage / "even"))
    docs.filter("doc_id % 2 = 1").coalesce(1).write.parquet(str(stage / "odd"))
    import glob

    for i, f in enumerate(sorted(glob.glob(str(stage / "*" / "part-*.parquet")))):
        shutil.copy(f, stage / f"chunk-{i}.parquet")
    shutil.rmtree(stage / "even")
    shutil.rmtree(stage / "odd")

    got_rows = run_available_now(
        stream_neardup_pairs(read_documents_stream(spark, str(stage))),
        "t_stream_neardup",
        output_mode="append",
    )
    got = {(r.doc_a, r.doc_b, r.matches) for r in got_rows}

    want = {
        (r.doc_a, r.doc_b, int(round(r.est_jaccard * _MINHASH_K)))
        for r in dedup_minhash_lsh(spark, SF_SMALL).collect()
    }
    assert got == want
    assert len(got) > 0


def test_stream_neardup_checkpoint_recovery(spark, tmp_path):
    """Kill-and-resume: run the near-dup stream over chunk A with a
    checkpoint, stop, add chunk B, restart from the same checkpoint. The
    restarted query must (a) recover per-band state — cross-chunk pairs
    appear without reprocessing chunk A — and (b) not re-emit chunk-A-only
    pairs (source progress + state live in the checkpoint). Union of both
    runs' distinct pairs == the batch LSH spec."""
    from pyspark.sql import functions as F

    from templatedb_spark.operators.dedup import dedup_minhash_lsh
    from templatedb_spark.streaming.neardup import (
        read_documents_stream,
        stream_neardup_pairs,
    )
    from templatedb_spark.suite import table

    stage = tmp_path / "docs_in"
    stage.mkdir()
    out = str(tmp_path / "pairs_out")
    ckpt = str(tmp_path / "ckpt")
    docs = table(spark, SF_SMALL, "documents")

    import glob

    def stage_chunk(pred: str, name: str) -> None:
        tmp = tmp_path / f"w_{name}"
        docs.filter(pred).coalesce(1).write.parquet(str(tmp))
        src = glob.glob(str(tmp / "part-*.parquet"))[0]
        shutil.copy(src, stage / f"{name}.parquet")
        shutil.rmtree(tmp)

    def run_once() -> None:
        q = (
            stream_neardup_pairs(read_documents_stream(spark, str(stage)))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    stage_chunk("doc_id % 2 = 0", "chunk-a")
    run_once()
    run1 = {(r.doc_a, r.doc_b, r.matches) for r in spark.read.parquet(out).collect()}
    assert all(a % 2 == 0 and b % 2 == 0 for a, b, _ in run1)

    stage_chunk("doc_id % 2 = 1", "chunk-b")
    run_once()
    all_rows = spark.read.parquet(out)
    got = {(r.doc_a, r.doc_b, r.matches) for r in all_rows.collect()}
    run2 = got - run1
    # every post-restart pair involves a chunk-B doc: chunk A was not replayed
    assert run2 and all(a % 2 == 1 or b % 2 == 1 for a, b, _ in run2)

    want = {
        (r.doc_a, r.doc_b, int(round(r.est_jaccard * 16)))
        for r in dedup_minhash_lsh(spark, SF_SMALL).collect()
    }
    assert got == want


def test_stream_attribution_matches_batch(spark, tmp_path):
    """Stateful last-touch attribution: the stream's per-purchase rows must
    equal the batch pre-rollup relation exactly — same (ts, event_id) order,
    same 7-day lookback rule, same 'direct' fallback."""
    from templatedb_spark.operators.analytics import attributed_purchases
    from templatedb_spark.streaming.attribution import stream_attribution_last_touch
    from templatedb_spark.streaming.events import read_events_stream, run_available_now

    stage = tmp_path / "events_in"
    stage.mkdir()
    shutil.copy(f"{SF_SMALL}/events.parquet", stage / "part-0.parquet")

    got = run_available_now(
        stream_attribution_last_touch(read_events_stream(spark, str(stage))),
        "t_stream_attr",
        output_mode="append",
    )
    got_set = {(r.user_id, r.event_id, r.touch, r.value) for r in got}
    want_set = {
        (r.user_id, r.event_id, r.touch, r.value)
        for r in attributed_purchases(spark, SF_SMALL).collect()
    }
    assert got_set == want_set
    assert len(want_set) > 0
    assert len({t for (_, _, t, _) in want_set}) > 1  # multiple touch classes


def test_neardup_reps_state_is_bounded_per_bucket():
    """The r6 verdict's one remaining 100-TB asterisk: exact-twin state grows
    one resident per DOC per bucket. The representative mode must hold it at
    one resident per DISTINCT bucket no matter how many docs collide — a
    k-copy dup group costs 1, not k."""
    from templatedb_spark.streaming.neardup import _band_fold, _band_fold_reps

    sig_a = [7] * 16  # all docs share bucket mh=7 and are exact sig twins
    k = 50
    rows = [(d, 7, sig_a) for d in range(1, k + 1)]

    exact_state, _ = _band_fold((0, 0), None, rows)
    mhs_exact = exact_state[0]
    assert len(mhs_exact) == k  # exact twin: state grows with docs (by design)

    rep_state, pairs = _band_fold_reps((0, 0), None, rows)
    mhs, doc_ids, sigs, last_docs = rep_state
    assert len(mhs) == 1 and doc_ids == [1]  # ONE resident: the elected rep
    # every later doc paired against the representative, never each other
    assert pairs == [(1, d, 16) for d in range(2, k + 1)]

    # a second batch keeps the bound: state still one resident per bucket
    rep_state, pairs2 = _band_fold_reps((0, 0), rep_state, [(d, 7, sig_a) for d in range(100, 110)])
    mhs, doc_ids, _, _ = rep_state
    assert len(mhs) == 1 and doc_ids == [1]
    assert pairs2 == [(1, d, 16) for d in range(100, 110)]


def test_neardup_reps_eviction_horizon():
    """evict_horizon bounds bucket LIFETIME: a representative untouched for
    more than `horizon` doc_ids of stream progress is stale — the next
    arrival re-elects instead of pairing, and stale entries leave state."""
    import functools

    from templatedb_spark.streaming.neardup import _band_fold_reps

    fold = functools.partial(_band_fold_reps, (0, 0), evict_horizon=100)
    sig = [3] * 16
    # docs 1, 2 are close; doc 1000 is past the horizon of the rep's last touch
    state, pairs = fold(None, [(1, 3, sig), (2, 3, sig), (1000, 3, sig)])
    assert pairs == [(1, 2, 16)]  # (1, 1000) suppressed: rep was stale
    mhs, doc_ids, _, last_docs = state
    assert doc_ids == [1000] and last_docs == [1000]  # re-elected, old rep gone

    # cross-batch: an idle bucket is dropped once the clock passes it
    state2, _ = fold(None, [(1, 3, sig)])
    state2, _ = fold(state2, [(500, 9, [9] * 16)])  # other bucket only
    mhs, doc_ids, _, _ = state2
    assert 3 not in mhs and doc_ids == [500]  # bucket 3's rep evicted

    # activity refreshes the clock: a touched bucket survives the same span
    state3, _ = fold(None, [(1, 3, sig)])
    state3, _ = fold(state3, [(90, 3, sig)])
    state3, got = fold(state3, [(170, 3, sig)])
    assert got == [(1, 170, 16)]  # rep 1 still live: touched at 90, 170-90 < 100


def test_stream_neardup_reps_matches_batch_election(spark, tmp_path):
    """End-to-end representative mode over a 2-file stage == the batch
    earliest-wins election computed from the batch signatures: per (band,
    mh) bucket rep = min doc_id, pairs = (rep, member) with >= 8 matching
    positions, distinct."""
    from templatedb_spark.operators.dedup import (
        _MINHASH_K,
        _MINHASH_MATCH_MIN,
        minhash_signatures_wide,
    )
    from templatedb_spark.streaming.events import run_available_now
    from templatedb_spark.streaming.neardup import (
        read_documents_stream,
        stream_neardup_pairs,
    )
    from templatedb_spark.suite import table

    stage = tmp_path / "docs_in"
    stage.mkdir()
    docs = table(spark, SF_SMALL, "documents")
    import glob

    # doc_id-ordered halves (election determinism needs the ordered stage)
    mid = docs.selectExpr("percentile_approx(doc_id, 0.5)").first()[0]
    for i, pred in enumerate([f"doc_id <= {mid}", f"doc_id > {mid}"]):
        tmp = tmp_path / f"w{i}"
        docs.filter(pred).orderBy("doc_id").coalesce(1).write.parquet(str(tmp))
        src = glob.glob(str(tmp / "part-*.parquet"))[0]
        shutil.copy(src, stage / f"chunk-{i}.parquet")
        shutil.rmtree(tmp)

    got_rows = run_available_now(
        stream_neardup_pairs(
            read_documents_stream(spark, str(stage)), mode="representatives"
        ),
        "t_stream_neardup_reps",
        output_mode="append",
    )
    got = {(r.doc_a, r.doc_b, r.matches) for r in got_rows}

    sigs = {
        r["doc_id"]: [r[f"mh_{i}"] for i in range(_MINHASH_K)]
        for r in minhash_signatures_wide(spark, SF_SMALL).collect()
    }
    buckets: dict[tuple[int, int], list[int]] = {}
    for d, sig in sigs.items():
        for i, mh in enumerate(sig):
            buckets.setdefault((i, mh), []).append(d)
    want = set()
    for members in buckets.values():
        rep = min(members)
        for d in members:
            if d == rep:
                continue
            matches = sum(1 for x, y in zip(sigs[rep], sigs[d]) if x == y)
            if matches >= _MINHASH_MATCH_MIN:
                want.add((rep, d, matches))
    assert got == want
    assert len(got) > 0


def test_streaming_signature_parity_with_batch_sql(spark):
    """The streaming near-dup signature is computed in PYTHON (hashlib md5 +
    numpy affine mins, neardup.signature_projection) while the batch path
    and the DuckDB oracle compute the same values in SQL (functions/hashing
    h32 + per-perm MIN aggregates). Pin bit-equality per doc per permutation
    — the end-to-end pair tests would survive a subtle hash drift that only
    changes NON-matching signature positions; this catches any drift."""
    from templatedb_spark.operators.dedup import minhash_signatures_wide, _MINHASH_K
    from templatedb_spark.streaming.neardup import signature_projection
    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    got = {
        r.doc_id: list(r.sig) for r in signature_projection(docs).collect()
    }
    want = {
        r[0]: list(r[1:])
        for r in minhash_signatures_wide(spark, SF_SMALL).collect()
    }
    assert set(got) == set(want)
    for d in want:
        assert got[d] == want[d], f"doc {d}: {got[d]} != {want[d]}"
        assert len(got[d]) == _MINHASH_K


def test_stream_neardup_reps_eviction_end_to_end(spark, tmp_path):
    """Drives evict_horizon through the REAL streaming machinery (the
    functools.partial-wrapped fold through pyrows.fold_by_key, which the
    function-level tests bypass): identical texts at doc_ids 1, 50, 5000 staged as two
    micro-batches. With horizon=100, (1, 50) pairs in batch 1; by doc 5000
    the representative is stale — batch 2 re-elects instead of pairing. The
    control run without a horizon emits both pairs."""
    import glob

    from templatedb_spark.streaming.events import run_available_now
    from templatedb_spark.streaming.neardup import (
        read_documents_stream,
        stream_neardup_pairs,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, text),
        (50, text),
        (40, "one two three four five six seven eight nine ten eleven"),
        (5000, text),
        (5100, "red orange yellow green blue indigo violet black white grey"),
    ]

    def stage(tag: str) -> str:
        stage_dir = tmp_path / f"docs_{tag}"
        stage_dir.mkdir()
        df = spark.createDataFrame(rows, "doc_id long, text string")
        for i, pred in enumerate(["doc_id < 1000", "doc_id >= 1000"]):
            w = tmp_path / f"w_{tag}_{i}"
            df.filter(pred).orderBy("doc_id").coalesce(1).write.parquet(str(w))
            src = glob.glob(str(w / "part-*.parquet"))[0]
            import os
            import shutil

            dst = stage_dir / f"chunk-{i}.parquet"
            shutil.copy(src, dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        return str(stage_dir)

    evicted = run_available_now(
        stream_neardup_pairs(
            read_documents_stream(spark, stage("evict")),
            mode="representatives",
            evict_horizon=100,
        ),
        "t_nd_evict",
        output_mode="append",
    )
    got = {(r.doc_a, r.doc_b) for r in evicted}
    assert got == {(1, 50)}  # (1, 5000) suppressed: rep stale at doc 5000

    control = run_available_now(
        stream_neardup_pairs(
            read_documents_stream(spark, stage("ctrl")), mode="representatives"
        ),
        "t_nd_ctrl",
        output_mode="append",
    )
    got_ctrl = {(r.doc_a, r.doc_b) for r in control}
    assert got_ctrl == {(1, 50), (1, 5000)}  # no horizon: rep lives forever


def test_stream_window_late_drops_straggler(spark):
    """The watermarked tumbling-window gate must (a) emit the earliest
    window WITHOUT the moved straggler row — proving the late drop is
    observable, not vacuous — and (b) leave the trailing <=10min of windows
    unemitted (append-mode state, not yet closed by the final watermark)."""
    import duckdb

    from templatedb_spark.streaming.gate import stream_window_late

    got = stream_window_late(spark, SF_SMALL)
    rows = {(r.window_start, r.event_type): r for r in got.collect()}
    assert rows, "gate emitted nothing"

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF_SMALL}/events.parquet'"
    )
    first_ts, first_eid, first_type = con.execute(
        "SELECT ts, event_id, event_type FROM events ORDER BY ts, event_id LIMIT 1"
    ).fetchone()
    wstart = first_ts.replace(minute=0, second=0, microsecond=0)
    key = (wstart.strftime("%Y-%m-%d %H:%M:%S"), first_type)
    # full-feed count for that (window, type) group INCLUDES the straggler
    full_n = con.execute(
        "SELECT COUNT(*) FROM events WHERE time_bucket(INTERVAL 1 HOUR, ts) = ? "
        "AND event_type = ?",
        [wstart, first_type],
    ).fetchone()[0]
    if full_n == 1:
        # the straggler was its group's ONLY row: the drop is observable as
        # the group's complete absence from the emitted set
        assert key not in rows, "late straggler was not dropped"
    else:
        assert key in rows, "earliest window was not emitted at all"
        assert rows[key].n_events == full_n - 1, "late straggler was not dropped"
        assert rows[key].min_eid != first_eid

    # (b) windows ending after max(ts) - 10min are still open -> absent
    mxts = con.execute("SELECT MAX(ts) FROM events").fetchone()[0]
    for (ws, _), _r in rows.items():
        from datetime import datetime, timedelta

        end = datetime.strptime(ws, "%Y-%m-%d %H:%M:%S") + timedelta(hours=1)
        assert end <= mxts - timedelta(minutes=10)
    # and at least one trailing window with data exists that was NOT emitted
    open_windows = con.execute(
        "SELECT COUNT(DISTINCT time_bucket(INTERVAL 1 HOUR, ts)) FROM events "
        "WHERE time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR > "
        "(SELECT MAX(ts) - INTERVAL 10 MINUTE FROM events)"
    ).fetchone()[0]
    assert open_windows >= 1
