"""Driver-gated streaming spec: the Structured Streaming CDC path under the
DuckDB oracle (VERDICT r3 #8 — the stream==batch twins were pytest-only).

`stream_cdc_kv_state` runs the REAL streaming pipeline end to end inside the
spec callable:

  1. stage the events feed as two ts-ordered micro-batch parquet files
     (deterministic split — same shape as tests/test_streaming.py's twin);
  2. drain them through `streaming/cdc.py`'s availableNow foreachBatch query
     (maxFilesPerTrigger=1 → two genuine micro-batches), each applied to a
     KVTable as one atomic MVCC version;
  3. return the final merged KV state, parsed back to typed columns.

Every gate drains through `streaming/drain.py`, which owns the stage dir,
the checkpoint (both deleted when the drain returns) and the run.

Because micro-batches arrive in feed order and application is atomic,
the final state must equal the net-effect compaction of the WHOLE feed —
which is exactly what the oracle SQL computes on the raw events table. A
divergence in watermarking, batch boundaries, KV versioning, or the
delete-shadows contract shows up as a hash mismatch.

Float note: kv stores `event_type|value` with Python str(value) (shortest
roundtrip repr); casting back to DOUBLE is exact, so the oracle compares the
original doubles, not formatted strings.
"""

from __future__ import annotations

import operator
import os
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from templatedb_spark.streaming.cdc import CDC_KEY_OFFSET
from templatedb_spark.streaming.drain import drain, output_dir, run, run_memory
from templatedb_spark.suite import QuerySpec, register

# Trigger count of the gated chains: 2, the semantic minimum for every
# cross-batch state contract EXCEPT sessionize's carry-then-close chain
# (which keeps an explicit 3 — a session must be EXTENDED across one
# boundary and CLOSED across another). The serial trigger chains are the
# bench makespan's critical path (BENCH_r07 gate breach); each trigger a
# chain doesn't run is ~1-1.5 s off that path, and the r10 precedent
# (KV-merge gates 3 → 2, VERDICT r6 #4's lever) showed a third trigger buys
# no additional coverage once one batch boundary proves the cross-batch
# contract. The replay fuzz (42→70 seeds) still randomizes 1-5 batch
# decompositions per operator, so multi-boundary behavior stays under test
# there.
_N_MICROBATCHES = 2


def _write_batches(out_dir: str, parts) -> None:
    """Write the pyarrow tables `parts` as part-{i}.parquet with ascending
    mtimes: the file source picks files up in mtime order, one per trigger
    (maxFilesPerTrigger=1), so part i is micro-batch i."""
    import pyarrow.parquet as pq

    for i, part in enumerate(parts):
        p = f"{out_dir}/part-{i}.parquet"
        pq.write_table(part, p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))


def _sorted(t, *keys: str):
    """The pyarrow table `t` sorted ascending by `keys`."""
    import pyarrow.compute as pc

    return t.take(pc.sort_indices(t, sort_keys=[(k, "ascending") for k in keys]))


def _split(t, n_batches: int) -> list:
    """`t` cut into n_batches equal consecutive slices (the last may be short)."""
    step = (t.num_rows + n_batches - 1) // n_batches
    return [t.slice(i * step, step) for i in range(n_batches)]


def _stage_microbatches(sf_dir: str, out_dir: str, n_batches: int | None = None) -> None:
    """Split the events feed into N ts-ordered parquet files (pure pyarrow —
    preserves the shipped ts physical type so read_events_stream's schema
    probe sees the same layout as the original file)."""
    import pyarrow.parquet as pq

    n_batches = _N_MICROBATCHES if n_batches is None else n_batches
    t = pq.read_table(f"{sf_dir}/events.parquet")
    _write_batches(out_dir, _split(_sorted(t, "ts", "event_id"), n_batches))


# NEGATIVE RESULT (r11, measured): moving the gated specs' scratch KVTable
# roots to tmpfs the way the checkpoints moved was tried and REVERTED — no
# paired win (tight disk/shm/disk interleaves at sf0.1: 2.53/2.84, 2.85/3.44
# under heavy host-window drift). Mechanism: Spark's parquet commit is a
# rename into the page cache with NO fsync, so /tmp writes were never paying
# disk latency; the checkpoint win (drain.checkpoint_tier) comes from the
# state-store delta + WAL fsyncs, which KV version writes don't do.
def _stream_session(spark: SparkSession, stage_dir: str) -> SparkSession:
    """Clone the session with a state-store-sized shuffle partition count
    for a JVM-state trigger chain.

    Every streaming stateful operator keeps one state store PER SHUFFLE
    PARTITION, and each store pays per-trigger open/snapshot/delta-commit
    I/O regardless of how few rows it holds — at micro-batch sizes that
    fixed cost dominates addBatch (measured r10, best-of-3 warm at sf0.1,
    8 → 4 partitions: interval join 3.17 → 2.51 s, window_late 1.88 →
    1.51 s, hll 2.50 → 1.90 s, cms 2.64 → 2.24 s, mv_wide 2.72 → 2.30 s,
    dedup_ingest 1.25 → 1.06 s; going further to 2 kept winning for the
    join but is skipped for headroom). Scale-adaptive, not a local[32]
    constant: partitions = staged-bytes / 32 MB clamped to [4, ambient]
    (the same 32 MB/partition rule the bench session itself uses), so any
    real-scale stage hits the ambient cluster-sized count and ONLY the
    state-store floor regime shrinks. Python-parallelism-bound chains never
    shrink: lowering their partition count serializes the Python side
    (measured: sessionize 3.49 → 4.82 s at 4, 7.80 s at 2), so sessionize
    takes `_python_state_session` and the near-dup signature maps stay on
    the ambient session."""
    from pathlib import Path

    try:
        staged = sum(
            f.stat().st_size for f in Path(stage_dir).glob("*.parquet")
        )
    except OSError:
        staged = 1 << 60  # unknown layout → assume scale, keep ambient
    ambient = int(spark.conf.get("spark.sql.shuffle.partitions", "8"))
    # clamp to [2, ambient] with ambient winning when ambient < 2 — the
    # inner max() must not RAISE the count above the ambient session's
    # (ADVICE r10: max-outside-min at ambient=2 yielded 4). Floor 4 → 2
    # (r11, paired interleaved A/B at sf0.1, best-of-3 warm): interval
    # join 3.16 → 2.77 s, window_late 2.20 → 2.00 s, static_enrich 1.50 →
    # 1.33 s, hll 2.33 → 2.23 s, cms 2.91 → 2.69 s, cdc/dedup_ingest/
    # mv_wide a wash — every per-partition state-store instance pays
    # per-trigger open/commit I/O, and the join keeps FOUR stores per
    # partition; floor 1 measured mixed (window_late kept winning,
    # dedup_ingest and the join's min regressed), so 2 keeps cross-task
    # overlap while halving the store count.
    return _state_session(spark, min(ambient, max(2, staged // (32 << 20))))


def _python_state_session(spark: SparkSession) -> SparkSession:
    """Clone the session for a Python-stateful trigger chain (sessionize's
    `pyrows.fold_by_key` fold).

    The OPPOSITE regime from the JVM-state chains `_stream_session`
    shrinks: the chain is bound by serial per-group Python calls inside
    each state partition, so more partitions = more concurrent Python
    workers, until per-instance state-store overhead wins again (measured
    r4 with disk checkpoints: 8→32→64 monotonically worse). With the r11
    tmpfs checkpoints, paired A/B at sf0.1, two windows: 16 beats ambient-8
    by ~10-20% (2.97 vs 3.31 s; 4.03 vs 5.00 s mins) and 32 loses again.
    Rule: double the ambient count, never below ambient, capped at core
    count — at real scale ambient is already ≥ cores and this is a no-op."""
    ambient = int(spark.conf.get("spark.sql.shuffle.partitions", "8"))
    cores = spark.sparkContext.defaultParallelism
    return _state_session(spark, min(2 * ambient, max(ambient, cores)))


def _state_session(spark: SparkSession, parts: int) -> SparkSession:
    """The clone both chain kinds share: `parts` shuffle partitions (one
    state store each) and the events-feed ts read mode. The state-store
    provider is whatever the session's SparkConf names (newSession()
    inherits it; events.rocksdb_state_conf is the RocksDB choice), and the
    checkpoint comes from the drain, per query.

    newSession() shares the SparkContext (and therefore the FAIR pool
    local properties) but isolates conf and the temp-view catalog, so
    concurrent suite queries planning on the ambient session never observe
    the override."""
    s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", str(parts))
    s2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return s2


def _cdc_state(kv_rows: DataFrame) -> DataFrame:
    """KV rows (key, 'event_type|value') of a CDC chain → the typed (key,
    event_type, value) state the CDC oracles compute."""
    parts = F.split(F.col("value"), r"\|", 2)
    return kv_rows.select(
        F.col("key").cast("long").alias("key"),
        parts.getItem(0).alias("event_type"),
        parts.getItem(1).cast("double").alias("value"),
    )


def stream_cdc_kv_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from templatedb_spark.kv import KVTable
    from templatedb_spark.streaming.cdc import changes_from_events, stream_cdc_to_kv
    from templatedb_spark.streaming.events import read_events_stream

    # auto_compact_every=N_MICROBATCHES puts threshold-driven compaction (the
    # reference's leveled trigger, db_impl/mod.rs:950-975) under this oracle:
    # the final batch's commit reaches the threshold and compacts inside the
    # same write lock, so the audited state is read from the compacted base —
    # any auto-compaction bug (lost delta, wrong merge order) hash-mismatches.
    kv = KVTable(spark, output_dir("cdc_kv_"), auto_compact_every=_N_MICROBATCHES)
    with drain(spark, "cdc", lambda d: _stage_microbatches(sf_dir, d)) as dr:
        s2 = _stream_session(spark, dr.stage)
        stream = changes_from_events(read_events_stream(s2, dr.stage))
        stream_cdc_to_kv(stream, kv, dr.name, checkpoint_dir=dr.ckpt)
    return _cdc_state(kv.snapshot())


_STREAM_CDC_ORACLE = f"""
WITH changes AS (
  SELECT user_id + {CDC_KEY_OFFSET} AS key, ts, event_id, event_type, value
  FROM events
),
latest AS (
  SELECT key, event_type, value FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY ts DESC, event_id DESC) AS rn
    FROM changes
  ) WHERE rn = 1
)
SELECT key::BIGINT AS key, event_type, value::DOUBLE AS value
FROM latest WHERE event_type <> 'error'
"""

register(
    QuerySpec(
        "stream_cdc_kv_state",
        stream_cdc_kv_state,
        _STREAM_CDC_ORACLE,
        "Structured Streaming CDC (2 micro-batches, foreachBatch -> KV MVCC, cross-batch version ordering) vs whole-feed compaction oracle",
    )
)


# ---------------------------------------------------------------------------
# Second gated streaming spec: the CUSTOM STATEFUL operator
# (gap-sessionization as a Python state fold, streaming/stateful.py) under
# the same oracle discipline, on the `_python_state_session` clone (its
# partition rule is measured there). The stream drains the 3-micro-batch
# staging (state spans batch boundaries — a session opened in batch 1
# closes in batch 3 only if a later event arrives past the gap), emitting
# sessions AS THEY CLOSE; each user's final session stays open in the state
# store. The oracle is therefore the batch sessionization SQL minus every
# user's last session — divergence in state carry-over, gap logic, or emit
# timing hash-mismatches.
# ---------------------------------------------------------------------------
def _sessionize_stream(spark: SparkSession, stage: str) -> DataFrame:
    from templatedb_spark.streaming.events import read_events_stream
    from templatedb_spark.streaming.stateful import stream_sessionize

    return stream_sessionize(read_events_stream(_python_state_session(spark), stage))


def stream_sessionize_closed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explicit 3: the carry-then-close chain — a session extended across
    # boundary 1 must CLOSE across boundary 2; 2 batches can only prove
    # extend-and-close within the same successor batch
    with drain(spark, "sess", lambda d: _stage_microbatches(sf_dir, d, n_batches=3)) as dr:
        t = run_memory(_sessionize_stream(spark, dr.stage), dr.name, dr.ckpt)
    return t.select(
        F.col("user_id").cast("long").alias("user_id"),
        "session_start",
        "session_end",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("session_value").cast("double").alias("session_value"),
    )


# Batch sessionization (same text as the `sessionize` spec's oracle) minus
# each user's final — still-open — session.
_STREAM_SESSIONIZE_ORACLE = """
WITH g AS (
  SELECT user_id, event_id, ts, value,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
s AS (
  SELECT *, SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM g
),
agg AS (
  SELECT user_id, session_seq,
         COUNT(*)::BIGINT AS n_events,
         STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
         STRFTIME(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
         ROUND(SUM(value), 2) AS session_value
  FROM s GROUP BY user_id, session_seq
),
mx AS (SELECT user_id, MAX(session_seq) AS mx FROM agg GROUP BY user_id)
SELECT a.user_id::BIGINT AS user_id, a.session_start, a.session_end,
       a.n_events, a.session_value::DOUBLE AS session_value
FROM agg a JOIN mx USING (user_id)
WHERE a.session_seq < mx.mx
"""

register(
    QuerySpec(
        "stream_sessionize_closed",
        stream_sessionize_closed,
        _STREAM_SESSIONIZE_ORACLE,
        "applyInPandasWithState sessionization over 3 micro-batches (state spans batches) vs batch-minus-open-sessions oracle",
    )
)


# ---------------------------------------------------------------------------
# Third gated streaming spec (round 5): STREAM-STREAM interval join under
# the oracle — the join-state machinery (both-side watermarks, cross-batch
# state retention, interval condition pruning) the first two gates don't
# touch. Clicks and errors drain from the same 3-batch ts-ordered staging;
# a click in batch 1 matching an error in batch 2 exercises exactly the
# state carry-over a real funnel join depends on. Determinism argument:
# inner-join matches emit immediately; a click needed by a future error
# satisfies click_ts >= err_ts - 30min > watermark (1 h delay > the 30 min
# lookback, and batches are ts-ordered), so no needed state is ever evicted
# — the drained result provably equals the batch interval join, which is
# the oracle. The final per-error rollup runs as BATCH over the sink table
# (chaining a streaming agg after a stream-stream join is deliberately
# avoided; the join is the audited subject).
# ---------------------------------------------------------------------------
def _interval_join_stream(spark: SparkSession, stage: str) -> DataFrame:
    from templatedb_spark.streaming.events import (
        read_events_stream,
        stream_stream_interval_join,
    )

    s2 = _stream_session(spark, stage)
    # skip the trailing NO-DATA micro-batch: an INNER symmetric-hash join
    # emits every match eagerly inside the data batches; the extra batch
    # exists only to advance the watermark and evict state, which this
    # one-shot drain discards anyway. Measured (stream_probe, r11): the
    # no-data batch cost ~0.6-0.7 s of a ~2.9 s drain (getBatch=0 rows,
    # full trigger+commit overhead). Output rows are UNCHANGED — eager
    # emission means the sink table is complete after the last data batch;
    # oracle-gated below as always. (Append-mode AGG chains like
    # stream_window_late MUST keep no-data batches: their final windows
    # only emit when the watermark advances past them.)
    s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    return stream_stream_interval_join(read_events_stream(s2, stage))


def stream_interval_join_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 2 micro-batches: join state has no carry-over → carry-over → close
    # chain (that argument is about SESSION state) — one batch boundary
    # already exercises the full cross-batch join-state contract (batch-2
    # probes hitting batch-1 state, watermark retention). Measured ~1.3
    # s/trigger; this spec is the suite's longest chain, so the third
    # trigger bought no coverage at real makespan cost.
    with drain(spark, "ssj", lambda d: _stage_microbatches(sf_dir, d, n_batches=2)) as dr:
        t = run_memory(_interval_join_stream(spark, dr.stage), dr.name, dr.ckpt)
    return t.groupBy(F.col("e_user").alias("user_id"), "error_id").agg(
        F.count(F.lit(1)).alias("n_recent_clicks")
    )


_STREAM_INTERVAL_JOIN_ORACLE = """
SELECT a.user_id, a.event_id AS error_id, COUNT(*) AS n_recent_clicks
FROM events a JOIN events b
  ON a.user_id = b.user_id AND b.event_type = 'click' AND a.event_type = 'error'
 AND b.ts >= a.ts - INTERVAL 30 MINUTE AND b.ts <= a.ts
GROUP BY a.user_id, a.event_id
"""

register(
    QuerySpec(
        "stream_interval_join_clicks",
        stream_interval_join_clicks,
        _STREAM_INTERVAL_JOIN_ORACLE,
        "stream-stream interval join (both-side watermarks, 2 micro-batches, cross-batch join state) vs batch range-join oracle",
    )
)


# ---------------------------------------------------------------------------
# Fourth gated streaming spec (round 6, VERDICT r5 #7): the streaming
# NEAR-DUP operator (streaming/neardup.py) — the one streaming operator that
# was pytest-only. Documents drain as 2 doc_id-ordered micro-batches through
# the per-band state-fold pair matcher; a batch-2 doc colliding
# with a batch-1 doc's signature exercises exactly the cross-batch band
# state the operator exists for. Determinism argument: signatures are
# row-local projections (no aggregation state), per-band matching is
# all-pairs within the bucket regardless of arrival order, and the emitted
# (doc_a, doc_b) is sorted — so the DISTINCT pair set equals the batch
# banded self-join over the staged slice, i.e. the dedup_minhash_lsh oracle
# re-rooted on it (same md5-derived hashes, bit-identical in DuckDB).
# Verified at sf0.01: the slice's one near-dup pair (120, 332) straddles the
# batch-1/batch-2 boundary (split at doc_id 248), so a green row PROVES the
# cross-batch state carry-over, not just within-batch matching.
# ---------------------------------------------------------------------------
_NEARDUP_SLICE_MOD = 4  # gate corpus slice: doc_id % 4 == 0
# the stager selects the slice with bit_wise_and(doc_id, MOD-1) == 0 (pyarrow
# has no modulo kernel), which equals the oracle's doc_id % MOD = 0 ONLY for
# powers of two — changing the constant to e.g. 5 would silently stage a
# different slice than the oracle filters (ADVICE r6)
assert _NEARDUP_SLICE_MOD & (_NEARDUP_SLICE_MOD - 1) == 0, (
    "_NEARDUP_SLICE_MOD must be a power of two: the pyarrow stager uses a "
    "bitmask while the oracle uses modulo"
)


def _stage_doc_microbatches(sf_dir: str, out_dir: str, n_batches: int = 2) -> None:
    """Split documents into N doc_id-ordered parquet files (pure pyarrow,
    same discipline as the events stager). The gate stages the deterministic
    doc_id % 4 == 0 slice (oracle restricted identically): the audited
    subject is cross-batch band STATE correctness, which one quarter of the
    corpus exercises fully, while the md5-signature volume — the measured
    cost — stays off the suite's critical path."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/documents.parquet")
    t = t.filter(
        pc.equal(pc.bit_wise_and(t["doc_id"], _NEARDUP_SLICE_MOD - 1), 0)
    )
    _write_batches(out_dir, _split(_sorted(t, "doc_id"), n_batches))


def _neardup_gate(spark: SparkSession, sf_dir: str, prefix: str, mode: str) -> DataFrame:
    """Drain the staged slice through the near-dup operator in `mode`. A
    pair found via several shared bands repeats with the SAME match count —
    distinct() collapses it (the operator's documented contract)."""
    from templatedb_spark.streaming.neardup import (
        read_documents_stream,
        stream_neardup_pairs,
    )

    with drain(spark, prefix, lambda d: _stage_doc_microbatches(sf_dir, d)) as dr:
        stream = stream_neardup_pairs(read_documents_stream(spark, dr.stage), mode=mode)
        t = run_memory(stream, dr.name, dr.ckpt)
    return t.select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.col("matches").cast("long").alias("matches"),
    ).distinct()


def stream_neardup_pairs_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _neardup_gate(spark, sf_dir, "ndp", "exact")


def _neardup_oracle() -> str:
    # lazy import keeps gate.py importable without the dedup module loaded
    from templatedb_spark.operators.dedup import (
        _MINHASH_CTES,
        _MINHASH_MATCH_MIN,
    )

    # same CTE chain as the batch dedup_minhash_lsh oracle, re-rooted on the
    # staged doc_id % 4 == 0 slice
    ctes = _MINHASH_CTES.replace("FROM documents", "FROM docs_slice")
    return f"""
WITH docs_slice AS (
  SELECT * FROM documents WHERE doc_id % {_NEARDUP_SLICE_MOD} = 0
),
{ctes}
SELECT doc_a, doc_b, matches::BIGINT AS matches
FROM est WHERE matches >= {_MINHASH_MATCH_MIN}
"""


register(
    QuerySpec(
        "stream_neardup_pairs",
        stream_neardup_pairs_gate,
        _neardup_oracle(),
        "streaming minhash near-dup (per-band applyInPandasWithState, 2 micro-batches, cross-batch band state) vs batch banded-join oracle",
    )
)


# ---------------------------------------------------------------------------
# Fifth gated streaming spec (round 7, VERDICT r6 #1): the BOUNDED-STATE
# production mode of the streaming near-dup operator — representative
# election (streaming/neardup.py mode="representatives"). Each band bucket
# keeps exactly ONE resident (the first arrival — semantic_dedup's
# earliest-wins election applied online); later arrivals are scored against
# the representative only and never enter state, so per-band state grows
# with DISTINCT buckets, not docs. Determinism argument: the stage is
# doc_id-ordered across AND within micro-batches (the operator sorts
# arrivals per group), so a bucket's representative is provably its MIN
# doc_id — which is exactly what the oracle elects in SQL. The emitted pair
# set is therefore {(rep, d): d in bucket, matches(sig_rep, sig_d) >= 8}
# DISTINCT — the batch election re-rooted on the staged slice. The same
# 2-batch staging as the exact-twin gate keeps the cross-batch proof: a
# representative elected in batch 1 must survive in state to pair with a
# batch-2 arrival, or the row hash-mismatches. Verified at sf0.01: the
# mode's one emitted pair is (120, 332) with the stage split at doc_id
# 248|252 — rep 120 is elected in batch 1, its match arrives in batch 2.
# ---------------------------------------------------------------------------
def stream_neardup_reps_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _neardup_gate(spark, sf_dir, "ndr", "representatives")


def _neardup_reps_oracle() -> str:
    from templatedb_spark.operators.dedup import (
        _MINHASH_CTES,
        _MINHASH_MATCH_MIN,
    )

    # reuse the slice + signature CTE chain of the exact-twin oracle, but
    # replace its all-pairs cand/est tail with the election: per (band, mh)
    # bucket the representative is MIN(doc_id), pairs are (rep, member)
    ctes = _MINHASH_CTES.replace("FROM documents", "FROM docs_slice")
    head, _, _ = ctes.partition("cand AS")  # keep sh/hs/perms/sig, drop cand/est
    return f"""
WITH docs_slice AS (
  SELECT * FROM documents WHERE doc_id % {_NEARDUP_SLICE_MOD} = 0
),
{head}
rep AS (SELECT i, mh, MIN(doc_id) AS rep_doc FROM sig GROUP BY i, mh),
cand AS (SELECT DISTINCT r.rep_doc AS doc_a, s.doc_id AS doc_b
         FROM sig s JOIN rep r ON s.i = r.i AND s.mh = r.mh AND s.doc_id > r.rep_doc),
est AS (SELECT c.doc_a, c.doc_b,
               SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS matches
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.doc_a
        JOIN sig sb ON sb.doc_id = c.doc_b AND sa.i = sb.i
        GROUP BY 1, 2)
SELECT doc_a, doc_b, matches::BIGINT AS matches
FROM est WHERE matches >= {_MINHASH_MATCH_MIN}
"""


register(
    QuerySpec(
        "stream_neardup_reps",
        stream_neardup_reps_gate,
        _neardup_reps_oracle(),
        "bounded-state streaming near-dup (representative election, 1 resident/bucket, 2 micro-batches) vs batch earliest-wins election oracle",
    )
)


# ---------------------------------------------------------------------------
# Sixth gated spec (round 7, VERDICT r6 #5): compact_range under the oracle.
# The CDC feed is written as THREE disjoint-key atomic versions (user_id % 3
# routing — each key's full history lands in one version, so the multi-
# version merge is exact regardless of apply order), then
# compact_range("145", "155") merges whole every unit that overlaps the
# range, closed over the merged key span, into one base. In the hash layout
# the unit is a version, and the % 3 routing spreads each version over the
# whole keyspace, so all three merge. The audited invariant: the merged
# state after a keyed-subrange compaction equals the whole-feed net-effect
# compaction — the SAME oracle as the streaming CDC gate. Any compact_range
# bug (a unit missing from the merge, tombstone resurrection, a lost clone,
# manifest mis-publish) changes the final state and hash-mismatches.
# ---------------------------------------------------------------------------
def _range_compacted_kv(spark: SparkSession, sf_dir: str, prefix: str, layout: str):
    """The events CDC feed's net effect written as three disjoint-key KV
    versions, then compact_range("145", "155"): the table both compaction
    gates audit (they differ in the layout and in the final read)."""
    from templatedb_spark.kv import KVTable
    from templatedb_spark.streaming.cdc import (
        changes_from_events,
        compact_net_effect,
        kv_value_col,
    )
    from templatedb_spark.suite import table

    kv = KVTable(spark, output_dir(f"{prefix}_kv_"), layout=layout)
    feed = changes_from_events(table(spark, sf_dir, "events"))
    # Per-key compaction commutes with disjoint-key routing, so the whole-feed
    # net effect is computed ONCE and cached; the three atomic versions each
    # read the (tiny: one row per key) cached relation instead of re-scanning
    # and re-windowing the full feed per version (r9: the spec was the #1
    # contended critical-path item in the bench lane — 3 feed compactions
    # serialized behind each other for no semantic reason).
    net_all = compact_net_effect(feed).select(
        "key",
        F.when(F.col("event_type") != "error", kv_value_col()).alias("value"),
        F.when(F.col("event_type") == "error", F.lit("del"))
        .otherwise(F.lit("put"))
        .alias("op"),
    ).cache()
    try:
        # count() materializes the cache before the three writes. Its
        # per-version row count only sizes range-layout writes; hash-layout
        # writes are sized by AQE (see kv.KVTable._write_version).
        per_version = (net_all.count() + 2) // 3
        # the three versions hold DISJOINT key sets (user_id % 3 routing),
        # so their write jobs run concurrently (kv.write_batches_df, guide
        # §2.6) — wall = the slowest write instead of the sum of three
        # serial commit latencies (VERDICT r10 #2)
        kv.write_batches_df(
            [
                net_all.filter(F.col("key") % 3 == i).select(
                    F.col("key").cast("string").alias("key"), "value", "op"
                )
                for i in range(3)
            ],
            n_rows_hint=per_version,
        )
    finally:
        net_all.unpersist()
    kv.compact_range("145", "155")  # lexicographic: keys 1450-1549
    return kv


def kv_compact_range_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cdc_state(_range_compacted_kv(spark, sf_dir, "cr", "hash").snapshot())


register(
    QuerySpec(
        "kv_compact_range_state",
        kv_compact_range_state,
        _STREAM_CDC_ORACLE,
        "keyed-subrange compaction under the oracle: 3 disjoint-key KV versions, compact_range over a key subrange, state == whole-feed net-effect compaction",
    )
)


# ---------------------------------------------------------------------------
# Seventh gated spec (round 8): the KV RANGE layout end-to-end. Same CDC
# feed, but the table is layout="range": every version is written as
# key-sorted, range-disjoint buckets whose smallest/largest are recorded in
# the manifest (the LSM's sorted SSTable run + FileMetaData,
# reference: src/storage_engine/src/sstable/table_builder.rs,
# src/storage_engine/src/manager/version_edit.rs) — so BOTH the keyed-
# subrange compaction and the final range scan prune at bucket granularity
# before any file is opened. The audited invariant: a pruned scan over
# [start, end) on a range-layout table that was subrange-compacted equals
# the whole-feed net-effect state restricted to the same key range. Here a
# compaction unit is a (version, bucket): compact_range merges the buckets
# whose range overlaps its range (closed over their span) and hardlinks
# every other bucket under a new version number with its recorded range.
# The scan window (142..152) deliberately straddles the compaction boundary
# (145): its result merges the compacted base AND hardlink-cloned untouched
# buckets — a pruning bug on either (bucket range mis-recorded after clone,
# footer stats mis-harvested, boundary off-by-one in _range_intersects)
# hash-mismatches.
# ---------------------------------------------------------------------------
def kv_range_layout_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    kv = _range_compacted_kv(spark, sf_dir, "rl", "range")
    return _cdc_state(kv.scan(start="142", end="152"))  # straddles the 1450 boundary


_KV_RANGE_SCAN_ORACLE = f"""
WITH changes AS (
  SELECT user_id + {CDC_KEY_OFFSET} AS key, ts, event_id, event_type, value
  FROM events
),
latest AS (
  SELECT key, event_type, value FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY ts DESC, event_id DESC) AS rn
    FROM changes
  ) WHERE rn = 1
)
SELECT key::BIGINT AS key, event_type, value::DOUBLE AS value
FROM latest
WHERE event_type <> 'error'
  AND key::VARCHAR >= '142' AND key::VARCHAR < '152'
"""

register(
    QuerySpec(
        "kv_range_layout_scan",
        kv_range_layout_scan,
        _KV_RANGE_SCAN_ORACLE,
        "range-layout KV: sorted range-disjoint buckets + manifest key ranges; subrange compaction then a bucket-pruned scan straddling the compaction boundary == net-effect state restricted to the scan range",
    )
)


# ---------------------------------------------------------------------------
# Eighth gated spec (round 8): bounded-state streaming EXACT dedup on ingest
# — Spark's native dropDuplicatesWithinWatermark (streaming/ingest.py), the
# production ingest-dedup shape whose state is bounded by the watermark
# horizon instead of the corpus. The synthetic corpus has no exact twins, so
# the stager deterministically injects them: every doc_id % 50 == 0 gains a
# verbatim clone (+10000) and every doc_id % 70 == 0 a whitespace variant
# (+20000, ' ' -> '  ' — same fingerprint after normalization, which puts
# the Spark-vs-DuckDB normalization parity itself under the gate). Batch
# routing is by rank within fingerprint group (i-th copy -> micro-batch i),
# so EVERY duplicate pair straddles a micro-batch boundary by construction —
# a green row proves cross-batch state suppression for all 18 groups, not
# one sentinel pair. The oracle reconstructs the same augmented corpus in
# SQL and elects min(doc_id) per fingerprint; any admitted duplicate is a
# row-count mismatch, any wrong survivor a hash mismatch.
# ---------------------------------------------------------------------------
def _stage_ingest_microbatches(sf_dir: str, out_dir: str, n_batches: int = 2) -> None:
    """Augment documents with deterministic dup tiers and stage each
    fingerprint's i-th copy into micro-batch i (pandas rank routing — the
    normalization here only decides ROUTING; the audited fingerprint parity
    is Spark-vs-DuckDB, both of which compute md5 over their own
    regexp_replace)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    ).to_pandas()
    clones = df[df.doc_id % 50 == 0].copy()
    clones["doc_id"] += 10_000
    ws = df[df.doc_id % 70 == 0].copy()
    ws["doc_id"] += 20_000
    ws["text"] = ws["text"].str.replace(" ", "  ", regex=False)
    aug = (
        pd.concat([df, clones, ws], ignore_index=True)
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    norm = aug["text"].str.lower().str.replace(r"\s+", " ", regex=True)
    aug["batch_idx"] = aug.groupby(norm).cumcount().clip(upper=n_batches - 1)
    cols = ["doc_id", "text", "batch_idx"]
    _write_batches(
        out_dir,
        [
            pa.Table.from_pandas(aug[aug.batch_idx == i][cols], preserve_index=False)
            for i in range(n_batches)
        ],
    )


def _ingest_stream(spark: SparkSession, stage: str) -> DataFrame:
    from templatedb_spark.streaming.ingest import stream_dedup_ingest
    from templatedb_spark.streaming.neardup import read_documents_stream

    s2 = _stream_session(spark, stage)
    # dropDuplicatesWithinWatermark emits every FIRST-SEEN row eagerly in
    # its data batch; the trailing no-data batch only evicts expired state
    # (discarded after this one-shot drain). Skipping it saves a full
    # trigger+commit round (~0.2 s of a ~1.1 s drain, stream_probe r11)
    # with the sink rows unchanged — same argument as the interval-join
    # gate; oracle-gated.
    s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    return stream_dedup_ingest(read_documents_stream(s2, stage))


def stream_dedup_ingest_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    with drain(spark, "ing", lambda d: _stage_ingest_microbatches(sf_dir, d)) as dr:
        return run_memory(_ingest_stream(spark, dr.stage), dr.name, dr.ckpt)


_INGEST_DEDUP_ORACLE = r"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 50 = 0
  UNION ALL
  SELECT doc_id + 20000, replace(text, ' ', '  ') FROM documents WHERE doc_id % 70 = 0
)
SELECT MIN(doc_id)::BIGINT AS doc_id,
       md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint
FROM aug GROUP BY 2
"""

register(
    QuerySpec(
        "stream_dedup_ingest",
        stream_dedup_ingest_gate,
        _INGEST_DEDUP_ORACLE,
        "bounded-state streaming exact dedup on ingest (native dropDuplicatesWithinWatermark, 2 micro-batches, every fingerprint has at least one cross-boundary dup pair; triple-copy fingerprints place copies 2 and 3 within one batch) vs batch min-doc_id election oracle",
    )
)


# ---------------------------------------------------------------------------
# Ninth gated spec: WATERMARKED EVENT-TIME WINDOW AGGREGATION with a provably
# dropped late row — the canonical Structured Streaming operator (append-mode
# tumbling window) that the other gates exercise only indirectly. Two
# contracts are under the oracle at once:
#
#   1. **Append-mode emission**: a window is emitted exactly once, when the
#      watermark passes its end. After the availableNow drain the final
#      watermark is max(ts) - 10min, so the sink holds precisely the windows
#      with window_end <= max(ts) - 10min (the trailing ~10min of windows
#      stay open in state, unemitted). The oracle applies the same cutoff in
#      SQL. (Boundary safety: verified at sf0.001/0.01/0.1/sf1 that no
#      hour-aligned window end coincides with the cutoff instant, so <= vs <
#      eviction semantics cannot flip a window across engines.)
#   2. **Late-data drop**: the stager moves the globally EARLIEST event (min
#      (ts, event_id)) from micro-batch 1 to the END of micro-batch 3. When
#      batch 3 runs, the watermark is already maxTs(batches 1-2) - 10min —
#      ~20 days past that row's window — so the row MUST be discarded, and
#      its window was already finalized without it after batch 1/2. The
#      oracle excludes exactly that one row (ROW_NUMBER()=1 over (ts,
#      event_id)); an engine that fails to drop it (or drops anything else)
#      hash-mismatches on that window's aggregates.
#
# Aggregates are integer-exact (count, sum(user_id), min/max(event_id)) so
# the comparison is bit-deterministic regardless of partition order — no
# float sums in a hash-compared streaming gate.
#
# Scale: this is THE bounded-state firehose shape — state is O(active
# windows x event types) regardless of corpus size, late stragglers are
# dropped at the operator instead of growing state, and each trigger is a
# partial+final hash agg. Reference parity: the reference has no streaming
# tier (SURVEY.md §2.9 extension); the batch twin is `events_rollup`.
# ---------------------------------------------------------------------------
def _stage_late_microbatches(sf_dir: str, out_dir: str, n_batches: int = 3) -> None:
    """ts-ordered 3-way split of events, with the globally earliest row
    (min (ts, event_id)) moved from batch 1 to the tail of the last batch —
    the deterministic late straggler."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # 3 batches, NOT the 2-trigger default: the watermark used to filter
    # batch k's input is computed from stats through batch k-2 (measured
    # this round — a straggler at the tail of batch 1 of 2 SURVIVES because
    # batch 1 still runs with the initial watermark; only at batch 2 does
    # batch 0's max event time take effect). The provably-dropped straggler
    # therefore needs at least 3 batches: wm(batch 2) = max_ts(batch 0) - 10min.
    t = _sorted(pq.read_table(f"{sf_dir}/events.parquet"), "ts", "event_id")
    parts = _split(t.slice(1), n_batches)
    # the global (ts, event_id) minimum goes last
    parts[-1] = pa.concat_tables([parts[-1], t.slice(0, 1)])
    _write_batches(out_dir, parts)


def _window_late_stream(spark: SparkSession, stage: str) -> DataFrame:
    from templatedb_spark.streaming.events import (
        read_events_stream,
        windowed_exact_rollup,
    )

    return windowed_exact_rollup(read_events_stream(_stream_session(spark, stage), stage))


def stream_window_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    with drain(spark, "winlate", lambda d: _stage_late_microbatches(sf_dir, d)) as dr:
        return run_memory(_window_late_stream(spark, dr.stage), dr.name, dr.ckpt)


_STREAM_WINDOW_LATE_ORACLE = """
WITH ordered AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY ts ASC, event_id ASC) AS rn FROM events
),
kept AS (SELECT * FROM ordered WHERE rn > 1),
mx AS (SELECT MAX(ts) AS mxts FROM events)
SELECT STRFTIME(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*)::BIGINT AS n_events,
       SUM(user_id)::BIGINT AS sum_uid,
       MIN(event_id)::BIGINT AS min_eid,
       MAX(event_id)::BIGINT AS max_eid
FROM kept, mx
WHERE time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR <= mxts - INTERVAL 10 MINUTE
GROUP BY 1, 2
"""

register(
    QuerySpec(
        "stream_window_late",
        stream_window_late,
        _STREAM_WINDOW_LATE_ORACLE,
        "append-mode watermarked tumbling-window agg (3 micro-batches — watermark stats lag 2 batches, so the provably-dropped straggler needs batch index 2) vs batch closed-window oracle",
    )
)


# ---------------------------------------------------------------------------
# Tenth gated spec: STREAM-STATIC broadcast enrichment — the third join
# shape Structured Streaming supports (after stream-stream, gated above, and
# the batch tier's joins): every micro-batch of the event stream joins a
# STATIC dimension (customer) that Spark re-resolves and broadcasts per
# trigger. This is the canonical firehose-enrichment topology at 100 TB —
# the dim is small and broadcast, the stream never shuffles on the join key,
# and no join state accumulates (unlike stream-stream, there is nothing to
# watermark: matches are complete within each micro-batch by definition).
#
# The gate drains 2 ts-ordered micro-batches through the enrichment join in
# append mode (raw enriched rows — no streaming agg, so nothing is held
# back), then rolls the sink up as BATCH per (mktsegment, event_type); the
# oracle is the same inner join + rollup over the whole feed. A divergence
# in per-batch dim resolution, join semantics, or row loss across triggers
# is a count/hash mismatch. Aggregates are integer-exact.
# ---------------------------------------------------------------------------
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from templatedb_spark.streaming.events import read_events_stream
    from templatedb_spark.suite import table

    # parquet FILE sink, not memory: enriched rows are corpus-sized (1:1 with
    # the stream), so the sink must stay off the driver — the memory sink
    # OOMed the sf10 engine probe at 10M rows, the exactly-once file sink
    # ships them executor-side (the production enrichment topology end to
    # end). The rollup then reads the committed files as batch.
    sink = output_dir("enrich_sink_")
    with drain(spark, "enrich", lambda d: _stage_microbatches(sf_dir, d)) as dr:
        s2 = _stream_session(spark, dr.stage)
        # the static dim must come from the SAME session as the stream side
        dim = F.broadcast(
            table(s2, sf_dir, "customer").select(
                F.col("c_custkey").alias("user_id"), "c_mktsegment", "c_nationkey"
            )
        )
        enriched = (
            read_events_stream(s2, dr.stage)
            .join(dim, "user_id")  # stream-static inner join, broadcast per trigger
            .select("event_id", "user_id", "event_type", "c_mktsegment", "c_nationkey")
        )
        writer = enriched.writeStream.format("parquet").option("path", sink)
        run(writer.outputMode("append"), dr.name, dr.ckpt)
    return (
        spark.read.parquet(sink)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum("c_nationkey").cast("long").alias("sum_nation"),
            F.min("event_id").cast("long").alias("min_eid"),
            F.max("event_id").cast("long").alias("max_eid"),
        )
    )


_STREAM_ENRICH_ORACLE = """
SELECT c.c_mktsegment, e.event_type,
       COUNT(*)::BIGINT AS n_events,
       COUNT(DISTINCT e.user_id)::BIGINT AS n_users,
       SUM(c.c_nationkey)::BIGINT AS sum_nation,
       MIN(e.event_id)::BIGINT AS min_eid,
       MAX(e.event_id)::BIGINT AS max_eid
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""

register(
    QuerySpec(
        "stream_static_enrich",
        stream_static_enrich,
        _STREAM_ENRICH_ORACLE,
        "stream-static broadcast enrichment (2 micro-batches, dim re-broadcast per trigger, no join state) vs batch inner-join rollup oracle",
    )
)


# ---------------------------------------------------------------------------
# The KV-state chains' one sink. The last four gates (HLL registers, CMS
# cells and two materialized join views) each keep a view in KV. A
# micro-batch reduces to a partial state keyed like the view, and
# `_merge_into_kv` folds it into the stored state once, under a (query,
# batch_id) tag, entirely on the executors: the partial LEFT-JOINs the
# decoded pre-batch snapshot on the view key, each value merges by the
# view's monoid (max for HLL, + for the rest), and the merged rows commit
# through write_batch_df. No row reaches the driver, so a view keyed by
# user_id at 100 TB takes the same path as a 64-register sketch. A replayed
# batch finds its tag and is a no-op; on the SUM monoids that check is
# correctness, not hygiene (a replay would double-count).
# ---------------------------------------------------------------------------
class _KVView(NamedTuple):
    """A KV-persisted view: `delta` reduces a micro-batch to its partial
    state, whose `keys` and `vals` columns ((name, type) pairs in encoding
    order) merge into the stored state by `combine`."""

    delta: Callable[[DataFrame], DataFrame]
    keys: list[tuple[str, str]]
    vals: list[tuple[str, str]]
    combine: Callable[[Column, Column], Column]


def _decode_kv(rows: DataFrame, keys: list, vals: list) -> DataFrame:
    """KV rows ('k1|k2…' → 'v1|v2…') decoded to the view's typed columns."""

    def cols(col: str, fields: list) -> list:
        parts = F.split(F.col(col), r"\|", len(fields))
        return [parts.getItem(i).cast(t).alias(n) for i, (n, t) in enumerate(fields)]

    return rows.select(*cols("key", keys), *cols("value", vals))


def _merge_into_kv(kv, view: _KVView, batch_df: DataFrame, tag: str) -> None:
    """Fold one micro-batch into the view's KV state under `tag` (see
    above). snapshot() resolves its version paths now, before this batch's
    version commits, so the plan reads exactly the pre-batch state."""
    if kv.has_tag(tag):
        return  # replayed micro-batch: already committed
    keys = [n for n, _ in view.keys]
    delta = view.delta(batch_df).select(
        *[F.col(n).cast(t).alias(n) for n, t in view.keys + view.vals]
    )
    # the stored values decode as n0 next to the partial's n
    cur = _decode_kv(kv.snapshot(), view.keys, [(f"{n}0", t) for n, t in view.vals])
    vals = [
        F.coalesce(view.combine(F.col(n), F.col(f"{n}0")), F.col(n)).cast("string")
        for n, _ in view.vals
    ]
    merged = delta.join(cur, keys, "left").select(
        F.concat_ws("|", *keys).alias("key"),
        F.concat_ws("|", *vals).alias("value"),
        F.lit("put").alias("op"),
    )
    kv.write_batch_df(merged, tag=tag)


def _sketch_drain(
    spark: SparkSession, prefix: str, stage_fn, read_stream, view: _KVView
) -> DataFrame:
    """Drain the staged feed on the state-store clone into a fresh KV, one
    `_merge_into_kv` per micro-batch; returns the view's decoded state."""
    from templatedb_spark.kv import KVTable

    kv = KVTable(spark, output_dir(f"{prefix}_kv_"))
    with drain(spark, prefix, stage_fn) as dr:
        stream = read_stream(_stream_session(spark, dr.stage), dr.stage)
        writer = stream.writeStream.foreachBatch(
            lambda bdf, bid: _merge_into_kv(kv, view, bdf, f"{dr.name}:b{bid}")
        )
        run(writer, dr.name, dr.ckpt)
    return _decode_kv(kv.snapshot(), view.keys, view.vals)


# ---------------------------------------------------------------------------
# Eleventh gated spec: MERGEABLE-SKETCH STREAMING STATE — the deterministic
# HyperLogLog register vector maintained across micro-batches. This is the
# species of streaming state none of the other gates exercise: not rows, not
# per-key latest, but a BOUNDED commutative monoid (64 registers merged by
# elementwise max). Each micro-batch computes its partial register vector
# distributed (the same hll_partial_registers the batch spec uses), and the
# sink max-merges it into the KV-persisted vector under an exactly-once
# batch tag. Because max-merge is associative/commutative and the register
# derivation is md5-deterministic, the drained vector must be BIT-IDENTICAL
# to the batch spec's single-pass vector — so the oracle is the batch HLL
# oracle itself, fingerprint and all. A wrong merge, a lost batch, or a
# double-applied replay flips the registers_fp hash.
# ---------------------------------------------------------------------------
def _hll_delta(batch_df: DataFrame) -> DataFrame:
    from templatedb_spark.operators.textstats import hll_partial_registers

    return hll_partial_registers(
        batch_df.select(F.col("user_id").cast("string").alias("u"))
    )


_HLL_VIEW = _KVView(_hll_delta, [("reg", "long")], [("m", "long")], F.greatest)


def stream_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from templatedb_spark.operators.textstats import (
        hll_fill_registers,
        hll_finalize,
    )
    from templatedb_spark.streaming.events import read_events_stream
    from templatedb_spark.suite import table

    # 2 triggers = the semantic minimum for a cross-batch merge (batch 1
    # max-merges into batch 0's committed registers); the third trigger
    # proved nothing extra and was ~1/3 of this serial chain's wall clock
    # (VERDICT r6 #4's fewer-larger-micro-batches lever).
    regs = _sketch_drain(
        spark,
        "hll",
        lambda d: _stage_microbatches(sf_dir, d, n_batches=2),
        read_events_stream,
        _HLL_VIEW,
    )
    truth = (
        table(spark, sf_dir, "events")
        .agg(F.countDistinct("user_id").cast("long").alias("n_true"))
    )
    return hll_finalize(hll_fill_registers(spark, regs), truth)


def _stream_hll_oracle() -> str:
    from templatedb_spark.operators.textstats import _hll_oracle

    return _hll_oracle()


register(
    QuerySpec(
        "stream_hll_users",
        stream_hll_users,
        _stream_hll_oracle(),
        "mergeable-sketch streaming state: per-micro-batch HLL partial registers max-merged into KV under exactly-once tags vs the batch sketch oracle (bit-identical registers_fp)",
    )
)


# ---------------------------------------------------------------------------
# Twelfth gated spec: COUNTER-SKETCH STREAMING STATE (Count-Min over the
# document token stream). The companion to stream_hll_users with the
# opposite algebra: HLL registers merge by MAX (idempotent — a replayed
# merge is harmless), CMS cells merge by SUM (NOT idempotent — a replayed
# micro-batch double-counts and corrupts every estimate). So this gate is
# the end-to-end proof that the KV's exactly-once batch tags are
# load-bearing: drain the corpus in 2 micro-batches, sum each batch's
# 4x8-cell partial sketch into the KV under a (query, batch_id) tag, then
# estimate the top-20 heavy hitters from the merged sketch. The oracle is
# the batch CMS oracle verbatim — any duplicate apply, lost batch, or wrong
# sum shifts cms_n/overestimate and hash-mismatches.
# ---------------------------------------------------------------------------
def _stage_full_doc_microbatches(sf_dir: str, out_dir: str, n_batches: int = 2) -> None:
    """doc_id-ordered N-way split of the raw documents table (full corpus —
    unlike the near-dup stagers there is no slice and no augmentation)."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    _write_batches(out_dir, _split(_sorted(t, "doc_id"), n_batches))


def _cms_delta(batch_df: DataFrame) -> DataFrame:
    from templatedb_spark.operators.dedup import tokens_col
    from templatedb_spark.operators.textstats import cms_sketch

    # tf FIRST, cells second: aggregating to term frequencies before the
    # d-way cell explode keeps the explode at vocab size instead of
    # token-instance size (the same order the batch spec uses)
    tok = batch_df.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
    return cms_sketch(tok.groupBy("tok").agg(F.count(F.lit(1)).alias("n")))


_CMS_VIEW = _KVView(
    _cms_delta, [("j", "int"), ("b", "long")], [("cnt", "long")], operator.add
)


def stream_cms_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from templatedb_spark.operators.dedup import tokenized
    from templatedb_spark.operators.textstats import cms_top_k
    from templatedb_spark.streaming.neardup import read_documents_stream

    # 2 triggers: minimum that proves the SUM-merge reads committed state
    # (and that a replayed tag cannot double-count) — see stream_hll_users
    sketch = _sketch_drain(
        spark,
        "cms",
        lambda d: _stage_full_doc_microbatches(sf_dir, d, n_batches=2),
        read_documents_stream,
        _CMS_VIEW,
    )
    # candidate selection is the exact top-K over the full corpus (same as
    # the batch spec) — the streamed, audited artifact is the sketch itself.
    # Reuse the suite-wide CACHED tokenized relation (operators/dedup) so
    # this pass costs a cache read, not a third full-corpus tokenization.
    tok = tokenized(spark, sf_dir).select(F.explode("t").alias("tok"))
    tf = tok.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return cms_top_k(tf, sketch)


def _stream_cms_oracle() -> str:
    from templatedb_spark.operators.textstats import _cms_oracle

    return _cms_oracle()


register(
    QuerySpec(
        "stream_cms_tokens",
        stream_cms_tokens,
        _stream_cms_oracle(),
        "counter-sketch streaming state: per-micro-batch Count-Min partials SUM-merged into KV under exactly-once tags (non-idempotent monoid - the tag IS correctness) vs the batch CMS oracle",
    )
)


# ---------------------------------------------------------------------------
# Thirteenth and fourteenth gated specs: STREAMING MATERIALIZED JOIN VIEWS —
# the production pattern that ties this round's machinery together. A
# materialized rollup over orders JOIN customer is maintained INCREMENTALLY
# from an order stream: each micro-batch dA contributes dA ⋈ B (B static,
# broadcast per trigger — no stream shuffle, no join state), and the sink
# SUM-merges the delta rollup into the KV-persisted view under an
# exactly-once batch tag. The final state must equal the full-recompute
# oracle. This composes: stream-static join + delta propagation +
# non-idempotent merge + transactional sink — a replayed or lost batch, a
# wrong delta term, or a float-unsafe merge all flip the hash. Money sums
# are DECIMAL end to end (per-batch DECIMAL(12,2) rollups, DECIMAL(38,2)
# merges, exact and partitioning-independent); only the final output casts
# to DOUBLE. One gate, two view keys: `stream_mv_join` keys the view by
# (c_mktsegment, o_orderstatus) — 15 groups — and `stream_mv_join_wide` by
# (c_mktsegment, o_custkey) — every customer. The o_orderkey-ordered 2-way
# split puts nearly every custkey in BOTH batches, so a merge that failed
# to read prior state flips the wide view's hash.
# ---------------------------------------------------------------------------
def _stage_order_microbatches(sf_dir: str, out_dir: str, n_batches: int = 2) -> None:
    """o_orderkey-ordered N-way split of orders (the arriving fact deltas)."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/orders.parquet")
    _write_batches(out_dir, _split(_sorted(t, "o_orderkey"), n_batches))


_MV_KEY_TYPES = {"o_orderstatus": "string", "o_custkey": "long"}


def _mv_view(key: str) -> _KVView:
    """The join view keyed by (c_mktsegment, `key`): order count and exact
    revenue of the micro-batch's orders ⋈ customer rows."""
    return _KVView(
        lambda b: b.groupBy("c_mktsegment", key).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("revenue"),
        ),
        [("c_mktsegment", "string"), (key, _MV_KEY_TYPES[key])],
        [("n_orders", "long"), ("revenue", "decimal(38,2)")],
        operator.add,
    )


def stream_mv_join(spark: SparkSession, sf_dir: str, key: str = "o_orderstatus") -> DataFrame:
    from templatedb_spark.suite import table

    def orders_x_customer(s2: SparkSession, stage: str) -> DataFrame:
        # stream + dim + batch plans all live in the state-store-sized clone
        schema = s2.read.parquet(f"{sf_dir}/orders.parquet").schema
        orders = s2.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
        dim = table(s2, sf_dir, "customer").select("c_custkey", "c_mktsegment")
        return orders.join(F.broadcast(dim), orders.o_custkey == dim.c_custkey)

    # 2 triggers: the cross-batch delta merge is proven by batch 1 summing
    # into batch 0's committed view (same lever as the sketch gates)
    state = _sketch_drain(
        spark,
        f"mv_{key}",
        lambda d: _stage_order_microbatches(sf_dir, d),
        orders_x_customer,
        _mv_view(key),
    )
    return state.withColumn("revenue", F.col("revenue").cast("double"))


def stream_mv_join_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_mv_join(spark, sf_dir, key="o_custkey")


def _mv_oracle(key: str) -> str:
    return f"""
SELECT c.c_mktsegment, o.{key},
       COUNT(*)::BIGINT AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1, 2
"""


register(
    QuerySpec(
        "stream_mv_join",
        stream_mv_join,
        _mv_oracle("o_orderstatus"),
        "streaming materialized JOIN view: per-trigger dA broadcast-join + DECIMAL-exact delta rollup SUM-merged into KV under exactly-once tags vs full-recompute oracle",
    )
)


register(
    QuerySpec(
        "stream_mv_join_wide",
        stream_mv_join_wide,
        _mv_oracle("o_custkey"),
        "wide-key streaming materialized JOIN view: per-customer state maintained by a fully distributed per-trigger read-merge (delta LEFT JOIN snapshot -> write_batch_df, zero driver rows) under exactly-once tags",
    )
)
