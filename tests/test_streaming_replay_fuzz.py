"""Fuzz grammar 10 (VERDICT r6 #6): streaming replay determinism.

Grammars 1–9 fuzz batch SQL and DDL scripts; nothing fuzzed the STATEFUL
streaming operators. This grammar randomizes the micro-batch decomposition of
the same ordered feed — 1–5 batches with seeded, uneven, randomly-placed
boundaries — and asserts each operator's drained output is INVARIANT against
its own 1-batch run. That is the property watermark/state bugs break first: a
session carried across a boundary that a different boundary placement drops,
a KV version applied out of order, a band representative that fails to
survive into the batch where its match arrives.

Why invariance holds per operator (the contracts under test):
- sessionize emits sessions AS THEY CLOSE; by end-of-feed the closed set is
  every session except each user's final one — independent of batching.
- CDC→KV applies each micro-batch as one atomic MVCC version; the final
  merged state is the net effect of the whole feed regardless of slicing.
- near-dup (exact) emits all within-bucket pairs; the distinct pair set over
  the full feed is batching-independent.
- near-dup (representatives) elects the FIRST arrival per bucket; the stage
  is doc_id-ordered, so the rep is min(doc_id) under every decomposition.
- mv_wide (distributed read-merge view) SUM-merges per-key deltas into KV;
  the merge monoid is associative and commutative over batches, so the
  final parsed state is the whole-feed rollup under every decomposition.

The feed's BATCH-LEVEL order is never shuffled — ts-ordered (events) /
doc_id-ordered (documents) staging across batches is part of each
operator's documented contract. WITHIN a batch, odd seeds additionally
permute the rows randomly: no operator may depend on the physical row
order inside a micro-batch (sessionize/CDC order by (ts, event_id)
internally, near-dup sorts arrivals per group), so intra-batch shuffling
must also leave the output invariant — the net that catches an operator
silently relying on the stager's sort.
"""

from __future__ import annotations

import random
import tempfile

import pytest

from tests.conftest import SF_SMALL

_N_SEEDS = 70  # 7 per operator — "25+ seeded splits" (VERDICT r6 #6)
# r8 (VERDICT r7 #4): + the four remaining stateful gates — HLL (max-merge
# monoid), CMS (sum-merge, tag-guarded), stream-static enrich (stateless
# per-trigger broadcast join), and the late-window gate (per-seed expected
# set: whether the straggler is dropped depends on the watermark the random
# decomposition produces, so the target is computed, not copied).
_OPS = [
    "sessionize", "cdc", "neardup_exact", "neardup_reps", "window_agg",
    "mv_wide", "hll", "cms", "static_enrich", "window_late",
]


def _stage_random_batches(
    src: str,
    out_dir: str,
    sort_keys: list[tuple[str, str]],
    rng: random.Random,
    shuffle_within: bool = False,
) -> int:
    """Stage `src` parquet as 1–5 ordered chunk files cut at random row
    boundaries, mtimes forcing file-source pickup order (the same pyarrow
    discipline as streaming/gate.py's stagers). With `shuffle_within`, the
    rows INSIDE each chunk are randomly permuted — batch boundaries and
    cross-batch order stay intact, physical row order does not."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(src)
    t = t.take(pc.sort_indices(t, sort_keys=sort_keys))
    n = t.num_rows
    n_batches = rng.randint(1, 5)
    cuts = sorted(rng.sample(range(1, n), min(n_batches - 1, n - 1)))
    bounds = [0, *cuts, n]
    for i in range(len(bounds) - 1):
        part = t.slice(bounds[i], bounds[i + 1] - bounds[i])
        if shuffle_within:
            perm = list(range(part.num_rows))
            rng.shuffle(perm)
            part = part.take(perm)
        p = f"{out_dir}/part-{i}.parquet"
        pq.write_table(part, p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    return len(bounds) - 1


def _drain(spark, stage_dir: str, op: str, tag: str) -> frozenset:
    """Run one operator's full streaming drain over the staged dir and return
    its output as a comparable set."""
    from pyspark.sql import functions as F

    from templatedb_spark.streaming.events import read_events_stream, run_available_now

    if op == "sessionize":
        from templatedb_spark.streaming.stateful import stream_sessionize

        rows = run_available_now(
            stream_sessionize(read_events_stream(spark, stage_dir)),
            f"t_replay_sess_{tag}",
            output_mode="append",
        )
        return frozenset(
            (r.user_id, r.session_start, r.session_end, r.n_events, r.session_value)
            for r in rows
        )
    if op == "cdc":
        from templatedb_spark.kv import KVTable
        from templatedb_spark.streaming.cdc import changes_from_events, stream_cdc_to_kv

        kv_dir = tempfile.mkdtemp(prefix=f"replay_kv_{tag}_")
        kv = KVTable(spark, kv_dir)
        stream_cdc_to_kv(
            changes_from_events(read_events_stream(spark, stage_dir)),
            kv,
            f"t_replay_cdc_{tag}",
        )
        out = frozenset((r.key, r.value) for r in kv.snapshot().collect())
        import shutil

        shutil.rmtree(kv_dir, ignore_errors=True)
        return out
    if op == "window_agg":
        # watermarked tumbling-window agg: the emitted (closed-window) set
        # depends only on the final watermark — max(ts) - delay — which is
        # decomposition-invariant, and the ordered cuts guarantee no row is
        # ever late, so every split must drain the identical window set.
        from templatedb_spark.streaming.events import windowed_exact_rollup

        rows = run_available_now(
            windowed_exact_rollup(read_events_stream(spark, stage_dir)),
            f"t_replay_win_{tag}",
            output_mode="append",
        )
        return frozenset(
            (r.window_start, r.event_type, r.n_events, r.sum_uid, r.min_eid, r.max_eid)
            for r in rows
        )
    if op in ("mv_wide", "hll", "cms"):
        # the three KV-state gates' sink, driven exactly as the gates drive it
        import shutil

        from templatedb_spark.kv import KVTable
        from templatedb_spark.streaming import gate
        from templatedb_spark.streaming.neardup import read_documents_stream
        from templatedb_spark.suite import table

        kv_dir = tempfile.mkdtemp(prefix=f"replay_{op}_{tag}_")
        kv = KVTable(spark, kv_dir)
        qname = f"t_replay_{op}_{tag}"
        if op == "hll":
            src, view = read_events_stream(spark, stage_dir), gate._HLL_VIEW
        elif op == "cms":
            src, view = read_documents_stream(spark, stage_dir), gate._CMS_VIEW
        else:
            dim = table(spark, SF_SMALL, "customer").select("c_custkey", "c_mktsegment")
            schema = spark.read.parquet(f"{SF_SMALL}/orders.parquet").schema
            orders = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(stage_dir)
            )
            src = orders.join(F.broadcast(dim), orders.o_custkey == dim.c_custkey)
            view = gate._mv_view("o_custkey")
        q = (
            src.writeStream.foreachBatch(
                lambda bdf, bid: gate._merge_into_kv(kv, view, bdf, f"{qname}:b{bid}")
            )
            .queryName(qname)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = frozenset((r.key, r.value) for r in kv.snapshot().collect())
        shutil.rmtree(kv_dir, ignore_errors=True)
        return out
    if op == "static_enrich":
        from templatedb_spark.suite import table

        dim = F.broadcast(
            table(spark, SF_SMALL, "customer").select(
                F.col("c_custkey").alias("user_id"), "c_mktsegment", "c_nationkey"
            )
        )
        enriched = (
            read_events_stream(spark, stage_dir)
            .join(dim, "user_id")
            .select("event_id", "user_id", "event_type", "c_mktsegment", "c_nationkey")
        )
        rows = run_available_now(
            enriched, f"t_replay_enr_{tag}", output_mode="append"
        )
        return frozenset(
            (r.event_id, r.user_id, r.event_type, r.c_mktsegment, r.c_nationkey)
            for r in rows
        )
    if op == "window_late":
        from templatedb_spark.streaming.events import windowed_exact_rollup

        rows = run_available_now(
            windowed_exact_rollup(read_events_stream(spark, stage_dir)),
            f"t_replay_wlate_{tag}",
            output_mode="append",
        )
        return frozenset(
            (str(r.window_start)[:19], r.event_type, r.n_events, r.sum_uid,
             r.min_eid, r.max_eid)
            for r in rows
        )
    # near-dup modes
    from templatedb_spark.streaming.neardup import (
        read_documents_stream,
        stream_neardup_pairs,
    )

    mode = "representatives" if op == "neardup_reps" else "exact"
    rows = run_available_now(
        stream_neardup_pairs(read_documents_stream(spark, stage_dir), mode=mode),
        f"t_replay_nd_{tag}",
        output_mode="append",
    )
    # a pair emitted via several shared bands repeats with the same match
    # count — the frozenset IS the distinct() of the operator's contract
    return frozenset((r.doc_a, r.doc_b, r.matches) for r in rows)


_SORT_KEYS = {
    "sessionize": ("events.parquet", [("ts", "ascending"), ("event_id", "ascending")]),
    "cdc": ("events.parquet", [("ts", "ascending"), ("event_id", "ascending")]),
    "neardup_exact": ("documents.parquet", [("doc_id", "ascending")]),
    "neardup_reps": ("documents.parquet", [("doc_id", "ascending")]),
    "window_agg": ("events.parquet", [("ts", "ascending"), ("event_id", "ascending")]),
    "mv_wide": ("orders.parquet", [("o_orderkey", "ascending")]),
    "hll": ("events.parquet", [("ts", "ascending"), ("event_id", "ascending")]),
    "cms": ("documents.parquet", [("doc_id", "ascending")]),
    "static_enrich": ("events.parquet", [("ts", "ascending"), ("event_id", "ascending")]),
    # window_late uses its own stager (_stage_late_random) — entry kept for
    # the 1-batch reference, which needs no straggler displacement
    "window_late": ("events.parquet", [("ts", "ascending"), ("event_id", "ascending")]),
}


def _stage_late_random(
    src: str, out_dir: str, rng: random.Random, shuffle_within: bool
) -> tuple[int, frozenset]:
    """Stage events as 1-5 ordered chunks with the GLOBAL (ts, event_id)
    minimum moved from the front to the tail of the LAST chunk (the late
    straggler — the gate stager's construction, random boundaries), and
    return (n_batches, expected emitted window set).

    The expected set is computed from MEASURED watermark semantics, per
    seed: the watermark filtering batch k's input derives from event-time
    stats through batch k-2 (two-batch lag — probed empirically this round:
    a straggler at the tail of batch 1 of 2 survives; at batch 2 of 3 it
    drops). So the straggler (always in the last batch, index n-1) is
    dropped iff n >= 3 and its window_end <= max(ts over batches 0..n-3)
    - 10min. All other rows are cut in ts order, so only the straggler can
    ever be late. Emitted = closed windows (window_end <= final watermark,
    which the trailing no-data micro-batch advances to max(all ts) - 10min
    — the rule the gate's whole-feed oracle encodes) over the kept rows."""
    import os
    from datetime import timedelta

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(src)
    t = t.take(
        pc.sort_indices(
            t, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]
        )
    )
    late = t.slice(0, 1)
    rest = t.slice(1)
    n = rest.num_rows
    n_batches = rng.randint(1, 5)
    cuts = sorted(rng.sample(range(1, n), min(n_batches - 1, n - 1)))
    bounds = [0, *cuts, n]
    parts = []
    for i in range(len(bounds) - 1):
        part = rest.slice(bounds[i], bounds[i + 1] - bounds[i])
        if i == len(bounds) - 2:
            part = pa.concat_tables([part, late])
        if shuffle_within:
            perm = list(range(part.num_rows))
            rng.shuffle(perm)
            part = part.take(perm)
        p = f"{out_dir}/part-{i}.parquet"
        pq.write_table(part, p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
        parts.append(part)

    # --- expected set, from the same pandas rows the files hold ---
    pdfs = [p.to_pandas() for p in parts]
    straggler = late.to_pandas().iloc[0]
    s_ts = straggler["ts"]
    s_win_end = s_ts.floor("h") + timedelta(hours=1)
    dropped = False
    if len(pdfs) > 2:
        # two-batch lag: the filter wm for the last batch (index n-1) is
        # derived from batches 0..n-3
        wm_eff = max(df["ts"].max() for df in pdfs[:-2]) - timedelta(minutes=10)
        dropped = s_win_end <= wm_eff
    import pandas as pd

    allr = pd.concat(pdfs, ignore_index=True)
    if dropped:
        allr = allr[allr["event_id"] != straggler["event_id"]]
    final_wm = max(df["ts"].max() for df in pdfs) - timedelta(minutes=10)
    allr = allr.assign(win=allr["ts"].dt.floor("h"))
    closed = allr[allr["win"] + timedelta(hours=1) <= final_wm]
    expected = frozenset(
        (
            str(win)[:19],
            etype,
            int(len(g)),
            int(g["user_id"].sum()),
            int(g["event_id"].min()),
            int(g["event_id"].max()),
        )
        for (win, etype), g in closed.groupby(["win", "event_type"])
    )
    return len(bounds) - 1, expected

_reference: dict[str, frozenset] = {}


def _reference_for(spark, op: str, tmp_path) -> frozenset:
    """The 1-batch run: the invariance target, computed once per operator."""
    if op not in _reference:
        src_name, keys = _SORT_KEYS[op]
        stage = tmp_path / f"ref_{op}"
        stage.mkdir()
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = pq.read_table(f"{SF_SMALL}/{src_name}")
        t = t.take(pc.sort_indices(t, sort_keys=keys))
        pq.write_table(t, f"{stage}/part-0.parquet")
        _reference[op] = _drain(spark, str(stage), op, f"ref_{op}")
        assert len(_reference[op]) > 0, f"vacuous reference for {op}"
    return _reference[op]


@pytest.mark.parametrize("seed", range(_N_SEEDS))
def test_streaming_replay_invariant_under_random_batching(spark, tmp_path, seed):
    op = _OPS[seed % len(_OPS)]
    rng = random.Random(seed)
    src_name, keys = _SORT_KEYS[op]
    stage = tmp_path / "stage"
    stage.mkdir()
    shuffle_within = seed % 2 == 1  # odd seeds also permute rows per batch
    if op == "window_late":
        # per-seed expected set: the straggler's fate depends on the
        # watermark this particular decomposition produces
        n_batches, want = _stage_late_random(
            f"{SF_SMALL}/{src_name}", str(stage), rng, shuffle_within
        )
        got = _drain(spark, str(stage), op, f"s{seed}")
    else:
        n_batches = _stage_random_batches(
            f"{SF_SMALL}/{src_name}", str(stage), keys, rng,
            shuffle_within=shuffle_within,
        )
        got = _drain(spark, str(stage), op, f"s{seed}")
        want = _reference_for(spark, op, tmp_path.parent)
    assert got == want, (
        f"seed={seed} op={op} n_batches={n_batches} "
        f"shuffled={shuffle_within}: output changed under re-batching "
        f"(missing={sorted(want - got)[:3]}, extra={sorted(got - want)[:3]})"
    )
