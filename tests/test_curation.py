"""Curation-tier tests: plan-shape invariants (100 TB viability) and semantic
properties for the substring-dedup / sampling / entropy / LM-quality /
PMI / gapfill / robust-stats operators. Exact cross-engine equality is covered
by test_suite_oracles; these pin the properties an oracle diff can't see.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

from templatedb_spark.operators.curation import (
    _SUB_W,
    bigram_logprob,
    dedup_substring,
    pmi_cooccurrence,
    stratified_sample,
    token_entropy,
)
from templatedb_spark.operators.dedup import tokenized
from templatedb_spark.operators.profiling import anomaly_mad, winsorize_stats
from templatedb_spark.operators.analytics import events_gapfill
from templatedb_spark.plans.explain import physical_plan, uses_python_udf


# ---------------------------------------------------------------------------
# Plan shapes
# ---------------------------------------------------------------------------
def test_substring_dedup_is_linear(spark):
    """The whole point vs the Jaccard family: windows aggregate by fingerprint
    (partial agg on the md5 key), docs are never pair-joined — no cartesian,
    no self-join explosion, no Python in the plan."""
    df = dedup_substring(spark, SF_SMALL)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert not uses_python_udf(df)
    # round-4 shape: agg + window over fp + final agg — the r3 self-join
    # (which recomputed the (doc,fp) relation per branch) must not return
    assert "Join" not in plan, plan
    # fan_out's round-robin base-row spread (r10, no-op at real scale) is
    # exempt — see tests.test_plans._non_fanout_exchanges
    from tests.test_plans import _non_fanout_exchanges

    assert _non_fanout_exchanges(plan) <= 3, plan


def test_stratified_sample_no_join(spark):
    """Sampling decisions are row-local hashes: the plan is scan → project →
    one rollup aggregation. No join anywhere."""
    plan = physical_plan(stratified_sample(spark, SF_SMALL))
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan


def test_lm_model_joins_broadcast(spark):
    """The bigram model and PMI marginals are vocabulary-sized — they must
    reach the corpus via broadcast, never by shuffling the corpus onto the
    model key."""
    for fn in (bigram_logprob, pmi_cooccurrence):
        plan = physical_plan(fn(spark, SF_SMALL))
        assert "BroadcastHashJoin" in plan, (fn.__name__, plan)
        assert "CartesianProduct" not in plan, fn.__name__


def test_gapfill_single_user_partitioning(spark):
    df = events_gapfill(spark, SF_SMALL)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert not uses_python_udf(df)


# ---------------------------------------------------------------------------
# Semantic properties
# ---------------------------------------------------------------------------
def test_substring_window_counts(spark):
    tok = {
        r["doc_id"]: r["n"]
        for r in tokenized(spark, SF_SMALL)
        .select("doc_id", F.size("t").alias("n"))
        .collect()
    }
    rows = dedup_substring(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r["n_windows"] == tok[r["doc_id"]] - _SUB_W + 1
        assert 0 <= r["n_shared"] <= r["n_windows"]
        assert 0.0 <= r["dup_frac"] <= 1.0


def test_stratified_sample_rates(spark):
    rows = stratified_sample(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_sampled"] <= r["n_docs"]
        if r["rate_pct"] == 100:
            assert r["n_sampled"] == r["n_docs"]


def test_entropy_bounds(spark):
    rows = token_entropy(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        # 0 ≤ H ≤ log2(distinct); TTR in (0, 1]
        # +1e-6 slack: entropy_bits is rounded to 6dp, which can land just
        # above the true log2(n_distinct) bound
        assert -1e-6 <= r["entropy_bits"] <= math.log2(max(r["n_distinct"], 2)) + 1e-6
        assert 0.0 < r["ttr"] <= 1.0


def test_bigram_logprob_nonpositive(spark):
    rows = bigram_logprob(spark, SF_SMALL).collect()
    assert rows
    assert all(r["avg_logprob"] <= 1e-12 for r in rows)


def test_pmi_topk_shape(spark):
    rows = pmi_cooccurrence(spark, SF_SMALL).collect()
    assert len(rows) == 20
    pmis = [r["pmi"] for r in rows]
    assert pmis == sorted(pmis, reverse=True)


def test_gapfill_contiguous_and_filled(spark):
    rows = events_gapfill(spark, SF_SMALL).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for user, rs in by_user.items():
        days = sorted(r["day"] for r in rs)
        # contiguous daily spine: row count equals the day span
        import datetime

        d0 = datetime.date.fromisoformat(days[0])
        d1 = datetime.date.fromisoformat(days[-1])
        assert len(rs) == (d1 - d0).days + 1
        assert len(set(days)) == len(days)
        for r in rs:
            if r["is_gap"] == 1:
                assert r["n_events"] == 0
            assert r["value_filled"] is not None  # LOCF always has a seed row


def test_length_buckets_cover_and_account(spark):
    from templatedb_spark.operators.curation import _LEN_BUCKETS, length_bucket_stats

    rows = length_bucket_stats(spark, SF_SMALL).collect()
    assert rows
    n_total = (
        tokenized(spark, SF_SMALL).filter(F.size("t") >= 1).count()
    )
    assert sum(r["n_docs"] for r in rows) == n_total
    for r in rows:
        assert r["bucket"] in _LEN_BUCKETS
        assert r["sum_padding"] >= 0
        assert 0.0 <= r["waste_pct"] < 1.0


def test_source_overlap_nontrivial_and_symmetric_free(spark):
    from templatedb_spark.operators.curation import source_overlap

    rows = source_overlap(spark, SF_SMALL).collect()
    assert rows, "prefix fingerprints must overlap across sources in testdata"
    seen = set()
    for r in rows:
        assert r["source_a"] < r["source_b"]  # canonical pair order, no mirrors
        assert (r["source_a"], r["source_b"]) not in seen
        seen.add((r["source_a"], r["source_b"]))
        assert r["n_shared_fps"] >= 1


def test_train_val_split_partitions_corpus(spark):
    from templatedb_spark.operators.curation import train_val_split
    from templatedb_spark.suite import table

    rows = {r["split"]: r for r in train_val_split(spark, SF_SMALL).collect()}
    assert set(rows) == {"train", "val"}
    n_docs = table(spark, SF_SMALL, "documents").count()
    assert rows["train"]["n_docs"] + rows["val"]["n_docs"] == n_docs
    # 90/10 hash split: train side within a loose tolerance of its target
    frac = rows["train"]["n_docs"] / n_docs
    assert 0.8 < frac < 0.97
    for r in rows.values():
        assert r["n_leaked_docs"] <= r["n_docs"]


def test_mad_and_winsorize_sanity(spark):
    for r in anomaly_mad(spark, SF_SMALL).collect():
        assert r["mad"] >= 0.0
        assert 0 <= r["n_outliers"] < r["n"]
    for r in winsorize_stats(spark, SF_SMALL).collect():
        assert r["lo"] <= r["hi"]
        assert r["n_clamped_low"] + r["n_clamped_high"] < r["n"]
        assert r["lo"] - 1e-6 <= r["mean_winsorized"] <= r["hi"] + 1e-6


def test_heldout_perplexity_covers_val_split(spark):
    """Every val-split doc with >= 2 tokens gets scored; cross-entropy is
    positive (probabilities < 1) and unseen-bigram docs stay finite thanks
    to add-one smoothing."""
    import math

    from templatedb_spark.operators.curation import lm_heldout_perplexity

    from tests.conftest import SF_SMALL

    rows = lm_heldout_perplexity(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r.cross_entropy > 0
        assert math.isfinite(r.cross_entropy)
        assert r.n_bigrams >= 1


def test_threshold_sweep_mass_equals_pairs(spark):
    """Histogram mass equals the LSH pair count and bins lie in [0, 10]."""
    from templatedb_spark.operators.curation import dedup_threshold_sweep
    from templatedb_spark.operators.dedup import dedup_minhash_lsh

    from tests.conftest import SF_SMALL

    rows = dedup_threshold_sweep(spark, SF_SMALL).collect()
    total = sum(r.n_pairs for r in rows)
    assert total == dedup_minhash_lsh(spark, SF_SMALL).count()
    assert all(0 <= r.bin <= 10 for r in rows)


def test_bpe_memo_eviction_unpersists_checkpoints(spark):
    """clear_memos must release the executor blocks behind every memoized
    localCheckpoint'd intermediate (BPE state, funnel pairs and edges, cluster
    labels, BM25 top-k), not just drop the Python references (ADVICE r3) —
    otherwise checkpointed RDDs accumulate over cache cycles, and a rebuild
    after the clear would read the old funnel edges."""
    from templatedb_spark import suite
    from templatedb_spark.operators import curation, pipeline

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    suite.clear_memos(spark)
    before = persisted()
    curation._bpe_state(spark, SF_SMALL)
    pipeline.cluster_labels(spark, SF_SMALL)
    pipeline._bm25_ranked_memo(spark, SF_SMALL)
    assert len(suite._MEMO) >= 5
    assert persisted() - before
    suite.clear_memos(spark)
    assert not suite._MEMO
    # Spark's ContextCleaner may drop older RDDs meanwhile, never add one
    assert persisted() <= before


def test_memo_builds_once_per_key_nests_and_retries(spark):
    """suite.memo: concurrent first callers of one key run `build` once; a
    build may memo another key; a build that raises stores nothing."""
    import sys
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    from templatedb_spark.suite import _MEMO, memo

    sf = "/memo-test"
    calls = []
    # a build waits here for a second build; with the per-key lock there is
    # none (the other caller waits on the lock), so the wait times out
    barrier = threading.Barrier(2, timeout=3)

    def build():
        calls.append(1)
        try:
            barrier.wait()
        except threading.BrokenBarrierError:
            pass
        return "value"

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(memo, spark, sf, "once", build) for _ in range(2)]
        assert [f.result(timeout=60) for f in futs] == ["value", "value"]
    assert len(calls) == 1

    # stress: more threads than cores and a short switch interval; a lost
    # check-then-set would build some key twice
    builds = []

    def build_named(name):
        builds.append(name)
        time.sleep(0.05)  # widen the window between the check and the set
        return name

    def hit(i):
        name = f"stress-{i % 4}"
        return memo(spark, sf, name, lambda: build_named(name))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            got = list(pool.map(hit, range(400), timeout=120))
    finally:
        sys.setswitchinterval(interval)
    assert got == [f"stress-{i % 4}" for i in range(400)]
    assert sorted(builds) == sorted(f"stress-{k}" for k in range(4))

    # nested: a build that memos another key returns; the daemon thread and
    # the join timeout turn a deadlock into a failure instead of a hang
    nested = []
    t = threading.Thread(
        target=lambda: nested.append(
            memo(spark, sf, "outer", lambda: memo(spark, sf, "inner", lambda: 1) + 1)
        ),
        daemon=True,
    )
    t.start()
    t.join(timeout=30)
    assert not t.is_alive() and nested == [2]

    # a raising build leaves no entry; the next call builds again
    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        memo(spark, sf, "flaky", boom)
    key = (spark.sparkContext.applicationId, sf, "flaky")
    assert key not in _MEMO
    assert memo(spark, sf, "flaky", lambda: "rebuilt") == "rebuilt"
    for k in [k for k in _MEMO if k[1] == sf]:
        del _MEMO[k]


# ---------------------------------------------------------------------------
# dedup_levenshtein symmetric-delete blocking (round 9, VERDICT r8 #4): the
# blocking must be COMPLETE (blocked result == unblocked all-pairs truth —
# the SymSpell property: two strings within edit distance 2 always share a
# ≤2-deletion neighborhood entry) and the candidate count must scale with
# the true pair density, not N².
# ---------------------------------------------------------------------------
def test_levenshtein_blocking_is_complete(spark):
    from pyspark.sql import functions as F

    from templatedb_spark.operators.dedup import (
        _LEV_MAX,
        _lev_titles,
        dedup_levenshtein,
    )

    blocked = {
        (r.doc_a, r.doc_b, r.dist)
        for r in dedup_levenshtein(spark, SF_SMALL).collect()
    }
    d = _lev_titles(spark, SF_SMALL)
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("ttl").alias("ta"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("ttl").alias("tb"))
    truth = {
        (r.doc_a, r.doc_b, r.dist)
        for r in a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein(F.col("ta"), F.col("tb")).cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= _LEV_MAX)
        .collect()
    }
    assert truth, "truth set vacuous — fixture drifted"
    assert blocked == truth


def test_levenshtein_candidates_scale_with_pairs_not_n_squared(spark):
    """10× corpus (sf0.01 → sf0.1, 500 → 5000 docs): candidate growth must
    stay ~linear (all-pairs would grow 100×), and blocking precision (true
    pairs / candidates) must hold a floor — almost every candidate the
    neighborhood join emits is a real near-dup (measured: 28/27 at sf0.01,
    337/306 at sf0.1)."""
    from templatedb_spark.operators.dedup import _lev_candidates, dedup_levenshtein

    n_small = _lev_candidates(spark, "/root/testdata/sf0.01").count()
    n_big = _lev_candidates(spark, "/root/testdata/sf0.1").count()
    pairs_big = dedup_levenshtein(spark, "/root/testdata/sf0.1").count()
    assert n_small > 0
    # ~linear: 10× data → well under 2× the proportional growth
    assert n_big <= 20 * n_small, f"candidates grew superlinearly: {n_small} -> {n_big}"
    assert pairs_big / n_big >= 0.8, f"blocking precision collapsed: {pairs_big}/{n_big}"
