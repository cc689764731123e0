"""Semantic plan-property tests — the Spark analogue of the reference's golden
planner tests (SURVEY.md §5.2): instead of matching plan text, assert the
invariants that make queries viable at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

from templatedb_spark.plans.explain import (
    has_pushed_filters,
    join_strategies,
    physical_plan,
    read_schema_columns,
    uses_python_udf,
)
from templatedb_spark.suite import all_specs, table


def test_filter_pushdown_reaches_scan(spark):
    """reference parity: PushPredicateThroughNonJoin/Join → Catalyst pushes to
    the parquet reader (optimizer/rules/pushdown_predicates.rs ↔ built-in)."""
    df = table(spark, SF_SMALL, "lineitem").filter(F.col("l_quantity") > 45).select("l_orderkey")
    assert has_pushed_filters(df)


def test_column_pruning_reaches_scan(spark):
    """reference parity: PushProjectIntoTableScan → ReadSchema shrinks
    (optimizer/rules/column_pruning.rs ↔ built-in)."""
    df = table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
    cols = read_schema_columns(df)
    assert set(cols) == {"l_orderkey", "l_quantity"}, cols


def test_q1_prunes_unused_columns(spark):
    specs = all_specs()
    cols = read_schema_columns(specs["q1_pricing_summary"].spark(spark, SF_SMALL))
    assert "l_orderkey" not in cols  # q1 never touches it
    assert "l_partkey" not in cols


def test_dimension_joins_broadcast(spark):
    """multi_join_revenue: nation/region must broadcast, fact joins shuffle."""
    specs = all_specs()
    strategies = join_strategies(specs["multi_join_revenue"].spark(spark, SF_SMALL))
    assert "BroadcastHashJoin" in strategies


def test_no_python_udf_in_relational_suite(spark):
    """Everything in the relational tier stays JVM-side (whole-stage codegen)."""
    specs = all_specs()
    relational = [
        "q1_pricing_summary",
        "filter_project",
        "multi_join_revenue",
        "window_rank",
        "events_rollup",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "text_quality_score",
    ]
    for name in relational:
        assert not uses_python_udf(specs[name].spark(spark, SF_SMALL)), name


def test_suite_wide_plan_hygiene(spark):
    """Global gate over EVERY registered spec: no CartesianProduct (except the
    spec whose purpose is a cross join), no row-at-a-time PythonUDF anywhere
    (Arrow-batched pandas UDFs are the sanctioned Python path), and no
    unpartitioned global-sort row_number window over unbounded input (the
    top-k scale-killer — suite.fused_topk is the sanctioned shape).
    The targeted plan pins elsewhere check stronger per-operator properties;
    this sweep guarantees no future spec regresses the anti-patterns that
    are always wrong at 100 TB."""
    from templatedb_spark.plans.explain import global_sort_window_lines, physical_plan

    allowed_cartesian = {"cross_join"}
    # udtf_shingle_stats exists to put the Python table-function PROTOCOL
    # under the gate — its Python node is the subject, Arrow-batched, over a
    # bounded doc subset. Everything else stays Python-free.
    allowed_python = {"udtf_shingle_stats"}
    # r8: the allow-list is EMPTY — the last two exemptions
    # (orders_backlog_sweepline, quantile_sketch_price: domain-bounded
    # day/bin-keyed sweeps, safe but exempt) moved onto
    # operators/ranks.py's distributed global_cumsum, so the
    # no-global-sort-window rule now holds unconditionally. New specs must
    # use suite.fused_topk or ranks.global_row_number/global_cumsum; adding
    # a name here requires a written bounded-input argument.
    allowed_global_window: set[str] = set()
    specs = all_specs()
    offenders = []
    for name, spec in specs.items():
        df = spec.spark(spark, SF_SMALL)
        plan = physical_plan(df)
        if "CartesianProduct" in plan and name not in allowed_cartesian:
            offenders.append((name, "CartesianProduct"))
        if uses_python_udf(df) and name not in allowed_python:
            offenders.append((name, "PythonUDF"))
        bad_windows = global_sort_window_lines(plan)
        if bad_windows and name not in allowed_global_window:
            offenders.append((name, "GlobalSortWindow", bad_windows[0]))
    assert not offenders, offenders


def test_topk_fuses_to_take_ordered(spark):
    """ORDER BY + LIMIT must fuse (TakeOrderedAndProject), not global-sort."""
    from templatedb_spark.plans.explain import formatted_plan

    specs = all_specs()
    plan = formatted_plan(specs["topk"].spark(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan


def test_ranked_topk_specs_fuse_to_take_ordered(spark):
    """The r4 verdict's #1 scale finding: bm25_topk / rrf_fusion /
    weighted_sample_docs ranked with an unpartitioned row_number window —
    a full global sort into ONE task. Pin the rewritten shape: every
    ranking is a TakeOrderedAndProject prefilter (distributed per-partition
    heaps) and any remaining unpartitioned window sits directly on top of
    it (≤k input rows)."""
    from templatedb_spark.plans.explain import global_sort_window_lines, physical_plan

    specs = all_specs()
    for name in ("bm25_topk", "rrf_fusion", "weighted_sample_docs"):
        plan = physical_plan(specs[name].spark(spark, SF_SMALL))
        assert "TakeOrderedAndProject" in plan, name
        assert global_sort_window_lines(plan) == [], name


def test_bloom_filter_join_pruning(spark):
    """Runtime Bloom-filter join pruning: with a selective dim-side filter, the
    optimizer injects bloom_filter_might_contain on the fact-side scan so
    non-joining fact rows die before the shuffle — at 100 TB this is the
    difference between shuffling the whole fact table and shuffling only the
    ~matching slice. Thresholds are lowered here because the test tables are
    tiny; a real deployment keeps the 10 MB/10 GB defaults."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtimeFilter.number.threshold": "10",
        # disable the competing strategies so the bloom path is deterministic
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        o = table(spark, SF_SMALL, "orders").filter(F.col("o_totalprice") > 500000)
        l = table(spark, SF_SMALL, "lineitem")
        joined = l.join(o, l.l_orderkey == o.o_orderkey).select("l_orderkey", "l_quantity")
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan, plan[:2000]
        # and the pruned join still computes the right thing
        expected = (
            table(spark, SF_SMALL, "lineitem")
            .join(
                table(spark, SF_SMALL, "orders").filter(F.col("o_totalprice") > 500000),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert joined.count() == expected
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_observation_metrics_free_telemetry(spark):
    """df.observe() computes data-quality metrics as a side effect of the
    action — zero extra scans. At 100 TB, this replaces the separate
    count/validity queries monitoring pipelines usually pay for."""
    from pyspark.sql import Observation

    obs = Observation("lineitem_quality")
    l = table(spark, SF_SMALL, "lineitem")
    observed = l.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).alias("bad_qty"),
        F.min("l_shipdate").alias("min_ship"),
    ).filter(F.col("l_quantity") > 45)
    filtered_count = observed.count()

    metrics = obs.get
    assert metrics["n_rows"] == l.count()          # observed BEFORE the filter
    assert metrics["bad_qty"] == 0
    assert metrics["min_ship"] is not None
    assert filtered_count < metrics["n_rows"]


def test_aqe_splits_skewed_join(spark):
    """AQE skew-join handling: build a join where one key holds ~100× the
    rows of the others and thresholds force skew detection; AQE must split
    the skewed partition (skew=true in the executed plan) and the result
    must equal the unsplit answer. This is the runtime answer to hot keys at
    100 TB — no manual salting for moderately skewed joins."""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # the downstream groupBy wants the join's partitioning; force the
        # split anyway (AQE re-shuffles for the agg — the right trade when
        # one partition is 100× the rest)
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(200_000).selectExpr(
            "CASE WHEN id % 2 = 0 THEN 7 ELSE id END AS k", "id AS payload"
        )
        right = spark.range(64).selectExpr("id AS rk", "id * 10 AS rv")
        joined = left.join(right, F.col("k") == F.col("rk")).groupBy("rk").count()
        rows = {r.rk: r["count"] for r in joined.collect()}
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:1500]
        # key 7: all 100k even ids plus its own odd occurrence (id=7)
        assert rows[7] == 100_001
        assert rows[9] == 1
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_embedding_cosine_no_driver_materialization(spark):
    """Round-2 fix (VERDICT r1 #2): the exact all-pairs kernel must not stage
    the corpus through the driver. The plan runs the numpy matmul as a grouped
    Arrow kernel (FlatMapGroupsInPandas) over the block-pair shuffle."""
    import inspect

    from templatedb_spark.operators.similarity import dedup_embedding_cosine
    from templatedb_spark.plans.explain import formatted_plan

    src = inspect.getsource(dedup_embedding_cosine)
    assert "toPandas" not in src and ".collect(" not in src
    plan = formatted_plan(dedup_embedding_cosine(spark, SF_SMALL))
    assert "FlatMapGroupsInPandas" in plan


_MULTIMODAL_MAP_STAGES = {
    "multimodal_features": 1,
    "multimodal_decode_image": 2,
    "multimodal_decode_png": 2,
    "multimodal_decode_png_rgb": 2,
    "multimodal_resize": 3,
    "multimodal_decode_audio": 2,
    "multimodal_frame_sample": 2,
}


def _state_chain(spark, tmp_path, chain: str):
    """The streaming DataFrame of a state chain over a one-file stage."""
    import shutil

    from templatedb_spark.streaming.events import read_events_stream
    from templatedb_spark.streaming.neardup import read_documents_stream, stream_neardup_pairs
    from templatedb_spark.streaming.stateful import stream_sessionize

    src = "events" if chain == "sessionize" else "documents"
    shutil.copy(f"{SF_SMALL}/{src}.parquet", tmp_path / "part-0.parquet")
    if chain == "sessionize":
        return stream_sessionize(read_events_stream(spark, str(tmp_path)))
    return stream_neardup_pairs(read_documents_stream(spark, str(tmp_path)), mode=chain)


def test_multimodal_decode_pipelines_without_shuffle(spark, tmp_path):
    """Each multimodal spec is consecutive map-only Arrow stages — one
    MapInPandas node per row stage, zero Exchange — so payload bytes stream
    executor-local end to end. Each state chain (sessionize, near-dup exact
    and representatives) plans exactly one stateful Python fold."""
    specs = all_specs()
    for name, stages in _MULTIMODAL_MAP_STAGES.items():
        plan = physical_plan(specs[name].spark(spark, SF_SMALL))
        assert plan.count("MapInPandas") == stages, name
        assert "Exchange" not in plan, name
    for chain in ("sessionize", "exact", "representatives"):
        stage = tmp_path / chain
        stage.mkdir()
        plan = _state_chain(spark, stage, chain)._jdf.queryExecution().analyzed().toString()
        assert plan.count("FlatMapGroupsInPandasWithState") == 1, chain


def test_modulo_partial_aggregation(spark):
    """modulo_buckets aggregates partially map-side before the single shuffle
    (partial + final HashAggregate pair)."""
    from templatedb_spark.plans.explain import physical_plan

    specs = all_specs()
    plan = physical_plan(specs["modulo_buckets"].spark(spark, SF_SMALL))
    assert plan.count("HashAggregate") == 2
    assert plan.count("Exchange") == 1


def test_approx_percentile_single_shuffle(spark):
    """The sketch path must keep the one-shuffle partial/final shape (mergeable
    partial_approx_percentile buffers) — the property that makes it the
    unbounded-cardinality answer. The rank-check verdict pass adds exactly
    one more map-side-partial aggregation fed through a broadcast join of
    the (tiny) sketch row — never a sort-merge join or per-group sort."""
    from templatedb_spark.plans.explain import physical_plan

    specs = all_specs()
    plan = physical_plan(specs["approx_percentiles_price"].spark(spark, SF_SMALL))
    assert plan.count("ObjectHashAggregate") == 2  # partial+final sketch agg
    assert plan.count("Exchange hashpartitioning") == 2  # sketch agg + verdict agg
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tpch_completion_plan_shapes(spark):
    """The round-3 TPC-H completion tier keeps the canonical distributed
    shapes: correlated EXISTS / NOT IN / NOT EXISTS become semi/anti joins
    (never per-row subplans), dimension sides broadcast, and nothing falls
    back to a Python UDF or a cartesian product."""
    from templatedb_spark.plans.explain import physical_plan

    specs = all_specs()
    q4 = physical_plan(specs["q4_order_priority"].spark(spark, SF_SMALL))
    assert "LeftSemi" in q4 and "CartesianProduct" not in q4

    # r10: the EXISTS / NOT-EXISTS pair is rewritten into two per-orderkey
    # aggregates (countDistinct suppliers over lineitem / over late) — the
    # lineitem self-joins (SMJ LeftAnti + LeftSemi) must NOT return
    q21 = physical_plan(specs["q21_waiting_suppliers"].spark(spark, SF_SMALL))
    assert "SortMergeJoin" not in q21 and "LeftAnti" not in q21
    assert "CartesianProduct" not in q21

    q16 = physical_plan(specs["q16_parts_supplier_relationship"].spark(spark, SF_SMALL))
    assert "LeftAnti" in q16

    for name in (
        "q2_min_cost_supplier",
        "q8_market_share",
        "q9_product_profit",
        "q17_small_quantity_revenue",
        "q20_excess_suppliers",
    ):
        plan = physical_plan(specs[name].spark(spark, SF_SMALL))
        assert "BroadcastHashJoin" in plan, name
        assert not uses_python_udf(specs[name].spark(spark, SF_SMALL)), name


def test_q11_scalar_threshold_broadcasts(spark):
    """Q11's fraction-of-total HAVING: the one-row threshold joins back via a
    broadcast (BroadcastNestedLoopJoin over a single row is the right plan —
    not a shuffle, not a driver collect)."""
    from templatedb_spark.plans.explain import physical_plan

    specs = all_specs()
    plan = physical_plan(specs["q11_important_stock"].spark(spark, SF_SMALL))
    assert "Broadcast" in plan
    assert "CartesianProduct" not in plan


def test_pipeline_round3_plan_shapes(spark):
    """Round-3 pipeline tier: the contamination probe broadcasts the eval
    side (corpus is never shuffled for the join); cdc_apply compacts the feed
    with a single window pass and merges without a cartesian product."""
    from templatedb_spark.plans.explain import physical_plan

    specs = all_specs()
    contam = physical_plan(specs["contamination_check"].spark(spark, SF_SMALL))
    assert "BroadcastHashJoin" in contam
    assert "CartesianProduct" not in contam

    cdc = physical_plan(specs["cdc_apply"].spark(spark, SF_SMALL))
    # the compacted net-effect feed is cached: every MERGE branch reads the
    # in-memory relation instead of re-running the window
    assert "InMemoryTableScan" in cdc
    assert "CartesianProduct" not in cdc

    rep = physical_plan(specs["text_repetition_score"].spark(spark, SF_SMALL))
    assert not uses_python_udf(specs["text_repetition_score"].spark(spark, SF_SMALL))


def _non_fanout_exchanges(plan: str) -> int:
    """Exchange count excluding suite.fan_out's round-robin spread of a
    narrow base scan (r10: the single-row-group inputs make every scan one
    task, so tokenized() repartitions the raw rows before the CPU-heavy
    tokenize; fan_out is a no-op whenever the scan already has >= default
    parallelism partitions — i.e. at any real scale). The map-only contract
    these tests pin is about the EXPLODED/derived rows never shuffling; the
    tiny base-row spread is exempt."""
    return sum(
        1
        for line in plan.splitlines()
        for i in range(line.count("Exchange"))
        if "Exchange RoundRobinPartitioning" not in line
    )


def test_repetition_score_no_shuffle(spark):
    """text_repetition_score was the round-3 contended critical path as an
    explode + double hash-agg (two Exchanges over ~n_tokens rows per doc);
    the bigram histogram is row-local, so the plan must now be a pure
    map-side projection: zero Exchange below the (cached) tokenized scan
    (the fan_out base-row spread exempted — see _non_fanout_exchanges)."""
    from templatedb_spark.operators.pipeline import text_repetition_score
    from templatedb_spark.plans.explain import physical_plan
    from tests.conftest import SF_SMALL

    plan = physical_plan(text_repetition_score(spark, SF_SMALL))
    assert _non_fanout_exchanges(plan) == 0, plan


def test_mapside_pipeline_specs_no_shuffle(spark):
    """chunk_documents and mixture_sample are pure map-side by design —
    their entire value at 100 TB is streaming straight to shards with zero
    Exchange below the (cached) base relation."""
    from templatedb_spark.operators.pipeline import chunk_documents
    from templatedb_spark.operators.textstats import mixture_sample
    from templatedb_spark.plans.explain import physical_plan
    from tests.conftest import SF_SMALL

    for fn in (chunk_documents, mixture_sample):
        plan = physical_plan(fn(spark, SF_SMALL))
        assert _non_fanout_exchanges(plan) == 0, (fn.__name__, plan)


def test_pii_redaction_map_only_and_clean(spark):
    """pii_redaction is a pure projection: zero Exchange, no Python UDF, and
    the scrubbed text must contain no residual PII match on any row."""
    from templatedb_spark.plans.explain import physical_plan

    specs = all_specs()
    df = specs["pii_redaction"].spark(spark, SF_SMALL)
    plan = physical_plan(df)
    assert "Exchange" not in plan, plan
    assert not uses_python_udf(df)
    rows = df.collect()
    assert all(r["residual_pii"] == 0 for r in rows)
    # every doc got exactly one rendered email/phone/ip contact line
    assert all(r["n_email"] >= 1 and r["n_phone"] >= 1 and r["n_ip"] >= 1 for r in rows)


def test_hll_sketch_properties(spark):
    """The deterministic HLL: all 64 registers present and the estimate
    within 30% of truth (m=64 → ~13% stderr; at the test corpus's tiny
    cardinality the linear-counting small-range correction must kick in)."""
    specs = all_specs()
    row = specs["hll_distinct_users"].spark(spark, SF_SMALL).collect()[0]
    assert row["m_regs"] == 64
    assert row["n_true"] > 0
    assert row["rel_err"] <= 0.30, row
    if row["n_true"] < 64:
        # small-range regime: correction active, so zero registers remain
        assert row["n_zero_regs"] > 0


def test_rrf_fusion_combines_both_legs(spark):
    """Fusion output must draw from both retrievers: at least one row carries
    a BM25 rank, at least one an ANN rank, and a doc ranked by BOTH legs
    outranks single-leg docs with comparable positions."""
    specs = all_specs()
    rows = specs["rrf_fusion"].spark(spark, SF_SMALL).collect()
    assert any(r["bm25_rank"] is not None for r in rows)
    assert any(r["ann_rank"] is not None for r in rows)
    both = [r for r in rows if r["bm25_rank"] is not None and r["ann_rank"] is not None]
    for r in both:
        # two reciprocal terms must exceed either term alone
        assert r["rrf_score"] > 1.0 / (60 + max(r["bm25_rank"], r["ann_rank"]))


def test_kmeans_partitions_all_vectors(spark):
    """k-means must assign every corpus vector to exactly one cluster and
    keep within-cluster inertia consistent (non-negative integers)."""
    specs = all_specs()
    rows = specs["kmeans_quantized"].spark(spark, SF_SMALL).collect()
    n_corpus = table(spark, SF_SMALL, "embeddings").count()
    assert sum(r["n_vecs"] for r in rows) == n_corpus
    assert len(rows) <= 8 and len({r["cluster"] for r in rows}) == len(rows)
    assert all(r["inertia"] >= 0 for r in rows)


def test_kmeans_iterations_reduce_inertia(spark):
    """Lloyd's invariant: total inertia after the final assignment must not
    exceed the inertia of assigning every vector to its seed-iteration
    cluster (monotone non-increasing objective)."""
    import templatedb_spark.operators.similarity as sim

    specs = all_specs()
    final = sum(
        r["inertia"] for r in specs["kmeans_quantized"].spark(spark, SF_SMALL).collect()
    )
    old_t = sim._KM_T
    sim._KM_T = 1
    try:
        seed = sum(
            r["inertia"] for r in sim.kmeans_quantized(spark, SF_SMALL).collect()
        )
    finally:
        sim._KM_T = old_t
    assert final <= seed, (final, seed)


def test_sorted_neighborhood_candidate_bound(spark):
    """SNM generates at most n*w candidate pairs (the whole point of the
    blocking strategy) — verified by counting the pair relation pre-verdict."""
    from templatedb_spark.operators import dedup as dd

    n_docs = table(spark, SF_SMALL, "documents").count()
    pairs = dd.dedup_sorted_neighborhood(spark, SF_SMALL)
    # the final verdict relation is itself bounded by candidates
    assert pairs.count() <= n_docs * dd._SNM_W


def test_zorder_bucket_locality(spark):
    """The file-skipping property: 256 consecutive z-values cover a 16×16
    (x, y) tile, so every z-bucket's min/max rectangle must span at most 16
    in each dimension — that bounded rectangle is what row-group min/max
    pruning exploits on BOTH columns."""
    specs = all_specs()
    rows = specs["zorder_layout"].spark(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r["x_max"] - r["x_min"] <= 15, r
        assert r["y_max"] - r["y_min"] <= 15, r


def test_events_hopping_double_coverage(spark):
    """Every event lands in exactly length/slide = 2 hopping windows, so the
    window counts must sum to exactly 2x the event count."""
    specs = all_specs()
    rows = specs["events_hopping"].spark(spark, SF_SMALL).collect()
    n_events = table(spark, SF_SMALL, "events").count()
    assert sum(r["n_events"] for r in rows) == 2 * n_events


def test_bpe_greedy_overlap_semantics(spark):
    """The gaps-and-islands merge must implement greedy left-to-right BPE:
    in 'aaaa' (symbols a a a a) merging (a,a) yields aa|aa — two merges, no
    overlap — and in 'aaa' it yields aa|a. Verified by driving one _bpe_step
    over a crafted vocabulary."""
    from pyspark.sql import functions as F

    from templatedb_spark.operators.curation import _bpe_step

    rows = []
    for word in ["aaaa", "aaa"]:
        for i, ch in enumerate(word):
            rows.append((word, 1, i + 1, ch))
    s = spark.createDataFrame(rows, "word string, freq long, pos long, sym string")
    merged, best = _bpe_step(s, 1)
    b = best.collect()[0]
    # overlapping pairs counted naively (Sennrich): aaaa→3 + aaa→2 = 5
    assert (b["sym_a"], b["sym_b"], b["pair_count"]) == ("a", "a", 5)
    out = {
        w: [r["sym"] for r in g]
        for w, g in __import__("itertools").groupby(
            sorted(merged.collect(), key=lambda r: (r["word"], r["pos"])),
            key=lambda r: r["word"],
        )
    }
    assert out["aaaa"] == ["aa", "aa"]
    assert out["aaa"] == ["aa", "a"]


def test_bpe_learns_plausible_merges(spark):
    """End-to-end sanity on the corpus: K distinct single-char pairs with
    monotonically non-increasing counts across iterations is NOT guaranteed
    (merges change the pair distribution), but each learned merge must have
    been the argmax of its iteration — spot-check shape + positivity."""
    specs = all_specs()
    rows = specs["bpe_learn_merges"].spark(spark, SF_SMALL).collect()
    assert [r["iteration"] for r in sorted(rows, key=lambda r: r["iteration"])] == [1, 2, 3]
    assert all(r["pair_count"] > 0 for r in rows)
    assert all(r["merged"] == r["sym_a"] + r["sym_b"] for r in rows)


def test_quantile_sketch_accuracy_and_shape(spark):
    """The histogram sketch's estimates must bracket the exact quantiles
    within one bin width, and the sketch state must be bin-bounded (single
    aggregation over <=1024 groups — no per-group sort buffer)."""
    from templatedb_spark.plans.explain import physical_plan

    specs = all_specs()
    df = specs["quantile_sketch_price"].spark(spark, SF_SMALL)
    rows = {r["q"]: r for r in df.collect()}
    xs = sorted(
        r["x"]
        for r in table(spark, SF_SMALL, "lineitem")
        .select(F.col("l_extendedprice").alias("x"))
        .collect()
    )
    lo, hi = xs[0], xs[-1]
    width = (hi - lo) / 1024.0
    import math

    for q, r in rows.items():
        exact = xs[min(len(xs) - 1, max(0, math.ceil(q * len(xs)) - 1))]
        assert abs(r["est"] - exact) <= 2 * width, (q, r["est"], exact, width)
    assert not uses_python_udf(df)


def test_lateral_decorrelates_to_ranked_join(spark):
    """The correlated LATERAL (ORDER BY + LIMIT per customer) must NOT run a
    per-row subplan or a cartesian product: Catalyst decorrelates it into a
    Window (per-key ranking) over a hash join — the shape that survives 10^9
    outer rows."""
    import io
    from contextlib import redirect_stdout

    from templatedb_spark.suite import all_specs

    df = all_specs()["lateral_topk_orders"].spark(spark, SF_SMALL)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "Window" in plan, plan
    assert "Join" in plan, plan


def test_null_safe_join_is_hash_join(spark):
    """EqualNullSafe keys plan as an ordinary hash join (Spark coalesces the
    key internally) — never BroadcastNestedLoopJoin."""
    import io
    from contextlib import redirect_stdout

    from templatedb_spark.suite import all_specs

    df = all_specs()["null_safe_join"].spark(spark, SF_SMALL)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "NestedLoop" not in plan, plan
    assert "HashJoin" in plan, plan


def test_fused_topk_equals_naive_global_window(spark):
    """fused_topk's equivalence claim: for a TOTAL order, prefilter+window
    must be row-identical to the naive unpartitioned row_number window —
    checked over seeded random data with heavy ties on the score column."""
    import random

    from pyspark.sql.window import Window

    from templatedb_spark.suite import fused_topk

    rng = random.Random(42)
    rows = [(i, rng.randint(0, 9) / 2.0) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, score double")
    order = [F.col("score").desc(), F.col("id").asc()]
    for k in (1, 7, 50):
        got = fused_topk(df, order, k, "rank").collect()
        w = Window.orderBy(*order)
        want = (
            df.select("id", "score", F.row_number().over(w).cast("long").alias("rank"))
            .filter(F.col("rank") <= k)
            .collect()
        )
        assert sorted(map(tuple, got)) == sorted(map(tuple, want)), k


def test_distributed_rank_specs_use_range_partitioning(spark):
    """r6 rewrite pin (verdict r5 #1 done-criterion): the three former
    single-task global-window specs now sort via a RANGE exchange (N
    parallel partitions) with per-partition windows — no unpartitioned
    ordered Window anywhere, and the only SinglePartition exchanges feed
    row-bounded final aggregates, never a Sort."""
    import re

    from templatedb_spark.plans.explain import global_sort_window_lines, physical_plan

    # r7: _range_local lazily localCheckpoints the pid-tagged relation
    # (ADVICE r6 medium — one physical exchange execution for both
    # consumers), so the final explain shows the barrier (`Scan
    # ExistingRDD`) instead of the RangePartitioning exchange hidden inside
    # the checkpointed subtree. Pin the exchange on the exposed pre-barrier
    # builder, and the barrier + window-freedom on each spec's final plan.
    from pyspark.sql import functions as F

    from templatedb_spark.operators.ranks import _range_local_plan
    from templatedb_spark.suite import table as _table

    o = _table(spark, SF_SMALL, "orders").select("o_orderkey", "o_totalprice")
    pre = physical_plan(
        _range_local_plan(o, [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()])
    )
    assert "rangepartitioning" in pre.lower()  # the distributed sort shape

    specs = all_specs()
    for name in ("histogram_equidepth", "gini_revenue", "revenue_concentration"):
        plan = physical_plan(specs[name].spark(spark, SF_SMALL))
        assert "existingrdd" in plan.lower(), name  # the checkpoint barrier
        assert global_sort_window_lines(plan) == [], name
        # no Sort executes over a single-partition exchange: scan plan lines
        # pairwise — a Sort node directly above Exchange SinglePartition is
        # the single-task total sort this rewrite exists to eliminate
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if re.search(r"\bSort \[", line):
                child = lines[i + 1] if i + 1 < len(lines) else ""
                assert "SinglePartition" not in child, (name, line.strip()[:80])
