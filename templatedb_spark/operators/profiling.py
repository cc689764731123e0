"""Data-profiling operators: the first queries anyone runs against a new
100 TB corpus — distribution quantiles, histograms, and embedding
quantization stats.

Cross-engine exactness notes:
- `percentile` (Spark) and `quantile_cont` (DuckDB) both use linear
  interpolation over the sorted set; results agree to float-repr noise,
  absorbed by ROUND(..., 6) (the suite's standard grain).
- Histogram bins use floor(value/width) — pure IEEE double ops, bit-identical
  across engines (DuckDB lacks width_bucket; floor-binning is also what
  survives at scale: a map-side expression feeding one shuffle).
- Quantization maps each float to int8 space with floor(x*127) — exact in
  both engines; the spec outputs integer aggregates of the quantized vector
  (sums/extremes), proving the quantized representation matches without
  emitting array columns.

Scale notes: exact percentiles sort within each group — fine for bounded
group counts; an unbounded-cardinality profile at 100 TB would switch to
approx_percentile (t-digest, mergeable partial state). Histogram and
quantization are single-pass map-side expressions + one partial+final agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from templatedb_spark.functions.hashing import exact_fingerprint
from templatedb_spark.suite import QuerySpec, register, table


# ---------------------------------------------------------------------------
# Exact interpolated percentiles per group.
# ---------------------------------------------------------------------------
# distributed-percentile guard (r10): below this backing-file size the
# classic percentile() aggregate wins (measured at sf0.1: 0.91 s vs 1.43 s —
# the range-shuffle sampling + checkpoint cost more than buffering 200k-row
# groups); above it the per-group buffer is a 1-task-per-group straggler and
# an OOM (the final agg holds EVERY group value in one task), so the
# ranks.grouped_exact_percentiles path takes over. Both paths are
# bit-identical (pinned in tests/test_ranks.py). Same size-tier pattern as
# analytics._PARETO_SWEEP_MIN_BYTES.
_PCT_DISTRIBUTED_MIN_BYTES = 100 << 20


def _pct_big(sf_dir: str, table_name: str) -> bool:
    from templatedb_spark.suite import input_bytes

    # input_bytes sums directory members (a parquet DIRECTORY's own stat is
    # ~4 KB — ADVICE r10) and returns huge on unreadable layouts
    return input_bytes(sf_dir, table_name) >= _PCT_DISTRIBUTED_MIN_BYTES


def percentiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    if _pct_big(sf_dir, "lineitem"):
        from templatedb_spark.operators.ranks import grouped_exact_percentiles

        g = grouped_exact_percentiles(
            l,
            "l_returnflag",
            F.col("l_extendedprice"),
            [("p50", 0.5), ("p90", 0.9), ("p99", 0.99)],
        )
        return g.select(
            "l_returnflag",
            F.col("n").alias("n"),
            F.round("p50", 6).alias("p50"),
            F.round("p90", 6).alias("p90"),
            F.round("p99", 6).alias("p99"),
        )
    # one percentile(col, array(...)) call: the per-group value buffer is
    # built and sorted ONCE for all three quantiles (three scalar percentile
    # aggregates would each keep their own OpenHashMap buffer — measured 3×
    # the aggregation work at sf0.1)
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))").alias("ps"),
        )
        .select(
            "l_returnflag",
            "n",
            F.round(F.col("ps")[0], 6).alias("p50"),
            F.round(F.col("ps")[1], 6).alias("p90"),
            F.round(F.col("ps")[2], 6).alias("p99"),
        )
    )


_PERCENTILES_ORACLE = """
SELECT l_returnflag, COUNT(*) AS n,
       ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
       ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS p99
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Histogram: floor-binned distribution of event values.
# ---------------------------------------------------------------------------
_BIN_WIDTH = 25.0


def histogram_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    bin_ = F.floor(F.col("value") / F.lit(_BIN_WIDTH)).cast("long")
    return (
        e.groupBy(bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
    )


_HISTOGRAM_ORACLE = f"""
SELECT CAST(FLOOR(value / {_BIN_WIDTH}) AS BIGINT) AS bin, COUNT(*) AS n,
       ROUND(MIN(value), 6) AS lo, ROUND(MAX(value), 6) AS hi
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Embedding int8 quantization: floor(x*127) per element; integer aggregates
# of the quantized vector prove the representation matches bit-for-bit.
# ---------------------------------------------------------------------------
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    q = F.expr("transform(embedding, x -> cast(floor(cast(x as double) * 127) as long))")
    return e.select("vec_id", q.alias("q")).select(
        "vec_id",
        F.aggregate("q", F.lit(0).cast("long"), lambda acc, x: acc + x).alias("q_sum"),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
    )


_QUANTIZE_ORACLE = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127) AS BIGINT)) AS qv
  FROM embeddings
)
SELECT vec_id,
       list_sum(qv)::BIGINT AS q_sum,
       list_min(qv) AS q_min,
       list_max(qv) AS q_max
FROM q
"""


# ---------------------------------------------------------------------------
# Approximate percentiles: the 100 TB path. Spark's approx_percentile keeps a
# bounded mergeable sketch per partition (partial state merges map-side), so
# unbounded group cardinality never triggers a per-group sort. Sketch values
# are engine-specific (Spark GK vs DuckDB t-digest), so the spec emits a
# tolerance VERDICT the oracle hash-compares: n is real SQL on both sides,
# and pXX_ok (1/0) is a distributed RANK CHECK of the sketch's own contract
# — approx_percentile(q, acc) must return a data value whose rank is within
# n/acc of q·n. The check is a second pass over the fact table against the
# broadcast sketch values (count x<v / x<=v per group): map-side partial
# counts, no per-group sort, no exact-percentile buffer — so the verdict
# itself survives 100 TB, unlike an exact-percentile twin would. The oracle
# asserts all verdicts = 1, so sketch drift hash-mismatches and FAILS.
# ---------------------------------------------------------------------------
_APPROX_ACC = 10000  # 1/accuracy relative-rank error bound


def approx_percentiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    # ONE QuantileSummaries build for all three quantiles: the scalar form
    # builds an independent sketch per call (3x the dominant agg cost);
    # extraction from the same summary is bit-identical per quantile (r10)
    sketch = l.groupBy("l_returnflag").agg(
        F.expr(
            f"approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), {_APPROX_ACC})"
        ).alias("aq")
    ).select(
        "l_returnflag",
        F.col("aq").getItem(0).alias("a50"),
        F.col("aq").getItem(1).alias("a90"),
        F.col("aq").getItem(2).alias("a99"),
    )
    probe = l.join(F.broadcast(sketch), "l_returnflag")
    counted = probe.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            f
            for q in ("50", "90", "99")
            for f in (
                F.sum(
                    F.when(F.col("l_extendedprice") < F.col(f"a{q}"), 1).otherwise(0)
                ).alias(f"lt{q}"),
                F.sum(
                    F.when(F.col("l_extendedprice") <= F.col(f"a{q}"), 1).otherwise(0)
                ).alias(f"le{q}"),
            )
        ],
    )
    err = F.col("n") / _APPROX_ACC + 1.0  # rank slack: sketch bound + floor

    def ok(q: float, lt: str, le: str):
        target = F.lit(q) * F.col("n")
        return (
            F.when(
                (F.col(lt) <= target + err) & (F.col(le) >= target - err), F.lit(1)
            )
            .otherwise(F.lit(0))
            .cast("long")
        )

    return counted.select(
        "l_returnflag",
        "n",
        ok(0.5, "lt50", "le50").alias("p50_ok"),
        ok(0.9, "lt90", "le90").alias("p90_ok"),
        ok(0.99, "lt99", "le99").alias("p99_ok"),
    )


_APPROX_PCT_ORACLE = """
SELECT l_returnflag, COUNT(*)::BIGINT AS n,
       1::BIGINT AS p50_ok, 1::BIGINT AS p90_ok, 1::BIGINT AS p99_ok
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Robust outlier detection: median/MAD z-score per event_type. Median and MAD
# come from interpolated percentiles ROUNDED to 6 before any comparison, so
# the outlier predicate compares bit-identical operands in both engines
# (|v - med6| is the same double; the threshold is the same rounded double).
# Two aggregation passes over one event_type partitioning — no all-pairs, no
# sort beyond the per-group percentile buffer.
# ---------------------------------------------------------------------------
_MAD_SCALE = 1.4826  # consistency constant for normal data
_MAD_K = 3.0


def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    big = _pct_big(sf_dir, "events")
    if big:
        from templatedb_spark.operators.ranks import grouped_exact_percentiles

        med = grouped_exact_percentiles(
            e, "event_type", F.col("value"), [("m", 0.5)]
        ).select("event_type", F.round("m", 6).alias("med"))
    else:
        med = e.groupBy("event_type").agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("med")
        )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med", F.abs(F.col("value") - F.col("med")).alias("ad")
    )
    if big:
        from templatedb_spark.operators.ranks import grouped_exact_percentiles

        mad = grouped_exact_percentiles(
            dev, "event_type", F.col("ad"), [("m", 0.5)]
        ).select("event_type", F.round("m", 6).alias("mad"))
    else:
        mad = dev.groupBy("event_type").agg(
            F.round(F.expr("percentile(ad, 0.5)"), 6).alias("mad")
        )
    thr = F.round(F.lit(_MAD_K * _MAD_SCALE) * F.col("mad"), 6)
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("ad") > thr, 1).otherwise(0)).cast("long").alias("n_outliers"),
        )
        .select("event_type", "n", "med", "mad", "n_outliers")
    )


_MAD_ORACLE = f"""
WITH med AS (
  SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
  FROM events GROUP BY 1
),
dev AS (
  SELECT e.event_type, med, abs(value - med) AS ad
  FROM events e JOIN med USING (event_type)
),
mad AS (SELECT event_type, round(quantile_cont(ad, 0.5), 6) AS mad FROM dev GROUP BY 1)
SELECT event_type, count(*)::BIGINT AS n, med, mad,
       sum(CASE WHEN ad > round({_MAD_K} * {_MAD_SCALE} * mad, 6) THEN 1 ELSE 0 END)::BIGINT
         AS n_outliers
FROM dev JOIN mad USING (event_type)
GROUP BY event_type, med, mad
"""


# ---------------------------------------------------------------------------
# Winsorized statistics: clamp at rounded p05/p95, then an EXACT decimal mean
# of the clamped values (order-independent — float sum order across partitions
# is nondeterministic at scale; DECIMAL accumulation is not).
# ---------------------------------------------------------------------------
def winsorize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    if _pct_big(sf_dir, "events"):
        from templatedb_spark.operators.ranks import grouped_exact_percentiles

        q = grouped_exact_percentiles(
            e, "event_type", F.col("value"), [("l", 0.05), ("h", 0.95)]
        ).select(
            "event_type",
            F.round("l", 6).alias("lo"),
            F.round("h", 6).alias("hi"),
        )
    else:
        q = e.groupBy("event_type").agg(
            F.round(F.expr("percentile(value, array(0.05, 0.95))")[0], 6).alias("lo"),
            F.round(F.expr("percentile(value, array(0.05, 0.95))")[1], 6).alias("hi"),
        )
    clamped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        e.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("value") < F.col("lo"), 1).otherwise(0))
            .cast("long")
            .alias("n_clamped_low"),
            F.sum(F.when(F.col("value") > F.col("hi"), 1).otherwise(0))
            .cast("long")
            .alias("n_clamped_high"),
            F.round(
                F.sum(F.round(clamped, 6).cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_winsorized"),
        )
        .select("event_type", "n", "lo", "hi", "n_clamped_low", "n_clamped_high", "mean_winsorized")
    )


_WINSORIZE_ORACLE = """
WITH q AS (
  SELECT event_type,
         round(quantile_cont(value, 0.05), 6) AS lo,
         round(quantile_cont(value, 0.95), 6) AS hi
  FROM events GROUP BY 1
)
SELECT event_type, count(*)::BIGINT AS n, lo, hi,
       sum(CASE WHEN value < lo THEN 1 ELSE 0 END)::BIGINT AS n_clamped_low,
       sum(CASE WHEN value > hi THEN 1 ELSE 0 END)::BIGINT AS n_clamped_high,
       round(sum(round(least(greatest(value, lo), hi), 6)::DECIMAL(38,6))::DOUBLE
             / count(*), 6) AS mean_winsorized
FROM events JOIN q USING (event_type)
GROUP BY event_type, lo, hi
"""


# ---------------------------------------------------------------------------
# Histogram quantile sketch with an EXACT oracle — completing the sketch
# family (CMS heavy hitters, deterministic HLL): a fixed 1024-bin histogram
# over [min, max] is a mergeable one-pass sketch (per-partition bin counts
# combine by +), and quantiles are estimated by linear interpolation inside
# the target bin. Unlike approx_percentile's randomized GK sketch, every
# step here is deterministic: bin assignment and interpolation use the SAME
# left-to-right IEEE expression shape in both engines, so the estimates are
# bit-identical and hash-comparable. This is the production shape for
# unbounded-cardinality profiling at 100 TB: one scan, 1024-row state, no
# per-group sort buffer (the exact `percentiles_price` twin is the
# verification path).
# ---------------------------------------------------------------------------
_QSK_BINS = 1024
_QSK_QS = [0.25, 0.5, 0.75, 0.9, 0.99]


def quantile_sketch_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem").select(F.col("l_extendedprice").alias("x"))
    stats = l.agg(
        F.min("x").alias("lo"), F.max("x").alias("hi"), F.count(F.lit(1)).cast("long").alias("n")
    )
    binned = (
        l.crossJoin(F.broadcast(stats))
        .select(
            F.least(
                F.floor((F.col("x") - F.col("lo")) * float(_QSK_BINS) / (F.col("hi") - F.col("lo"))).cast("long"),
                F.lit(_QSK_BINS - 1).cast("long"),
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # distributed cumulative pass over the 1024-bin aggregate (r8): replaces
    # the exempt-listed unpartitioned window so the suite-wide plan gate's
    # no-global-sort-window rule holds unconditionally (see ranks.py)
    from templatedb_spark.operators.ranks import global_cumsum

    cum = global_cumsum(
        binned, [F.col("bin").asc()], F.col("c"), cum_col="cum"
    ).withColumn("cum", F.col("cum").cast("long"))
    qs = stats.select(
        F.explode(F.array(*[F.lit(q) for q in _QSK_QS])).alias("q"), "lo", "hi", "n"
    ).select("q", "lo", "hi", "n", F.ceil(F.col("q") * F.col("n")).cast("long").alias("target"))
    hit = (
        qs.join(F.broadcast(cum), (F.col("cum") >= F.col("target")) & ((F.col("cum") - F.col("c")) < F.col("target")))
        .select(
            "q",
            "target",
            "bin",
            F.col("c").alias("bin_count"),
            F.round(
                F.col("lo")
                + (
                    F.col("bin").cast("double")
                    + (F.col("target") - (F.col("cum") - F.col("c"))).cast("double") / F.col("c").cast("double")
                )
                * (F.col("hi") - F.col("lo"))
                / float(_QSK_BINS),
                6,
            ).alias("est"),
        )
    )
    return hit


_QSK_ORACLE = f"""
WITH x AS (SELECT l_extendedprice AS x FROM lineitem),
stats AS (SELECT MIN(x) AS lo, MAX(x) AS hi, COUNT(*)::BIGINT AS n FROM x),
binned AS (
  SELECT LEAST(CAST(FLOOR((x.x - s.lo) * CAST({_QSK_BINS} AS DOUBLE) / (s.hi - s.lo)) AS BIGINT),
               {_QSK_BINS - 1}) AS bin
  FROM x CROSS JOIN stats s
),
bins AS (SELECT bin, COUNT(*)::BIGINT AS c FROM binned GROUP BY bin),
cum AS (
  SELECT bin, c,
         SUM(c) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum
  FROM bins
),
qs AS (
  SELECT q, lo, hi, n, CAST(CEIL(q * n) AS BIGINT) AS target
  FROM stats, (SELECT unnest([{', '.join(repr(q) for q in _QSK_QS)}]) AS q)
)
SELECT qs.q, qs.target, cum.bin, cum.c AS bin_count,
       ROUND(qs.lo + (CAST(cum.bin AS DOUBLE)
                      + CAST(qs.target - (cum.cum - cum.c) AS DOUBLE) / CAST(cum.c AS DOUBLE))
                     * (qs.hi - qs.lo) / CAST({_QSK_BINS} AS DOUBLE), 6) AS est
FROM qs JOIN cum ON cum.cum >= qs.target AND (cum.cum - cum.c) < qs.target
"""


# ---------------------------------------------------------------------------
# Per-source data card — the one-page profile attached to every corpus drop:
# volume, internal exact-dup rate, language mix, and token mass per source.
# Composes the repo's shared relations (normalized fingerprint from the
# dedup tier, cached tokenized corpus) into one rollup, so the card costs
# two aggregations over scans the suite already pays for. The majority
# language resolves ties deterministically (count desc, lang asc).
# ---------------------------------------------------------------------------
def dataset_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from templatedb_spark.operators.dedup import tokenized

    d = table(spark, sf_dir, "documents")
    base = d.select("doc_id", "source", "lang", "n_chars", exact_fingerprint().alias("fp"))
    toks = tokenized(spark, sf_dir).select("doc_id", F.size("t").alias("n_tok"))
    base = base.join(toks, "doc_id")

    per_source = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).cast("long").alias("n_dup_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        # integer-exact: sum is a BIGINT, ×100 division + floor is one IEEE
        # double op — Spark's exact-DECIMAL AVG and DuckDB's (silently
        # DOUBLE-promoting) AVG(DECIMAL) round differently at half boundaries
        F.floor(F.sum("n_chars") * F.lit(100.0) / F.count(F.lit(1)))
        .cast("long")
        .alias("avg_chars_x100"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
    )
    lang_counts = base.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wl = Window.partitionBy("source").orderBy(F.col("n").desc(), F.col("lang").asc())
    top_lang = (
        lang_counts.withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"), F.col("n").alias("top_n"))
    )
    return (
        per_source.join(top_lang, "source")
        .select(
            "source",
            "n_docs",
            "n_dup_docs",
            "n_langs",
            "top_lang",
            F.floor(F.col("top_n") * F.lit(10000.0) / F.col("n_docs"))
            .cast("long")
            .alias("top_lang_share_x10000"),
            "avg_chars_x100",
            "total_tokens",
        )
    )


def _profile_oracle() -> str:
    from templatedb_spark.operators.dedup import _TOKENS_SQL

    return f"""
WITH base AS (
  SELECT doc_id, source, lang, n_chars,
         md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp,
         len({_TOKENS_SQL}) AS n_tok
  FROM documents
),
per_source AS (
  SELECT source,
         COUNT(*)::BIGINT AS n_docs,
         (COUNT(*) - COUNT(DISTINCT fp))::BIGINT AS n_dup_docs,
         COUNT(DISTINCT lang)::BIGINT AS n_langs,
         CAST(FLOOR(SUM(n_chars) * 100.0 / COUNT(*)) AS BIGINT) AS avg_chars_x100,
         SUM(n_tok)::BIGINT AS total_tokens
  FROM base GROUP BY 1
),
lang_counts AS (
  SELECT source, lang, COUNT(*)::BIGINT AS n FROM base GROUP BY 1, 2
),
top_lang AS (
  SELECT source, lang AS top_lang, n AS top_n FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, lang ASC) AS rn
    FROM lang_counts
  ) WHERE rn = 1
)
SELECT p.source, p.n_docs, p.n_dup_docs, p.n_langs, t.top_lang,
       CAST(FLOOR(t.top_n * 10000.0 / p.n_docs) AS BIGINT) AS top_lang_share_x10000,
       p.avg_chars_x100, p.total_tokens
FROM per_source p JOIN top_lang t USING (source)
"""


# ---------------------------------------------------------------------------
# Join-key skew report — the diagnostic run BEFORE picking salt factors or
# trusting AQE: per-key frequencies on the prospective join key, the global
# skew ratio (hottest key vs mean), and the top hot keys. Two aggregations
# (key rollup, then global stats broadcast back onto the top keys); at
# 100 TB the key rollup is the only real shuffle and is itself the thing
# being measured. Shares (round 6) and ratios (round 2) use DECIMAL
# intermediates for cross-engine exactness.
# ---------------------------------------------------------------------------
_SKEW_TOPN = 5


def join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    per_key = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    stats = per_key.agg(
        F.sum("n_rows").cast("long").alias("total_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    top = per_key.orderBy(F.col("n_rows").desc(), F.col("user_id").asc()).limit(_SKEW_TOPN)
    return (
        top.crossJoin(F.broadcast(stats))
        .select(
            "user_id",
            "n_rows",
            F.floor(F.col("n_rows") * F.lit(1000000.0) / F.col("total_rows"))
            .cast("long")
            .alias("share_x1000000"),
            # hottest-vs-mean ratio as an integer (x100): n·k·100/total is an
            # exact double division + floor, identical in both engines —
            # nested DECIMAL division is not (scale rules differ per engine)
            F.floor(
                F.col("n_rows") * F.col("n_keys") * F.lit(100.0) / F.col("total_rows")
            )
            .cast("long")
            .alias("skew_ratio_x100"),
            "n_keys",
        )
    )


_SKEW_ORACLE = f"""
WITH per_key AS (
  SELECT user_id, COUNT(*)::BIGINT AS n_rows
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
stats AS (
  SELECT SUM(n_rows)::BIGINT AS total_rows, COUNT(*)::BIGINT AS n_keys FROM per_key
),
top AS (
  SELECT user_id, n_rows FROM per_key ORDER BY n_rows DESC, user_id ASC LIMIT {_SKEW_TOPN}
)
SELECT t.user_id, t.n_rows,
       CAST(FLOOR(t.n_rows * 1000000.0 / s.total_rows) AS BIGINT) AS share_x1000000,
       CAST(FLOOR(t.n_rows * s.n_keys * 100.0 / s.total_rows) AS BIGINT) AS skew_ratio_x100,
       s.n_keys
FROM top t CROSS JOIN stats s
"""

# ---------------------------------------------------------------------------
# Declarative data-quality constraint suite (the dbt-test / Deequ shape):
# one row per constraint with checked/violation counts and a verdict.
# Each constraint is an independent aggregate over its table; the union is
# a plan of tiny parallel branches — at 100 TB every branch is one scan
# (Catalyst shares scans of the same table between branches) + one partial
# agg, and adding a constraint never touches the others.
# ---------------------------------------------------------------------------
def data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    c = table(spark, sf_dir, "customer")

    unique_key = o.agg(
        F.lit("orders.o_orderkey unique").alias("constraint"),
        F.count(F.lit(1)).cast("long").alias("n_checked"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).cast("long").alias("n_violations"),
    )
    not_null = o.agg(
        F.lit("orders.o_orderdate not null").alias("constraint"),
        F.count(F.lit(1)).cast("long").alias("n_checked"),
        F.sum(F.col("o_orderdate").isNull().cast("int")).cast("long").alias("n_violations"),
    )
    ref = (
        o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("orphans"))
        .crossJoin(o.agg(F.count(F.lit(1)).cast("long").alias("total")))
        .select(
            F.lit("orders.o_custkey references customer").alias("constraint"),
            F.col("total").alias("n_checked"),
            F.col("orphans").alias("n_violations"),
        )
    )
    qty_range = l.agg(
        F.lit("lineitem.l_quantity in (0, 50]").alias("constraint"),
        F.count(F.lit(1)).cast("long").alias("n_checked"),
        F.sum(((F.col("l_quantity") <= 0) | (F.col("l_quantity") > 50)).cast("int"))
        .cast("long")
        .alias("n_violations"),
    )
    disc_range = l.agg(
        F.lit("lineitem.l_discount in [0, 0.1]").alias("constraint"),
        F.count(F.lit(1)).cast("long").alias("n_checked"),
        F.sum(((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)).cast("int"))
        .cast("long")
        .alias("n_violations"),
    )
    out = unique_key
    for branch in (not_null, ref, qty_range, disc_range):
        out = out.unionByName(branch)
    return out.select("constraint", "n_checked", "n_violations", (F.col("n_violations") == 0).alias("passed"))


_DQ_ORACLE = """
WITH checks AS (
  SELECT 'orders.o_orderkey unique' AS "constraint", COUNT(*)::BIGINT AS n_checked,
         (COUNT(*) - COUNT(DISTINCT o_orderkey))::BIGINT AS n_violations
  FROM orders
  UNION ALL
  SELECT 'orders.o_orderdate not null', COUNT(*)::BIGINT,
         SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)::BIGINT
  FROM orders
  UNION ALL
  SELECT 'orders.o_custkey references customer', COUNT(*)::BIGINT,
         SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
                  THEN 1 ELSE 0 END)::BIGINT
  FROM orders o
  UNION ALL
  SELECT 'lineitem.l_quantity in (0, 50]', COUNT(*)::BIGINT,
         SUM(CASE WHEN l_quantity <= 0 OR l_quantity > 50 THEN 1 ELSE 0 END)::BIGINT
  FROM lineitem
  UNION ALL
  SELECT 'lineitem.l_discount in [0, 0.1]', COUNT(*)::BIGINT,
         SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END)::BIGINT
  FROM lineitem
)
SELECT "constraint", n_checked, n_violations, n_violations = 0 AS passed FROM checks
"""


# ---------------------------------------------------------------------------
# Snapshot diff → changefeed (the INVERSE of cdc_apply): given the base
# table and a deterministically-mutated next snapshot, emit the per-op CDC
# summary (inserts / updates / deletes / unchanged) with exact decimal
# price-delta mass. One full-outer join on the key — the scan-and-compare
# shape every lakehouse "generate changefeed between versions" runs; at
# scale both snapshots are bucketed on the key so the join is co-located.
# ---------------------------------------------------------------------------
_DIFF_NEW_KEY_OFFSET = 100_000_000


def snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(12,2)").alias("price")
    )
    # next snapshot: delete keys %50==0, re-price keys %20==10, insert fresh keys
    nxt = (
        base.filter(F.col("o_orderkey") % 50 != 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 20 == 10, (F.col("price") * 2).cast("decimal(12,2)"))
            .otherwise(F.col("price"))
            .alias("price"),
        )
        .unionByName(
            base.filter(F.col("o_orderkey") % 40 == 0).select(
                (F.col("o_orderkey") + _DIFF_NEW_KEY_OFFSET).alias("o_orderkey"),
                F.lit(100.00).cast("decimal(12,2)").alias("price"),
            )
        )
    )
    a = base.select(F.col("o_orderkey").alias("k_old"), F.col("price").alias("p_old"))
    b = nxt.select(F.col("o_orderkey").alias("k_new"), F.col("price").alias("p_new"))
    diff = a.join(b, a["k_old"] == b["k_new"], "full_outer").select(
        F.when(F.col("k_old").isNull(), F.lit("I"))
        .when(F.col("k_new").isNull(), F.lit("D"))
        .when(F.col("p_old") != F.col("p_new"), F.lit("U"))
        .otherwise(F.lit("="))
        .alias("op"),
        F.coalesce(F.col("p_new"), F.lit(0).cast("decimal(12,2)")).alias("pn"),
        F.coalesce(F.col("p_old"), F.lit(0).cast("decimal(12,2)")).alias("po"),
    )
    return diff.groupBy("op").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.abs(F.col("pn") - F.col("po"))).cast("double").alias("abs_price_delta"),
    )


_DIFF_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey, o_totalprice::DECIMAL(12,2) AS price FROM orders
),
nxt AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 20 = 10 THEN (price * 2)::DECIMAL(12,2) ELSE price END AS price
  FROM base WHERE o_orderkey % 50 <> 0
  UNION ALL
  SELECT o_orderkey + {_DIFF_NEW_KEY_OFFSET}, 100.00::DECIMAL(12,2)
  FROM base WHERE o_orderkey % 40 = 0
),
diff AS (
  SELECT CASE WHEN a.o_orderkey IS NULL THEN 'I'
              WHEN b.o_orderkey IS NULL THEN 'D'
              WHEN a.price <> b.price THEN 'U'
              ELSE '=' END AS op,
         COALESCE(b.price, 0::DECIMAL(12,2)) AS pn,
         COALESCE(a.price, 0::DECIMAL(12,2)) AS po
  FROM base a FULL OUTER JOIN nxt b ON a.o_orderkey = b.o_orderkey
)
SELECT op, COUNT(*)::BIGINT AS n_rows, CAST(SUM(ABS(pn - po)) AS DOUBLE) AS abs_price_delta
FROM diff GROUP BY 1
"""

# ---------------------------------------------------------------------------
# Equi-DEPTH histogram (the optimizer-statistics shape, complementing the
# equi-width histogram_event_values): same-population buckets over a total
# order (value, key tiebreak); per-bucket bounds are what a CBO's column
# statistics store. Exact NTILE semantics, fully distributed: the global rank
# comes from ranks.global_row_number (range shuffle + per-partition local
# rank + broadcast prefix offsets — N parallel tasks, never one), then the
# standard NTILE formula (first n%k buckets get one extra row) maps rank →
# bucket arithmetically. No unpartitioned window anywhere in the plan.
# ---------------------------------------------------------------------------
_EQUIDEPTH_BUCKETS = 10


def histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from templatedb_spark.operators.ranks import global_row_number

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(12,2)").alias("v")
    )
    ranked = global_row_number(
        o, [F.col("v").asc(), F.col("o_orderkey").asc()], rank_col="i"
    )
    total = o.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    k = F.lit(_EQUIDEPTH_BUCKETS).cast("long")
    withn = ranked.crossJoin(F.broadcast(total))
    # base bucket size; guarded to >=1 — when n_total < k the raw floor is 0
    # and the otherwise-branch would divide by zero (NULL buckets silently,
    # a runtime error under ANSI mode). The guard is semantics-preserving:
    # with n < k every row has i <= r*(q+1) = n_total, so the when-branch
    # always fires and the otherwise value is never used (ADVICE r6).
    q = F.greatest(F.floor(F.col("n_total") / k), F.lit(1)).cast("long")
    r = (F.col("n_total") % k).cast("long")  # first r buckets hold q+1 rows
    i = F.col("i")
    bucket = F.when(
        i <= r * (q + 1), F.floor((i - 1) / (q + 1)) + 1
    ).otherwise(r + F.floor((i - r * (q + 1) - 1) / q) + 1)
    bucketed = withn.select("v", bucket.cast("long").alias("bucket"))
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("v").cast("double").alias("lo"),
        F.max("v").cast("double").alias("hi"),
    )


_EQUIDEPTH_ORACLE = f"""
WITH b AS (
  SELECT o_totalprice::DECIMAL(12,2) AS v,
         NTILE({_EQUIDEPTH_BUCKETS}) OVER (ORDER BY o_totalprice::DECIMAL(12,2) ASC, o_orderkey ASC) AS bucket
  FROM orders
)
SELECT bucket::BIGINT AS bucket, COUNT(*)::BIGINT AS n_rows,
       CAST(MIN(v) AS DOUBLE) AS lo, CAST(MAX(v) AS DOUBLE) AS hi
FROM b GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Exact-sum Pearson correlation per group: every power/cross sum accumulates
# as DECIMAL (order-independent — the only way corr() is reproducible across
# partitionings), and the final r is one double expression over those exact
# inputs, written identically in both dialects so the IEEE result is
# bit-equal before the ROUND. Native corr() aggregates accumulate float
# state in partition order and cannot be oracle'd exactly.
# ---------------------------------------------------------------------------
def correlation_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("decimal(18,2)").alias("x"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("y"),
    )
    sums = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    r = (n * F.col("sxy").cast("double") - sx * sy) / F.sqrt(
        (n * F.col("sxx").cast("double") - sx * sx)
        * (n * F.col("syy").cast("double") - sy * sy)
    )
    return sums.select("l_returnflag", "n", F.round(r, 6).alias("corr_qty_price"))


_CORR_ORACLE = """
WITH sums AS (
  SELECT l_returnflag,
         COUNT(*)::BIGINT AS n,
         SUM(l_quantity::DECIMAL(18,2)) AS sx,
         SUM(l_extendedprice::DECIMAL(18,2)) AS sy,
         SUM(l_quantity::DECIMAL(18,2) * l_quantity::DECIMAL(18,2)) AS sxx,
         SUM(l_extendedprice::DECIMAL(18,2) * l_extendedprice::DECIMAL(18,2)) AS syy,
         SUM(l_quantity::DECIMAL(18,2) * l_extendedprice::DECIMAL(18,2)) AS sxy
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, n,
       ROUND((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             / SQRT((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                    * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 6) AS corr_qty_price
FROM sums
"""

# ---------------------------------------------------------------------------
# Mutual information between two categorical columns (lang × source) — the
# feature-selection primitive. All probabilities come from exact integer
# counts; the Σ p·ln(p_xy/(p_x·p_y)) fold runs over the cells in sorted
# (lang, source) order via an ordered array fold, so the float sum is
# bit-identical in both engines regardless of partitioning. Output ×10^6
# integer. Cell count is bounded by |langs|·|sources| — the aggregation is
# tiny no matter the corpus size.
# ---------------------------------------------------------------------------
def mutual_info_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count(F.lit(1)).cast("long").alias("nxy"))
    nx = cells.groupBy("lang").agg(F.sum("nxy").alias("nx"))
    ny = cells.groupBy("source").agg(F.sum("nxy").alias("ny"))
    total = cells.agg(F.sum("nxy").alias("n"))
    scored = (
        cells.join(F.broadcast(nx), "lang")
        .join(F.broadcast(ny), "source")
        .crossJoin(F.broadcast(total))
        .select(
            "lang",
            "source",
            (
                (F.col("nxy").cast("double") / F.col("n").cast("double"))
                * F.log(
                    (F.col("nxy").cast("double") * F.col("n").cast("double"))
                    / (F.col("nx").cast("double") * F.col("ny").cast("double"))
                )
            ).alias("term"),
        )
    )
    folded = scored.agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(lang, source, term))),"
            " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.term)"
        ).alias("mi"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    return folded.select(
        F.floor(F.col("mi") * 1000000).cast("long").alias("mi_x1000000"), "n_cells"
    )


_MI_ORACLE = """
WITH cells AS (
  SELECT lang, source, COUNT(*)::BIGINT AS nxy FROM documents GROUP BY 1, 2
),
nx AS (SELECT lang, SUM(nxy) AS nx FROM cells GROUP BY 1),
ny AS (SELECT source, SUM(nxy) AS ny FROM cells GROUP BY 1),
total AS (SELECT SUM(nxy) AS n FROM cells),
scored AS (
  SELECT c.lang, c.source,
         (c.nxy::DOUBLE / t.n::DOUBLE)
         * ln((c.nxy::DOUBLE * t.n::DOUBLE) / (x.nx::DOUBLE * y.ny::DOUBLE)) AS term
  FROM cells c JOIN nx x USING (lang) JOIN ny y USING (source) CROSS JOIN total t
),
folded AS (
  SELECT list_reduce(list(term ORDER BY lang, source), (a, b) -> a + b) AS mi,
         COUNT(*)::BIGINT AS n_cells
  FROM scored
)
SELECT CAST(FLOOR(mi * 1000000) AS BIGINT) AS mi_x1000000, n_cells FROM folded
"""

# ---------------------------------------------------------------------------
# Chi-squared independence test (lang × source) — MI's hypothesis-testing
# sibling over the same exact cell counts: χ² = Σ (o−e)²/e with expected
# counts e = nx·ny/n as exact rationals evaluated in double. The fold runs
# in sorted cell order (bit-identical sum), statistic ×10^3 integer, plus
# the degrees of freedom the consumer needs to look up the p-value.
# ---------------------------------------------------------------------------
def chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count(F.lit(1)).cast("long").alias("nxy"))
    nx = cells.groupBy("lang").agg(F.sum("nxy").alias("nx"))
    ny = cells.groupBy("source").agg(F.sum("nxy").alias("ny"))
    total = cells.agg(
        F.sum("nxy").alias("n"),
        F.countDistinct("lang").alias("nl"),
        F.countDistinct("source").alias("ns"),
    )
    e = (F.col("nx").cast("double") * F.col("ny").cast("double")) / F.col("n").cast("double")
    scored = (
        cells.join(F.broadcast(nx), "lang")
        .join(F.broadcast(ny), "source")
        .crossJoin(F.broadcast(total))
        .select(
            "lang",
            "source",
            "nl",
            "ns",
            ((F.col("nxy").cast("double") - e) * (F.col("nxy").cast("double") - e) / e).alias("term"),
        )
    )
    folded = scored.agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(lang, source, term))),"
            " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.term)"
        ).alias("chi2"),
        ((F.max("nl") - 1) * (F.max("ns") - 1)).cast("long").alias("dof"),
    )
    return folded.select(F.floor(F.col("chi2") * 1000).cast("long").alias("chi2_x1000"), "dof")


_CHI2_ORACLE = """
WITH cells AS (
  SELECT lang, source, COUNT(*)::BIGINT AS nxy FROM documents GROUP BY 1, 2
),
nx AS (SELECT lang, SUM(nxy) AS nx FROM cells GROUP BY 1),
ny AS (SELECT source, SUM(nxy) AS ny FROM cells GROUP BY 1),
total AS (
  SELECT SUM(nxy) AS n, COUNT(DISTINCT lang) AS nl, COUNT(DISTINCT source) AS ns FROM cells
),
scored AS (
  SELECT c.lang, c.source, t.nl, t.ns,
         (c.nxy::DOUBLE - (x.nx::DOUBLE * y.ny::DOUBLE / t.n::DOUBLE))
         * (c.nxy::DOUBLE - (x.nx::DOUBLE * y.ny::DOUBLE / t.n::DOUBLE))
         / (x.nx::DOUBLE * y.ny::DOUBLE / t.n::DOUBLE) AS term
  FROM cells c JOIN nx x USING (lang) JOIN ny y USING (source) CROSS JOIN total t
),
folded AS (
  SELECT list_reduce(list(term ORDER BY lang, source), (a, b) -> a + b) AS chi2,
         ((MAX(nl) - 1) * (MAX(ns) - 1))::BIGINT AS dof
  FROM scored
)
SELECT CAST(FLOOR(chi2 * 1000) AS BIGINT) AS chi2_x1000, dof FROM folded
"""

# ---------------------------------------------------------------------------
# Feature drift (PSI) between two corpus snapshots — the training-data ops
# check run before every retrain: per event_type, Population Stability Index
# over a clamped floor-binned value histogram of the reference vs current
# snapshot. The deterministic event_id%2 split stands in for two real
# snapshots (a pipeline passes yesterday's and today's tables). Laplace
# +1-per-bin smoothing keeps ln finite on one-sided bins from EXACT integer
# counts, and the Σ(p−q)·ln(p/q) fold runs in sorted bin order (the MI/chi²
# cell-ordered-fold pattern), so the float is bit-identical cross-engine.
# Scale: two map-side-partial histogram aggs + a broadcast totals join —
# bin count is bounded (≤22 bins × event types), corpus size irrelevant.
# ---------------------------------------------------------------------------
_PSI_LO, _PSI_HI = -5, 15


def feature_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    binc = (
        F.least(F.greatest(F.floor(F.col("value")), F.lit(_PSI_LO)), F.lit(_PSI_HI))
        .cast("long")
        .alias("bin")
    )
    base = e.select(
        "event_type",
        binc,
        F.when(F.col("event_id") % 2 == 0, F.lit(1)).otherwise(F.lit(0)).alias("is_ref"),
    )
    hist = base.groupBy("event_type", "bin").agg(
        F.sum("is_ref").cast("long").alias("n_ref"),
        F.sum(1 - F.col("is_ref")).cast("long").alias("n_cur"),
    )
    tot = hist.groupBy("event_type").agg(
        F.sum("n_ref").alias("t_ref"),
        F.sum("n_cur").alias("t_cur"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
    )
    p = (F.col("n_ref") + 1).cast("double") / (F.col("t_ref") + F.col("n_bins")).cast("double")
    q = (F.col("n_cur") + 1).cast("double") / (F.col("t_cur") + F.col("n_bins")).cast("double")
    scored = hist.join(F.broadcast(tot), "event_type").select(
        "event_type", "bin", "n_bins", ((p - q) * F.log(p / q)).alias("term")
    )
    per = scored.groupBy("event_type").agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(bin, term))),"
            " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.term)"
        ).alias("psi"),
        F.max("n_bins").alias("n_bins"),
    )
    return per.select(
        "event_type",
        "n_bins",
        F.floor(F.col("psi") * 1000000).cast("long").alias("psi_x1000000"),
    )


_PSI_ORACLE = f"""
WITH base AS (
  SELECT event_type,
         LEAST(GREATEST(FLOOR(value), {_PSI_LO}), {_PSI_HI})::BIGINT AS bin,
         CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS is_ref
  FROM events
),
hist AS (
  SELECT event_type, bin,
         SUM(is_ref)::BIGINT AS n_ref, SUM(1 - is_ref)::BIGINT AS n_cur
  FROM base GROUP BY 1, 2
),
tot AS (
  SELECT event_type, SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur,
         COUNT(*)::BIGINT AS n_bins
  FROM hist GROUP BY 1
),
scored AS (
  SELECT h.event_type, h.bin, t.n_bins,
         (((h.n_ref + 1)::DOUBLE / (t.t_ref + t.n_bins)::DOUBLE)
          - ((h.n_cur + 1)::DOUBLE / (t.t_cur + t.n_bins)::DOUBLE))
         * ln(((h.n_ref + 1)::DOUBLE / (t.t_ref + t.n_bins)::DOUBLE)
              / ((h.n_cur + 1)::DOUBLE / (t.t_cur + t.n_bins)::DOUBLE)) AS term
  FROM hist h JOIN tot t USING (event_type)
)
SELECT event_type, MAX(n_bins) AS n_bins,
       CAST(FLOOR(list_reduce(list(term ORDER BY bin), (a, b) -> a + b) * 1000000) AS BIGINT) AS psi_x1000000
FROM scored GROUP BY event_type
"""


for spec in [
    QuerySpec("feature_drift_psi", feature_drift_psi, _PSI_ORACLE, "PSI feature-drift report between corpus snapshots (cell-ordered fold, x1e6 integer)"),
    QuerySpec("quantile_sketch_price", quantile_sketch_price, _QSK_ORACLE, "1024-bin histogram quantile sketch (deterministic, exact oracle)"),
    QuerySpec("percentiles_price", percentiles_price, _PERCENTILES_ORACLE, "exact interpolated percentiles per group"),
    QuerySpec("anomaly_mad", anomaly_mad, _MAD_ORACLE, "median/MAD robust outlier counts with pre-rounded operands"),
    QuerySpec("winsorize_stats", winsorize_stats, _WINSORIZE_ORACLE, "p05/p95 winsorized mean via exact decimal accumulation"),
    QuerySpec("approx_percentiles_price", approx_percentiles_price, _APPROX_PCT_ORACLE, "sketch percentiles under a tolerance-verdict oracle (exact n + pXX_ok)"),
    QuerySpec("histogram_event_values", histogram_event_values, _HISTOGRAM_ORACLE, "floor-binned value histogram"),
    QuerySpec("embedding_quantize", embedding_quantize, _QUANTIZE_ORACLE, "int8 embedding quantization stats"),
    QuerySpec("dataset_profile", dataset_profile, _profile_oracle(), "per-source data card: volume, dup rate, language mix, token mass"),
    QuerySpec("join_skew_report", join_skew_report, _SKEW_ORACLE, "join-key skew diagnostic: hot keys, shares, skew ratio vs mean"),
    QuerySpec("data_quality_checks", data_quality_checks, _DQ_ORACLE, "declarative constraint suite: uniqueness, null, referential, range checks"),
    QuerySpec("snapshot_diff_cdc", snapshot_diff_cdc, _DIFF_ORACLE, "snapshot diff changefeed: per-op CDC summary with exact price-delta mass"),
    QuerySpec("histogram_equidepth", histogram_equidepth, _EQUIDEPTH_ORACLE, "equi-depth (ntile) histogram — the CBO column-statistics shape"),
    QuerySpec("correlation_quantity_price", correlation_quantity_price, _CORR_ORACLE, "exact-sum Pearson correlation per group (DECIMAL power sums, reproducible under any partitioning)"),
    QuerySpec("mutual_info_lang_source", mutual_info_lang_source, _MI_ORACLE, "categorical mutual information from exact counts, cell-ordered fold"),
    QuerySpec("chi2_lang_source", chi2_lang_source, _CHI2_ORACLE, "chi-squared independence test over exact cell counts (cell-ordered fold, x1000 integer)"),
]:
    register(spec)


# ---------------------------------------------------------------------------
# Exact two-sample Kolmogorov–Smirnov drift (round 10): PSI's companion that
# needs no binning — D = sup_v |F_a(v) − F_b(v)| over the pooled observed
# values, the distribution-free drift test a pipeline runs when a feature's
# histogram bins would hide tail movement. Exactness: the sup is found on the
# INTEGER lattice |cum_a·n_b − cum_b·n_a| (no float compare decides the
# argmax); only the final D divides — both factors < 2^53, so the double is
# exact cross-engine. The cumulative counts come from operators.ranks'
# distributed two-pass cumsum (one range shuffle over the DISTINCT-value
# relation, never a single-task global window), with both sides' cumsums
# sharing one exchange via global_cumsum_multi.
# Scale: groupBy(value) collapses the corpus to its distinct values before
# any ordered pass; the range shuffle is over that collapsed relation.
# ---------------------------------------------------------------------------
_KS_A, _KS_B = "click", "purchase"


def ks_drift_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from templatedb_spark.operators.ranks import global_cumsum_multi

    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_KS_A, _KS_B)
    )
    per_v = e.groupBy(F.col("value").alias("v")).agg(
        F.sum(F.when(F.col("event_type") == _KS_A, 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("event_type") == _KS_B, 1).otherwise(0))
        .cast("long")
        .alias("c2"),
    )
    cums = global_cumsum_multi(
        per_v, [F.col("v").asc()], [(F.col("c1"), "cum1"), (F.col("c2"), "cum2")]
    )
    tot = per_v.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    d = cums.crossJoin(F.broadcast(tot)).withColumn(
        "num", F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
    )
    # argmax as ONE aggregate (r10): min_by over (-num, v) picks the row
    # with the supremum numerator, ties broken by the smallest v — exactly
    # the old max-then-join-back chain, which consumed `d` (and the whole
    # cumsum subtree behind it) twice. The argmax compares exact integers,
    # so no float decides it.
    return d.groupBy().agg(
        F.max("n1").cast("long").alias("n1"),
        F.max("n2").cast("long").alias("n2"),
        (F.max("num") / (F.max("n1") * F.max("n2"))).alias("ks_stat"),
        F.min_by("v", F.struct((-F.col("num")).alias("nn"), F.col("v"))).alias(
            "ks_at_value"
        ),
    )


_KS_ORACLE = f"""
WITH per_v AS (
  SELECT value AS v,
         SUM(CASE WHEN event_type = '{_KS_A}' THEN 1 ELSE 0 END)::BIGINT AS c1,
         SUM(CASE WHEN event_type = '{_KS_B}' THEN 1 ELSE 0 END)::BIGINT AS c2
  FROM events WHERE event_type IN ('{_KS_A}', '{_KS_B}')
  GROUP BY v
),
cums AS (
  SELECT v, SUM(c1) OVER (ORDER BY v) AS cum1, SUM(c2) OVER (ORDER BY v) AS cum2
  FROM per_v
),
tot AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM per_v),
d AS (
  SELECT v, ABS(cum1 * n2 - cum2 * n1) AS num, n1, n2 FROM cums, tot
)
SELECT n1::BIGINT AS n1, n2::BIGINT AS n2,
       (MAX(num)::DOUBLE / (n1::DOUBLE * n2::DOUBLE)) AS ks_stat,
       MIN(v) FILTER (WHERE num = (SELECT MAX(num) FROM d)) AS ks_at_value
FROM d GROUP BY n1, n2
"""

register(
    QuerySpec(
        "ks_drift_value",
        ks_drift_value,
        _KS_ORACLE,
        "exact two-sample Kolmogorov-Smirnov drift: integer-lattice argmax over distributed shared-exchange cumsums (ranks.global_cumsum_multi)",
    )
)


# ---------------------------------------------------------------------------
# k-anonymity risk profile (round 11): the standard privacy gate a
# training-data pipeline runs before releasing or joining a dataset — how
# re-identifiable are individuals under a quasi-identifier (QI) tuple?
# QI here: (nation, market segment, account-balance band of 1000). Every
# row in an equivalence class of size k is "k-anonymous"; singletons are
# directly re-identifiable, and the k<5 / k<10 masses are the usual
# disclosure-risk headline numbers (alongside min/max class size and the
# class count).
#
# Scale shape: one shuffle on the QI tuple (map-side partial counts), then
# a single-row rollup over |classes| — the cheapest possible profile, and
# the same plan at 100 TB. The balance band floors a DOUBLE division by an
# exact power-of-ten band width; c_acctbal is DECIMAL(12,2) so the cast is
# exact and band boundaries land on exactly-representable doubles in both
# engines.
# ---------------------------------------------------------------------------
_KANON_BAND = 1000


def k_anonymity_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    qi = c.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal").cast("double") / _KANON_BAND).cast("long").alias("bal_band"),
    )
    classes = qi.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    return classes.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum("k").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("k") == 1, 1).otherwise(0)).cast("long").alias("n_singletons"),
        F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0)).cast("long").alias("rows_k_lt_5"),
        F.sum(F.when(F.col("k") < 10, F.col("k")).otherwise(0)).cast("long").alias("rows_k_lt_10"),
        F.min("k").cast("long").alias("min_k"),
        F.max("k").cast("long").alias("max_k"),
    )


_KANON_ORACLE = f"""
WITH qi AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal::DOUBLE / {_KANON_BAND}) AS BIGINT) AS bal_band
  FROM customer
),
classes AS (
  SELECT c_nationkey, c_mktsegment, bal_band, COUNT(*)::BIGINT AS k
  FROM qi GROUP BY 1, 2, 3
)
SELECT COUNT(*)::BIGINT AS n_classes,
       SUM(k)::BIGINT AS n_rows,
       SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END)::BIGINT AS n_singletons,
       SUM(CASE WHEN k < 5 THEN k ELSE 0 END)::BIGINT AS rows_k_lt_5,
       SUM(CASE WHEN k < 10 THEN k ELSE 0 END)::BIGINT AS rows_k_lt_10,
       MIN(k)::BIGINT AS min_k,
       MAX(k)::BIGINT AS max_k
FROM classes
"""

register(
    QuerySpec(
        "k_anonymity_risk",
        k_anonymity_risk,
        _KANON_ORACLE,
        "k-anonymity disclosure-risk profile over a quasi-identifier tuple: class-size distribution, singleton and k<5/k<10 masses",
    )
)
