"""Advanced analytics operators — extension tier beyond the reference's SQL
surface, chosen for what a large-scale event/training-data pipeline needs:
sessionization, as-of joins, time-range self-joins, semi/anti joins, rollup
hierarchies, portable pivot, exact statistical moments, TPC-H workload shapes.

Scale notes:
- Sessionization and as-of are single-pass window computations partitioned by
  user — one shuffle on user_id, state bounded per partition; this is the shape
  that replaces per-user driver loops at 100 TB.
- The as-of join is the union+last(ignorenulls) formulation (no range-join
  explosion, no per-key binary search): both sides share one user_id shuffle.
- The time-range self-join keys on user_id with the range as residual; at
  skewed scale you'd additionally bucket by coarse time window.
- Statistical moments (stddev) are computed from DECIMAL power sums — exact,
  partitioning-independent, unlike streaming float variance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from templatedb_spark.suite import QuerySpec, _dec, register, table


_TS_FMT = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_SQL = "%Y-%m-%d %H:%M:%S"


# ---------------------------------------------------------------------------
# Sessionization: gap > 30 min starts a new session (per user).
# ---------------------------------------------------------------------------
_SESSION_GAP_US = 30 * 60 * 1_000_000


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_gap = e.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        (F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)).alias("gap_us"),
    ).withColumn(
        "is_new",
        F.when(F.col("gap_us").isNull() | (F.col("gap_us") > _SESSION_GAP_US), 1).otherwise(0),
    )
    sessions = with_gap.withColumn("session_seq", F.sum("is_new").over(wrun))
    return (
        sessions.groupBy("user_id", F.col("session_seq").cast("long").alias("session_seq"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), _TS_FMT).alias("session_start"),
            F.date_format(F.max("ts"), _TS_FMT).alias("session_end"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
    )


_SESSIONIZE_ORACLE = f"""
WITH g AS (
  SELECT user_id, event_id, ts, value,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
s AS (
  SELECT *, SUM(CASE WHEN gap_us IS NULL OR gap_us > {_SESSION_GAP_US} THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM g
)
SELECT user_id, session_seq::BIGINT AS session_seq,
       COUNT(*) AS n_events,
       STRFTIME(MIN(ts), '{_TS_FMT_SQL}') AS session_start,
       STRFTIME(MAX(ts), '{_TS_FMT_SQL}') AS session_end,
       ROUND(SUM(value), 2) AS session_value
FROM s GROUP BY user_id, session_seq
"""


# ---------------------------------------------------------------------------
# As-of join: each event ↔ the most recent purchase (≤ ts) by the same user.
# union + last(ignorenulls) formulation — one shuffle, no range explosion.
# ---------------------------------------------------------------------------
def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "purchase", F.col("ts")).alias("purchase_ts"),
    )
    return (
        marked.withColumn("last_purchase", F.last("purchase_ts", ignorenulls=True).over(w))
        .filter(F.col("event_type") == "error")
        .select(
            "user_id",
            "event_id",
            F.date_format("ts", _TS_FMT).alias("ts"),
            F.date_format("last_purchase", _TS_FMT).alias("last_purchase"),
        )
    )


_ASOF_ORACLE = f"""
WITH m AS (
  SELECT user_id, event_id, ts, event_type,
         LAST_VALUE(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase
  FROM events
)
SELECT user_id, event_id, STRFTIME(ts, '{_TS_FMT_SQL}') AS ts,
       STRFTIME(last_purchase, '{_TS_FMT_SQL}') AS last_purchase
FROM m WHERE event_type = 'error'
"""


# ---------------------------------------------------------------------------
# Time-range self-join: clicks within 30 min before each error, same user.
# ---------------------------------------------------------------------------
def range_join_clicks_before_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    err = e.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("user_id"), F.col("event_id").alias("error_id"), F.col("ts").alias("err_ts")
    )
    clk = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    joined = err.join(
        clk,
        (err.user_id == clk.c_user)
        & (clk.click_ts >= err.err_ts - F.expr("INTERVAL 30 MINUTE"))
        & (clk.click_ts <= err.err_ts),
        "inner",
    )
    return joined.groupBy("user_id", "error_id").agg(F.count(F.lit(1)).alias("n_recent_clicks"))


_RANGE_JOIN_ORACLE = """
SELECT a.user_id, a.event_id AS error_id, COUNT(*) AS n_recent_clicks
FROM events a JOIN events b
  ON a.user_id = b.user_id AND b.event_type = 'click' AND a.event_type = 'error'
 AND b.ts >= a.ts - INTERVAL 30 MINUTE AND b.ts <= a.ts
GROUP BY a.user_id, a.event_id
"""


# ---------------------------------------------------------------------------
# Semi / anti joins (EXISTS / NOT EXISTS) — Spark-gained (reference lacks them,
# SURVEY.md §2.3 "not implemented" list).
# ---------------------------------------------------------------------------
def semi_join_customers_with_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


_SEMI_ORACLE = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
"""


def anti_join_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_acctbal")


_ANTI_ORACLE = """
SELECT c_custkey, c_acctbal FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
"""


# ---------------------------------------------------------------------------
# ROLLUP hierarchy (region → nation), NULL indicator rows.
# ---------------------------------------------------------------------------
def rollup_customers_by_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    base = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return base.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(_dec("c_acctbal")).cast("double").alias("sum_bal"),
    )


_ROLLUP_ORACLE = """
SELECT r_name, n_name, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


# ---------------------------------------------------------------------------
# Portable pivot: event_type counts as columns per user.
# ---------------------------------------------------------------------------
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    aggs = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}") for t in _EVENT_TYPES
    ]
    return e.groupBy("user_id").agg(*aggs, F.count(F.lit(1)).alias("n_total"))


_PIVOT_ORACLE = (
    "SELECT user_id, "
    + ", ".join(
        f"COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS n_{t}" for t in _EVENT_TYPES
    )
    + ", COUNT(*) AS n_total FROM events GROUP BY user_id"
)


# ---------------------------------------------------------------------------
# Native pivot / unpivot pair: groupBy().pivot(values) is the real wide-cast
# operator (values pinned → no extra distinct-scan job, required at scale);
# unpivot() melts it back. events_pivot keeps the portable conditional-agg
# formulation; this spec exercises the operators themselves, roundtripping
# pivot → unpivot so the oracle is the plain long-form aggregate.
# ---------------------------------------------------------------------------
def events_pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    wide = (
        e.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    long = wide.unpivot(
        ids=["user_id"],
        values=_EVENT_TYPES,
        variableColumnName="event_type",
        valueColumnName="n",
    )
    # pivot fills absent combinations with NULL; drop them to recover the
    # original long form exactly
    return long.filter(F.col("n").isNotNull()).select(
        "user_id", "event_type", F.col("n").cast("long").alias("n")
    )


_PIVOT_UNPIVOT_ORACLE = """
SELECT user_id, event_type, COUNT(*) AS n
FROM events GROUP BY user_id, event_type
"""


# ---------------------------------------------------------------------------
# Exact statistical moments from DECIMAL power sums (order-independent).
# ---------------------------------------------------------------------------
def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    d = _dec("c_acctbal")
    agg = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d).alias("s1"),
        F.sum(d * d).alias("s2"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
    )
    n = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    return agg.select(
        "c_mktsegment",
        F.col("n").alias("n"),
        F.round(s1 / n, 6).alias("avg_bal"),
        F.round(F.sqrt((s2 - s1 * s1 / n) / (n - 1)), 6).alias("stddev_bal"),
        "min_bal",
        "max_bal",
    )


_STATS_ORACLE = """
WITH a AS (
  SELECT c_mktsegment, COUNT(*) AS n,
         SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS s1,
         SUM(CAST(c_acctbal AS DECIMAL(12,2)) * CAST(c_acctbal AS DECIMAL(12,2))) AS s2,
         MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal
  FROM customer GROUP BY c_mktsegment
)
SELECT c_mktsegment, n,
       ROUND(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS avg_bal,
       ROUND(sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)), 6) AS stddev_bal,
       min_bal, max_bal
FROM a
"""


# ---------------------------------------------------------------------------
# Correlated scalar subquery: customers above their nation's average balance.
# Expressed in its decorrelated form (group-agg + join) — the rewrite Catalyst
# itself applies to the correlated SQL; the oracle keeps the correlated
# spelling to prove semantic equivalence. (The reference only supports
# *uncorrelated* scalar subqueries, binder/table/subquery.rs:69-72 — this is
# the Spark-gained generalization.)
# ---------------------------------------------------------------------------
def correlated_scalar_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    per_nation = c.groupBy(F.col("c_nationkey").alias("nk")).agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("nation_avg")
    )
    return (
        c.join(F.broadcast(per_nation), c.c_nationkey == F.col("nk"))
        .filter(F.col("c_acctbal") > F.col("nation_avg"))
        .select("c_custkey", "c_acctbal", F.round("nation_avg", 6).alias("nation_avg"))
    )


_CORRELATED_ORACLE = """
SELECT c_custkey, c_acctbal,
       ROUND((SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
              FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey), 6) AS nation_avg
FROM customer c
WHERE c_acctbal > (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
                   FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
"""


# ---------------------------------------------------------------------------
# approx_count_distinct (HLL) — sketch values differ across engines, so the
# spec emits a tolerance VERDICT instead of the raw estimate: exact_users is
# real SQL on both sides, and within_tol (1/0) is computed from the actual
# HLL estimate vs the exact count. The oracle asserts within_tol = 1, so a
# sketch drifting outside |approx-exact| <= max(2, 5%·exact) (2.5σ at
# rsd=0.02) hash-mismatches and FAILS the gate — a deterministic check on an
# approximate operator.
# ---------------------------------------------------------------------------
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    tol = F.greatest(F.lit(2.0), F.lit(0.05) * F.col("exact_users"))
    return agg.select(
        "event_type",
        F.col("exact_users").cast("long").alias("exact_users"),
        F.when(F.abs(F.col("approx_users") - F.col("exact_users")) <= tol, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("within_tol"),
    )


_APPROX_DISTINCT_ORACLE = """
SELECT event_type, COUNT(DISTINCT user_id)::BIGINT AS exact_users,
       1::BIGINT AS within_tol
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Group-map applyInPandas: per-group OLS fit (acctbal ~ custkey) — the
# Arrow-batched group-aggregation surface (pandas "UDAF"). Each nation's rows
# arrive as one pandas frame; numpy computes the closed-form fit. Rounded to 6
# decimals: numpy's pairwise summation and DuckDB's streaming REGR_* sums
# differ at ~1e-12 relative, far below the rounding grain.
# ---------------------------------------------------------------------------
def groupmap_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    c = table(spark, sf_dir, "customer").select("c_nationkey", "c_custkey", "c_acctbal")

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["c_custkey"].to_numpy(dtype="float64")
        y = pdf["c_acctbal"].to_numpy(dtype="float64")
        n = len(x)
        mx, my = x.mean(), y.mean()
        varx = ((x - mx) ** 2).sum()
        slope = float(((x - mx) * (y - my)).sum() / varx) if varx > 0 else 0.0
        return pd.DataFrame(
            {
                "c_nationkey": [int(pdf["c_nationkey"].iloc[0])],
                "n": [n],
                "slope": [round(slope, 6)],
                "intercept": [round(my - slope * mx, 6)],
            }
        )

    return c.groupBy("c_nationkey").applyInPandas(
        fit, schema="c_nationkey long, n long, slope double, intercept double"
    )


_GROUPMAP_ORACLE = """
SELECT c_nationkey::BIGINT AS c_nationkey, COUNT(*) AS n,
       ROUND(REGR_SLOPE(c_acctbal, c_custkey), 6) AS slope,
       ROUND(REGR_INTERCEPT(c_acctbal, c_custkey), 6) AS intercept
FROM customer GROUP BY c_nationkey
"""


# ---------------------------------------------------------------------------
# TPC-H Q3 (shipping priority) and Q6 (forecast revenue) shapes.
# ---------------------------------------------------------------------------
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1996-01-01")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(4,2)") - _dec("l_discount", 4, 2))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


_Q3_ORACLE = """
SELECT o_orderkey, STRFTIME(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
GROUP BY o_orderkey, STRFTIME(o_orderdate, '%Y-%m-%d'), o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.year("l_shipdate") == 1996)
            & (F.col("l_discount").between(0.04, 0.08))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount", 4, 2)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_Q6_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE YEAR(l_shipdate) = 1996 AND l_discount BETWEEN 0.04 AND 0.08 AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# JSON extraction from the events props column (semi-structured payloads — the
# shape of real event pipelines; stays JVM-side via get_json_object).
# ---------------------------------------------------------------------------
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


_JSON_ORACLE = """
SELECT event_type,
       COUNT(CAST(json_extract(props, '$.k') AS BIGINT)) AS n_with_k,
       SUM(CAST(json_extract(props, '$.k') AS BIGINT))::BIGINT AS sum_k,
       MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Window navigation: lag / lead / ntile over per-user event streams.
# ---------------------------------------------------------------------------
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return e.select(
        "user_id",
        "event_id",
        F.lag("event_type", 1).over(w).alias("prev_type"),
        F.lead("event_type", 1).over(w).alias("next_type"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        (F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)).alias("us_since_prev"),
    )


_LAG_LEAD_ORACLE = """
SELECT user_id, event_id,
       LAG(event_type, 1)  OVER w AS prev_type,
       LEAD(event_type, 1) OVER w AS next_type,
       NTILE(4) OVER w::BIGINT AS quartile,
       epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS us_since_prev
FROM events WHERE user_id < 10
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
"""


# ---------------------------------------------------------------------------
# CUBE over (region, segment): all four grouping combinations.
# ---------------------------------------------------------------------------
def cube_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    base = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return base.cube("r_name", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(_dec("c_acctbal")).cast("double").alias("sum_bal"),
    )


_CUBE_ORACLE = """
SELECT r_name, c_mktsegment, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY CUBE (r_name, c_mktsegment)
"""


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS: a hand-picked set list (not the cube/rollup
# closures) — (region, segment), (region), (segment). Uses the Spark 4
# DataFrame.groupingSets API directly.
# ---------------------------------------------------------------------------
def grouping_sets_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    base = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return base.groupingSets(
        [["r_name", "c_mktsegment"], ["r_name"], ["c_mktsegment"]],
        "r_name",
        "c_mktsegment",
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(_dec("c_acctbal")).cast("double").alias("sum_bal"),
    )


_GROUPING_SETS_ORACLE = """
SELECT r_name, c_mktsegment, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name, c_mktsegment), (r_name), (c_mktsegment))
"""


# ---------------------------------------------------------------------------
# RANGE-frame window: 7-day trailing spend per customer, ordered by epoch
# seconds (numeric RANGE frames are the portable form; Spark's range frame
# needs a numeric sort key, and DuckDB agrees on the same spelling).
# ---------------------------------------------------------------------------
_RANGE_7D = 7  # days; day-granular epoch key is timezone-proof in both engines


def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    epoch_days = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch_days)
        .rangeBetween(-_RANGE_7D, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .over(w)
        .cast("double")
        .alias("trailing_7d_spend"),
    )


_RANGE_FRAME_ORACLE = f"""
SELECT o_custkey, o_orderkey, STRFTIME(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
         PARTITION BY o_custkey
         ORDER BY date_diff('day', DATE '1970-01-01', o_orderdate::DATE)
         RANGE BETWEEN {_RANGE_7D} PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS trailing_7d_spend
FROM orders WHERE o_custkey < 100
"""


# ---------------------------------------------------------------------------
# Rank family: dense_rank / percent_rank / cume_dist (same rational formulas
# in both engines; ROUND 6 absorbs float-repr noise).
# ---------------------------------------------------------------------------
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 500)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.dense_rank().over(w).cast("long").alias("drank"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


_RANK_FAMILY_ORACLE = """
SELECT c_custkey, c_mktsegment,
       DENSE_RANK()   OVER w::BIGINT AS drank,
       ROUND(PERCENT_RANK() OVER w, 6) AS prank,
       ROUND(CUME_DIST()    OVER w, 6) AS cdist,
       NTILE(4) OVER w::BIGINT AS quartile
FROM customer WHERE c_custkey < 500
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
"""


# ---------------------------------------------------------------------------
# Explicit NULLS FIRST/LAST ordering: the engines' *defaults* disagree (Spark
# ASC puts nulls first, DuckDB last — arrow SortOptions parity is the
# reference's default, SURVEY §2.6), so portable queries must spell it out.
# ---------------------------------------------------------------------------
def order_nulls_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 200)
    flagged = c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") > 0, F.col("c_acctbal")).alias("pos_bal"),
    )
    return flagged.orderBy(
        F.col("pos_bal").desc_nulls_last(), F.col("c_custkey").asc()
    ).limit(150)


_ORDER_NULLS_ORACLE = """
SELECT c_custkey, CASE WHEN c_acctbal > 0 THEN c_acctbal END AS pos_bal
FROM customer WHERE c_custkey < 200
ORDER BY pos_bal DESC NULLS LAST, c_custkey ASC
LIMIT 150
"""


# ---------------------------------------------------------------------------
# Funnel conversion: per user, first signup → first purchase strictly after
# it, within a bounded window. Two tiny per-user aggregates and one join —
# no window over the full event stream. Classic product-analytics shape.
# ---------------------------------------------------------------------------
_FUNNEL_DAYS = 7


def funnel_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    signup = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    # the step predicate lives in the JOIN condition: a user whose purchases
    # are all <= signup_ts must survive null-extended (a post-join filter
    # would drop them from n_signup — latent divergence from the oracle's
    # LEFT JOIN ... ON, exposed only by data where it happens)
    purchase = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    conv = (
        signup.join(
            purchase,
            (F.col("user_id") == F.col("p_user")) & (F.col("p_ts") > F.col("signup_ts")),
            "left",
        )
        .groupBy("user_id", "signup_ts")
        .agg(F.min("p_ts").alias("first_purchase"))
    )
    hours = (
        (F.unix_timestamp("first_purchase") - F.unix_timestamp("signup_ts")) / 3600.0
    )
    return conv.select(
        F.count(F.lit(1)).cast("long").alias("n_signup"),
        F.count("first_purchase").cast("long").alias("n_purchased"),
        # otherwise(0), matching the oracle's ELSE 0: a signup cohort with
        # zero conversions yields 0, not NULL (the old cast-to-int form
        # summed only non-NULL hits — NULL on that degenerate slice; same
        # class as the ab_test_zscore fix, ADVICE r3). An EMPTY cohort is
        # NULL in both engines (bare SUM) — deliberately not coalesced.
        F.sum(F.when(hours <= _FUNNEL_DAYS * 24, 1).otherwise(0))
        .cast("long")
        .alias("n_converted_7d"),
        F.round(F.avg(F.when(hours <= _FUNNEL_DAYS * 24, hours)), 6).alias(
            "avg_hours_to_convert"
        ),
    )


_FUNNEL_ORACLE = f"""
WITH signup AS (
  SELECT user_id, MIN(ts) AS signup_ts FROM events WHERE event_type = 'signup' GROUP BY user_id
),
purchase AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
conv AS (
  SELECT s.user_id, s.signup_ts, MIN(p.ts) AS first_purchase
  FROM signup s LEFT JOIN purchase p
    ON s.user_id = p.user_id AND p.ts > s.signup_ts
  GROUP BY s.user_id, s.signup_ts
),
hrs AS (
  -- FLOOR before the cast: Spark's unix_timestamp truncates sub-second parts,
  -- DuckDB's epoch()::BIGINT would round
  SELECT *, (CAST(FLOOR(epoch(first_purchase)) AS BIGINT)
             - CAST(FLOOR(epoch(signup_ts)) AS BIGINT)) / 3600.0 AS h
  FROM conv
)
SELECT COUNT(*)::BIGINT AS n_signup,
       COUNT(first_purchase)::BIGINT AS n_purchased,
       SUM(CASE WHEN h <= {_FUNNEL_DAYS * 24} THEN 1 ELSE 0 END)::BIGINT AS n_converted_7d,
       ROUND(AVG(CASE WHEN h <= {_FUNNEL_DAYS * 24} THEN h END), 6) AS avg_hours_to_convert
FROM hrs
"""


# ---------------------------------------------------------------------------
# Cohort retention: cohort = user's first-activity week; count distinct users
# active k weeks after their cohort week. Two aggs + one join, all keyed —
# the standard retention matrix at any scale.
# ---------------------------------------------------------------------------
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts"))
    activity = e.select("user_id", week.alias("wk")).distinct()
    cohort = activity.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    joined = activity.join(cohort, "user_id").select(
        "user_id",
        F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
        F.floor(
            (F.unix_timestamp("wk") - F.unix_timestamp("cohort_wk")) / (7 * 86400)
        )
        .cast("long")
        .alias("week_offset"),
    )
    return joined.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("user_id").alias("n_users")
    )


_COHORT_ORACLE = """
WITH activity AS (
  SELECT DISTINCT user_id, DATE_TRUNC('week', ts) AS wk FROM events
),
cohort AS (SELECT user_id, MIN(wk) AS cohort_wk FROM activity GROUP BY user_id)
SELECT STRFTIME(c.cohort_wk, '%Y-%m-%d') AS cohort_week,
       CAST(FLOOR((epoch(a.wk)::BIGINT - epoch(c.cohort_wk)::BIGINT) / (7 * 86400)) AS BIGINT) AS week_offset,
       COUNT(DISTINCT a.user_id) AS n_users
FROM activity a JOIN cohort c USING (user_id)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Per-user EWMA of event values (time-series feature tier): a sequential
# recurrence (acc = 0.25*x + 0.75*acc, seeded with the first value) that no
# window frame expresses — computed as a FOLD over the time-ordered value
# list. Cross-engine determinism: both engines fold left in event order
# ((ts, event_id) is a total order), and 0.25/0.75 are exactly representable
# doubles, so the accumulation is bit-identical. At scale this is one shuffle
# on user_id and per-user state of one double — the same shape as
# a Python state fold's running aggregates, but fully declarative.
# ---------------------------------------------------------------------------


def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull()).select(
        "user_id", "ts", "event_id", "value"
    )
    grp = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sort_array(F.collect_list(F.struct("ts", "event_id", "value"))).alias("seq"),
    )
    ewma = F.expr(
        "round(aggregate(seq, cast(null as double), "
        "(acc, s) -> CASE WHEN acc IS NULL THEN s.value "
        "ELSE 0.25 * s.value + 0.75 * acc END), 6)"
    )
    return grp.select("user_id", "n_events", ewma.alias("ewma"))


_EWMA_ORACLE = """
SELECT user_id, COUNT(*)::BIGINT AS n_events,
       ROUND(list_reduce(list(value ORDER BY ts, event_id),
                         (acc, x) -> 0.25 * x + 0.75 * acc), 6) AS ewma
FROM events WHERE value IS NOT NULL GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Last-touch attribution (events-pipeline tier): every purchase is attributed
# to the user's most recent click/view within a 7-day lookback, else
# 'direct'; rollup of purchase counts + attributed value per touch type.
# One pass over each user's ordered stream: last(IGNORE NULLS) over the
# running frame finds the preceding touch without a self-join — at scale
# this is one shuffle on user_id, state bounded per user, vs the naive
# purchases x touches range join. Value totals go through DECIMAL (exact,
# partition-order-independent) per the suite convention.
# ---------------------------------------------------------------------------


def attributed_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-purchase attribution rows (user_id, event_id, touch, value) — the
    pre-rollup relation, exposed so the streaming twin's per-purchase output
    can be equality-compared row-for-row (tests/test_stateful_streaming.py)."""
    e = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type", "value")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_touch = F.col("event_type").isin("click", "view")
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.last(F.when(is_touch, F.col("ts")), ignorenulls=True).over(w).alias("touch_ts"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True).over(w).alias("touch_type"),
    )
    return marked.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        F.when(
            F.col("touch_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS"),
            F.col("touch_type"),
        )
        .otherwise(F.lit("direct"))
        .alias("touch"),
        "value",
    )


def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    purchases = attributed_purchases(spark, sf_dir)
    return purchases.groupBy("touch").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("attributed_value"),
    )


_ATTRIBUTION_ORACLE = """
WITH marked AS (
  SELECT user_id, ts, event_type, value,
         last_value(CASE WHEN event_type IN ('click', 'view') THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS touch_ts,
         last_value(CASE WHEN event_type IN ('click', 'view') THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS touch_type
  FROM events
),
purchases AS (
  SELECT CASE WHEN touch_ts >= ts - INTERVAL 7 DAY THEN touch_type ELSE 'direct' END AS touch,
         value
  FROM marked WHERE event_type = 'purchase'
)
SELECT touch, COUNT(*)::BIGINT AS n_purchases,
       (SUM(value::DECIMAL(18,6)))::DOUBLE AS attributed_value
FROM purchases GROUP BY touch
"""


# ---------------------------------------------------------------------------
# Gap-filled daily series with LOCF (last-observation-carried-forward): the
# time-series densification primitive (monitoring rollups, feature windows).
# Spine is per-user min..max day (no global spine skew); forward fill is one
# last(ignorenulls) window — a single user_id shuffle at any scale. Daily max
# is rounded BEFORE the fill so carried values are bit-identical copies.
# ---------------------------------------------------------------------------
def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id", F.to_date("ts").alias("d")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.max("value"), 6).alias("mx"),
    )
    bounds = daily.groupBy("user_id").agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    spine = bounds.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("d"),
    )
    j = spine.join(daily, ["user_id", "d"], "left")
    w = Window.partitionBy("user_id").orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return j.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
        F.when(F.col("n").isNull(), 1).otherwise(0).cast("long").alias("is_gap"),
        F.last("mx", ignorenulls=True).over(w).alias("value_filled"),
    )


_GAPFILL_ORACLE = """
WITH daily AS (
  SELECT user_id, ts::DATE AS d, count(*) AS n, round(max(value), 6) AS mx
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
spine AS (
  SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
  FROM bounds
)
SELECT s.user_id,
       strftime(s.d, '%Y-%m-%d') AS day,
       coalesce(n, 0)::BIGINT AS n_events,
       (CASE WHEN n IS NULL THEN 1 ELSE 0 END)::BIGINT AS is_gap,
       last_value(mx IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.d
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
FROM spine s LEFT JOIN daily USING (user_id, d)
"""

# ---------------------------------------------------------------------------
# Three-step sequential funnel with per-step conversion windows — the
# MATCH_RECOGNIZE-shaped question (view → click within 24 h → purchase
# within 72 h) answered with three min-after joins: each step keeps only the
# FIRST qualifying event after the previous step's timestamp, so the chain
# is deterministic and each join is keyed on user_id (one partitioning
# reused across all three steps at scale). Rates are integer ×10000 (exact
# double division + floor — no cross-engine rounding surface).
# ---------------------------------------------------------------------------
_FUNNEL3_STEP2_HOURS = 24
_FUNNEL3_STEP3_HOURS = 72


def funnel_three_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    # step predicates live in the JOIN condition (LEFT ... ON), never a
    # post-join filter: a user whose candidate events all miss the window
    # must survive as a null-extended row, not vanish from the funnel
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    c = (
        v.join(
            clicks,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("c_ts") > F.col("view_ts"))
            & (
                F.unix_timestamp("c_ts")
                <= F.unix_timestamp("view_ts") + _FUNNEL3_STEP2_HOURS * 3600
            ),
            "left",
        )
        .groupBy("user_id", "view_ts")
        .agg(F.min("c_ts").alias("click_ts"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    p = (
        c.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & F.col("click_ts").isNotNull()
            & (F.col("p_ts") > F.col("click_ts"))
            & (
                F.unix_timestamp("p_ts")
                <= F.unix_timestamp("click_ts") + _FUNNEL3_STEP3_HOURS * 3600
            ),
            "left",
        )
        .groupBy("user_id", "view_ts", "click_ts")
        .agg(F.min("p_ts").alias("purchase_ts"))
    )
    return p.agg(
        F.count(F.lit(1)).cast("long").alias("n_viewed"),
        F.count("click_ts").cast("long").alias("n_clicked"),
        F.count("purchase_ts").cast("long").alias("n_purchased"),
        F.floor(F.count("click_ts") * F.lit(10000.0) / F.count(F.lit(1)))
        .cast("long")
        .alias("click_rate_x10000"),
        F.floor(F.count("purchase_ts") * F.lit(10000.0) / F.count(F.lit(1)))
        .cast("long")
        .alias("purchase_rate_x10000"),
    )


_FUNNEL3_ORACLE = f"""
WITH v AS (
  SELECT user_id, MIN(ts) AS view_ts FROM events WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT v.user_id, v.view_ts, MIN(e.ts) AS click_ts
  FROM v LEFT JOIN events e
    ON e.user_id = v.user_id AND e.event_type = 'click'
   AND e.ts > v.view_ts
   AND CAST(FLOOR(epoch(e.ts)) AS BIGINT) <= CAST(FLOOR(epoch(v.view_ts)) AS BIGINT) + {_FUNNEL3_STEP2_HOURS} * 3600
  GROUP BY 1, 2
),
p AS (
  SELECT c.user_id, c.view_ts, c.click_ts, MIN(e.ts) AS purchase_ts
  FROM c LEFT JOIN events e
    ON e.user_id = c.user_id AND e.event_type = 'purchase'
   AND c.click_ts IS NOT NULL AND e.ts > c.click_ts
   AND CAST(FLOOR(epoch(e.ts)) AS BIGINT) <= CAST(FLOOR(epoch(c.click_ts)) AS BIGINT) + {_FUNNEL3_STEP3_HOURS} * 3600
  GROUP BY 1, 2, 3
)
SELECT COUNT(*)::BIGINT AS n_viewed,
       COUNT(click_ts)::BIGINT AS n_clicked,
       COUNT(purchase_ts)::BIGINT AS n_purchased,
       CAST(FLOOR(COUNT(click_ts) * 10000.0 / COUNT(*)) AS BIGINT) AS click_rate_x10000,
       CAST(FLOOR(COUNT(purchase_ts) * 10000.0 / COUNT(*)) AS BIGINT) AS purchase_rate_x10000
FROM p
"""

# ---------------------------------------------------------------------------
# Behavioral Markov transitions: the per-user event_type → next event_type
# transition counts and probabilities — the matrix behind "what do users do
# after an error?". One user-partitioned lead() window (the per-user event
# order is the only sort, never global) + one rollup over ≤ |types|² cells;
# probabilities are integer ×10000 (exact double division + floor).
# ---------------------------------------------------------------------------
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    pairs = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions")
    )
    wtot = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.floor(F.col("n_transitions") * F.lit(10000.0) / F.sum("n_transitions").over(wtot))
        .cast("long")
        .alias("prob_x10000"),
    )


_TRANSITIONS_ORACLE = """
WITH pairs AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, COUNT(*)::BIGINT AS n_transitions
  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n_transitions,
       CAST(FLOOR(n_transitions * 10000.0 / SUM(n_transitions) OVER (PARTITION BY from_type)) AS BIGINT) AS prob_x10000
FROM counts
"""


# ---------------------------------------------------------------------------
# Rolling active users (DAU / trailing-7-day WAU): the product-analytics
# staple whose hard part is that rolling COUNT(DISTINCT) does not decompose
# — a user active twice in the window must count once. Exact formulation:
# reduce to per-(day, user) grain first (the only big shuffle), then a
# day×day-spine range join re-counts distinct users per trailing window.
# The range join fans each (day, user) row out to ≤7 window rows — bounded
# by the window length, not the data. At 100 TB the (day, user) grain is
# the pre-aggregated activity table every warehouse already maintains.
# ---------------------------------------------------------------------------
_WAU_WINDOW_DAYS = 7


def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    du = e.select(F.to_date("ts").alias("day"), "user_id").distinct()
    days = du.select("day").distinct().select(F.col("day").alias("win_day"))
    joined = days.join(
        du,
        (F.col("day") <= F.col("win_day"))
        & (F.col("day") > F.date_sub(F.col("win_day"), _WAU_WINDOW_DAYS)),
    )
    wau = joined.groupBy("win_day").agg(
        F.countDistinct("user_id").cast("long").alias("wau")
    )
    dau = du.groupBy(F.col("day").alias("win_day")).agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    return (
        dau.join(wau, "win_day")
        .select(F.date_format("win_day", "yyyy-MM-dd").alias("day"), "dau", "wau")
    )


_ROLLING_AU_ORACLE = f"""
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
  FROM events WHERE user_id IS NOT NULL
),
days AS (SELECT DISTINCT day AS win_day FROM du),
wau AS (
  SELECT d.win_day, COUNT(DISTINCT u.user_id)::BIGINT AS wau
  FROM days d JOIN du u
    ON u.day <= d.win_day AND u.day > d.win_day - {_WAU_WINDOW_DAYS}
  GROUP BY 1
),
dau AS (SELECT day AS win_day, COUNT(*)::BIGINT AS dau FROM du GROUP BY 1)
SELECT STRFTIME(a.win_day, '%Y-%m-%d') AS day, a.dau, w.wau
FROM dau a JOIN wau w USING (win_day)
"""


# ---------------------------------------------------------------------------
# Sweep-line interval aggregation: how many orders are OPEN on each day
# (open = within 30 days of o_orderdate)? The naive day×order interval join
# explodes; the sweep-line form emits one +1 at the start and one -1 after
# the end per order, then a single cumulative sum over the date axis gives
# the backlog curve — O(n) events, one window pass, the classic algorithmic
# answer to interval-overlap counting at scale.
# ---------------------------------------------------------------------------
_BACKLOG_OPEN_DAYS = 30


def orders_backlog_sweepline(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    deltas = o.select(F.col("o_orderdate").alias("day"), F.lit(1).alias("delta")).unionByName(
        o.select(
            F.date_add(F.col("o_orderdate"), _BACKLOG_OPEN_DAYS).alias("day"),
            F.lit(-1).alias("delta"),
        )
    )
    per_day = deltas.groupBy("day").agg(F.sum("delta").alias("net"))
    # distributed cumulative sweep (r8): the former unpartitioned window was
    # safe (post-aggregate day-keyed rows) but exempt-listed in the plan
    # gate; ranks.global_cumsum runs the same running sum as parallel
    # range-partition passes + broadcast prefix offsets, so the gate's
    # no-global-sort-window rule now holds unconditionally suite-wide.
    from templatedb_spark.operators.ranks import global_cumsum

    curve = global_cumsum(
        per_day, [F.col("day").asc()], F.col("net"), cum_col="open_orders"
    )
    return curve.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("open_orders").cast("long").alias("open_orders"),
    )


_BACKLOG_ORACLE = f"""
WITH deltas AS (
  SELECT o_orderdate AS day, 1 AS delta FROM orders
  UNION ALL
  SELECT o_orderdate + INTERVAL {_BACKLOG_OPEN_DAYS} DAY, -1 FROM orders
),
per_day AS (SELECT day, SUM(delta) AS net FROM deltas GROUP BY 1)
SELECT STRFTIME(day, '%Y-%m-%d') AS day,
       CAST(SUM(net) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open_orders
FROM per_day
"""


# ---------------------------------------------------------------------------
# Revenue concentration (the Pareto question): how many of the top
# customers does it take to reach 50% / 80% / 95% of total revenue?
# Exact: per-customer DECIMAL revenue, then a DISTRIBUTED exact cumulative
# sum over (revenue desc, custkey tiebreak) — ranks.global_cumsum range-
# shuffles the customer aggregate, runs the running sum per range partition
# in parallel, and adds broadcast prefix-sum offsets; no single task ever
# holds the whole sorted relation. Thresholds compare exact DECIMAL
# cumsum × 100 against total × pct — integer-side arithmetic, no division —
# and all three pct counts come from ONE aggregate pass (stack unpivot)
# instead of three scans of the ranked relation.
# ---------------------------------------------------------------------------
def revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from templatedb_spark.operators.ranks import global_cumsum

    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("rev")
    )
    ranked = global_cumsum(
        per_cust,
        [F.col("rev").desc(), F.col("o_custkey").asc()],
        F.col("rev"),
        cum_col="cum_rev",
    ).crossJoin(
        F.broadcast(per_cust.agg(F.sum("rev").alias("total"), F.count(F.lit(1)).alias("n_cust")))
    )
    agg = ranked.agg(
        *[
            F.sum((F.col("cum_rev") * 100 < F.col("total") * pct).cast("int"))
            .cast("long")
            .alias(f"n_below_{pct}")
            for pct in (50, 80, 95)
        ],
        F.max("n_cust").cast("long").alias("n_customers"),
    )
    return agg.select(
        F.expr(
            "stack(3,"
            " CAST(50 AS BIGINT), n_below_50 + 1,"
            " CAST(80 AS BIGINT), n_below_80 + 1,"
            " CAST(95 AS BIGINT), n_below_95 + 1"
            ") AS (pct, n_top_customers)"
        ),
        "n_customers",
    )


_CONCENTRATION_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey, SUM(o_totalprice::DECIMAL(12,2)) AS rev FROM orders GROUP BY 1
),
ranked AS (
  SELECT o_custkey, rev,
         SUM(rev) OVER (ORDER BY rev DESC, o_custkey ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev,
         (SELECT SUM(rev) FROM per_cust) AS total,
         (SELECT COUNT(*) FROM per_cust) AS n_cust
  FROM per_cust
)
SELECT pct::BIGINT AS pct,
       (SUM(CASE WHEN cum_rev * 100 < total * pct THEN 1 ELSE 0 END) + 1)::BIGINT AS n_top_customers,
       MAX(n_cust)::BIGINT AS n_customers
FROM ranked, (VALUES (50), (80), (95)) t(pct)
GROUP BY pct
"""


# ---------------------------------------------------------------------------
# LISTAGG / string_agg surface: per-region sorted roster of nations plus a
# per-nation top-3 customer roster — ordered string aggregation is the one
# reporting primitive whose determinism people get wrong (collect_list has
# no order contract under shuffles). Here the list is array_sort'ed before
# joining, so the output is a pure function of the set — partition-proof.
# ---------------------------------------------------------------------------
def listagg_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    return (
        n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nations"),
            F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations"),
        )
    )


_LISTAGG_ORACLE = """
SELECT r.r_name,
       COUNT(*)::BIGINT AS n_nations,
       STRING_AGG(n.n_name, ',' ORDER BY n.n_name) AS nations
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""


# ---------------------------------------------------------------------------
# A/B-test significance (the experimentation primitive): units are
# (user, active-day) pairs split into two deterministic variants by hash
# parity; conversion = the unit had a purchase that day. (A per-USER
# conversion flag is degenerate on this data — every user eventually
# purchases, p = 1, and the z denominator hits exactly zero; found by the
# vanilla-session dress rehearsal under ANSI mode.) The two-proportion
# z-statistic comes out of exact integer counts as one double expression,
# GUARDED: if either variant is empty or the pooled rate is 0 or 1, z is
# NULL in both engines rather than a division by zero.
# ---------------------------------------------------------------------------
def ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    units = e.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("converted")
    )
    variants = units.select(
        ((F.col("user_id") + F.dayofmonth("day")) % 2).cast("long").alias("variant"),
        "converted",
    )
    counts = variants.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    a = counts.filter(F.col("variant") == 0).select(
        F.col("n_units").alias("n1"), F.col("n_converted").alias("c1")
    )
    b = counts.filter(F.col("variant") == 1).select(
        F.col("n_units").alias("n2"), F.col("n_converted").alias("c2")
    )
    j = a.crossJoin(b)
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    p1 = F.col("c1").cast("double") / n1
    p2 = F.col("c2").cast("double") / n2
    pooled = (F.col("c1") + F.col("c2")).cast("double") / (n1 + n2)
    z = (p1 - p2) / F.sqrt(pooled * (1 - pooled) * (1 / n1 + 1 / n2))
    z_guarded = F.when(
        (F.col("c1") + F.col("c2") > 0) & (F.col("c1") + F.col("c2") < F.col("n1") + F.col("n2")),
        F.floor(z * 1000).cast("long"),
    )
    return j.select(
        "n1",
        "c1",
        "n2",
        "c2",
        F.floor(p1 * 10000).cast("long").alias("rate1_x10000"),
        F.floor(p2 * 10000).cast("long").alias("rate2_x10000"),
        z_guarded.alias("z_x1000"),
    )


_ABTEST_ORACLE = """
WITH units AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
),
counts AS (
  SELECT ((user_id + EXTRACT(DAY FROM day)) % 2)::BIGINT AS variant,
         COUNT(*)::BIGINT AS n_units, SUM(converted)::BIGINT AS n_converted
  FROM units GROUP BY 1
),
j AS (
  SELECT a.n_units AS n1, a.n_converted AS c1, b.n_units AS n2, b.n_converted AS c2
  FROM (SELECT * FROM counts WHERE variant = 0) a
  CROSS JOIN (SELECT * FROM counts WHERE variant = 1) b
)
SELECT n1, c1, n2, c2,
       CAST(FLOOR(c1::DOUBLE / n1::DOUBLE * 10000) AS BIGINT) AS rate1_x10000,
       CAST(FLOOR(c2::DOUBLE / n2::DOUBLE * 10000) AS BIGINT) AS rate2_x10000,
       CASE WHEN c1 + c2 > 0 AND c1 + c2 < n1 + n2 THEN
         CAST(FLOOR((c1::DOUBLE / n1::DOUBLE - c2::DOUBLE / n2::DOUBLE)
              / SQRT(((c1 + c2)::DOUBLE / (n1::DOUBLE + n2::DOUBLE))
                     * (1 - (c1 + c2)::DOUBLE / (n1::DOUBLE + n2::DOUBLE))
                     * (1 / n1::DOUBLE + 1 / n2::DOUBLE)) * 1000) AS BIGINT)
       END AS z_x1000
FROM j
"""


# ---------------------------------------------------------------------------
# Market-basket association rules over sessions: baskets are (user, day)
# event-type sets; rules A→B get support / confidence / lift from exact
# basket counts. Pair generation is in-row expansion of each basket's
# sorted distinct item set (C(k,2) with k ≤ |event types| = 5), never a
# basket×basket join. Metrics emitted ×10^4/×10^3 integer (floor of exact
# double division).
# ---------------------------------------------------------------------------
def basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    baskets = e.select(
        "user_id", F.to_date("ts").alias("day"), "event_type"
    ).distinct()
    items = baskets.groupBy("user_id", "day").agg(
        F.array_sort(F.collect_set("event_type")).alias("items")
    )
    n_baskets = items.agg(F.count(F.lit(1)).cast("long").alias("nb"))
    item_counts = baskets.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_item")
    )
    pairs = items.select(
        F.explode(
            F.expr(
                "flatten(transform(items, (x, i) -> "
                "transform(slice(items, i + 2, size(items)), y -> struct(x AS a, y AS b))))"
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    pair_counts = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    ia = item_counts.select(F.col("event_type").alias("a"), F.col("n_item").alias("n_a"))
    ib = item_counts.select(F.col("event_type").alias("b"), F.col("n_item").alias("n_b"))
    scored = pair_counts.join(F.broadcast(ia), "a").join(F.broadcast(ib), "b").crossJoin(
        F.broadcast(n_baskets)
    )
    nb = F.col("nb").cast("double")
    return scored.select(
        "a",
        "b",
        "n_ab",
        F.floor(F.col("n_ab") * F.lit(10000.0) / nb).cast("long").alias("support_x10000"),
        F.floor(F.col("n_ab") * F.lit(10000.0) / F.col("n_a")).cast("long").alias("confidence_x10000"),
        F.floor(
            (F.col("n_ab").cast("double") * nb)
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            * 1000
        ).cast("long").alias("lift_x1000"),
    )


_BASKET_ORACLE = """
WITH baskets AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
  FROM events WHERE user_id IS NOT NULL
),
nb AS (SELECT COUNT(*)::BIGINT AS nb FROM (SELECT DISTINCT user_id, day FROM baskets)),
item_counts AS (SELECT event_type, COUNT(*)::BIGINT AS n_item FROM baskets GROUP BY 1),
pair_counts AS (
  SELECT x.event_type AS a, y.event_type AS b, COUNT(*)::BIGINT AS n_ab
  FROM baskets x JOIN baskets y
    ON x.user_id = y.user_id AND x.day = y.day AND x.event_type < y.event_type
  GROUP BY 1, 2
)
SELECT p.a, p.b, p.n_ab,
       CAST(FLOOR(p.n_ab * 10000.0 / nb.nb) AS BIGINT) AS support_x10000,
       CAST(FLOOR(p.n_ab * 10000.0 / ia.n_item) AS BIGINT) AS confidence_x10000,
       CAST(FLOOR(p.n_ab::DOUBLE * nb.nb::DOUBLE / (ia.n_item::DOUBLE * ib.n_item::DOUBLE) * 1000) AS BIGINT) AS lift_x1000
FROM pair_counts p
JOIN item_counts ia ON ia.event_type = p.a
JOIN item_counts ib ON ib.event_type = p.b
CROSS JOIN nb
"""


# ---------------------------------------------------------------------------
# Gini coefficient of customer revenue — the scalar inequality measure
# behind the Pareto curve above: G = 2·Σ(i·x_(i))/(n·Σx) − (n+1)/n over
# revenues sorted ascending. Both Σx and the rank-weighted Σ(i·x_(i))
# accumulate as exact DECIMALs, so the final G is a single double expression
# over exact inputs — ×10^6 integer. The rank i is a DISTRIBUTED exact
# row_number (ranks.global_row_number: range shuffle + local rank + broadcast
# prefix offsets), so no single task ever holds the sorted customer relation
# — at 100 TB that relation is hundreds of millions of rows.
# ---------------------------------------------------------------------------
def gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from templatedb_spark.operators.ranks import global_row_number

    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("rev")
    )
    ranked = global_row_number(
        per_cust, [F.col("rev").asc(), F.col("o_custkey").asc()], rank_col="i"
    ).select("rev", "i")
    sums = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rev").alias("sx"),
        F.sum(F.col("rev") * F.col("i")).alias("six"),
    )
    n = F.col("n").cast("double")
    g = (2.0 * F.col("six").cast("double")) / (n * F.col("sx").cast("double")) - (n + 1.0) / n
    return sums.select("n", F.floor(g * 1000000).cast("long").alias("gini_x1000000"))


_GINI_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey, SUM(o_totalprice::DECIMAL(12,2)) AS rev FROM orders GROUP BY 1
),
ranked AS (
  SELECT rev, ROW_NUMBER() OVER (ORDER BY rev ASC, o_custkey ASC)::BIGINT AS i
  FROM per_cust
),
sums AS (
  SELECT COUNT(*)::BIGINT AS n, SUM(rev) AS sx, SUM(rev * i) AS six FROM ranked
)
SELECT n,
       CAST(FLOOR(((2.0 * six::DOUBLE) / (n::DOUBLE * sx::DOUBLE)
                   - (n::DOUBLE + 1.0) / n::DOUBLE) * 1000000) AS BIGINT) AS gini_x1000000
FROM sums
"""


for spec in [
    QuerySpec("events_gapfill", events_gapfill, _GAPFILL_ORACLE, "per-user daily spine densification + LOCF forward fill"),
    QuerySpec("funnel_signup_purchase", funnel_signup_purchase, _FUNNEL_ORACLE, "signup→purchase funnel conversion within 7 days"),
    QuerySpec("cohort_retention", cohort_retention, _COHORT_ORACLE, "weekly cohort retention matrix"),
    QuerySpec("sessionize", sessionize, _SESSIONIZE_ORACLE, "gap-based sessionization (30 min)"),
    QuerySpec("window_range_frame", window_range_frame, _RANGE_FRAME_ORACLE, "7-day trailing RANGE frame"),
    QuerySpec("window_rank_family", window_rank_family, _RANK_FAMILY_ORACLE, "dense_rank/percent_rank/cume_dist"),
    QuerySpec("order_nulls_explicit", order_nulls_explicit, _ORDER_NULLS_ORACLE, "explicit NULLS LAST total order"),
    QuerySpec("window_lag_lead", window_lag_lead, _LAG_LEAD_ORACLE, "lag/lead/ntile navigation windows"),
    QuerySpec("cube_geo_segment", cube_customers, _CUBE_ORACLE, "CUBE over (region, segment)"),
    QuerySpec("grouping_sets_geo", grouping_sets_customers, _GROUPING_SETS_ORACLE, "explicit GROUPING SETS list"),
    QuerySpec("json_extract_props", json_extract_props, _JSON_ORACLE, "JSON extraction + rollup over semi-structured props"),
    QuerySpec("asof_last_purchase", asof_last_purchase, _ASOF_ORACLE, "as-of join via last(ignorenulls)"),
    QuerySpec("range_join_clicks", range_join_clicks_before_error, _RANGE_JOIN_ORACLE, "time-range self-join"),
    QuerySpec("semi_join", semi_join_customers_with_big_orders, _SEMI_ORACLE, "EXISTS → left semi join"),
    QuerySpec("anti_join", anti_join_customers_without_orders, _ANTI_ORACLE, "NOT EXISTS → left anti join"),
    QuerySpec("rollup_geo", rollup_customers_by_geo, _ROLLUP_ORACLE, "ROLLUP hierarchy with NULL indicator rows"),
    QuerySpec("events_pivot", events_pivot, _PIVOT_ORACLE, "portable pivot (conditional agg)"),
    QuerySpec("events_pivot_unpivot", events_pivot_unpivot, _PIVOT_UNPIVOT_ORACLE, "native pivot()/unpivot() roundtrip"),
    QuerySpec("stats_moments", stats_moments, _STATS_ORACLE, "exact avg/stddev from decimal power sums"),
    QuerySpec("correlated_scalar", correlated_scalar_above_nation_avg, _CORRELATED_ORACLE, "correlated scalar subquery (decorrelated form)"),
    QuerySpec("approx_distinct_users", approx_distinct_users, _APPROX_DISTINCT_ORACLE, "HLL approx distinct under a tolerance-verdict oracle (exact count + within_tol)"),
    QuerySpec("groupmap_regression", groupmap_regression, _GROUPMAP_ORACLE, "applyInPandas per-group OLS fit"),
    QuerySpec("q3_shipping_priority", q3_shipping_priority, _Q3_ORACLE, "TPC-H Q3 shape"),
    QuerySpec("q6_forecast_revenue", q6_forecast_revenue, _Q6_ORACLE, "TPC-H Q6 shape"),
    QuerySpec("events_ewma", events_ewma, _EWMA_ORACLE, "per-user EWMA via time-ordered fold (sequential recurrence)"),
    QuerySpec("attribution_last_touch", attribution_last_touch, _ATTRIBUTION_ORACLE, "last-touch purchase attribution with 7-day lookback"),
    QuerySpec("funnel_three_step", funnel_three_step, _FUNNEL3_ORACLE, "three-step sequential funnel with per-step conversion windows"),
    QuerySpec("event_transitions", event_transitions, _TRANSITIONS_ORACLE, "behavioral Markov transition matrix: per-user next-event counts + probabilities"),
    QuerySpec("rolling_active_users", rolling_active_users, _ROLLING_AU_ORACLE, "exact DAU + trailing-7-day WAU via (day,user)-grain range join"),
    QuerySpec("orders_backlog_sweepline", orders_backlog_sweepline, _BACKLOG_ORACLE, "sweep-line interval aggregation: open-orders-per-day curve from +1/-1 deltas"),
    QuerySpec("revenue_concentration", revenue_concentration, _CONCENTRATION_ORACLE, "Pareto revenue concentration: top-N customers to reach 50/80/95% of revenue"),
    QuerySpec("listagg_regions", listagg_regions, _LISTAGG_ORACLE, "ordered string aggregation (LISTAGG): partition-proof sorted rosters"),
    QuerySpec("ab_test_zscore", ab_test_zscore, _ABTEST_ORACLE, "two-proportion A/B z-test from exact counts (experimentation tier)"),
    QuerySpec("basket_rules", basket_rules, _BASKET_ORACLE, "market-basket association rules: support/confidence/lift via in-row pair expansion"),
    QuerySpec("gini_revenue", gini_revenue, _GINI_ORACLE, "exact Gini coefficient of customer revenue (rank-weighted DECIMAL sums)"),
]:
    register(spec)


# ---------------------------------------------------------------------------
# Pareto front / skyline (round 9): per return-flag group, the set of
# (price, quantity) points not dominated by any other point (dominator:
# price <= AND quantity >= with one strict). The naive formulation is the
# quadratic NOT-EXISTS self-join; the distributed algorithm here is the
# classic 2-D sweep that makes skylines tractable at 100 TB:
#
#   1. collapse equal prices to their best quantity (hash agg — after this,
#      dominance only flows from strictly-cheaper rows);
#   2. per group, sort by price ascending and take the running max of
#      quantity over all STRICTLY preceding rows; a row survives iff its
#      quantity exceeds that prefix max.
#
# One agg + one partitioned window over the collapsed (distinct-price)
# relation — no pair join anywhere. At extreme per-group cardinality the
# sorted sweep range-partitions by price and merges per-partition frontiers
# with broadcast prefix maxima (the operators/ranks.py two-pass shape).
# The oracle runs the IDENTICAL sweep in SQL (provably equivalent to the
# NOT-EXISTS definition on the collapsed points, and float-comparison-
# identical across engines since no arithmetic is performed on the values).
# ---------------------------------------------------------------------------
# distributed-sweep guard: below this lineitem byte size the classic window
# wins (measured r10 at sf0.1: window 1.55 s vs distributed sweep 2.25 s —
# the range shuffle + offset joins cost more than sorting 65k-row groups);
# above it, one-task-per-group becomes the straggler and the sweep takes
# over. Both paths are bit-identical (max is order-insensitive) and
# test-pinned equal.
_PARETO_SWEEP_MIN_BYTES = 100 << 20


def pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from templatedb_spark.operators.ranks import global_prefix_max
    from templatedb_spark.suite import input_bytes

    li = table(spark, sf_dir, "lineitem")
    best = li.groupBy(
        F.col("l_returnflag").alias("grp"),
        F.col("l_extendedprice").alias("price"),
    ).agg(F.max("l_quantity").alias("qty"))
    # directory-aware size (a parquet DIRECTORY's own stat is ~4 KB and
    # would misclassify a huge table as small — ADVICE r10)
    big = input_bytes(sf_dir, "lineitem") >= _PARETO_SWEEP_MIN_BYTES
    if big:
        swept = global_prefix_max(
            best, ["grp"], [F.col("price").asc()], F.col("qty")
        )
    else:
        w = (
            W.partitionBy("grp")
            .orderBy(F.col("price").asc())
            .rowsBetween(W.unboundedPreceding, -1)
        )
        swept = best.withColumn("prefix_max", F.max("qty").over(w))
    return swept.filter(
        F.col("prefix_max").isNull() | (F.col("qty") > F.col("prefix_max"))
    ).select("grp", "price", "qty")


_PARETO_ORACLE = """
WITH best AS (
  SELECT l_returnflag AS grp, l_extendedprice AS price,
         MAX(l_quantity) AS qty
  FROM lineitem GROUP BY 1, 2
),
swept AS (
  SELECT grp, price, qty,
         MAX(qty) OVER (PARTITION BY grp ORDER BY price ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prefix_max
  FROM best
)
SELECT grp, price, qty FROM swept
WHERE prefix_max IS NULL OR qty > prefix_max
"""

register(
    QuerySpec(
        "pareto_front",
        pareto_front,
        _PARETO_ORACLE,
        "Pareto front / 2-D skyline: price-collapse + per-group sorted prefix-max sweep (no pair join) vs the identical SQL sweep",
    )
)


# ---------------------------------------------------------------------------
# Linear multi-touch attribution (round 9): the companion to
# attribution_last_touch — every click/view in the 7 days BEFORE a purchase
# shares the credit equally (1/n per touch), purchases with no in-window
# touch credit 'direct'. Equal splitting is where float determinism usually
# dies (value/n summed in arbitrary partition order), so credit is computed
# in INTEGER micro-units: floor(value·1e6) DIV n — floor and integer
# division agree bit-for-bit across engines, sums are exact BIGINTs, and
# the rounding loss (< n micro-units per purchase) is part of the defined
# semantics on both sides.
#
# Scale: the touch↔purchase pairing is a per-user interval join (bounded by
# per-user activity, never corpus×corpus); the credit rollup is one hash
# agg. The same shape as range_join_clicks, which documents the at-scale
# bucketing for this join family.
# ---------------------------------------------------------------------------
def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("pid"),
        F.col("ts").alias("pts"),
        F.expr("cast(floor(value * 1000000) as bigint)").alias("micro"),
    )
    t = e.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("u"),
        F.col("ts").alias("tts"),
        F.col("event_type").alias("touch"),
    )
    # ONE materialization of the events⋈events range join (its three
    # consumers — per-pid counts, credit split, direct anti-join — each
    # re-ran it before), and the j⋈agg(j) self-join becomes a partitioned
    # count window: count(*) over (partition by pid) == n_t exactly, one
    # shuffle instead of agg + join + recompute (guide §2.1/§3; r10).
    from pyspark.sql.window import Window as W

    j = (
        p.join(t, "u")
        .filter(
            (F.col("tts") < F.col("pts"))
            & (F.col("tts") >= F.col("pts") - F.expr("INTERVAL 7 DAY"))
        )
        .select("pid", "micro", "touch")
        .localCheckpoint(eager=False)
    )
    credited = j.withColumn(
        "n_t", F.count(F.lit(1)).over(W.partitionBy("pid"))
    ).select("touch", "pid", F.expr("micro div n_t").alias("cr"))
    direct = (
        p.join(j.select("pid"), "pid", "left_anti")
        .select(F.lit("direct").alias("touch"), "pid", F.col("micro").alias("cr"))
    )
    return credited.unionByName(direct).groupBy("touch").agg(
        F.count(F.lit(1)).cast("long").alias("n_credits"),
        F.countDistinct("pid").cast("long").alias("n_purchases"),
        F.sum("cr").cast("long").alias("attributed_micros"),
    )


_ATTRIBUTION_LINEAR_ORACLE = """
WITH p AS (
  SELECT user_id AS u, event_id AS pid, ts AS pts,
         CAST(FLOOR(value * 1000000) AS BIGINT) AS micro
  FROM events WHERE event_type = 'purchase'
),
t AS (
  SELECT user_id AS u, ts AS tts, event_type AS touch
  FROM events WHERE event_type IN ('click', 'view')
),
j AS (
  SELECT p.pid, p.micro, t.touch
  FROM p JOIN t ON p.u = t.u
   AND t.tts < p.pts AND t.tts >= p.pts - INTERVAL 7 DAY
),
n AS (SELECT pid, COUNT(*) AS n_t FROM j GROUP BY pid),
credits AS (
  SELECT j.touch, j.pid, j.micro // n.n_t AS cr FROM j JOIN n USING (pid)
  UNION ALL
  SELECT 'direct', p.pid, p.micro FROM p
  WHERE pid NOT IN (SELECT pid FROM n)
)
SELECT touch, COUNT(*)::BIGINT AS n_credits,
       COUNT(DISTINCT pid)::BIGINT AS n_purchases,
       SUM(cr)::BIGINT AS attributed_micros
FROM credits GROUP BY touch
"""

register(
    QuerySpec(
        "attribution_linear",
        attribution_linear,
        _ATTRIBUTION_LINEAR_ORACLE,
        "linear multi-touch attribution: 7-day window interval join, equal credit split in exact integer micro-units (floor + DIV — no float accumulation)",
    )
)


# ---------------------------------------------------------------------------
# Weight of Evidence / Information Value (round 10): the classic
# feature-selection statistic for a categorical predictor against a binary
# target — here c_mktsegment predicting "order is 1-URGENT". WOE_s =
# ln((good_s/good_tot)/(bad_s/bad_tot)); IV = Σ_s (g_pct - b_pct)·WOE_s.
# A training pipeline runs this over every candidate feature to rank them
# before model fitting.
#
# Determinism: all inputs are exact integer counts; the only floats are the
# final divisions and ln, computed identically from identical integers on
# both engines (10-significant-digit compare). Totals join as a broadcast of
# a 1-row aggregate — no global window, no second scan of the fact table
# (the segment rollup is reused for the totals via a second small agg over
# the 5-row intermediate).
#
# Scale: one shuffle on c_mktsegment for the rollup; the totals aggregate
# and the IV sum run over |segments| rows. At 100 TB this is a map-side
# partial agg into a 5-row reduce — the cheapest possible shape.
# ---------------------------------------------------------------------------
def woe_iv_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    seg = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.sum(
                F.when(F.col("o_orderpriority").startswith("1-"), 1).otherwise(0)
            ).cast("long").alias("n_good"),
            F.sum(
                F.when(F.col("o_orderpriority").startswith("1-"), 0).otherwise(1)
            ).cast("long").alias("n_bad"),
        )
    )
    # WOE is undefined for a segment with zero goods or zero bads (ln(0) /
    # division by zero — and Spark's Infinity vs DuckDB's NULL-on-zero-div
    # semantics would diverge, ADVICE r7). Standard practice drops (or
    # count-adjusts) such segments; we drop, on BOTH engines, and the totals
    # are computed over the KEPT segments so pct_good/pct_bad still sum to 1.
    seg = seg.filter((F.col("n_good") > 0) & (F.col("n_bad") > 0))
    tot = seg.agg(
        F.sum("n_good").alias("g_tot"), F.sum("n_bad").alias("b_tot")
    )
    scored = seg.crossJoin(F.broadcast(tot)).select(
        "c_mktsegment",
        "n_good",
        "n_bad",
        (F.col("n_good") / F.col("g_tot")).alias("pct_good"),
        (F.col("n_bad") / F.col("b_tot")).alias("pct_bad"),
        F.log(
            (F.col("n_good") / F.col("g_tot")) / (F.col("n_bad") / F.col("b_tot"))
        ).alias("woe"),
    )
    iv = scored.agg(
        F.sum(
            (F.col("pct_good") - F.col("pct_bad")) * F.col("woe")
        ).alias("iv")
    )
    return scored.crossJoin(F.broadcast(iv))


_WOE_IV_ORACLE = """
WITH seg AS (
  SELECT c.c_mktsegment,
         SUM(CASE WHEN o.o_orderpriority LIKE '1-%' THEN 1 ELSE 0 END)::BIGINT AS n_good,
         SUM(CASE WHEN o.o_orderpriority LIKE '1-%' THEN 0 ELSE 1 END)::BIGINT AS n_bad
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1
),
kept AS (SELECT * FROM seg WHERE n_good > 0 AND n_bad > 0),
tot AS (SELECT SUM(n_good) AS g_tot, SUM(n_bad) AS b_tot FROM kept),
scored AS (
  SELECT c_mktsegment, n_good, n_bad,
         n_good / g_tot AS pct_good,
         n_bad / b_tot AS pct_bad,
         ln((n_good / g_tot) / (n_bad / b_tot)) AS woe
  FROM kept, tot
)
SELECT s.*, iv.iv
FROM scored s, (SELECT SUM((pct_good - pct_bad) * woe) AS iv FROM scored) iv
"""

register(
    QuerySpec(
        "woe_iv_segment",
        woe_iv_segment,
        _WOE_IV_ORACLE,
        "Weight-of-Evidence / Information-Value feature scoring: exact integer counts, broadcast totals, ln only at the surface",
    )
)


# ---------------------------------------------------------------------------
# Decile lift / gains table (round 10): the standard model-eval artifact —
# rank users by a score (here: exact DECIMAL click spend), cut into 10 equal
# global deciles, and report per-decile response rate plus cumulative lift
# over the base rate. The global ranking runs on operators.ranks'
# distributed row_number (range shuffle + broadcast prefix offsets — never a
# single-task window), with the decile cut as the explicit integer formula
# floor((i-1)*10/n)+1 so both engines agree bit-for-bit; cumulative sums
# over the 10-row decile aggregate are a broadcast theta-join, not a window.
# Ties in spend are broken by user_id, so the ranking is total on both
# sides. All rates divide exact BIGINTs.
# ---------------------------------------------------------------------------
_LIFT_K = 10


def decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from templatedb_spark.operators.ranks import global_row_number

    e = table(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "click",
                    F.col("value").cast("decimal(18,6)"),
                )
            ),
            F.lit(0).cast("decimal(18,6)"),
        ).alias("spend"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("long").alias("resp"),
    )
    n_tot = users.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("resp").cast("long").alias("r"),
    )
    ranked = global_row_number(
        users, [F.col("spend").desc(), F.col("user_id").asc()], rank_col="i"
    )
    dec = (
        ranked.crossJoin(F.broadcast(n_tot))
        .withColumn(
            "decile",
            (F.floor((F.col("i") - 1) * _LIFT_K / F.col("n")) + 1).cast("long"),
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("resp").cast("long").alias("n_resp"),
        )
    )
    a, b = dec.alias("a"), dec.alias("b")
    cums = (
        a.join(F.broadcast(b), F.col("b.decile") <= F.col("a.decile"))
        .groupBy(F.col("a.decile").alias("decile"))
        .agg(
            F.max("a.n_users").alias("n_users"),
            F.max("a.n_resp").alias("n_resp"),
            F.sum("b.n_users").alias("cum_users"),
            F.sum("b.n_resp").alias("cum_resp"),
        )
    )
    return cums.crossJoin(F.broadcast(n_tot)).select(
        "decile",
        "n_users",
        "n_resp",
        (F.col("n_resp") / F.col("n_users")).alias("resp_rate"),
        (
            (F.col("cum_resp") / F.col("cum_users"))
            / (F.col("r") / F.col("n"))
        ).alias("cum_lift"),
    )


_DECILE_LIFT_ORACLE = f"""
WITH users AS (
  SELECT user_id,
         COALESCE(SUM(CASE WHEN event_type = 'click'
                           THEN CAST(value AS DECIMAL(18,6)) END),
                  0) AS spend,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS resp
  FROM events GROUP BY user_id
),
tot AS (SELECT COUNT(*)::BIGINT AS n, SUM(resp)::BIGINT AS r FROM users),
ranked AS (
  SELECT resp,
         ROW_NUMBER() OVER (ORDER BY spend DESC, user_id ASC) AS i
  FROM users
),
dec AS (
  SELECT (FLOOR((i - 1) * {_LIFT_K} / n) + 1)::BIGINT AS decile,
         COUNT(*)::BIGINT AS n_users, SUM(resp)::BIGINT AS n_resp
  FROM ranked, tot GROUP BY 1
),
cums AS (
  SELECT a.decile, MAX(a.n_users) AS n_users, MAX(a.n_resp) AS n_resp,
         SUM(b.n_users) AS cum_users, SUM(b.n_resp) AS cum_resp
  FROM dec a JOIN dec b ON b.decile <= a.decile
  GROUP BY a.decile
)
SELECT decile, n_users, n_resp,
       n_resp / n_users AS resp_rate,
       (cum_resp / cum_users) / (r::DOUBLE / n::DOUBLE) AS cum_lift
FROM cums, tot
"""

register(
    QuerySpec(
        "decile_lift",
        decile_lift,
        _DECILE_LIFT_ORACLE,
        "decile lift / gains table: distributed global ranking (ranks.global_row_number), explicit integer decile cut, theta-join cumulatives",
    )
)
