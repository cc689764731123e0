"""Relational operator suite — parity with the reference's v1/v2 SQL surface.

Each QuerySpec covers one row of SURVEY.md §2's inventory, implemented with the
DataFrame API (Catalyst picks the physical strategy) and paired with its DuckDB
oracle. Reference citations per query point at the Rust code whose *semantics*
(not implementation) the query reproduces.

Scale notes (100 TB design stance, verified against .explain on the local plans):
- Aggregations are partial+final hash aggregates (map-side combine) — the
  reference's single-process HashAggExecutor (executor/aggregate/hash_agg.rs)
  becomes a two-phase distributed agg for free.
- Dimension joins (region/nation/supplier/part) broadcast — fact-table scans
  never shuffle for them. Fact-fact joins (orders⋈lineitem, customer⋈orders)
  sort-merge on the join key; AQE handles skew.
- Money aggregates go through DECIMAL: exact and order-independent, so results
  are stable under any partitioning (a float sum would differ run-to-run at
  1000 executors).
- Every LIMIT has a total ORDER BY (nondeterministic LIMIT is a correctness bug
  in a distributed engine, even though the single-threaded reference tolerates it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from templatedb_spark.suite import QuerySpec, _dec, register, table


# ---------------------------------------------------------------------------
# Aggregation: GROUP BY + sum/min/max/count + filter + order
# reference: executor/aggregate/hash_agg.rs:32-167 (HashAggExecutor),
#            executor/aggregate/{sum,min_max,count}.rs, executor/filter.rs,
#            executor/order.rs
# ---------------------------------------------------------------------------
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    disc = F.lit(1).cast("decimal(4,2)") - _dec("l_discount", 4, 2)
    charge = F.lit(1).cast("decimal(4,2)") + _dec("l_tax", 4, 2)
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(_dec("l_extendedprice") * disc).cast("double").alias("sum_disc_price"),
            F.sum(_dec("l_extendedprice") * disc * charge).cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Projection + filter + per-row expression arithmetic
# reference: executor/project.rs:11-29, executor/filter.rs:13-27,
#            executor/evaluator.rs:11-62 (InputRef/Constant/BinaryOp/TypeCast)
# ---------------------------------------------------------------------------
def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    return (
        l.filter((F.col("l_quantity") > 45) & (F.col("l_discount") >= 0.05))
        .select(
            F.col("l_orderkey").cast("long").alias("l_orderkey"),
            F.col("l_linenumber").cast("long").alias("l_linenumber"),
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("revenue"),
            (F.col("l_quantity") + F.lit(10.0)).alias("qty_plus_ten"),
        )
    )


_FILTER_PROJECT_ORACLE = """
SELECT l_orderkey::BIGINT AS l_orderkey, l_linenumber::BIGINT AS l_linenumber,
       l_extendedprice * (1.0 - l_discount) AS revenue,
       l_quantity + 10.0 AS qty_plus_ten
FROM lineitem WHERE l_quantity > 45 AND l_discount >= 0.05
"""


# ---------------------------------------------------------------------------
# Inner equi-join + non-equi residual filter
# reference: executor/join/hash_join.rs:16-755 (Inner arm, `filter` residual);
#            equi-key extraction binder/table/join.rs:115-224
# Spark note: the reference's hash join matches on row-hash only (unsound,
# hash_join.rs:226-229 TODO); Spark compares true key equality — we keep the
# correct behavior (SURVEY.md §7 risk 3).
# ---------------------------------------------------------------------------
def q_join_inner_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        o.join(c, (o.o_custkey == c.c_custkey) & (o.o_totalprice > c.c_acctbal * 40), "inner")
        .select(
            "o_orderkey",
            "c_custkey",
            F.col("o_totalprice").alias("o_totalprice"),
            F.col("c_acctbal").alias("c_acctbal"),
        )
    )


_JOIN_INNER_ORACLE = """
SELECT o_orderkey, c_custkey, o_totalprice, c_acctbal
FROM orders JOIN customer ON o_custkey = c_custkey AND o_totalprice > c_acctbal * 40
"""


# ---------------------------------------------------------------------------
# Left outer join with NULL padding
# reference: hash_join.rs Left arm (visited_left_side bitmap → unmatched rows)
# ---------------------------------------------------------------------------
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "o_orderkey", "o_totalprice"
    )


_JOIN_LEFT_ORACLE = """
SELECT c_custkey, o_orderkey, o_totalprice
FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
ON c_custkey = o_custkey
"""


# ---------------------------------------------------------------------------
# Right outer join
# reference: hash_join.rs Right arm (null-padded left for unmatched probe rows)
# ---------------------------------------------------------------------------
def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 9000)
    n = table(spark, sf_dir, "nation")
    return s.join(n, s.s_nationkey == n.n_nationkey, "right").select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        "n_name",
        "s_suppkey",
        "s_acctbal",
    )


_JOIN_RIGHT_ORACLE = """
SELECT n_nationkey::BIGINT AS n_nationkey, n_name, s_suppkey, s_acctbal
FROM (SELECT * FROM supplier WHERE s_acctbal > 9000) s RIGHT JOIN nation
ON s_nationkey = n_nationkey
"""


# ---------------------------------------------------------------------------
# Full outer join
# reference: hash_join.rs Full arm (both-side padding)
# ---------------------------------------------------------------------------
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation").filter(F.col("n_regionkey") <= 1).select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"), "n_name"
    )
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_nationkey").cast("long").alias("cust_nationkey"))
        .distinct()
    )
    return n.join(c, n.n_nationkey == c.cust_nationkey, "full").select(
        "n_nationkey", "n_name", "cust_nationkey"
    )


_JOIN_FULL_ORACLE = """
SELECT n_nationkey, n_name, cust_nationkey
FROM (SELECT n_nationkey::BIGINT AS n_nationkey, n_name FROM nation WHERE n_regionkey <= 1) n
FULL JOIN (SELECT DISTINCT c_nationkey::BIGINT AS cust_nationkey FROM customer WHERE c_acctbal > 9000) c
ON n.n_nationkey = c.cust_nationkey
"""


# ---------------------------------------------------------------------------
# Cross join (reference: executor/join/cross_join.rs:16-65; FROM t1, t2
# merged to cross join, binder/statement/mod.rs:38-58)
# ---------------------------------------------------------------------------
def q_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    r1 = table(spark, sf_dir, "region").select(F.col("r_name").alias("name1"))
    r2 = table(spark, sf_dir, "region").select(F.col("r_name").alias("name2"))
    return r1.crossJoin(r2)


_CROSS_JOIN_ORACLE = """
SELECT r1.r_name AS name1, r2.r_name AS name2 FROM region r1, region r2
"""


# ---------------------------------------------------------------------------
# Multi-way left-deep join tree (TPC-H Q5 shape)
# reference: binder/table/mod.rs bind_table_with_joins (left-deep), 3-way joins
# in tests/slt/join.slt:85-120.
# Scale: nation/region broadcast; customer⋈orders⋈lineitem⋈supplier sort-merge
# on their keys with AQE skew handling.
# ---------------------------------------------------------------------------
def q_multi_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(4,2)") - _dec("l_discount", 4, 2))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(s, (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name").isin("AMERICA", "ASIA"))
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


_MULTI_JOIN_ORACLE = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name IN ('AMERICA', 'ASIA')
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# ---------------------------------------------------------------------------
# SELECT DISTINCT (reference: rewritten to agg-on-select-list,
# planner_test/select.rs:29-32; tests/slt/distinct.slt)
# ---------------------------------------------------------------------------
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    return c.select("c_mktsegment", F.col("c_nationkey").cast("long").alias("c_nationkey")).distinct()


_DISTINCT_ORACLE = """
SELECT DISTINCT c_mktsegment, c_nationkey::BIGINT AS c_nationkey FROM customer
"""


# ---------------------------------------------------------------------------
# ORDER BY + LIMIT + OFFSET (reference: executor/order.rs:14-67 full
# materialized sort; executor/limit.rs:11-80 streaming limit+offset).
# Spark: distributed sort + `TakeOrderedAndProject`; total order via unique key.
# ---------------------------------------------------------------------------
def q_order_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .offset(10)
        .limit(20)
    )


_ORDER_LIMIT_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20 OFFSET 10
"""


# ---------------------------------------------------------------------------
# Scalar subquery — implemented as the reference does: uncorrelated scalar
# subquery rewritten to a cross join against a 1-row aggregate
# (reference: binder/table/subquery.rs:99-167, alias subquery_N_scalar_v0).
# On Spark the broadcast of the 1-row side makes this shuffle-free.
# ---------------------------------------------------------------------------
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    avg_bal = c.agg(F.avg("c_acctbal").alias("avg_bal"))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal") * 1.9)
        .select("c_custkey", "c_name", "c_acctbal")
    )


_SCALAR_SUBQUERY_ORACLE = """
SELECT c_custkey, c_name, c_acctbal FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer) * 1.9
"""


# ---------------------------------------------------------------------------
# Derived table (subquery in FROM with mandatory alias)
# reference: binder/table/subquery.rs:16-59; tests/slt/subquery.slt
# ---------------------------------------------------------------------------
def q_derived_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    # avg via DECIMAL sum / count: float avg is summation-order-dependent and
    # differs across engines (and across partitionings at scale); decimal is exact.
    per_nation = (
        c.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("avg_bal"),
        )
        .alias("t")
    )
    return (
        per_nation.join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .filter(F.col("n_customers") > 5)
        .select("n_name", "n_customers", F.round(F.col("avg_bal"), 6).alias("avg_bal"))
    )


_DERIVED_TABLE_ORACLE = """
SELECT n_name, n_customers, ROUND(avg_bal, 6) AS avg_bal
FROM (SELECT c_nationkey, COUNT(*) AS n_customers,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_bal
      FROM customer GROUP BY c_nationkey) t
JOIN nation ON t.c_nationkey = n_nationkey
WHERE n_customers > 5
"""


# ---------------------------------------------------------------------------
# DISTINCT aggregates (reference: count.rs DistinctCount HashSet accumulator,
# sum.rs DistinctSum; binder agg_func.rs `distinct` flag)
# ---------------------------------------------------------------------------
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.sum_distinct(F.col("o_custkey")).cast("long").alias("sum_distinct_custkey"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
    )


_AGG_DISTINCT_ORACLE = """
SELECT COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers,
       SUM(DISTINCT o_custkey)::BIGINT AS sum_distinct_custkey,
       COUNT(DISTINCT o_orderpriority) AS n_priorities
FROM orders
"""


# ---------------------------------------------------------------------------
# Global aggregation, no GROUP BY (reference: simple_agg.rs:25-65 SimpleAgg,
# incl. min/max over strings — min_max.rs:32-62 min_string/max_string)
# ---------------------------------------------------------------------------
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    return l.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.min("l_returnflag").alias("min_flag"),  # string min/max parity
        F.max("l_returnflag").alias("max_flag"),
    )


_AGG_GLOBAL_ORACLE = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
       MIN(l_returnflag) AS min_flag, MAX(l_returnflag) AS max_flag
FROM lineitem
"""


# ---------------------------------------------------------------------------
# NULL group semantics: NULLs form one group; aggregates skip NULL inputs
# (reference: tests/slt/aggregation.slt:22-33; arrow kernels skip nulls)
# ---------------------------------------------------------------------------
def q_agg_null_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.withColumn("prio", F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")))
        .groupBy("prio")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("prio").alias("n_nonnull"),  # count(col) skips NULLs
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        )
    )


_AGG_NULL_GROUPS_ORACLE = """
SELECT NULLIF(o_orderpriority, '1-URGENT') AS prio,
       COUNT(*) AS n_rows,
       COUNT(NULLIF(o_orderpriority, '1-URGENT')) AS n_nonnull,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY NULLIF(o_orderpriority, '1-URGENT')
"""


# ---------------------------------------------------------------------------
# HAVING (not in the reference — binder lacks the arm, SURVEY.md §2.4;
# Spark-gained capability, graded as extension)
# ---------------------------------------------------------------------------
def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    return (
        l.groupBy(F.col("l_suppkey").cast("long").alias("l_suppkey"))
        .agg(F.count(F.lit(1)).alias("n_items"), F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"))
        .filter(F.col("n_items") > 600)
    )


_HAVING_ORACLE = """
SELECT l_suppkey::BIGINT AS l_suppkey, COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY l_suppkey HAVING COUNT(*) > 600
"""


# ---------------------------------------------------------------------------
# CASE / IN / BETWEEN / LIKE (reference lacks them — binder todo!(),
# binder/expression/mod.rs:165; Spark-gained extension tier)
# ---------------------------------------------------------------------------
def q_case_in_between_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.filter(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            & F.col("o_totalprice").between(100000, 300000)
            & F.col("o_orderstatus").like("%O%")
        )
        .select(
            "o_orderkey",
            F.when(F.col("o_totalprice") > 200000, F.lit("big"))
            .when(F.col("o_totalprice") > 150000, F.lit("mid"))
            .otherwise(F.lit("small"))
            .alias("size_class"),
            "o_totalprice",
        )
    )


_CASE_ORACLE = """
SELECT o_orderkey,
       CASE WHEN o_totalprice > 200000 THEN 'big'
            WHEN o_totalprice > 150000 THEN 'mid'
            ELSE 'small' END AS size_class,
       o_totalprice
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
  AND o_totalprice BETWEEN 100000 AND 300000
  AND o_orderstatus LIKE '%O%'
"""


# ---------------------------------------------------------------------------
# String functions (reference lacks them — extension tier, SURVEY.md §2.8)
# ---------------------------------------------------------------------------
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") <= 100).select(
        "c_custkey",
        F.upper("c_name").alias("upper_name"),
        F.lower("c_mktsegment").alias("lower_seg"),
        F.substring(F.col("c_name"), 1, 8).alias("name_prefix"),
        F.concat_ws("-", "c_mktsegment", "c_name").alias("seg_name"),
        F.length("c_name").cast("long").alias("name_len"),
        F.trim(F.col("c_name")).alias("trimmed"),
        F.regexp_replace("c_name", "[0-9]+", "#").alias("digits_masked"),
        F.replace(F.col("c_mktsegment"), F.lit("MENT"), F.lit("_")).alias("seg_replaced"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("key_padded"),
        F.instr(F.col("c_name"), "0").cast("long").alias("zero_pos"),
        F.reverse(F.col("c_mktsegment")).alias("seg_rev"),
        F.levenshtein(F.col("c_mktsegment"), F.lit("BUILDING")).cast("long").alias("seg_dist"),
    )


_STRING_FUNCS_ORACLE = """
SELECT c_custkey,
       UPPER(c_name) AS upper_name,
       LOWER(c_mktsegment) AS lower_seg,
       SUBSTR(c_name, 1, 8) AS name_prefix,
       CONCAT_WS('-', c_mktsegment, c_name) AS seg_name,
       LENGTH(c_name)::BIGINT AS name_len,
       TRIM(c_name) AS trimmed,
       REGEXP_REPLACE(c_name, '[0-9]+', '#', 'g') AS digits_masked,
       REPLACE(c_mktsegment, 'MENT', '_') AS seg_replaced,
       LPAD(c_custkey::VARCHAR, 8, '0') AS key_padded,
       STRPOS(c_name, '0')::BIGINT AS zero_pos,
       REVERSE(c_mktsegment) AS seg_rev,
       LEVENSHTEIN(c_mktsegment, 'BUILDING')::BIGINT AS seg_dist
FROM customer WHERE c_custkey <= 100
"""


# ---------------------------------------------------------------------------
# Date/interval arithmetic + extraction (reference: date ± interval overloads,
# function/scalar/arithmetic_function.rs date_add_interval_func; tests/slt/time.slt)
# ---------------------------------------------------------------------------
def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") <= 500).select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("order_day"),
        # dates rendered as strings: date-vs-midnight-timestamp is ambiguous
        # across engines/pandas, strings are not
        F.date_format(F.col("o_orderdate") + F.expr("INTERVAL 1 MONTH"), "yyyy-MM-dd").alias("plus_month"),
        F.date_format(F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"), "yyyy-MM-dd").alias("plus_90d"),
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd").alias("month_start"),
    )


_DATE_FUNCS_ORACLE = """
SELECT o_orderkey,
       YEAR(o_orderdate)::BIGINT AS order_year,
       MONTH(o_orderdate)::BIGINT AS order_month,
       DAY(o_orderdate)::BIGINT AS order_day,
       STRFTIME(o_orderdate + INTERVAL 1 MONTH, '%Y-%m-%d') AS plus_month,
       STRFTIME(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d') AS plus_90d,
       STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m-%d') AS month_start
FROM orders WHERE o_orderkey <= 500
"""


# ---------------------------------------------------------------------------
# Window functions: rank per partition (reference has none — SURVEY.md §2.5;
# extension tier). Deterministic tie-break via unique key.
# ---------------------------------------------------------------------------
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
            F.rank().over(w).cast("long").alias("rnk"),
        )
        .filter(F.col("rn") <= 3)
    )


_WINDOW_RANK_ORACLE = """
SELECT * FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC)::BIGINT AS rn,
         RANK()       OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC)::BIGINT AS rnk
  FROM orders
) WHERE rn <= 3
"""


# ---------------------------------------------------------------------------
# Window: running aggregate over event time (extension; also the batch shape of
# the streaming rollup in streaming/events.py)
# ---------------------------------------------------------------------------
def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 2).alias("running_value"),
        F.count(F.lit(1)).over(w).alias("running_events"),
    )


_WINDOW_RUNNING_ORACLE = """
SELECT user_id, event_id,
       ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value,
       COUNT(*) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_events
FROM events WHERE user_id < 20
"""


# ---------------------------------------------------------------------------
# Set operations: UNION / INTERSECT / EXCEPT (reference: todo!() —
# SURVEY.md §2.7; extension tier)
# ---------------------------------------------------------------------------
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    rich_cust = c.filter(F.col("c_acctbal") > 9900).select(
        F.col("c_nationkey").cast("long").alias("nationkey")
    )
    rich_supp = s.filter(F.col("s_acctbal") > 9900).select(
        F.col("s_nationkey").cast("long").alias("nationkey")
    )
    unioned = rich_cust.union(rich_supp).distinct().withColumn("src", F.lit("union"))
    inter = rich_cust.intersect(rich_supp).withColumn("src", F.lit("intersect"))
    minus = rich_cust.subtract(rich_supp).withColumn("src", F.lit("except"))
    return unioned.union(inter).union(minus)


_SET_OPS_ORACLE = """
WITH rc AS (SELECT c_nationkey::BIGINT AS nationkey FROM customer WHERE c_acctbal > 9900),
     rs AS (SELECT s_nationkey::BIGINT AS nationkey FROM supplier WHERE s_acctbal > 9900)
SELECT nationkey, 'union' AS src     FROM (SELECT DISTINCT nationkey FROM (SELECT * FROM rc UNION SELECT * FROM rs))
UNION ALL
SELECT nationkey, 'intersect' AS src FROM (SELECT * FROM rc INTERSECT SELECT * FROM rs)
UNION ALL
SELECT nationkey, 'except' AS src    FROM (SELECT * FROM rc EXCEPT SELECT * FROM rs)
"""


# ---------------------------------------------------------------------------
# Bag-semantics set operations: INTERSECT ALL / EXCEPT ALL keep duplicate
# multiplicity (min / difference of per-row counts) — the multiset algebra
# DISTINCT set ops throw away. Same extension tier as set_ops.
# ---------------------------------------------------------------------------
def q_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    cust_nations = c.filter(F.col("c_acctbal") > 9000).select(
        F.col("c_nationkey").cast("long").alias("nationkey")
    )
    supp_nations = s.filter(F.col("s_acctbal") > 9000).select(
        F.col("s_nationkey").cast("long").alias("nationkey")
    )
    inter = cust_nations.intersectAll(supp_nations).withColumn("src", F.lit("intersect_all"))
    minus = cust_nations.exceptAll(supp_nations).withColumn("src", F.lit("except_all"))
    return (
        inter.union(minus)
        .groupBy("src", "nationkey")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
    )


_SET_OPS_ALL_ORACLE = """
WITH rc AS (SELECT c_nationkey::BIGINT AS nationkey FROM customer WHERE c_acctbal > 9000),
     rs AS (SELECT s_nationkey::BIGINT AS nationkey FROM supplier WHERE s_acctbal > 9000),
     both_ops AS (
       SELECT nationkey, 'intersect_all' AS src FROM (SELECT * FROM rc INTERSECT ALL SELECT * FROM rs)
       UNION ALL
       SELECT nationkey, 'except_all' AS src    FROM (SELECT * FROM rc EXCEPT ALL SELECT * FROM rs)
     )
SELECT src, nationkey, COUNT(*) AS multiplicity FROM both_ops GROUP BY src, nationkey
"""


# ---------------------------------------------------------------------------
# VALUES / table-less SELECT (reference: expression_scan.rs, dummy_scan.rs)
# ---------------------------------------------------------------------------
def q_values_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        "SELECT a::BIGINT AS a, b FROM VALUES (1, 'x'), (2, 'y'), (3, NULL) AS t(a, b)"
    )


_VALUES_ORACLE = """
SELECT a::BIGINT AS a, b FROM (VALUES (1, 'x'), (2, 'y'), (3, NULL)) t(a, b)
"""


# ---------------------------------------------------------------------------
# Top-K: ORDER BY + LIMIT fused (Spark TakeOrderedAndProject — the reference
# composes full sort + limit, SURVEY.md §2.6; Spark's fusion is the scale win:
# per-partition heap + final merge, no global sort)
# ---------------------------------------------------------------------------
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    return (
        l.select("l_orderkey", F.col("l_linenumber").cast("long").alias("l_linenumber"), "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc())
        .limit(15)
    )


_TOPK_ORACLE = """
SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber, l_extendedprice
FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC LIMIT 15
"""


# ---------------------------------------------------------------------------
# Events rollup: tumbling-window batch aggregation (batch twin of the
# structured-streaming rollup in streaming/events.py)
# ---------------------------------------------------------------------------
def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


_EVENTS_ROLLUP_ORACLE = """
SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
       COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Hopping (sliding) window rollup — the overlapping-window shape Structured
# Streaming's window(ts, length, slide) produces: each event lands in
# length/slide windows. Spark's native window() does the fan-out; the oracle
# replicates it by unioning the slide offsets. Sums accumulate as
# DECIMAL(12,2) (order-independent — the overlap doubles the rows flowing
# into the aggregation, so float-fold drift would be amplified here).
# Scale: map-side ×(length/slide) fan-out then one shuffle on (window, type)
# — same cost model as the streaming counterpart's state updates.
# ---------------------------------------------------------------------------
def q_events_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window(F.col("ts"), "60 minutes", "30 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            "n_users",
        )
    )


_EVENTS_HOPPING_ORACLE = """
WITH fanout AS (
  SELECT DATE_TRUNC('hour', ts) + (CASE WHEN EXTRACT(minute FROM ts) >= 30
                                        THEN INTERVAL '30 minutes' ELSE INTERVAL '0 minutes' END)
           - (off * INTERVAL '30 minutes') AS wstart,
         event_type, value, user_id
  FROM events, (SELECT unnest(generate_series(0, 1)) AS off)
)
SELECT STRFTIME(wstart, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
       COUNT(DISTINCT user_id) AS n_users
FROM fanout GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Modulo arithmetic. The reference *binds* % (parser/binder accept it) but its
# compute kernel panics at execution (array_compute.rs:75-87 — Remainder is an
# unimplemented match arm); we claim the capability correctly. Both engines
# truncate toward zero with dividend-sign results, so integer % is exact
# cross-engine.
# ---------------------------------------------------------------------------
def q_modulo(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    return (
        l.groupBy((F.col("l_orderkey") % 7).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_linenumber") % 3).cast("long").alias("sum_ln_mod"),
            F.max(F.col("l_partkey") % 1000).alias("max_pk_mod"),
        )
    )


_MODULO_ORACLE = """
SELECT l_orderkey % 7 AS bucket, COUNT(*) AS n,
       SUM(l_linenumber % 3)::BIGINT AS sum_ln_mod,
       MAX(l_partkey % 1000) AS max_pk_mod
FROM lineitem GROUP BY 1
"""


# ---------------------------------------------------------------------------
# LATERAL correlated subquery: top-3 orders per customer. The modern SQL
# spelling of the reference's correlated-subquery machinery (binder/
# expression/subquery.rs binds scalar subqueries; LATERAL generalizes them
# to table-valued correlation). Catalyst decorrelates the per-customer
# ORDER BY + LIMIT into a ranked window join — no per-row subplan executes,
# which is what makes this shape survive 10^9 customers.
# ---------------------------------------------------------------------------
def q_lateral_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(f"""
        SELECT c.c_custkey, t.o_orderkey, t.price
        FROM parquet.`{sf_dir}/customer.parquet` c,
        LATERAL (
          SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
          FROM parquet.`{sf_dir}/orders.parquet` o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey ASC
          LIMIT 3
        ) t
        WHERE c.c_custkey < 200
    """)


_LATERAL_TOPK_ORACLE = """
SELECT c.c_custkey, t.o_orderkey, t.price
FROM customer c,
LATERAL (
  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey ASC
  LIMIT 3
) t
WHERE c.c_custkey < 200
"""


# ---------------------------------------------------------------------------
# Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys MATCH each
# other instead of vanishing — the semantics SCD/merge pipelines need when a
# business key is legitimately absent on both sides. Spark plans EqualNullSafe
# as an ordinary hash-join key (coalesced internally), so this stays a
# BroadcastHashJoin — no nested loop.
# ---------------------------------------------------------------------------
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    ck = F.when(F.col("c_acctbal") < 0, F.lit(None).cast("long")).otherwise(
        F.col("c_nationkey").cast("long")
    )
    sk = F.when(F.col("s_acctbal") < 0, F.lit(None).cast("long")).otherwise(
        F.col("s_nationkey").cast("long")
    )
    a = c.select(ck.alias("k"))
    b = s.select(sk.alias("kb"))
    return (
        a.join(b, F.col("k").eqNullSafe(F.col("kb")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


_NULL_SAFE_JOIN_ORACLE = """
WITH a AS (
  SELECT CASE WHEN c_acctbal < 0 THEN NULL ELSE c_nationkey END::BIGINT AS k
  FROM customer
),
b AS (
  SELECT CASE WHEN s_acctbal < 0 THEN NULL ELSE s_nationkey END::BIGINT AS kb
  FROM supplier
)
SELECT k, COUNT(*)::BIGINT AS n_pairs
FROM a JOIN b ON k IS NOT DISTINCT FROM kb
GROUP BY k
"""


for spec in [
    QuerySpec("modulo_buckets", q_modulo, _MODULO_ORACLE, "% modulo arithmetic (reference binds but panics: array_compute.rs:75-87)"),
    QuerySpec("q1_pricing_summary", q1_pricing_summary, _Q1_ORACLE, "TPC-H Q1-style group agg"),
    QuerySpec("filter_project", q_filter_project, _FILTER_PROJECT_ORACLE, "filter + projection + expr arithmetic"),
    QuerySpec("join_inner_residual", q_join_inner_residual, _JOIN_INNER_ORACLE, "inner equi join + non-equi residual"),
    QuerySpec("join_left", q_join_left, _JOIN_LEFT_ORACLE, "left outer join, NULL padding"),
    QuerySpec("join_right", q_join_right, _JOIN_RIGHT_ORACLE, "right outer join"),
    QuerySpec("join_full", q_join_full, _JOIN_FULL_ORACLE, "full outer join"),
    QuerySpec("cross_join", q_cross_join, _CROSS_JOIN_ORACLE, "cross join"),
    QuerySpec("multi_join_revenue", q_multi_join_revenue, _MULTI_JOIN_ORACLE, "6-way join + agg (TPC-H Q5 shape)"),
    QuerySpec("distinct", q_distinct, _DISTINCT_ORACLE, "SELECT DISTINCT"),
    QuerySpec("order_limit_offset", q_order_limit_offset, _ORDER_LIMIT_ORACLE, "order + limit + offset"),
    QuerySpec("scalar_subquery", q_scalar_subquery, _SCALAR_SUBQUERY_ORACLE, "uncorrelated scalar subquery via cross join"),
    QuerySpec("derived_table", q_derived_table, _DERIVED_TABLE_ORACLE, "subquery in FROM"),
    QuerySpec("agg_distinct", q_agg_distinct, _AGG_DISTINCT_ORACLE, "count/sum DISTINCT"),
    QuerySpec("agg_global", q_agg_global, _AGG_GLOBAL_ORACLE, "global agg, string min/max"),
    QuerySpec("agg_null_groups", q_agg_null_groups, _AGG_NULL_GROUPS_ORACLE, "NULL group semantics"),
    QuerySpec("having", q_having, _HAVING_ORACLE, "HAVING (extension)"),
    QuerySpec("case_in_between_like", q_case_in_between_like, _CASE_ORACLE, "CASE/IN/BETWEEN/LIKE (extension)"),
    QuerySpec("string_functions", q_string_functions, _STRING_FUNCS_ORACLE, "string function library (extension)"),
    QuerySpec("date_functions", q_date_functions, _DATE_FUNCS_ORACLE, "date extract + interval arithmetic"),
    QuerySpec("window_rank", q_window_rank, _WINDOW_RANK_ORACLE, "window rank/row_number (extension)"),
    QuerySpec("window_running_sum", q_window_running_sum, _WINDOW_RUNNING_ORACLE, "running window agg (extension)"),
    QuerySpec("set_ops", q_set_ops, _SET_OPS_ORACLE, "UNION/INTERSECT/EXCEPT (extension)"),
    QuerySpec("set_ops_all", q_set_ops_all, _SET_OPS_ALL_ORACLE, "INTERSECT ALL/EXCEPT ALL multiset semantics"),
    QuerySpec("values_scan", q_values_scan, _VALUES_ORACLE, "VALUES + table-less select"),
    QuerySpec("topk", q_topk, _TOPK_ORACLE, "fused top-k"),
    QuerySpec("events_rollup", q_events_rollup, _EVENTS_ROLLUP_ORACLE, "tumbling-window rollup (batch twin of streaming)"),
    QuerySpec("events_hopping", q_events_hopping, _EVENTS_HOPPING_ORACLE, "hopping/sliding 60m-by-30m window rollup (overlapping-window shape)"),
    QuerySpec("lateral_topk_orders", q_lateral_topk_orders, _LATERAL_TOPK_ORACLE, "LATERAL correlated top-3 per customer (decorrelated to ranked join)"),
    QuerySpec("null_safe_join", q_null_safe_join, _NULL_SAFE_JOIN_ORACLE, "null-safe equality join (<=> / IS NOT DISTINCT FROM)"),
]:
    register(spec)
