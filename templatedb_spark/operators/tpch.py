"""Additional TPC-H workload shapes (Q5, Q13, Q14, Q18) over the driver's
synthetic tables.

These join Q1/Q3/Q6 (operators/relational.py, analytics.py) to cover the
canonical OLAP plan shapes the reference's v1 engine aspires to
(multi-way joins: binder/table/mod.rs bind_table_with_joins; aggregates:
executor/aggregate/; its optimizer comments literally cite these query
patterns) — expressed as Catalyst plans that survive 100 TB:

- Q5: six-table star join. Dimension sides (region/nation/supplier) broadcast;
  the customer⋈orders⋈lineitem chain shuffles on its keys with AQE handling
  skew. The c_nationkey = s_nationkey condition rides the lineitem join as a
  residual, not a separate shuffle.
- Q13: left outer join + two-level aggregation (count-of-counts). The
  distribution-of-activity profile query.
- Q14: conditional aggregation over a fact⋈dim join (promo revenue share).
- Q18: IN-subquery over a grouped HAVING → Catalyst plans a semi-join against
  the re-aggregated fact table; no correlated per-row execution anywhere.

Money sums follow the suite DECIMAL convention (exact, order-independent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from templatedb_spark.suite import QuerySpec, _dec, register, table


_REV = "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"


def _rev_col():
    return _dec("l_extendedprice") * (F.lit(1).cast("decimal(4,2)") - _dec("l_discount", 4, 2))


# ---------------------------------------------------------------------------
# Q5: local-supplier volume per nation within a region/year.
# ---------------------------------------------------------------------------
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(s, (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(_rev_col()).cast("double").alias("revenue"))
    )


_Q5_ORACLE = f"""
SELECT n_name, CAST(SUM({_REV}) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# Q13: customer order-count distribution (left outer join keeps 0-order
# customers; count(o_orderkey) skips the null-padded rows).
# ---------------------------------------------------------------------------
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


_Q13_ORACLE = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
"""


# ---------------------------------------------------------------------------
# Q14: promo revenue share in a month (conditional aggregation; part is the
# broadcast dimension).
# ---------------------------------------------------------------------------
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    p = table(spark, sf_dir, "part")
    rev = _rev_col()
    joined = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    return joined.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0).cast("decimal(12,2)"))).cast("double")
            / F.sum(rev).cast("double"),
            6,
        ).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_items"),
    )


_Q14_ORACLE = f"""
SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN {_REV} ELSE 0 END) AS DOUBLE)
             / CAST(SUM({_REV}) AS DOUBLE), 6) AS promo_revenue_pct,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""


# ---------------------------------------------------------------------------
# Q18: large-volume orders — IN over a grouped HAVING (threshold tuned to the
# synthetic data's quantity distribution; see NOTES on data-tuned params).
# ---------------------------------------------------------------------------
_Q18_QTY = 250


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("qty"))
        .filter(F.col("qty") > _Q18_QTY)
        .select("l_orderkey")
    )
    return (
        o.join(big.withColumnRenamed("l_orderkey", "big_key"), F.col("o_orderkey") == F.col("big_key"), "left_semi")
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
        )
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


_Q18_ORACLE = f"""
SELECT c_name, c_custkey, o_orderkey, STRFTIME(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_totalprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > {_Q18_QTY}
)
GROUP BY c_name, c_custkey, o_orderkey, STRFTIME(o_orderdate, '%Y-%m-%d'), o_totalprice
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


# ---------------------------------------------------------------------------
# Q7: volume shipped between two nations per year (either direction). The
# supp_nation/cust_nation pair filter rides the joins; the two nation dims
# broadcast under their aliases.
# ---------------------------------------------------------------------------
_Q7_N1, _Q7_N2 = "NATION_1", "NATION_2"


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == _Q7_N1) & (F.col("cust_nation") == _Q7_N2)
    ) | ((F.col("supp_nation") == _Q7_N2) & (F.col("cust_nation") == _Q7_N1))
    return (
        s.join(l, s.s_suppkey == l.l_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(F.sum(_rev_col()).cast("double").alias("revenue"))
    )


_Q7_ORACLE = f"""
SELECT supp_nation, cust_nation, l_year, CAST(SUM(rev) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         YEAR(l_shipdate)::BIGINT AS l_year, {_REV} AS rev
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = '{_Q7_N1}' AND n2.n_name = '{_Q7_N2}')
      OR (n1.n_name = '{_Q7_N2}' AND n2.n_name = '{_Q7_N1}'))
    AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
)
GROUP BY supp_nation, cust_nation, l_year
"""


# ---------------------------------------------------------------------------
# Q10: returned-item revenue per customer in a quarter, top 20.
# ---------------------------------------------------------------------------
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_rev_col()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


_Q10_ORACLE = f"""
SELECT c_custkey, c_name, c_acctbal, n_name, CAST(SUM({_REV}) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Q19: disjunction of brand/size/quantity conjunctions — the OR-of-ANDs
# predicate Catalyst splits into partial pushdowns (brand+size reach the part
# scan; quantity reaches lineitem) while the full disjunction stays on the
# join. part broadcasts.
# ---------------------------------------------------------------------------
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 15))
         & (F.col("l_quantity").between(1, 21)))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size").between(1, 25))
           & (F.col("l_quantity").between(10, 30)))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size").between(1, 35))
           & (F.col("l_quantity").between(20, 40)))
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.sum(_rev_col()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_Q19_ORACLE = f"""
SELECT CAST(SUM({_REV}) AS DOUBLE) AS revenue, COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
"""


# ---------------------------------------------------------------------------
# Q22: global-acquisition prospects — customers in selected "country codes"
# (last two digits of c_name; the synthetic data has no phone column) with
# above-average positive balance and no RECENT orders (every synthetic
# customer has some order, so the classic no-orders-ever form is empty;
# "dormant since 2000" keeps the anti join non-trivial). Combines a global
# scalar subquery (broadcast one-row aggregate) with an anti join.
# ---------------------------------------------------------------------------
_Q22_CODES = ["00", "11", "22", "33", "44", "55", "66", "77"]
_Q22_CUTOFF = "2000-01-01"


def q22_prospects(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").withColumn(
        "cntrycode", F.substring("c_name", 17, 2)
    )
    sel = c.filter(F.col("cntrycode").isin(_Q22_CODES))
    avg_pos = sel.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double") / F.count(F.lit(1))).alias("ap")
    )
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= _Q22_CUTOFF)
    return (
        sel.crossJoin(F.broadcast(avg_pos))
        .filter(F.col("c_acctbal") > F.col("ap"))
        .join(o, F.col("c_custkey") == o.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double").alias("totacctbal"),
        )
    )


_Q22_ORACLE = f"""
WITH sel AS (
  SELECT *, substr(c_name, 17, 2) AS cntrycode FROM customer
  WHERE substr(c_name, 17, 2) IN ({", ".join(f"'{c}'" for c in _Q22_CODES)})
)
SELECT cntrycode, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
FROM sel
WHERE c_acctbal > (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
  FROM sel WHERE c_acctbal > 0.0
)
AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY cntrycode
"""


for spec in [
    QuerySpec("q5_local_supplier_volume", q5_local_supplier_volume, _Q5_ORACLE, "TPC-H Q5: six-table star join"),
    QuerySpec("q13_customer_distribution", q13_customer_distribution, _Q13_ORACLE, "TPC-H Q13: outer join count-of-counts"),
    QuerySpec("q14_promo_revenue", q14_promo_revenue, _Q14_ORACLE, "TPC-H Q14: conditional agg revenue share"),
    QuerySpec("q18_large_orders", q18_large_orders, _Q18_ORACLE, "TPC-H Q18: IN over grouped HAVING (semi-join)"),
    QuerySpec("q7_nation_volume", q7_nation_volume, _Q7_ORACLE, "TPC-H Q7: two-nation volume, aliased dims"),
    QuerySpec("q10_returned_items", q10_returned_items, _Q10_ORACLE, "TPC-H Q10: returned-item revenue top 20"),
    QuerySpec("q19_discounted_revenue", q19_discounted_revenue, _Q19_ORACLE, "TPC-H Q19: OR-of-ANDs partial pushdown"),
    QuerySpec("q22_prospects", q22_prospects, _Q22_ORACLE, "TPC-H Q22: scalar subquery + anti join"),
]:
    register(spec)
