"""TPC-H completion tier: Q2, Q4, Q8, Q9, Q11, Q12, Q15, Q16, Q17, Q20, Q21.

With operators/relational.py (Q1), analytics.py (Q3, Q6) and tpch.py
(Q5/7/10/13/14/18/19/22) this makes the full 22-query TPC-H shape catalog the
reference's v1 engine aspires to (its optimizer comments cite these patterns;
binder/table/mod.rs bind_table_with_joins is the N-way join entry point).

The driver's synthetic schema omits partsupp, l_commitdate/l_receiptdate/
l_shipmode, p_mfgr/p_container and s_phone/s_comment, so queries that
classically touch those are *adapted* — same plan shape, same subquery
structure, driver columns (the established precedent: q22's cntrycode comes
from c_name). Concretely:

- the (part, supplier) catalog role of partsupp is played by the DISTINCT
  (l_partkey, l_suppkey) pairs observed in lineitem, with
  min(l_extendedprice / l_quantity) as the supply cost;
- "late" (receipt after commit) becomes l_shipdate > o_orderdate + 90 days;
- Q12's shipmode group becomes l_returnflag; Q16's customer-complaint
  exclusion becomes s_acctbal < 0.

Scale notes (100 TB): every dimension side (part, supplier, nation, region,
per-part aggregates of a 2k-part catalog) broadcasts; every fact-side
aggregation is a partial+final hash agg on its natural key; the correlated
subqueries are expressed as joins (semi/anti/scalar-broadcast) so Catalyst
never executes per-row subplans. Money sums follow the suite DECIMAL
convention (exact, order-independent); quantity sums stay exact because the
synthetic quantities are integer-valued doubles (< 2^53).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from templatedb_spark.operators.tpch import _REV, _rev_col
from templatedb_spark.suite import QuerySpec, _dec, register, table


# the partsupp surrogate: observed (part, supplier) pairs with their minimum
# unit price as supply cost
_SUPPLY_PAIRS_SQL = """
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         MIN(l_extendedprice / l_quantity) AS ps_supplycost
  FROM lineitem GROUP BY l_partkey, l_suppkey
"""


# ---------------------------------------------------------------------------
# Q2: minimum-cost supplier — correlated MIN subquery per part, re-expressed
# as (min-per-part aggregate) ⋈ (pair, cost) equi-join on the exact min.
# ---------------------------------------------------------------------------
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_size").between(10, 20)) & (F.col("p_type") == "STANDARD")
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    # Push the region restriction BELOW the pair aggregation: only European
    # suppliers' lineitems feed the partsupp surrogate (an aggregate can't be
    # pushed through a join by Catalyst, so the semi-join goes in by hand —
    # at 100 TB this cuts the agg's shuffle input by the region selectivity).
    eu_sup = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    l = table(spark, sf_dir, "lineitem").join(
        F.broadcast(eu_sup.select("s_suppkey")),
        F.col("l_suppkey") == F.col("s_suppkey"),
        "left_semi",
    )
    ps = l.groupBy(
        F.col("l_partkey").alias("ps_partkey"), F.col("l_suppkey").alias("ps_suppkey")
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("ps_supplycost"))
    eu_cost = ps.join(F.broadcast(eu_sup), ps.ps_suppkey == F.col("s_suppkey"))
    min_cost = eu_cost.groupBy("ps_partkey").agg(F.min("ps_supplycost").alias("min_cost"))
    return (
        eu_cost.join(
            F.broadcast(min_cost.withColumnRenamed("ps_partkey", "mc_partkey")),
            (F.col("ps_partkey") == F.col("mc_partkey"))
            & (F.col("ps_supplycost") == F.col("min_cost")),
        )
        .join(F.broadcast(p), F.col("ps_partkey") == p.p_partkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.col("ps_supplycost").alias("supplycost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), F.col("n_name").asc(), F.col("s_name").asc(), F.col("p_partkey").asc()
        )
        .limit(100)
    )


_Q2_ORACLE = f"""
WITH ps AS ({_SUPPLY_PAIRS_SQL}),
eu AS (
  SELECT ps.*, s_acctbal, s_name, n_name
  FROM ps
  JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, ps_supplycost AS supplycost
FROM eu
JOIN part ON ps_partkey = p_partkey
WHERE p_size BETWEEN 10 AND 20 AND p_type = 'STANDARD'
  AND ps_supplycost = (SELECT MIN(e2.ps_supplycost) FROM eu e2 WHERE e2.ps_partkey = eu.ps_partkey)
ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
LIMIT 100
"""


# ---------------------------------------------------------------------------
# Q4: order-priority checking — EXISTS correlated on a non-equi condition
# (late shipment), planned as a left-semi join with a residual.
# ---------------------------------------------------------------------------
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    l = table(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey)
            & (l.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


_Q4_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Q8: national market share — two nation roles (customer region gate,
# supplier nation measured), conditional share per year.
# ---------------------------------------------------------------------------
_Q8_NATION = "NATION_3"


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = table(spark, sf_dir, "supplier")
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    vol = _rev_col()
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == r.r_regionkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == _Q8_NATION, vol).otherwise(
                        F.lit(0).cast("decimal(12,2)")
                    )
                ).cast("double")
                / F.sum(vol).cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


_Q8_ORACLE = f"""
SELECT o_year,
       ROUND(CAST(SUM(CASE WHEN supp_nation = '{_Q8_NATION}' THEN volume ELSE 0 END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
FROM (
  SELECT YEAR(o_orderdate)::BIGINT AS o_year, {_REV} AS volume, n2.n_name AS supp_nation
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
)
GROUP BY o_year
"""


# ---------------------------------------------------------------------------
# Q9: product-type profit — cost side uses p_retailprice (no ps_supplycost in
# the schema); both terms summed as exact decimals, subtracted, cast once.
# ---------------------------------------------------------------------------
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").filter(F.col("p_name").contains("gear"))
    s = table(spark, sf_dir, "supplier")
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    n = table(spark, sf_dir, "nation")
    cost = _dec("p_retailprice") * _dec("l_quantity") * F.lit("0.5").cast("decimal(2,1)")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg((F.sum(_rev_col()) - F.sum(cost)).cast("double").alias("sum_profit"))
    )


_Q9_ORACLE = f"""
SELECT n_name AS nation, YEAR(o_orderdate)::BIGINT AS o_year,
       CAST(SUM({_REV})
            - SUM(CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))
                  * CAST(0.5 AS DECIMAL(2,1))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY n_name, YEAR(o_orderdate)::BIGINT
"""


# ---------------------------------------------------------------------------
# Q11: important stock — per-part value for one region's suppliers, kept when
# above a fraction of the regional total (global scalar subquery, broadcast).
# ---------------------------------------------------------------------------
_Q11_FRACTION = "0.0008"


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    base = (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    per_part = base.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(_rev_col()).alias("value_dec")
    )
    total = per_part.agg(
        (F.sum("value_dec") * F.lit(_Q11_FRACTION).cast("decimal(6,4)")).alias("threshold")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_dec") > F.col("threshold"))
        .select("partkey", F.col("value_dec").cast("double").alias("part_value"))
    )


_Q11_ORACLE = f"""
WITH per_part AS (
  SELECT l_partkey AS partkey, SUM({_REV}) AS value_dec
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
  GROUP BY l_partkey
)
SELECT partkey, CAST(value_dec AS DOUBLE) AS part_value
FROM per_part
WHERE value_dec > (SELECT SUM(value_dec) * CAST({_Q11_FRACTION} AS DECIMAL(6,4)) FROM per_part)
"""


# ---------------------------------------------------------------------------
# Q12: priority counting by lineitem class — conditional two-way counts over
# a fact⋈fact join with a non-equi lateness residual.
# ---------------------------------------------------------------------------
_Q12_HIGH = ["1-URGENT", "2-HIGH"]


def q12_priority_by_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    high = F.col("o_orderpriority").isin(_Q12_HIGH)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy(F.col("l_returnflag").alias("line_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


_Q12_ORACLE = """
SELECT l_returnflag AS line_class,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Q15: top supplier — grouped revenue view + MAX scalar subquery, joined back
# on the exact decimal maximum.
# ---------------------------------------------------------------------------
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = table(spark, sf_dir, "supplier")
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev_col()).alias("total_rev_dec")
    )
    max_rev = revenue.agg(F.max("total_rev_dec").alias("max_rev"))
    return (
        revenue.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_rev_dec") == F.col("max_rev"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev_dec").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


_Q15_ORACLE = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, SUM({_REV}) AS total_rev_dec
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_rev_dec AS DOUBLE) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_rev_dec = (SELECT MAX(total_rev_dec) FROM revenue)
ORDER BY s_suppkey
"""


# ---------------------------------------------------------------------------
# Q16: supplier-relationship counting — distinct suppliers per part attribute
# triple, excluding negative-balance suppliers via NOT IN (anti join).
# ---------------------------------------------------------------------------
_Q16_SIZES = [1, 5, 10, 15, 20, 25, 30, 35, 40, 45]


def q16_parts_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("ps_partkey"), F.col("l_suppkey").alias("ps_suppkey"))
        .distinct()
    )
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(_Q16_SIZES))
    )
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        pairs.join(F.broadcast(bad), pairs.ps_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("ps_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


_Q16_ORACLE = f"""
SELECT p_brand, p_type, p_size, COUNT(DISTINCT ps_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey FROM lineitem)
JOIN part ON ps_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN ({", ".join(str(x) for x in _Q16_SIZES)})
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


# ---------------------------------------------------------------------------
# Q17: small-quantity-order revenue — correlated per-part AVG threshold,
# expressed as a broadcast join against the per-part aggregate. The synthetic
# quantities are integer-valued doubles, so AVG is exact and order-independent.
# ---------------------------------------------------------------------------
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    per_part = l.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(per_part), F.col("l_partkey") == F.col("avg_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


_Q17_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly,
       COUNT(*) AS n_small
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#3'
  AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = part.p_partkey)
"""


# ---------------------------------------------------------------------------
# Q20: potential excess suppliers — nested IN: suppliers of selected nations
# who moved more than a threshold quantity of a name-matched part in a year.
# ---------------------------------------------------------------------------
_Q20_NATIONS = ["NATION_1", "NATION_2", "NATION_3", "NATION_4", "NATION_5"]


def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name").isin(_Q20_NATIONS))
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_name").contains("bolt"))
    movers = (
        l.join(F.broadcast(p.select("p_partkey")), l.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 40)
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(movers, s.s_suppkey == movers.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


_Q20_ORACLE = f"""
SELECT s_name, s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name IN ({", ".join(f"'{x}'" for x in _Q20_NATIONS)})
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%')
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_suppkey, l_partkey
    HAVING SUM(l_quantity) > 40
  )
ORDER BY s_name
"""


# ---------------------------------------------------------------------------
# Q21: suppliers who kept orders waiting — the double-correlated EXISTS /
# NOT EXISTS, planned as one semi join (another supplier touched the order)
# plus one anti join (no OTHER supplier was also late on it).
# ---------------------------------------------------------------------------
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    late = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    # Aggregate rewrite of the EXISTS / NOT EXISTS double correlation
    # (guide §3: both correlated subqueries are self-joins on l_orderkey —
    # at scale the EXISTS side is a lineitem⋈lineitem sort-merge semi).
    # A late row (k, s) qualifies iff its order has ≥2 distinct suppliers
    # in ALL of lineitem (s itself ships the order, so "another supplier
    # exists" ⟺ n_all ≥ 2) and exactly 1 distinct supplier among LATE
    # rows (every late row of k then carries s, so "no other late
    # supplier" ⟺ n_late = 1). With n_late = 1 the order's late rows all
    # blame the same supplier max(l_suppkey), contributing count(*) rows —
    # no join back to `late` needed. Keys are non-null (enforced by the
    # equi-joins in both the old form and the oracle), so <>-semantics
    # match. Two per-orderkey aggregates replace both self-joins; the agg
    # outputs share hash partitioning, so the join adds no exchange.
    late_g = late.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_late"),
        F.max("l_suppkey").alias("blamed_supp"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    all_g = l.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_all")
    )
    return (
        late_g.filter(F.col("n_late") == 1)
        .join(all_g.filter(F.col("n_all") >= 2), "l_orderkey")
        .join(s, F.col("blamed_supp") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("n_rows").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(100)
    )


_Q21_ORACLE = """
WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
    AND l_shipdate > o_orderdate + INTERVAL 90 DAY
)
SELECT s_name, COUNT(*) AS numwait
FROM late l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 100
"""


for spec in [
    QuerySpec("q2_min_cost_supplier", q2_min_cost_supplier, _Q2_ORACLE, "TPC-H Q2: correlated MIN via min-per-part join"),
    QuerySpec("q4_order_priority", q4_order_priority, _Q4_ORACLE, "TPC-H Q4: EXISTS with non-equi residual (semi join)"),
    QuerySpec("q8_market_share", q8_market_share, _Q8_ORACLE, "TPC-H Q8: national market share, two nation roles"),
    QuerySpec("q9_product_profit", q9_product_profit, _Q9_ORACLE, "TPC-H Q9: profit by nation/year, exact decimal terms"),
    QuerySpec("q11_important_stock", q11_important_stock, _Q11_ORACLE, "TPC-H Q11: fraction-of-total HAVING (scalar broadcast)"),
    QuerySpec("q12_priority_by_class", q12_priority_by_class, _Q12_ORACLE, "TPC-H Q12: conditional two-way counts, late residual"),
    QuerySpec("q15_top_supplier", q15_top_supplier, _Q15_ORACLE, "TPC-H Q15: MAX scalar subquery on grouped view"),
    QuerySpec("q16_parts_supplier_relationship", q16_parts_supplier_relationship, _Q16_ORACLE, "TPC-H Q16: distinct-supplier counts with NOT IN"),
    QuerySpec("q17_small_quantity_revenue", q17_small_quantity_revenue, _Q17_ORACLE, "TPC-H Q17: correlated per-part AVG threshold"),
    QuerySpec("q20_excess_suppliers", q20_excess_suppliers, _Q20_ORACLE, "TPC-H Q20: nested IN via grouped semi join"),
    QuerySpec("q21_waiting_suppliers", q21_waiting_suppliers, _Q21_ORACLE, "TPC-H Q21: EXISTS + NOT EXISTS double correlation"),
]:
    register(spec)
