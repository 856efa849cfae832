"""Deeper TPC-H-shaped coverage: Q7/Q8/Q9/Q11/Q15/Q16/Q17/Q20/Q21/Q22 shapes.

The fixtures have no ``partsupp`` table, so the partsupp-based queries
(Q9/Q11/Q16/Q20) are reshaped onto ``lineitem``/``part``/``supplier``
while keeping the *plan shape* that matters at scale: multi-way joins
with nation self-join aliases (Q7/Q8), scalar-subquery thresholds
(Q11/Q15/Q22), NOT-IN/anti joins (Q16/Q22), correlated-aggregate
decorrelation (Q17/Q21), and semi joins over grouped HAVING sets (Q20).

Scale notes baked into each plan:
- nation/region/supplier are true dimensions -> explicit ``F.broadcast``.
- orders/customer/lineitem are fact-sized -> AQE shuffle joins decide.
- correlated subqueries are written decorrelated (aggregate + join), the
  form Catalyst's ``RewriteCorrelatedScalarSubquery`` would produce —
  one shuffle per aggregation level, no per-row subquery execution.
- double-valued thresholds crossing engines are stable-rounded on both
  sides (summation-order ulp drift would otherwise flip boundary rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_etl_spark.functions.rounding import stable_round
from healthcare_etl_spark.plans.registry import register
from healthcare_etl_spark.sources import load_table


@register(
    "q_tpch_q7_shape",
    oracle="""
SELECT supp_nation, cust_nation, l_year, (round((sum(volume)) * 100.0) / 100.0) AS revenue
FROM (
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           l_extendedprice * (1 - l_discount) AS volume
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
       OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
)
GROUP BY supp_nation, cust_nation, l_year
""",
    description=(
        "TPC-H Q7 shape: nation self-join aliases (supplier nation x customer "
        "nation), disjunctive pair predicate, revenue by year"
    ),
    tags=("tpch", "parity"),
)
def q_tpch_q7_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    pair = ("NATION_3", "NATION_7")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin(*pair))
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin(*pair))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(
            stable_round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@register(
    "q_tpch_q8_shape",
    oracle="""
SELECT o_year,
       (round((sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0.0 END) / sum(volume))
              * 1000000.0) / 1000000.0) AS mkt_share
FROM (
    SELECT year(o_orderdate) AS o_year,
           l_extendedprice * (1 - l_discount) AS volume,
           n2.n_name AS nation
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region   ON n1.n_regionkey = r_regionkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
)
GROUP BY o_year
""",
    description=(
        "TPC-H Q8 shape: market share of one supplier nation within a customer "
        "region's ECONOMY-part market, by order year (8-way join, conditional ratio)"
    ),
    tags=("tpch", "parity"),
)
def q_tpch_q8_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == r.r_regionkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            stable_round(
                F.sum(F.when(F.col("nation") == "NATION_3", vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
    )


@register(
    "q_tpch_q9_shape",
    oracle="""
SELECT nation, o_year, (round((sum(amount)) * 100.0) / 100.0) AS sum_profit
FROM (
    SELECT n_name AS nation, year(o_orderdate) AS o_year,
           l_extendedprice * (1 - l_discount) - 0.6 * p_retailprice * l_quantity AS amount
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_type IN ('ECONOMY', 'PROMO')
)
GROUP BY nation, o_year
""",
    description=(
        "TPC-H Q9 shape: profit by supplier nation and order year. The fixtures "
        "carry no partsupp, so supply cost is proxied as 0.6 * p_retailprice * "
        "l_quantity (same join tree and agg shape as Q9)"
    ),
    tags=("tpch", "parity"),
)
def q_tpch_q9_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type").isin("ECONOMY", "PROMO"))
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(stable_round(F.sum(amount), 2).alias("sum_profit"))
    )


@register(
    "q_tpch_q11_shape",
    oracle="""
WITH val AS (
    SELECT p_brand,
           (round((sum(l_extendedprice * l_quantity)) * 1000000.0) / 1000000.0) AS value
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
)
SELECT p_brand, (round((value) * 100.0) / 100.0) AS value
FROM val
WHERE value > (
    SELECT (round((sum(l_extendedprice * l_quantity) * 0.02) * 1000000.0) / 1000000.0)
    FROM lineitem
)
""",
    description=(
        "TPC-H Q11 shape: inventory-value concentration — brands whose shipped "
        "value exceeds 2% of the global total (grouped agg vs scalar-subquery "
        "threshold; threshold broadcast, never a per-row subquery)"
    ),
    tags=("tpch", "parity"),
)
def q_tpch_q11_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    value = F.col("l_extendedprice") * F.col("l_quantity")
    # Both the per-brand sums and the 2% threshold are stable-rounded to
    # 6dp on both engines before the comparison — an unrounded double sum
    # landing within one ulp of the threshold could otherwise flip the
    # filter between Spark and DuckDB (same idiom as q17/q22).
    per_brand = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(stable_round(F.sum(value), 6).alias("value"))
    )
    threshold = li.agg(stable_round(F.sum(value) * F.lit(0.02), 6).alias("threshold"))
    return (
        per_brand.join(F.broadcast(threshold))
        .filter(F.col("value") > F.col("threshold"))
        .select("p_brand", stable_round("value", 2).alias("value"))
    )


@register(
    "q_tpch_q15_shape",
    oracle="""
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           (round((sum(l_extendedprice * (1 - l_discount))) * 1000000.0) / 1000000.0)
               AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, (round((total_revenue) * 100.0) / 100.0) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
    description=(
        "TPC-H Q15 shape: top supplier by quarterly revenue — reused grouped CTE "
        "compared against its own max (scalar subquery over the same aggregate)"
    ),
    tags=("tpch", "parity"),
)
def q_tpch_q15_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    # total_revenue is stable-rounded to 6dp on both engines BEFORE the
    # max/equality comparison: Spark recomputes the aggregate in both
    # branches with nondeterministic shuffle-combine order, and DuckDB
    # sums in yet another order, so last-ulp drift on the raw double sum
    # could drop the top supplier on one side (same idiom as q17/q22).
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        stable_round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6).alias("total_revenue")
    )
    top = revenue.agg(F.max("total_revenue").alias("max_rev"))
    return (
        revenue.join(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", stable_round("total_revenue", 2).alias("total_revenue"))
    )


@register(
    "q_tpch_q16_shape",
    oracle="""
SELECT p_brand, p_type, p_size, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY p_brand, p_type, p_size
""",
    description=(
        "TPC-H Q16 shape: distinct supplier counts per part attribute triple, "
        "excluding a NOT-IN supplier set (broadcast anti join, not a subquery loop)"
    ),
    tags=("tpch", "parity"),
)
def q_tpch_q16_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0.0).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q_tpch_q17_shape",
    oracle="""
SELECT (round((sum(l_extendedprice) / 7.0) * 100.0) / 100.0) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN (
    SELECT l_partkey AS t_partkey,
           (round((0.5 * avg(l_quantity)) * 1000000.0) / 1000000.0) AS qty_threshold
    FROM lineitem GROUP BY l_partkey
) ON t_partkey = l_partkey
WHERE p_brand = 'Brand#3' AND l_quantity < qty_threshold
""",
    description=(
        "TPC-H Q17 shape: small-quantity order revenue — correlated per-part "
        "avg(l_quantity) subquery written decorrelated (grouped agg + join), the "
        "plan Catalyst produces for the correlated form; threshold stable-rounded "
        "on both engines (summation-order ulp drift at the < boundary)"
    ),
    tags=("tpch", "parity"),
)
def q_tpch_q17_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        stable_round(F.lit(0.5) * F.avg("l_quantity"), 6).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(thresholds, li.l_partkey == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(stable_round(F.sum("l_extendedprice") / F.lit(7.0), 2).alias("avg_yearly"))
    )


@register(
    "q_tpch_q20_shape",
    oracle="""
SELECT s_name, s_acctbal
FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_type = 'ECONOMY'
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_suppkey
    HAVING sum(l_quantity) > 100.0
)
""",
    description=(
        "TPC-H Q20 shape: suppliers who moved >100 units of ECONOMY parts in a "
        "year — IN over a grouped HAVING set, executed as a semi join on the "
        "aggregated (tiny) side"
    ),
    tags=("tpch", "parity"),
)
def q_tpch_q20_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    movers = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 100.0)
        .select("l_suppkey")
    )
    return s.join(F.broadcast(movers), s.s_suppkey == movers.l_suppkey, "left_semi").select(
        "s_name", "s_acctbal"
    )


@register(
    "q_tpch_q21_shape",
    oracle="""
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier, lineitem l1
WHERE s_suppkey = l1.l_suppkey
  AND l1.l_returnflag = 'R'
  AND EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
      SELECT 1 FROM lineitem l3
      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        AND l3.l_returnflag = 'R'
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
""",
    description=(
        "TPC-H Q21 shape: sole-blamed supplier per multi-supplier order. The "
        "fixtures carry no receiptdate, so 'late' = l_returnflag = 'R'. Oracle "
        "keeps the textbook EXISTS / NOT EXISTS form; the Spark plan is the "
        "decorrelated rewrite — one grouped pass over lineitem computing "
        "(distinct suppliers, distinct late suppliers) per order, then a join "
        "filter n_supp > 1 AND n_late = 1. Proves the rewrite is semantics-"
        "preserving, and it is the only form that scales (no per-row subquery)."
    ),
    tags=("tpch", "parity"),
)
def q_tpch_q21_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_late"),
    )
    late_lines = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    return (
        late_lines.join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@register(
    "q_tpch_q22_shape",
    oracle="""
SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust, (round((sum(c_acctbal)) * 100.0) / 100.0) AS totacctbal
FROM (
    SELECT c_nationkey % 5 AS cntrycode, c_acctbal
    FROM customer
    WHERE c_acctbal > (
        SELECT (round(avg(c_acctbal) * 1000000.0) / 1000000.0)
        FROM customer WHERE c_acctbal > 0.0
    )
      AND c_custkey NOT IN (
          SELECT o_custkey FROM orders
          WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      )
)
GROUP BY cntrycode
""",
    description=(
        "TPC-H Q22 shape: rich inactive customers by country code (c_nationkey % 5 "
        "stands in for the phone prefix; inactive = no orders since 1999, since "
        "every fixture customer has some all-time order) — scalar avg threshold "
        "(stable-rounded cross-engine) + NOT IN orders as a shuffled anti join "
        "(orders is fact-sized; AQE picks the strategy)"
    ),
    tags=("tpch", "parity"),
)
def q_tpch_q22_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        stable_round(F.avg("c_acctbal"), 6).alias("avg_bal")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy((F.col("c_nationkey") % 5).alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            stable_round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@register(
    "q_tpch_q2_shape",
    oracle="""
WITH costs AS (
    SELECT l_partkey, l_suppkey,
           (round((min(l_extendedprice / l_quantity)) * 1000000.0) / 1000000.0) AS unit_cost
    FROM lineitem GROUP BY l_partkey, l_suppkey
),
euro AS (
    SELECT c.l_partkey, c.l_suppkey, c.unit_cost, s.s_acctbal, s.s_name, n.n_name
    FROM costs c
    JOIN supplier s ON c.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE'
),
best AS (
    SELECT l_partkey, min(unit_cost) AS min_cost FROM euro GROUP BY l_partkey
)
SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_brand, e.unit_cost
FROM euro e
JOIN best b ON e.l_partkey = b.l_partkey AND e.unit_cost = b.min_cost
JOIN part p ON e.l_partkey = p.p_partkey
WHERE p.p_size <= 15 AND p.p_type LIKE '%OMY'
ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p.p_partkey
LIMIT 100
""",
    description=(
        "TPC-H Q2 shape: minimum-cost supplier per part within one region — "
        "the correlated-min subquery written decorrelated (per-part min join), "
        "completing the 1-22 TPC-H shape sweep. No partsupp in the fixtures, "
        "so supply cost is proxied as min lineitem unit price per "
        "(part, supplier), stable-rounded before the cross-engine equality "
        "join. Dimension chain supplier->nation->region broadcast; the "
        "(part,supplier) cost agg and per-part min are the only fact shuffles. "
        "ORDER BY is a total key so LIMIT 100 is deterministic on both engines."
    ),
    tags=("tpch", "parity"),
)
def q_tpch_q2_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    p = load_table(spark, sf_dir, "part")

    costs = li.groupBy("l_partkey", "l_suppkey").agg(
        stable_round(F.min(F.col("l_extendedprice") / F.col("l_quantity")), 6).alias(
            "unit_cost"
        )
    )
    dims = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") == "EUROPE")), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    euro = costs.join(F.broadcast(dims), costs.l_suppkey == dims.s_suppkey)
    best = euro.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("unit_cost").alias("min_cost")
    )
    wanted = p.filter((F.col("p_size") <= 15) & F.col("p_type").like("%OMY")).select(
        "p_partkey", "p_brand"
    )
    return (
        euro.join(
            best,
            (euro.l_partkey == best.b_partkey) & (euro.unit_cost == best.min_cost),
        )
        .join(F.broadcast(wanted), euro.l_partkey == wanted.p_partkey)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand", "unit_cost")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )
