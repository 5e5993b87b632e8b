"""Relational query core — TPC-H adapted to the test schema.

Every builder is pure DataFrame API (Catalyst plans the joins; dims are
explicitly broadcast where a 100 TB run would want a broadcast-hash
join). Every ``oracle`` is the ANSI-SQL twin DuckDB verifies.

Float policy: double sums are order-dependent (partition order differs
between engines and across cluster sizes), so every money/quantity
aggregate is accumulated in exact DECIMAL(30,6) and only then rounded
and cast back to double — bit-identical on any engine at any
parallelism. (``dsum`` / ``davg`` below; the SQL twins use the same
construction.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from deker_server_adapters_spark.functions.histogram import (
    grouped_hist_quantile_estimates,
    hist_quantile_sql_ctes,
    round_ties_safe,
    round_ties_safe_sql,
)
from deker_server_adapters_spark.operators import Op
from deker_server_adapters_spark.plans.lineage import release
from deker_server_adapters_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def dsum(col: Column, scale: int = 2) -> Column:
    """Order-independent rounded sum: exact decimal accumulation."""
    return F.round(F.sum(col.cast("decimal(30,6)")), scale).cast("double")


def davg(col: Column, scale: int = 4) -> Column:
    """Order-independent rounded average (decimal sum / count); the
    final ratio is a non-dyadic double, so tie-safe rounded."""
    return round_ties_safe(F.sum(col.cast("decimal(30,6)")).cast("double") / F.count(col), scale)


def dsum_sql(expr: str, scale: int = 2) -> str:
    return f"CAST(round(sum(CAST({expr} AS DECIMAL(30,6))), {scale}) AS DOUBLE)"


def davg_sql(expr: str, scale: int = 4) -> str:
    return round_ties_safe_sql(
        f"CAST(sum(CAST({expr} AS DECIMAL(30,6))) AS DOUBLE) / count({expr})", scale
    )


# --- q1: pricing summary report (TPC-H Q1) -------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            davg(F.col("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(30,6))), 2) AS DOUBLE)                                    AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,6))), 2) AS DOUBLE)                               AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE)            AS sum_disc_price,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_charge,
       {davg_sql("l_quantity")}      AS avg_qty,
       {davg_sql("l_extendedprice")} AS avg_price,
       {davg_sql("l_discount")}      AS avg_disc,
       count(*)                                                     AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --- q3: unshipped-order revenue (TPC-H Q3, no shippriority col) ----------

def q3_unshipped_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1996-03-15").cast("timestamp")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, o_orderdate,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1996-03-15'
  AND l_shipdate  > TIMESTAMP '1996-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


# --- q4: order priority checking (EXISTS → semi join) ---------------------

def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate <  TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""


# --- q5: local supplier volume (TPC-H Q5) ---------------------------------

def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(cust, (orders.o_custkey == cust.c_custkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


Q5_SQL = """
SELECT n_name, CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


# --- q6: forecasting revenue change (TPC-H Q6) ----------------------------

def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


Q6_SQL = """
SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


# --- q7: volume shipping between two nations (TPC-H Q7) -------------------

def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(broadcast(n1), supp.s_nationkey == F.col("s_nk"))
        .join(broadcast(n2), cust.c_nationkey == F.col("c_nk"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


Q7_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue
FROM lineitem, orders, customer, supplier, nation n1, nation n2
WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND l_suppkey = s_suppkey
  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY supp_nation, cust_nation, l_year
"""


# --- q9: product-type profit (TPC-H Q9; cost = 0.6 * retail) ---------------

def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("rod"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.6) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .join(broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg(dsum(amount).alias("sum_profit"))
    )


Q9_SQL = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) - 0.6 * p_retailprice * l_quantity AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_profit
FROM lineitem, part, supplier, orders, nation
WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
  AND l_orderkey = o_orderkey AND s_nationkey = n_nationkey
  AND p_name LIKE '%rod%'
GROUP BY n_name, o_year
"""


# --- q10: returned-item reporting (TPC-H Q10) ------------------------------

def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1995-10-01'
  AND o_orderdate <  TIMESTAMP '1996-01-01'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --- q12: late shipping by priority class (TPC-H Q12 adapted) --------------

def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
    bucket = F.when(F.datediff("l_shipdate", "o_orderdate") > 90, "late").otherwise("ontime")
    high = F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)
    return (
        joined.withColumn("ship_bucket", bucket)
        .groupBy("ship_bucket")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(1 - high).alias("low_line_count"),
        )
    )


Q12_SQL = """
SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 90
            THEN 'late' ELSE 'ontime' END AS ship_bucket,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem, orders
WHERE l_orderkey = o_orderkey
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
GROUP BY ship_bucket
"""


# --- q13: customer order-count distribution (TPC-H Q13) --------------------

def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# --- q14: promotion effect (TPC-H Q14) -------------------------------------

def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)
    return (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            round_ties_safe(
                F.lit(100.0)
                * F.sum(promo.cast("decimal(30,6)")).cast("double")
                / F.sum(rev.cast("decimal(30,6)")).cast("double"),
                4,
            ).alias("promo_revenue")
        )
    )


_Q14_SHARE = (
    "100.0 * CAST(sum(CAST(CASE WHEN p_type = 'PROMO' "
    "THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(30,6))) AS DOUBLE) "
    "/ CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE)"
)

Q14_SQL = f"""
SELECT {round_ties_safe_sql(_Q14_SHARE, 4)} AS promo_revenue
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate <  TIMESTAMP '1996-10-01'
"""


# --- q16: parts/supplier relationship (TPC-H Q16 via lineitem) --------------

def q16_brand_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5") & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND p_brand <> 'Brand#5'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# --- q18: large-volume customers (TPC-H Q18) --------------------------------

def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("tot_qty"))
        .filter(F.col("tot_qty") > 300)
        .select("l_orderkey")
    )
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum(F.col("l_quantity")).alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


# --- q19: discounted revenue (TPC-H Q19 OR-of-ANDs) --------------------------

def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("l_quantity") >= 1)
            & (F.col("l_quantity") <= 11)
            & (F.col("p_size") >= 1)
            & (F.col("p_size") <= 5)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 20)
            & (F.col("p_size") >= 1)
            & (F.col("p_size") <= 10)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & (F.col("l_quantity") >= 20)
            & (F.col("l_quantity") <= 30)
            & (F.col("p_size") >= 1)
            & (F.col("p_size") <= 15)
        )
    )
    return j.filter(cond).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


Q19_SQL = """
SELECT CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND ((p_brand = 'Brand#1' AND l_quantity BETWEEN 1  AND 11 AND p_size BETWEEN 1 AND 5)
    OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
    OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15))
"""


# --- q22: global sales opportunity (TPC-H Q22 adapted, no phone col) ---------

def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (F.sum(F.col("c_acctbal").cast("decimal(30,6)")).cast("double") / F.count("c_acctbal")).alias("avg_bal")
        )
    )
    rich = cust.crossJoin(broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("avg_bal"))
    no_orders = rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
    return (
        no_orders.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


Q22_SQL = """
SELECT c_nationkey, count(*) AS numcust, CAST(round(sum(CAST(c_acctbal AS DECIMAL(30,6))), 2) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) / count(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
"""


# --- window / set-op extras --------------------------------------------------

def top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        part.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select("p_brand", "p_partkey", "p_name", "p_retailprice", "rnk")
    )


TOP_PARTS_SQL = """
SELECT p_brand, p_partkey, p_name, p_retailprice, rnk
FROM (SELECT p_brand, p_partkey, p_name, p_retailprice,
             rank() OVER (PARTITION BY p_brand
                          ORDER BY p_retailprice DESC, p_partkey ASC) AS rnk
      FROM part) t
WHERE rnk <= 3
"""


def _grouped_with_standard_grand_total(j: DataFrame, grouped) -> DataFrame:
    """ROLLUP/CUBE with the SQL-standard grand-total row: Spark's
    rollup/cube emit ZERO rows on an empty relation, but the standard
    (and DuckDB, and Postgres) always emit the ``GROUP BY ()`` row —
    one row with NULL keys, count 0, NULL sums. Split the grand-total
    grouping (grouping_id == 3) out of the multi-grouping aggregate and
    compute it as a global aggregate, which has the always-one-row
    semantics; values are identical on non-empty data."""
    partial = grouped.agg(
        dsum(F.col("o_totalprice")).alias("total_price"),
        F.count("*").alias("n_orders"),
        F.grouping_id().alias("gid"),
    ).filter("gid != 3")
    total = j.agg(
        dsum(F.col("o_totalprice")).alias("total_price"),
        F.count("*").alias("n_orders"),
    ).select(
        F.lit(None).cast("string").alias("c_mktsegment"),
        F.lit(None).cast("string").alias("o_orderstatus"),
        "total_price",
        "n_orders",
    )
    return (
        partial.select("c_mktsegment", "o_orderstatus", "total_price", "n_orders")
        .unionByName(total)
        .select(
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("mktsegment"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            "total_price",
            "n_orders",
        )
    )


def customer_order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey)
    return _grouped_with_standard_grand_total(
        j, j.rollup("c_mktsegment", "o_orderstatus")
    )


ROLLUP_SQL = """
SELECT coalesce(c_mktsegment, 'ALL') AS mktsegment,
       coalesce(o_orderstatus, 'ALL') AS orderstatus,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_price,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY ROLLUP (c_mktsegment, o_orderstatus)
"""


def customer_order_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (segment, status): all 4 grouping-set combos,
    with the SQL-standard always-present grand-total row (see
    ``_grouped_with_standard_grand_total``)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey)
    return _grouped_with_standard_grand_total(
        j, j.cube("c_mktsegment", "o_orderstatus")
    )


CUBE_SQL = """
SELECT coalesce(c_mktsegment, 'ALL') AS mktsegment,
       coalesce(o_orderstatus, 'ALL') AS orderstatus,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_price,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY CUBE (c_mktsegment, o_orderstatus)
"""


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


NO_ORDERS_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def repeat_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    frequent = (
        orders.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), dsum(F.col("o_totalprice")).alias("total_spent"))
        .filter(F.col("n_orders") >= 12)
    )
    return frequent.join(cust, frequent.o_custkey == cust.c_custkey).select(
        "c_custkey", "c_name", "n_orders", "total_spent"
    )


REPEAT_BUYERS_SQL = """
SELECT c_custkey, c_name, n_orders, total_spent
FROM (SELECT o_custkey, count(*) AS n_orders,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_spent
      FROM orders GROUP BY o_custkey HAVING count(*) >= 12) f
JOIN customer ON o_custkey = c_custkey
"""


# --- q2: min-price part per type (TPC-H Q2's correlated-min, adapted) -------

def q2_min_price_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_type").orderBy("p_retailprice", "p_partkey")
    return (
        part.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_type", "p_partkey", "p_name", "p_retailprice")
    )


Q2_SQL = """
SELECT p_type, p_partkey, p_name, p_retailprice
FROM (SELECT p_type, p_partkey, p_name, p_retailprice,
             row_number() OVER (PARTITION BY p_type
                                ORDER BY p_retailprice, p_partkey) AS rn
      FROM part) t
WHERE rn = 1
"""


# --- q8: national market share (TPC-H Q8 adapted) ----------------------------

def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    n_c = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cnk"), F.col("n_regionkey").alias("crk")
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n_s = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    target = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0)
    # r18 join order: the ASIA region filter prunes customers, then
    # orders, BEFORE the lineitem join — at broadcastable SFs the plan
    # is the same single fact pass, but at scale the fact join's other
    # side is ~1/5 of orders instead of all of them (inner joins
    # commute; result identical, oracle-checked)
    cust_asia = cust.join(broadcast(n_c), cust.c_nationkey == F.col("cnk")).join(
        broadcast(region), F.col("crk") == region.r_regionkey
    )
    orders_asia = orders.join(cust_asia, orders.o_custkey == cust_asia.c_custkey)
    return (
        li.join(orders_asia, li.l_orderkey == orders_asia.o_orderkey)
        .join(broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(broadcast(n_s), supp.s_nationkey == F.col("snk"))
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .agg(
            round_ties_safe(
                F.sum(target.cast("decimal(30,6)")).cast("double")
                / F.sum(vol.cast("decimal(30,6)")).cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


_Q8_SHARE = (
    "CAST(sum(CAST(CASE WHEN n2.n_name = 'NATION_3' "
    "THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(30,6))) AS DOUBLE) "
    "/ CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE)"
)

Q8_SQL = f"""
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       {round_ties_safe_sql(_Q8_SHARE, 6)} AS mkt_share
FROM lineitem, orders, customer, supplier, nation n1, nation n2, region
WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND l_suppkey = s_suppkey AND s_nationkey = n2.n_nationkey
GROUP BY o_year
"""


# --- q11: important parts by inventory value (TPC-H Q11 adapted) -------------

def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = li.groupBy("l_partkey").agg(
        F.sum(vol.cast("decimal(30,6)")).alias("value_dec")
    )
    total = per_part.agg(F.sum("value_dec").alias("total_dec"))
    return (
        per_part.crossJoin(broadcast(total))
        .filter(
            F.col("value_dec").cast("double") > 0.001 * F.col("total_dec").cast("double")
        )
        .select(
            "l_partkey",
            # native-round-ok: value_dec is a DECIMAL(30,6) sum —
            # base-10-exact, both engines round HALF_UP identically
            F.round(F.col("value_dec"), 2).cast("double").alias("part_value"),
        )
    )


Q11_SQL = """
WITH per_part AS (
  SELECT l_partkey, sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS value_dec
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, CAST(/* native-round-ok: DECIMAL */ round(value_dec, 2) AS DOUBLE) AS part_value
FROM per_part
WHERE CAST(value_dec AS DOUBLE) > 0.001 * (SELECT CAST(sum(value_dec) AS DOUBLE) FROM per_part)
"""


# --- q15: top supplier by quarterly revenue (TPC-H Q15) ----------------------

def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    supp = _t(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(30,6)")),
                2,
            )
            .cast("double")
            .alias("total_revenue")
        )
    )
    max_rev = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.crossJoin(broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey, CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


# --- q17: small-quantity revenue (TPC-H Q17: correlated avg per part) --------

def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (F.sum(F.col("l_quantity").cast("decimal(30,6)")).cast("double") / F.count("l_quantity"))
        .alias("avg_qty")
    )
    return (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .join(avg_qty, li.l_partkey == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            round_ties_safe(
                F.sum(F.col("l_extendedprice").cast("decimal(30,6)")).cast("double") / 7.0, 2
            ).alias("avg_yearly")
        )
    )


Q17_SQL = f"""
SELECT {round_ties_safe_sql("CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / 7.0", 2)} AS avg_yearly
FROM lineitem, part
WHERE p_partkey = l_partkey AND p_brand = 'Brand#3'
  AND l_quantity < 0.5 * (
      SELECT CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) / count(l_quantity)
      FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)
"""


# --- q20: suppliers with heavy shipments of a part family (TPC-H Q20) --------

def q20_heavy_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("blue"))
    supp = _t(spark, sf_dir, "supplier")
    heavy = (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.round(F.sum(F.col("l_quantity").cast("decimal(30,6)")), 2).cast("double").alias("qty"))
        .filter(F.col("qty") > 100.0)
    )
    return (
        supp.join(heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


Q20_SQL = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem, part
  WHERE l_partkey = p_partkey AND p_name LIKE '%blue%'
    AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey
  HAVING CAST(round(sum(CAST(l_quantity AS DECIMAL(30,6))), 2) AS DOUBLE) > 100.0
)
"""


# --- q21: suppliers who shipped last in multi-supplier orders (Q21 adapted) --

def q21_last_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    per_order = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("max_ship"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )
    multi = per_order.filter(F.col("n_supps") > 1)
    last = (
        li.join(multi, "l_orderkey")
        .filter(F.col("l_shipdate") == F.col("max_ship"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        last.join(broadcast(supp), last.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


Q21_SQL = """
WITH per_order AS (
  SELECT l_orderkey, max(l_shipdate) AS max_ship, count(DISTINCT l_suppkey) AS n_supps
  FROM lineitem GROUP BY l_orderkey
), last AS (
  SELECT DISTINCT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN per_order p ON l.l_orderkey = p.l_orderkey
  WHERE p.n_supps > 1 AND l.l_shipdate = p.max_ship
)
SELECT s_name, count(*) AS numwait
FROM last JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
"""


# --- set operations: INTERSECT / EXCEPT ---------------------------------------

def order_key_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Urgent orders vs many-line orders as set algebra: keys in both
    (INTERSECT) and urgent-only (EXCEPT), tagged."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 4)
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    both = urgent.intersect(big).withColumn("tag", F.lit("both"))
    urgent_only = urgent.exceptAll(big).distinct().withColumn("tag", F.lit("urgent_only"))
    return both.unionByName(urgent_only)


ORDER_SETS_SQL = """
WITH urgent AS (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'),
big AS (SELECT l_orderkey AS o_orderkey FROM lineitem GROUP BY l_orderkey HAVING count(*) > 4)
SELECT o_orderkey, 'both' AS tag FROM (SELECT * FROM urgent INTERSECT SELECT * FROM big)
UNION ALL
SELECT o_orderkey, 'urgent_only' AS tag FROM (SELECT * FROM urgent EXCEPT SELECT * FROM big)
"""


def customer_balance_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions over account balances: quartile
    (ntile), percent_rank, cume_dist per market segment."""
    from pyspark.sql.window import Window

    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        round_ties_safe(F.percent_rank().over(w), 6).alias("pct_rank"),
        round_ties_safe(F.cume_dist().over(w), 6).alias("cume"),
    )


BALANCE_DIST_SQL = f"""
SELECT c_custkey, c_mktsegment, c_acctbal,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       {round_ties_safe_sql("percent_rank() OVER w", 6)} AS pct_rank,
       {round_ties_safe_sql("cume_dist() OVER w", 6)} AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
"""


def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity over brands co-purchased in one order:
    support and lift per brand pair. Scale shape: lineitem joins the
    small part dim BROADCAST, the per-order brand set is deduped
    (bounded at |brands| per order, so the within-order self-join fans
    out at most |brands|^2/2 pairs per order — a constant, not data-
    sized), and the scalar order total rides a broadcast 1-row agg.
    Never an all-pairs join over orders."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    ob = (
        li.join(
            broadcast(part.select("p_partkey", "p_brand")),
            li.l_partkey == F.col("p_partkey"),
        )
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    a, b = ob.alias("a"), ob.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.okey") == F.col("b.okey"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        .groupBy(
            F.col("a.brand").alias("brand_a"), F.col("b.brand").alias("brand_b")
        )
        .agg(F.count("*").alias("n_both"))
    )
    single = ob.groupBy("brand").agg(F.count("*").alias("n_single"))
    total = ob.agg(F.countDistinct("okey").alias("n_orders"))
    return (
        pairs.join(
            broadcast(single.select(F.col("brand").alias("brand_a"),
                                    F.col("n_single").alias("n_a"))),
            "brand_a",
        )
        .join(
            broadcast(single.select(F.col("brand").alias("brand_b"),
                                    F.col("n_single").alias("n_b"))),
            "brand_b",
        )
        .crossJoin(broadcast(total))
        .select(
            "brand_a",
            "brand_b",
            "n_both",
            round_ties_safe(F.col("n_both") / F.col("n_orders"), 6).alias("support"),
            round_ties_safe(
                (F.col("n_both") * F.col("n_orders"))
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                4,
            ).alias("lift"),
        )
    )


MARKET_BASKET_SQL = f"""
WITH ob AS (
  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
), pairs AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS n_both
  FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
  GROUP BY brand_a, brand_b
), single AS (
  SELECT brand, count(*) AS n_single FROM ob GROUP BY brand
), total AS (
  SELECT count(DISTINCT okey) AS n_orders FROM ob
)
SELECT p.brand_a, p.brand_b, p.n_both,
       {round_ties_safe_sql("p.n_both / CAST(t.n_orders AS DOUBLE)", 6)} AS support,
       {round_ties_safe_sql("(p.n_both * t.n_orders) / CAST(sa.n_single * sb.n_single AS DOUBLE)", 4)} AS lift
FROM pairs p
JOIN single sa ON p.brand_a = sa.brand
JOIN single sb ON p.brand_b = sb.brand
CROSS JOIN total t
"""


def nation_revenue_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per nation: yearly decimal-exact
    revenue, then a lag window over the tiny (nation, year) aggregate
    — the growth-rate primitive for trend dashboards. The window runs
    on the post-aggregation table (|nations| x |years| rows), so its
    cost is nil; the heavy lifting is the same broadcast-dim join
    shape as q5. First year per nation has NULL growth (no prior)."""
    from pyspark.sql.window import Window

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    yearly = j.groupBy(
        "n_name", F.year("o_orderdate").alias("yr")
    ).agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    w = Window.partitionBy("n_name").orderBy("yr")
    prev = F.lag("revenue").over(w)
    return yearly.select(
        "n_name",
        "yr",
        "revenue",
        round_ties_safe((F.col("revenue") - prev) / prev, 4).alias("yoy_growth"),
    )


YOY_SQL = f"""
WITH yearly AS (
  SELECT n_name, CAST(date_part('year', o_orderdate) AS INT) AS yr,
         CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, yr
)
SELECT n_name, yr, revenue,
       {round_ties_safe_sql("(revenue - lag(revenue) OVER (PARTITION BY n_name ORDER BY yr)) / lag(revenue) OVER (PARTITION BY n_name ORDER BY yr)", 4)} AS yoy_growth
FROM yearly
"""


def customer_order_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the aggregation lattice subsets ROLLUP
    and CUBE can't express: exactly (segment), (status), and
    (priority), no combined or grand-total rows. Spark's DataFrame API
    has no groupingSets method, so this goes through spark.sql on a
    temp view — still one shuffle, the grouping-set expansion is a
    map-side Expand node."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    orders.join(cust, orders.o_custkey == cust.c_custkey).createOrReplaceTempView(
        "__gs_orders"
    )
    return spark.sql(
        """
        SELECT coalesce(c_mktsegment, 'ALL') AS mktsegment,
               coalesce(o_orderstatus, 'ALL') AS orderstatus,
               coalesce(o_orderpriority, 'ALL') AS orderpriority,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE)
                   AS total_price,
               count(*) AS n_orders
        FROM __gs_orders
        GROUP BY GROUPING SETS ((c_mktsegment), (o_orderstatus), (o_orderpriority))
        """
    )


GROUPING_SETS_SQL = """
SELECT coalesce(c_mktsegment, 'ALL') AS mktsegment,
       coalesce(o_orderstatus, 'ALL') AS orderstatus,
       coalesce(o_orderpriority, 'ALL') AS orderpriority,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_price,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY GROUPING SETS ((c_mktsegment), (o_orderstatus), (o_orderpriority))
"""


def orders_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/Pareto classification of parts by cumulative revenue share
    (A: first 20% of revenue, B: to 50%, C: the tail).

    Scale shape: the global revenue-ordered cumulative sum is the
    docs_pack_sequences trick again, NOT a SinglePartition window —
    revenue magnitude buckets (floor(8*log2(revenue)), which ORDER the
    rows by construction: every row in a higher bucket outranks every
    row in a lower one) give a per-bucket window plus a few hundred bucket
    totals collected to the driver as broadcast prefix offsets.
    Revenue is decimal-exact so the cumulative shares are bit-identical
    across engines and partitionings; only the final share ratio is a
    (deterministic single-op) double division."""
    from pyspark.sql.window import Window

    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(30,6)"
            )
        ).alias("rev")
    )
    # 8 buckets per revenue octave (floor(8*log2)): a monotonic
    # function of revenue, so bucket order IS revenue order, with 8x
    # finer granularity than whole octaves — revenue distributions
    # concentrate in a few octaves and whole-octave buckets would put
    # most of the table through one window partition. Totals stay
    # driver-bounded (a few hundred rows).
    rev = rev.withColumn(
        "bucket", F.expr("CAST(floor(8 * log2(CAST(rev AS DOUBLE) + 1.0)) AS INT)")
    )
    totals = {
        r.bucket: r.t
        for r in rev.groupBy("bucket").agg(F.sum("rev").alias("t")).collect()
    }
    from decimal import Decimal

    grand = sum(totals.values(), Decimal(0))
    offsets = {}
    for b in sorted(totals, reverse=True):  # higher bucket = higher revenue
        offsets[b] = sum((t for bb, t in totals.items() if bb > b), Decimal(0))
    from pyspark.sql.types import DecimalType, IntegerType, StructField, StructType

    off_df = spark.createDataFrame(
        [(int(b), v) for b, v in offsets.items()],
        StructType(
            [
                StructField("bucket", IntegerType()),
                StructField("base", DecimalType(38, 6)),
            ]
        ),
    )
    w = Window.partitionBy("bucket").orderBy(F.desc("rev"), "p_partkey")
    cum = (
        rev.join(F.broadcast(off_df), "bucket")
        .withColumn(
            "cum_rev",
            F.col("base")
            + F.sum("rev").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn(
            "cum_share",
            round_ties_safe(
                F.col("cum_rev").cast("double") / F.lit(float(grand)), 6
            ),
        )
    )
    return cum.select(
        "p_partkey",
        # native-round-ok: rev is a DECIMAL(30,6) sum — exact
        F.round(F.col("rev"), 2).cast("double").alias("revenue"),
        "cum_share",
        F.when(F.col("cum_share") <= 0.2, "A")
        .when(F.col("cum_share") <= 0.5, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


ABC_SQL = f"""
WITH rev AS (
  SELECT l_partkey AS p_partkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS rev
  FROM lineitem GROUP BY l_partkey
), cum AS (
  SELECT p_partkey, rev,
         sum(rev) OVER (ORDER BY rev DESC, p_partkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev,
         sum(rev) OVER () AS grand
  FROM rev
)
SELECT p_partkey,
       CAST(/* native-round-ok: DECIMAL */ round(rev, 2) AS DOUBLE) AS revenue,
       {round_ties_safe_sql("CAST(cum_rev AS DOUBLE) / CAST(grand AS DOUBLE)", 6)} AS cum_share,
       CASE WHEN {round_ties_safe_sql("CAST(cum_rev AS DOUBLE) / CAST(grand AS DOUBLE)", 6)} <= 0.2 THEN 'A'
            WHEN {round_ties_safe_sql("CAST(cum_rev AS DOUBLE) / CAST(grand AS DOUBLE)", 6)} <= 0.5 THEN 'B'
            ELSE 'C' END AS abc_class
FROM cum
"""


def order_ship_latency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency histogram: integer-day delay between
    o_orderdate and each lineitem's l_shipdate, bucketed by week.
    Day-boundary counting (datediff) on both engines; load_table pins
    the session TZ to UTC so the date conversion is deterministic.
    One fact-fact shuffle join on orderkey, then a tiny bucket agg."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    joined = li.select("l_orderkey", "l_shipdate").join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    days = F.datediff("l_shipdate", "o_orderdate").cast("long")
    return (
        joined.select(days.alias("latency_days"))
        .select(F.expr("latency_days DIV 7").alias("week_bucket"), "latency_days")
        .groupBy("week_bucket")
        .agg(
            F.count("*").alias("n_lineitems"),
            F.min("latency_days").alias("min_days"),
            F.max("latency_days").alias("max_days"),
            davg(F.col("latency_days")).alias("avg_days"),
        )
    )


LATENCY_HIST_SQL = f"""
WITH d AS (
  SELECT CAST(date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS BIGINT) AS latency_days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT latency_days // 7 AS week_bucket,
       count(*) AS n_lineitems,
       min(latency_days) AS min_days,
       max(latency_days) AS max_days,
       {davg_sql("latency_days")} AS avg_days
FROM d
GROUP BY week_bucket
"""


# --- RFM customer segmentation ----------------------------------------


_RFM_BINS = 256


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, Recency (days since last order,
    vs the corpus max date), Frequency (order count) and Monetary
    (decimal-exact total spend) each bucket into quintiles 1–5 and
    concatenate into the classic three-digit segment code; output is
    the segment-level rollup (customer counts + EXACT metric totals —
    integer/decimal sums, immune to the cross-engine half-way rounding
    an average at money scales hits; consumers derive means).

    Scale shape: quintile BOUNDARIES derive from the repo's bounded
    ``_RFM_BINS``-bin mergeable equi-width histogram (the
    ``events_value_histogram_quantiles`` device) — aggregate state is
    ≤ 3·256 (metric, bin) count rows regardless of customer count,
    never a global ``ntile`` window (SinglePartition sort of 10⁹
    customers) and never the exact ``percentile`` aggregate, which
    buffers every value in the single final-agg task. Boundary error
    is ≤ 2 bin widths of the metric's range plus the bracketing
    order-stat gap (pinned by pytest); each
    customer then buckets by comparing against the 4 boundaries.
    Bucket = 1 + count(boundaries strictly below the metric), so
    boundary ties resolve identically in both engines (single IEEE
    comparisons against the same interpolated, 1e-9-rounded doubles —
    the oracle replays binning and interpolation bit-for-bit)."""
    rfm = _rfm_metrics(spark, sf_dir)
    bounds = _rfm_hist_bounds(spark, rfm)
    def bucket(metric: str, bs: str, invert: bool = False):
        # 1 + number of boundaries strictly below the metric; recency
        # inverts (LOW recency = best) so 5 is always "best"
        raw = F.lit(1) + F.aggregate(
            F.col(bs),
            F.lit(0),
            lambda acc, b: acc + F.when(F.col(metric) > b, 1).otherwise(0),
        )
        return (F.lit(6) - raw if invert else raw).cast("int")

    seg = rfm.crossJoin(F.broadcast(bounds)).select(
        "o_custkey",
        "recency",
        "frequency",
        "monetary",
        bucket("recency", "rb", invert=True).alias("r_score"),
        bucket("frequency", "fb").alias("f_score"),
        bucket("monetary_d", "mb").alias("m_score"),
    )
    return (
        seg.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("recency").cast("long")).alias("total_recency_days"),
            dsum(F.col("monetary")).alias("total_monetary"),
        )
        .select(
            F.concat_ws("", "r_score", "f_score", "m_score").alias("segment"),
            "r_score",
            "f_score",
            "m_score",
            "n_customers",
            "total_recency_days",
            "total_monetary",
        )
    )


def _rfm_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer (recency, frequency, monetary) metric table — the
    input to the histogram boundary device and the bucketing join."""
    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").cast("long").alias("frequency"),
        dsum(F.col("o_totalprice")).alias("monetary"),
    )
    # max(last_order) over the per-customer aggregate == max(o_orderdate)
    # over orders — no second scan of the big table
    maxd = per_cust.agg(F.max("last_order").alias("max_date"))
    return per_cust.crossJoin(F.broadcast(maxd)).select(
        "o_custkey",
        F.datediff("max_date", "last_order").cast("double").alias("recency"),
        F.col("frequency").cast("double").alias("frequency"),
        "monetary",
        F.col("monetary").cast("double").alias("monetary_d"),
    )


def _rfm_hist_bounds(spark: SparkSession, rfm: DataFrame) -> DataFrame:
    """Quintile boundaries (0.2/0.4/0.6/0.8) for the three RFM metrics
    from a ``_RFM_BINS``-bin equi-width histogram: one 1-row min/max/n
    agg, a ≤3·256-row (metric, bin) count table, rank interpolation
    inside the hit bin, 1e-9 rounding. Returns one row with sorted
    boundary arrays ``rb``/``fb``/``mb``. Estimate error ≤ 2 bin
    widths of the metric's range plus the bracketing order-stat gap
    (pinned by ``test_rfm_hist_bounds_within_one_bin_width``)."""
    pairs = rfm.select(
        F.expr(
            "stack(3, 'r', recency, 'f', frequency, 'm', monetary_d)"
            " AS (metric, v)"
        )
    )
    hit = grouped_hist_quantile_estimates(
        spark, pairs, ["metric"], (0.2, 0.4, 0.6, 0.8), _RFM_BINS
    ).select("metric", "q", round_ties_safe("est", 9).alias("b"))
    # 12 boundary rows fold into one broadcastable row of 3 sorted arrays
    return hit.groupBy().agg(
        *[
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("metric") == m, F.struct("q", "b"))
                    )
                ),
                lambda s: s["b"],
            ).alias(name)
            for m, name in (("r", "rb"), ("f", "fb"), ("m", "mb"))
        ]
    )


hq_rfm = hist_quantile_sql_ctes("rfmv", ["metric"], (0.2, 0.4, 0.6, 0.8), _RFM_BINS)

RFM_SQL = f"""
WITH per_cust AS (
  SELECT o_custkey, max(o_orderdate) AS last_order,
         CAST(count(*) AS BIGINT) AS frequency,
         {dsum_sql("o_totalprice")} AS monetary
  FROM orders GROUP BY o_custkey
),
maxd AS (SELECT max(o_orderdate) AS max_date FROM orders),
rfm AS (
  SELECT o_custkey,
         CAST(date_diff('day', last_order, max_date) AS DOUBLE) AS recency,
         CAST(frequency AS DOUBLE) AS frequency, monetary,
         CAST(monetary AS DOUBLE) AS monetary_d
  FROM per_cust CROSS JOIN maxd
),
rfmv AS (
  SELECT 'r' AS metric, recency AS v FROM rfm
  UNION ALL SELECT 'f', frequency FROM rfm
  UNION ALL SELECT 'm', monetary_d FROM rfm
),
{hq_rfm},
bounds AS (
  SELECT list(b ORDER BY q) FILTER (WHERE metric = 'r') AS rb,
         list(b ORDER BY q) FILTER (WHERE metric = 'f') AS fb,
         list(b ORDER BY q) FILTER (WHERE metric = 'm') AS mb
  FROM (SELECT metric, q, floor(est * 1000000000.0 + 0.5) / 1000000000.0 AS b FROM hqest) t
),
seg AS (
  SELECT o_custkey, recency, frequency, monetary,
         CAST(6 - (1 + len(list_filter(rb, b -> recency > b))) AS INT) AS r_score,
         CAST(1 + len(list_filter(fb, b -> frequency > b)) AS INT) AS f_score,
         CAST(1 + len(list_filter(mb, b -> monetary_d > b)) AS INT) AS m_score
  FROM rfm CROSS JOIN bounds
)
SELECT CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || CAST(m_score AS VARCHAR) AS segment,
       r_score, f_score, m_score,
       count(*) AS n_customers,
       CAST(sum(CAST(recency AS BIGINT)) AS BIGINT) AS total_recency_days,
       {dsum_sql("monetary")} AS total_monetary
FROM seg
GROUP BY r_score, f_score, m_score
"""


# --- graph analytics: PageRank over the part co-purchase graph --------

_PR_DAMPING = 0.85
_PR_ITERS = 5
_PR_TOPK = 20


def parts_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the part co-purchase graph (parts are
    nodes; an edge's weight counts the orders where both parts appear),
    ``_PR_ITERS`` power iterations, top-``_PR_TOPK`` parts.

    Scale shape — the canonical distributed PageRank: the rank vector
    — O(parts) rows, small next to edges — broadcasts into each
    contribution join, and each iteration's only shuffle is the
    map-side-combined contribution sum on dst. Per-order pair fan-out
    is bounded by order size squared (TPC-H ≤ 7 items/order), so edges
    grow linearly with lineitems. Beyond the broadcast threshold
    (billions of nodes) the rank join falls back to a co-partitioned
    shuffle join — same plan shape, one more exchange.

    r18: the r17 eager localCheckpoints of the edge tables are GONE —
    the frontier A/B at sf1 (10x) measured the checkpointed form at
    4-5.7x the CPU and ~4x the wall of the plain lazy plan
    (8596 vs 1976/1517 process-CPU seconds, interleaved arms), on top
    of the +5-13% it cost at sf0.1 in r17; the static plan's repeated
    self-join subtrees do NOT cost 34 scans' work at runtime, while
    the checkpoint pays full edge materialization to executor storage
    plus stat-less ExistingRDD reads in every iteration. The cut
    remains correct where actions genuinely repeat (LPA, k-core,
    components, modularity — driver loops with multiple actions).

    Determinism: weight normalization and per-edge contributions are
    single IEEE ops (identical across engines); contributions round to
    1e-12 and accumulate in DECIMAL(38,12) (order-independent), so the
    oracle's unrolled-CTE replay is bit-exact. Isolated parts (never
    co-purchased) are excluded — with symmetric edges every graph node
    has inbound mass, so no dangling-mass correction is needed."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    # wsum is O(nodes) — broadcast into the normalize join (drop the
    # hint past ~10^8 nodes and let it shuffle). No checkpoint here:
    # see the docstring — the r17 eager cut measured 4-5x worse at sf1.
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
    )
    wsum = edges.groupBy("src").agg(F.sum("w").alias("wtot"))
    en = edges.join(F.broadcast(wsum), "src").select(
        "src", "dst", round_ties_safe(F.col("w") / F.col("wtot"), 12).alias("nw")
    )
    n = wsum.agg(F.count("*").cast("double").alias("n_nodes"))
    pr = wsum.crossJoin(F.broadcast(n)).select(
        F.col("src").alias("node"), round_ties_safe(F.lit(1.0) / F.col("n_nodes"), 12).alias("pr")
    )
    base = F.lit(1.0 - _PR_DAMPING) / F.col("n_nodes")
    for _ in range(_PR_ITERS):
        contrib = en.join(
            F.broadcast(pr.withColumnRenamed("node", "src")), "src"
        ).select("dst", round_ties_safe(F.col("pr") * F.col("nw"), 12).alias("c"))
        pr = (
            contrib.groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("c").cast("decimal(38,12)")).alias("csum"))
            .crossJoin(F.broadcast(n))
            .select(
                "node",
                round_ties_safe(
                    base + F.lit(_PR_DAMPING) * F.col("csum").cast("double"), 12
                ).alias("pr"),
            )
        )
    # Top-K via orderBy().limit() => TakeOrderedAndProject (per-partition
    # top-K + driver merge of K*partitions rows), never a SinglePartition
    # sort of the whole O(nodes) rank vector; rnk derives on the K
    # survivors only (a K-row window is driver-trivial at any scale).
    topk = pr.orderBy(F.desc("pr"), "node").limit(_PR_TOPK)
    w = Window.orderBy(F.desc("pr"), "node")
    return topk.select(
        F.col("node").alias("part_id"),
        round_ties_safe(F.col("pr"), 8).alias("pagerank"),
        F.row_number().over(w).cast("int").alias("rnk"),
    )


def _pagerank_sql() -> str:
    d, iters = _PR_DAMPING, _PR_ITERS
    parts = [
        f"""edges AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY src, dst
), wsum AS (SELECT src, sum(w) AS wtot FROM edges GROUP BY src),
en AS (
  SELECT e.src, e.dst, {round_ties_safe_sql("e.w / CAST(s.wtot AS DOUBLE)", 12)} AS nw
  FROM edges e JOIN wsum s ON e.src = s.src
), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n_nodes FROM wsum),
pr0 AS (
  SELECT src AS node, {round_ties_safe_sql("1.0 / nn.n_nodes", 12)} AS pr FROM wsum CROSS JOIN nn
)"""
    ]
    for i in range(iters):
        parts.append(
            f"""pr{i + 1} AS (
  SELECT c.dst AS node,
         {round_ties_safe_sql(f"{1.0 - d} / nn.n_nodes + {d} * CAST(sum(CAST(c.c AS DECIMAL(38,12))) AS DOUBLE)", 12)} AS pr
  FROM (
    SELECT e.dst, {round_ties_safe_sql("p.pr * e.nw", 12)} AS c
    FROM en e JOIN pr{i} p ON p.node = e.src
  ) c CROSS JOIN nn
  GROUP BY c.dst, nn.n_nodes
)"""
        )
    return f"""
WITH {", ".join(parts)}
SELECT node AS part_id, {round_ties_safe_sql("pr", 8)} AS pagerank, CAST(rnk AS INT) AS rnk
FROM (
  SELECT node, pr, row_number() OVER (ORDER BY pr DESC, node) AS rnk
  FROM pr{iters}
) t WHERE rnk <= {_PR_TOPK}
"""


# --- grouped bounded-state quantiles ----------------------------------

_NQ_BINS = 256


def nation_order_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation order-value median and p90 — the GROUPED form of the
    bounded-state histogram quantile device (events'
    ``events_value_histogram_quantiles`` proves the estimator; RFM uses
    it globally; this is the per-group grain every BI rollup needs).

    Scale shape: a grouped EXACT ``percentile`` buffers each group's
    full value list in its final-agg task — a hot nation at 10⁹ orders
    is an OOM, not a slowdown. Here aggregate state is ≤ groups ×
    ``_NQ_BINS`` count rows: one bounded (nation, min/max/n) agg
    broadcasts back, values bin map-side, the cumulative window runs
    over ≤ 256 rows per nation partition, estimates interpolate inside
    the hit bin (error ≤ 2 bin widths of the nation's value range plus
    the bracketing order-stat gap — the contract the estimator test
    pins). All arithmetic is single
    IEEE ops over exact counts, replayed bit-for-bit by the oracle —
    including the final 6-dp rounding, which goes through the shared
    tie-safe ``round_ties_safe`` (NOT engine-native round: money-grid
    inputs through equal-width bins land on …5-terminating decimal
    renderings where Spark's HALF_UP and DuckDB's binary scaling
    disagree; the r9 driver red row, pinned by
    ``test_round_half_tie_cross_engine_regression``)."""
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    vals = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("n_name", F.col("o_totalprice").cast("double").alias("v"))
    )
    est = grouped_hist_quantile_estimates(
        spark, vals, ["n_name"], (0.5, 0.9), _NQ_BINS
    )
    return est.groupBy("n_name").agg(
        F.max(F.col("n").cast("long")).alias("n_orders"),
        F.max(
            F.when(F.col("q") == 0.5, round_ties_safe(F.col("est"), 6))
        ).alias("median_est"),
        F.max(
            F.when(F.col("q") == 0.9, round_ties_safe(F.col("est"), 6))
        ).alias("p90_est"),
    )


hq_nation = hist_quantile_sql_ctes("vals", ["n_name"], (0.5, 0.9), _NQ_BINS)

NATION_QUANTILES_SQL = f"""
WITH vals AS (
  SELECT n.n_name, CAST(o.o_totalprice AS DOUBLE) AS v
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
),
{hq_nation}
SELECT n_name, max(CAST(n AS BIGINT)) AS n_orders,
       max(CASE WHEN q = 0.5 THEN {round_ties_safe_sql("est", 6)} END) AS median_est,
       max(CASE WHEN q = 0.9 THEN {round_ties_safe_sql("est", 6)} END) AS p90_est
FROM hqest GROUP BY n_name
"""


# --- graph analytics: triangle counting -------------------------------

_TRI_TOPK = 20


def _copurchase_graph(spark: SparkSession, sf_dir: str):
    """(edges, deg) of the undirected part co-purchase graph: distinct
    u<v pairs appearing in the same order, and each node's degree."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )
    deg = (
        edges.select(F.col("u").alias("n"))
        .union(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    return edges, deg


def _copurchase_graph_chk(spark: SparkSession, sf_dir: str):
    """``_copurchase_graph`` with the edge table eagerly materialized
    (localCheckpoint) and the degree table rebuilt from the cut — the
    lineage-cut device every multi-branch graph consumer needs: the
    hoped-for ReusedExchange dedup of the edge subtree did NOT happen
    at runtime (triangles' executed plan scanned lineitem 30x, jaccard
    38x; r17 measurement), so without the cut each plan branch re-ran
    the lineitem self-join. Kept out of ``_copurchase_graph`` itself:
    an eager cut there would execute the self-join at plan-BUILD time
    for registry-wide plan enumeration that never runs the query, and
    k-core/LPA cut at their own (different) waists."""
    edges, _ = _copurchase_graph(spark, sf_dir)
    edges = edges.localCheckpoint(eager=True)
    deg = (
        edges.select(F.col("u").alias("n"))
        .union(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    return edges, deg


def _oriented_triangles(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """One row (na, nb, nc) per triangle, each matched exactly once via
    the degree-ordered orientation (see parts_copurchase_triangles)."""
    key = (F.col("deg") * F.lit(1 << 32).cast("long") + F.col("n")).alias("k")
    dk = deg.select("n", key)
    # r17: the degree-key table is O(nodes) — broadcast it onto the
    # edge stream (post-distinct size estimates planned these as
    # SortMergeJoins, two needless edge-table exchanges per use; drop
    # the hint past ~10^8 nodes and let it shuffle)
    ek = (
        edges.join(F.broadcast(dk.select(F.col("n").alias("u"), F.col("k").alias("ku"))), "u")
        .join(F.broadcast(dk.select(F.col("n").alias("v"), F.col("k").alias("kv"))), "v")
        .select(
            F.when(F.col("ku") < F.col("kv"), F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(F.col("ku") < F.col("kv"), F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.greatest("ku", "kv").alias("kd"),
        )
    )
    # r18: both wedge joins hinted SHUFFLE_HASH — sort-merge pays a sort
    # of the O(sum deg²) wedge stream (41M rows at sf0.1, measured 1.5x
    # slower); the hash build sides are per-partition slices of the
    # O(E) edge table, bounded by the shuffle-partition count (§3.1),
    # and the wedge stream is always the probe side, never built
    x = ek.alias("x")
    y, z = ek.hint("SHUFFLE_HASH").alias("y"), ek.hint("SHUFFLE_HASH").alias("z")
    return (
        x.join(y, (F.col("x.src") == F.col("y.src")) & (F.col("x.kd") < F.col("y.kd")))
        .join(
            z,
            (F.col("z.src") == F.col("x.dst")) & (F.col("z.dst") == F.col("y.dst")),
        )
        .select(
            F.col("x.src").alias("na"),
            F.col("x.dst").alias("nb"),
            F.col("y.dst").alias("nc"),
        )
    )


def parts_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the (undirected) part co-purchase graph —
    top-``_TRI_TOPK`` parts by the number of triangles they close, the
    classic local-clustering signal (a part whose co-purchase partners
    are also co-purchased with each other).

    Scale shape — DEGREE-ORDERED orientation, the standard distributed
    triangle algorithm: every undirected edge orients from its lower
    (degree, id) endpoint, so each triangle {a,b,c} materializes as
    exactly ONE wedge join match (a→b, a→c closed by b→c) and — the
    part that matters at 10⁹ edges — wedge fan-out is bounded by
    out-degree under the orientation, O(√E) even for celebrity nodes,
    instead of the hub's full degree squared. The per-order pair
    fan-out is bounded by order size (TPC-H ≤ 7 items). The (deg, id)
    order packs into one long key (deg << 32 | id — fine while ids fit
    32 bits; at bigger ids widen to a struct compare), identical
    arithmetic in the DuckDB oracle. Top-K via orderBy().limit()
    (TakeOrderedAndProject), never a global window sort. r18: back on
    the UNCUT graph — the r17 eager edge checkpoint measured as a pure
    loss at both sf0.1 (+13%, r17) and the sf1 frontier (more CPU and
    equal-or-worse wall in every interleaved arm: 7390/6521 vs
    7113/6172 process-CPU s); the wedge join dominates, and the static
    plan's 30 repeated self-join branches do not cost 30 executions'
    work at runtime."""
    edges, deg = _copurchase_graph(spark, sf_dir)
    tri = _oriented_triangles(edges, deg)
    per_node = (
        tri.select(F.explode(F.array("na", "nb", "nc")).alias("part_id"))
        .groupBy("part_id")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    topk = per_node.orderBy(F.desc("n_triangles"), "part_id").limit(_TRI_TOPK)
    w = Window.orderBy(F.desc("n_triangles"), "part_id")
    return topk.select(
        "part_id", "n_triangles", F.row_number().over(w).cast("int").alias("rnk")
    )


TRIANGLES_SQL = f"""
WITH edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS deg
  FROM (SELECT u AS n FROM edges UNION ALL SELECT v FROM edges) t
  GROUP BY n
), dk AS (SELECT n, deg * {1 << 32} + n AS k FROM deg),
ek AS (
  SELECT CASE WHEN du.k < dv.k THEN e.u ELSE e.v END AS src,
         CASE WHEN du.k < dv.k THEN e.v ELSE e.u END AS dst,
         greatest(du.k, dv.k) AS kd
  FROM edges e JOIN dk du ON du.n = e.u JOIN dk dv ON dv.n = e.v
), tri AS (
  SELECT x.src AS na, x.dst AS nb, y.dst AS nc
  FROM ek x JOIN ek y ON x.src = y.src AND x.kd < y.kd
  JOIN ek z ON z.src = x.dst AND z.dst = y.dst
), per_node AS (
  SELECT part_id, CAST(count(*) AS BIGINT) AS n_triangles
  FROM (SELECT na AS part_id FROM tri UNION ALL SELECT nb FROM tri UNION ALL SELECT nc FROM tri) t
  GROUP BY part_id
)
SELECT part_id, n_triangles, CAST(rnk AS INT) AS rnk
FROM (
  SELECT part_id, n_triangles,
         row_number() OVER (ORDER BY n_triangles DESC, part_id) AS rnk
  FROM per_node
) t WHERE rnk <= {_TRI_TOPK}
"""


def customer_spend_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend-tier MIGRATION matrix: quintile tier (by total
    spend) in the first half of the order history vs the second half —
    the upgrade/downgrade/churn/new cohort table every retention
    analysis starts from. Tier 0 means "no orders in that half"
    (churned when on the h2 side, newly-acquired on the h1 side).

    Scale shape: tiers come from the same bounded 256-bin histogram
    device as RFM, computed per half (state ≤ 2 × 256 count rows at
    any customer count, never a per-half ntile sort); the matrix is a
    ≤ 36-cell aggregate of a customer-keyed full-outer join between
    two already-aggregated per-customer tables. The half boundary is
    pure integer date arithmetic off one broadcast (min, max) row —
    both engines split identically."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    rng = orders.agg(
        F.min("o_orderdate").alias("d0"), F.max("o_orderdate").alias("d1")
    )
    halves = orders.crossJoin(broadcast(rng)).select(
        "o_custkey",
        "o_totalprice",
        F.when(
            F.datediff("o_orderdate", "d0")
            <= F.floor(F.datediff("d1", "d0") / 2),
            F.lit("h1"),
        )
        .otherwise(F.lit("h2"))
        .alias("half"),
    )
    percust = (
        halves.groupBy("half", "o_custkey")
        .agg(dsum(F.col("o_totalprice")).alias("m"))
        .select("half", "o_custkey", F.col("m").cast("double").alias("v"))
    )
    bounds = (
        grouped_hist_quantile_estimates(
            spark,
            percust.select("half", "v"),
            ["half"],
            (0.2, 0.4, 0.6, 0.8),
            _NQ_BINS,
        )
        .select("half", "q", round_ties_safe("est", 9).alias("b"))
        .groupBy("half")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("q", "b"))),
                lambda st: st["b"],
            ).alias("bs")
        )
    )
    tiers = percust.join(broadcast(bounds), "half").select(
        "half",
        "o_custkey",
        (
            F.lit(1)
            + F.aggregate(
                F.col("bs"),
                F.lit(0),
                lambda acc, bd: acc + F.when(F.col("v") > bd, 1).otherwise(0),
            )
        )
        .cast("int")
        .alias("tier"),
    )
    t1 = tiers.filter(F.col("half") == "h1").select(
        "o_custkey", F.col("tier").alias("tier_h1")
    )
    t2 = tiers.filter(F.col("half") == "h2").select(
        "o_custkey", F.col("tier").alias("tier_h2")
    )
    return (
        t1.join(t2, "o_custkey", "full_outer")
        .select(
            F.coalesce("tier_h1", F.lit(0)).alias("tier_h1"),
            F.coalesce("tier_h2", F.lit(0)).alias("tier_h2"),
        )
        .groupBy("tier_h1", "tier_h2")
        .agg(F.count("*").cast("long").alias("n_customers"))
    )


hq_migration = hist_quantile_sql_ctes(
    "percust", ["half"], (0.2, 0.4, 0.6, 0.8), _NQ_BINS
)

SPEND_MIGRATION_SQL = f"""
WITH rng AS (
  SELECT min(o_orderdate) AS d0, max(o_orderdate) AS d1 FROM orders
),
halves AS (
  SELECT o_custkey, o_totalprice,
         CASE WHEN date_diff('day', d0, o_orderdate)
                   <= floor(date_diff('day', d0, d1) / 2)
              THEN 'h1' ELSE 'h2' END AS half
  FROM orders CROSS JOIN rng
),
percust AS (
  SELECT half, o_custkey,
         CAST({dsum_sql("o_totalprice")} AS DOUBLE) AS v
  FROM halves GROUP BY half, o_custkey
),
{hq_migration},
bounds AS (
  SELECT half, list(b ORDER BY q) AS bs
  FROM (SELECT half, q, floor(est * 1000000000.0 + 0.5) / 1000000000.0 AS b FROM hqest) t
  GROUP BY half
),
tiers AS (
  SELECT p.half, p.o_custkey,
         CAST(1 + len(list_filter(bs, bd -> p.v > bd)) AS INT) AS tier
  FROM percust p JOIN bounds bo ON p.half = bo.half
),
t1 AS (SELECT o_custkey, tier AS tier_h1 FROM tiers WHERE half = 'h1'),
t2 AS (SELECT o_custkey, tier AS tier_h2 FROM tiers WHERE half = 'h2')
SELECT coalesce(t1.tier_h1, 0) AS tier_h1,
       coalesce(t2.tier_h2, 0) AS tier_h2,
       CAST(count(*) AS BIGINT) AS n_customers
FROM t1 FULL OUTER JOIN t2 ON t1.o_custkey = t2.o_custkey
GROUP BY 1, 2
"""


def nation_shipping_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier-nation order→ship latency TREND: the OLS slope of
    (ship − order) days against ship month — "is this nation's supply
    chain getting slower?" — plus the exact mean latency. A regression
    shape the registry lacked.

    Determinism: both OLS inputs are INTEGERS (x = months since epoch
    from the ship date, y = day latency), so every sum in
    slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) accumulates exactly in
    LONG/DECIMAL — no float order-dependence anywhere; the single
    final division is one IEEE op, rounded 6. Scale shape: the
    lineitem→orders equi-join is the plan's one big shuffle (both
    sides key-partitioned on orderkey), supplier rides the same
    shuffle, nation broadcasts; then one map-side-combined groupBy on
    ~25 nations; constant output."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1)
            .cast("long")
            .alias("x"),
            F.datediff("l_shipdate", "o_orderdate").cast("long").alias("y"),
        )
    )
    agg = base.groupBy("n_name").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = (
        F.col("n").cast("decimal(38,0)") * F.col("sxy")
        - F.col("sx").cast("decimal(38,0)") * F.col("sy")
    )
    den = (
        F.col("n").cast("decimal(38,0)") * F.col("sxx")
        - F.col("sx").cast("decimal(38,0)") * F.col("sx")
    )
    return agg.select(
        "n_name",
        F.col("n").alias("n_items"),
        round_ties_safe(F.col("sy") / F.col("n").cast("double"), 4).alias(
            "avg_latency_days"
        ),
        round_ties_safe(num.cast("double") / den.cast("double"), 6).alias(
            "slope_days_per_month"
        ),
    )


SHIPPING_TREND_SQL = """
WITH base AS (
  SELECT n.n_name,
         CAST(year(l.l_shipdate) * 12 + month(l.l_shipdate) - 1 AS BIGINT) AS x,
         CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS y
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
), agg AS (
  SELECT n_name, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
  FROM base GROUP BY n_name
)
SELECT n_name, n AS n_items,
       floor((sy / CAST(n AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS avg_latency_days,
       floor((CAST(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
              / CAST(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS slope_days_per_month
FROM agg
"""


_WILSON_Z = 1.96
_WILSON_TOPK = 20


def brand_return_rate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand lineitem RETURN RATE ranked by the Wilson score lower
    bound — the confidence-aware ranking every "worst offenders" report
    needs: a brand with 3/4 returns must not outrank one with 300/1000,
    which raw rate ordering gets wrong. The registry's first
    interval-estimate shape.

    Determinism: n and k are exact integer counts; the Wilson bound
    (z = 1.96) is one fixed expression tree of IEEE ops over them —
    identical in both engines — rounded to 6 dp before ranking, and
    ties break on (bound, rate, brand). Scale shape: one
    lineitem→part equi-join (brand rides the part side), one
    map-side-combined groupBy over ~25 brands, TakeOrderedAndProject
    for the top-K — no window over the fact table."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    per_brand = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("long")
            .alias("n_returned"),
        )
    )
    p = F.col("n_returned") / F.col("n")
    z2n = F.lit(_WILSON_Z * _WILSON_Z) / F.col("n")
    wilson = (
        p
        + z2n / 2
        - F.lit(_WILSON_Z)
        * F.sqrt((p * (1 - p) + z2n / 4) / F.col("n"))
    ) / (1 + z2n)
    scored = per_brand.select(
        "p_brand",
        "n",
        "n_returned",
        round_ties_safe(p, 6).alias("return_rate"),
        round_ties_safe(wilson, 6).alias("wilson_lb"),
    )
    topk = scored.orderBy(
        F.desc("wilson_lb"), F.desc("return_rate"), "p_brand"
    ).limit(_WILSON_TOPK)
    w = Window.orderBy(F.desc("wilson_lb"), F.desc("return_rate"), "p_brand")
    return topk.select(
        "p_brand",
        "n",
        "n_returned",
        "return_rate",
        "wilson_lb",
        F.row_number().over(w).cast("int").alias("rnk"),
    )


WILSON_SQL = f"""
WITH per_brand AS (
  SELECT p.p_brand,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_brand
),
scored AS (
  SELECT p_brand, n, n_returned,
         floor((n_returned / CAST(n AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS return_rate,
         floor((
           (n_returned / CAST(n AS DOUBLE)
            + ({_WILSON_Z * _WILSON_Z} / n) / 2
            - {_WILSON_Z} * sqrt((n_returned / CAST(n AS DOUBLE)
                                  * (1 - n_returned / CAST(n AS DOUBLE))
                                  + ({_WILSON_Z * _WILSON_Z} / n) / 4) / n))
           / (1 + {_WILSON_Z * _WILSON_Z} / n)) * 1000000.0 + 0.5) / 1000000.0 AS wilson_lb
  FROM per_brand
)
SELECT p_brand, n, n_returned, return_rate, wilson_lb, CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, row_number() OVER (ORDER BY wilson_lb DESC, return_rate DESC, p_brand) AS rnk
  FROM scored
) t WHERE rnk <= {_WILSON_TOPK}
"""


_KCORE_K = 96
_KCORE_ROUNDS = 6


def parts_copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling on the part co-purchase graph: ``_KCORE_ROUNDS``
    rounds of removing nodes with degree < ``_KCORE_K`` (and their
    edges), emitting the (round, n_nodes, n_edges) decay trace — the
    dense-core extraction that separates the always-bought-together
    backbone from one-off co-occurrences. Fixed-round like PageRank so
    it stays engine-replayable: equal node counts in the last two
    trace rows means the peeling converged to the exact k-core (it
    does on this corpus); more rounds is a constants change.

    Scale shape — the iterative-PRUNING graph pattern (vs PageRank's
    fixed-topology iteration): each round is one map-side-combined
    degree count plus two semi-join-shaped hash joins against the
    shrinking strong-node set; the edge table only ever SHRINKS, so
    per-round cost is monotonically decreasing, and nothing is ever
    collected to the driver. Like ``dedup_components``, each round
    eagerly ``localCheckpoint``s the surviving edge set — without the
    lineage cut, round r's plan nests every earlier round and the
    analyzer's relation-dedup pass goes combinatorial (the same
    expansion the oracle prevents with AS MATERIALIZED CTEs). All
    round snapshots stay referenced by the trace rows until collection
    — the footprint is ``_KCORE_ROUNDS`` strictly-shrinking edge
    tables."""
    edges, _ = _copurchase_graph(spark, sf_dir)
    e = edges.localCheckpoint(eager=True)
    trace = None
    for r in range(1, _KCORE_ROUNDS + 1):
        deg = (
            e.select(F.col("u").alias("n"))
            .union(e.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("deg"))
        )
        strong = deg.filter(F.col("deg") >= _KCORE_K).select("n")
        e_next = (
            e.join(strong.withColumnRenamed("n", "u"), "u")
            .join(strong.withColumnRenamed("n", "v"), "v")
            .localCheckpoint(eager=True)
        )
        row = (
            strong.agg(F.count("*").cast("long").alias("n_nodes"))
            .crossJoin(e_next.agg(F.count("*").cast("long").alias("n_edges")))
            .select(F.lit(r).cast("int").alias("round"), "n_nodes", "n_edges")
        )
        trace = row if trace is None else trace.union(row)
        e = e_next
    return trace


def _kcore_sql() -> str:
    # AS MATERIALIZED: DuckDB inlines CTEs by default, and each round
    # references the previous round ~3 times — unmaterialized, the
    # expansion is 3^rounds scans of lineitem ("too many open files")
    parts = [
        """edges AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)"""
    ]
    prev = "edges"
    selects = []
    for r in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f"""d{r} AS MATERIALIZED (
  SELECT n, count(*) AS deg
  FROM (SELECT u AS n FROM {prev} UNION ALL SELECT v FROM {prev}) t
  GROUP BY n
), s{r} AS MATERIALIZED (SELECT n FROM d{r} WHERE deg >= {_KCORE_K}),
e{r} AS MATERIALIZED (
  SELECT e.u, e.v FROM {prev} e
  JOIN s{r} a ON a.n = e.u JOIN s{r} b ON b.n = e.v
)"""
        )
        selects.append(
            f"SELECT CAST({r} AS INT) AS round,"
            f" (SELECT CAST(count(*) AS BIGINT) FROM s{r}) AS n_nodes,"
            f" (SELECT CAST(count(*) AS BIGINT) FROM e{r}) AS n_edges"
        )
        prev = f"e{r}"
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL ".join(selects)


# --- graph analytics: label-propagation communities (r10) -------------

_LPA_ROUNDS = 4
_LPA_TOPK = 20


def _lpa_labels(edges: DataFrame, rounds: int) -> DataFrame:
    """Synchronous label propagation over an undirected edge list
    (u, v): every node starts as its own label; each round a node
    adopts the most frequent label among its NEIGHBORS, ties broken by
    MIN label — both choices make the fixed-round trace a pure
    function of the graph, so the oracle replays it exactly (the
    raghavan-style async variant is order-dependent and can't be
    engine-replayed). Fixed ``rounds`` like PageRank/k-core: bounded
    work, engine-comparable, and on this corpus the label table is
    stable by the last round (pinned by the planted-communities test
    on the convergence property, not wall-clock luck).

    Scale shape — the iterative fixed-topology pattern: the
    symmetrized adjacency builds ONCE (localCheckpoint) and never
    reshuffles; each round is one hash join of labels into adj on the
    narrow nb key, one map-side-combined (n, label) count, and one
    per-node window over that node's distinct neighbor labels (≤ deg
    rows — never a global sort). Labels localCheckpoint per round:
    without the lineage cut round r's plan nests every earlier round
    (the dedup_components/k-core lesson). No round runs an action of
    its own, so the cuts are eager; superseded generations and the
    adjacency are released (``plans.lineage``)."""
    adj = (
        edges.select(F.col("u").alias("n"), F.col("v").alias("nb"))
        .union(edges.select(F.col("v").alias("n"), F.col("u").alias("nb")))
        .localCheckpoint(eager=True)
    )
    if rounds < 1:  # label table is just the node set
        return adj.select("n").distinct().withColumn("label", F.col("n"))
    w = Window.partitionBy("n").orderBy(F.desc("c"), F.asc("label"))
    # r17: round 1 folded into the adjacency (the dedup_components
    # device) — labels start as each node's own id, so round 1's
    # neighbor-label stream IS the adjacency: the O(E) init distinct
    # and round 1's join collapse into one groupBy over adj. Labels
    # after the fold are identical to init + join round (measured
    # exceptAll == 0 both ways at sf0.1; -31% on the LPA build).
    counts = adj.groupBy("n", F.col("nb").alias("label")).agg(F.count("*").alias("c"))
    labels = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("n", "label")
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds - 1):
        counts = (
            adj.join(labels.select(F.col("n").alias("nb"), "label"), "nb")
            .groupBy("n", "label")
            .agg(F.count("*").alias("c"))
        )
        nxt = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("n", "label")
            .localCheckpoint(eager=True)
        )
        release(labels)
        labels = nxt
    release(adj)
    return labels


def parts_copurchase_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the part co-purchase graph via
    ``_LPA_ROUNDS`` rounds of synchronous min-tie-break label
    propagation — the graph family's clustering member next to
    PageRank (centrality), triangles/Jaccard (local structure), and
    k-core (dense backbone). Emits the top-``_LPA_TOPK`` communities
    by size: the category-like part groups a merchandiser would read.

    Reference parity: no counterpart (the reference is an HTTP
    adapter); this extends SURVEY §2.2's graph analytics line."""
    edges, _ = _copurchase_graph(spark, sf_dir)
    labels = _lpa_labels(edges, _LPA_ROUNDS)
    comm = labels.groupBy("label").agg(
        F.count("*").cast("long").alias("n_nodes")
    )
    topk = comm.orderBy(F.desc("n_nodes"), "label").limit(_LPA_TOPK)
    w = Window.orderBy(F.desc("n_nodes"), "label")
    return topk.select(
        F.col("label").alias("community"),
        "n_nodes",
        F.row_number().over(w).cast("int").alias("rnk"),
    )


def _lpa_cte_parts() -> list:
    """The LPA replay WITH-fragments (edges, adj, l0..l{rounds}) —
    shared verbatim by ``_lpa_sql`` and ``_modularity_sql`` so the LPA
    oracle's rendered text (and with it the op fingerprint) is
    byte-identical to the pre-split form."""
    # AS MATERIALIZED for the same reason as k-core: round r reads
    # round r-1 once but DuckDB would inline the whole chain into
    # every reference without it
    parts = [
        """edges AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)""",
        """adj AS MATERIALIZED (
  SELECT u AS n, v AS nb FROM edges UNION ALL SELECT v AS n, u AS nb FROM edges
)""",
        """l0 AS MATERIALIZED (
  SELECT n, n AS label FROM (SELECT DISTINCT n FROM (SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges) q) t
)""",
    ]
    for r in range(1, _LPA_ROUNDS + 1):
        parts.append(
            f"""l{r} AS MATERIALIZED (
  SELECT n, label FROM (
    SELECT n, label, row_number() OVER (PARTITION BY n ORDER BY c DESC, label) AS rn
    FROM (SELECT a.n AS n, l.label AS label, count(*) AS c
          FROM adj a JOIN l{r - 1} l ON l.n = a.nb GROUP BY a.n, l.label) g
  ) t WHERE rn = 1
)"""
        )
    return parts


def _lpa_sql() -> str:
    return (
        "WITH "
        + ",\n".join(_lpa_cte_parts())
        + f"""
SELECT community, n_nodes, CAST(rnk AS INT) AS rnk
FROM (
  SELECT label AS community, CAST(count(*) AS BIGINT) AS n_nodes,
         row_number() OVER (ORDER BY count(*) DESC, label) AS rnk
  FROM l{_LPA_ROUNDS} GROUP BY label
) t WHERE rnk <= {_LPA_TOPK}
"""
    )


def _modularity_percomm(
    edges: DataFrame, deg: DataFrame, labels: DataFrame
) -> DataFrame:
    """Per-community modularity scores (label, n_nodes,
    internal_edges, degree_sum, q_contrib) for an undirected (u, v)
    edge list, its (n, deg) degree table, and an (n, label) partition
    — the formula seam the planted-two-clique pytest drives with a
    hand-built graph."""
    m = edges.agg(F.count("*").cast("double").alias("m"))
    comm = labels.groupBy("label").agg(F.count("*").cast("long").alias("n_nodes"))
    dsum = (
        labels.join(deg, "n")
        .groupBy("label")
        .agg(F.sum("deg").cast("long").alias("degree_sum"))
    )
    intl = (
        edges.join(labels.select(F.col("n").alias("u"), F.col("label").alias("lu")), "u")
        .join(labels.select(F.col("n").alias("v"), F.col("label").alias("lv")), "v")
        .filter(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("label"))
        .agg(F.count("*").cast("long").alias("internal_edges"))
    )
    half = F.col("degree_sum").cast("double") / (F.lit(2.0) * F.col("m"))
    return (
        comm.join(dsum, "label")
        .join(intl, "label", "left")
        .withColumn("internal_edges", F.coalesce("internal_edges", F.lit(0).cast("long")))
        .crossJoin(F.broadcast(m))
        .withColumn(
            "q_contrib",
            round_ties_safe(
                F.col("internal_edges").cast("double") / F.col("m") - half * half, 9
            ),
        )
    )


def parts_copurchase_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity scoring of the LPA communities — the graph
    family's measured-not-assumed eval (the ``dedup_semantic_recall``
    pattern): ``parts_copurchase_lpa`` emits communities but nothing
    said whether the partition is GOOD. Per community c:
    q_c = e_c/m − (d_c/2m)², where e_c = intra-community edges, d_c =
    degree sum, m = total edges; the graph-wide Q (sum over ALL
    communities, not just the displayed top-k) repeats per row.

    Scale shape — everything is bounded, no pair enumeration: e_c is
    one edge-table pass joined twice against the (n, label) table on
    the narrow node key, d_c is a label-join over the degree table,
    and the per-community math happens on |communities| rows. The two
    ratios are IEEE double ops on exact integer counts — identical in
    both engines with no rounding jitter — so q_c needs only the
    standard 1e-9 tie-safe display rounding, and Q accumulates in
    DECIMAL before its 1e-6 rounding (order-independent).

    Reference parity: no counterpart (the reference is an HTTP
    adapter); extends SURVEY §2.2's graph analytics line."""
    # the lineitem self-join behind edges feeds FIVE consumers here
    # (LPA adjacency, m, deg, intl, and percomm's two output branches);
    # materialize it once via the shared r17 helper — the same
    # lineage-cut device _lpa_labels applies to its adjacency (r12
    # self-review find: without it the self-join re-ran per branch)
    edges, deg = _copurchase_graph_chk(spark, sf_dir)
    labels = _lpa_labels(edges, _LPA_ROUNDS)
    percomm = _modularity_percomm(edges, deg, labels)
    # |communities|-row table consumed by BOTH the graph-Q aggregate
    # and the ranked top-k branch — cut it too so the upstream joins
    # run once
    percomm = percomm.localCheckpoint(eager=True)
    glob = percomm.agg(
        round_ties_safe(
            F.sum(F.col("q_contrib").cast("decimal(30,12)")).cast("double"), 6
        ).alias("graph_modularity")
    )
    w = Window.orderBy(F.desc("n_nodes"), "label")
    return (
        percomm.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _LPA_TOPK)
        .crossJoin(F.broadcast(glob))
        .select(
            F.col("label").alias("community"),
            "n_nodes",
            "internal_edges",
            "degree_sum",
            "q_contrib",
            "graph_modularity",
            "rnk",
        )
    )


def _modularity_sql() -> str:
    ln = f"l{_LPA_ROUNDS}"
    # fully-qualified COALESCE inside the expression: a bare
    # `internal_edges` here binds to the raw NULL-able i.internal_edges
    # (source columns win over lateral SELECT aliases), which NULLed
    # q_contrib for 0-internal-edge singleton communities while Spark
    # computed on the coalesced 0 — surfaced only at sf0.1, where
    # singletons first reached the top-20 window (r12 find)
    q_expr = (
        "CAST(COALESCE(i.internal_edges, 0) AS DOUBLE) / m"
        " - (CAST(d.degree_sum AS DOUBLE) / (2.0 * m))"
        " * (CAST(d.degree_sum AS DOUBLE) / (2.0 * m))"
    )
    return (
        "WITH "
        + ",\n".join(_lpa_cte_parts())
        + f""",
deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY n),
mm AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM edges),
comm AS (SELECT label, CAST(count(*) AS BIGINT) AS n_nodes FROM {ln} GROUP BY label),
dsum AS (SELECT l.label, CAST(sum(d.deg) AS BIGINT) AS degree_sum
         FROM {ln} l JOIN deg d ON d.n = l.n GROUP BY l.label),
intl AS (SELECT lu.label, CAST(count(*) AS BIGINT) AS internal_edges
         FROM edges e JOIN {ln} lu ON lu.n = e.u JOIN {ln} lv ON lv.n = e.v
         WHERE lu.label = lv.label GROUP BY lu.label),
percomm AS (
  SELECT c.label AS community, c.n_nodes,
         COALESCE(i.internal_edges, 0) AS internal_edges, d.degree_sum,
         {round_ties_safe_sql(q_expr, 9)} AS q_contrib
  FROM comm c JOIN dsum d ON d.label = c.label
  LEFT JOIN intl i ON i.label = c.label
  CROSS JOIN mm
),
gq AS (
  SELECT {round_ties_safe_sql("CAST(sum(CAST(q_contrib AS DECIMAL(30,12))) AS DOUBLE)", 6)} AS graph_modularity
  FROM percomm
)
SELECT community, n_nodes, internal_edges, degree_sum, q_contrib,
       graph_modularity, CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, row_number() OVER (ORDER BY n_nodes DESC, community) AS rnk
  FROM percomm
) t CROSS JOIN gq WHERE rnk <= {_LPA_TOPK}
"""
    )


_JAC_TOPK = 20


def parts_copurchase_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood Jaccard similarity for co-purchased part pairs —
    the "related products" scorer: J(u,v) = |N(u)∩N(v)| / |N(u)∪N(v)|
    over co-purchase neighborhoods, evaluated ONLY on pairs that are
    themselves edges (candidates a recommender actually ranks).
    Top-``_JAC_TOPK`` pairs by (J, common-neighbor count).

    Scale shape: the common-neighbor count per edge is exactly the
    number of triangles containing it, so it reuses the degree-ordered
    triangle stream (each triangle contributes one count to each of
    its three edges) — the naive per-edge wedge intersection would pay
    hub-degree² fan-out; the oriented form is O(√E)-bounded. The union
    size needs only the two degrees: |N(u)∪N(v)| = deg(u)+deg(v)−cn−2
    (each endpoint's neighborhood contains the other, never itself) —
    and cn ≥ 1 forces both degrees ≥ cn+1, so the denominator is ≥ cn,
    never zero. Top-K via TakeOrderedAndProject. r17: edges
    materialize once (``_copurchase_graph_chk`` — the executed plan
    used to scan lineitem 38x) and the O(nodes) degree table
    broadcasts onto the cn stream."""
    edges, deg = _copurchase_graph_chk(spark, sf_dir)
    tri = _oriented_triangles(edges, deg)
    tri_edges = tri.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("na", "nb").alias("u"), F.greatest("na", "nb").alias("v")
                ),
                F.struct(
                    F.least("na", "nc").alias("u"), F.greatest("na", "nc").alias("v")
                ),
                F.struct(
                    F.least("nb", "nc").alias("u"), F.greatest("nb", "nc").alias("v")
                ),
            )
        ).alias("e")
    ).select(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
    cn = tri_edges.groupBy("u", "v").agg(F.count("*").cast("long").alias("cn"))
    scored = (
        cn.join(F.broadcast(deg.select(F.col("n").alias("u"), F.col("deg").alias("du"))), "u")
        .join(F.broadcast(deg.select(F.col("n").alias("v"), F.col("deg").alias("dv"))), "v")
        .select(
            "u",
            "v",
            "cn",
            round_ties_safe(
                F.col("cn")
                / (F.col("du") + F.col("dv") - F.col("cn") - F.lit(2)).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    topk = scored.orderBy(F.desc("jaccard"), F.desc("cn"), "u", "v").limit(_JAC_TOPK)
    w = Window.orderBy(F.desc("jaccard"), F.desc("cn"), "u", "v")
    return topk.select(
        F.col("u").alias("part_a"),
        F.col("v").alias("part_b"),
        F.col("cn").alias("common_neighbors"),
        "jaccard",
        F.row_number().over(w).cast("int").alias("rnk"),
    )


JACCARD_SQL = f"""
WITH edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS deg
  FROM (SELECT u AS n FROM edges UNION ALL SELECT v FROM edges) t
  GROUP BY n
), dk AS (SELECT n, deg * {1 << 32} + n AS k FROM deg),
ek AS (
  SELECT CASE WHEN du.k < dv.k THEN e.u ELSE e.v END AS src,
         CASE WHEN du.k < dv.k THEN e.v ELSE e.u END AS dst,
         greatest(du.k, dv.k) AS kd
  FROM edges e JOIN dk du ON du.n = e.u JOIN dk dv ON dv.n = e.v
), tri AS (
  SELECT x.src AS na, x.dst AS nb, y.dst AS nc
  FROM ek x JOIN ek y ON x.src = y.src AND x.kd < y.kd
  JOIN ek z ON z.src = x.dst AND z.dst = y.dst
), tri_edges AS (
  SELECT least(na, nb) AS u, greatest(na, nb) AS v FROM tri
  UNION ALL SELECT least(na, nc), greatest(na, nc) FROM tri
  UNION ALL SELECT least(nb, nc), greatest(nb, nc) FROM tri
), cn AS (
  SELECT u, v, CAST(count(*) AS BIGINT) AS cn FROM tri_edges GROUP BY u, v
), scored AS (
  SELECT c.u, c.v, c.cn,
         floor((c.cn / CAST(du.deg + dv.deg - c.cn - 2 AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
  FROM cn c JOIN deg du ON du.n = c.u JOIN deg dv ON dv.n = c.v
)
SELECT u AS part_a, v AS part_b, cn AS common_neighbors, jaccard, CAST(rnk AS INT) AS rnk
FROM (
  SELECT u, v, cn, jaccard,
         row_number() OVER (ORDER BY jaccard DESC, cn DESC, u, v) AS rnk
  FROM scored
) t WHERE rnk <= {_JAC_TOPK}
"""


# --- TPC-DS-style breadth (r11, VERDICT r9 item 8 / r10 item 6) ---------
#
# TPC-DS's analytical shapes adapted to this schema: heterogeneous
# channel sub-queries unioned then ROLLUP-ed (Q5), a returns-ratio
# ranking window (Q49), a derived date-dimension aggregate with
# share-of-year (the date_dim join family), quarter-over-quarter growth
# (Q  -style trend window), and the customers-in-every-channel
# intersection (Q38). "Channels" derive from o_orderpriority:
# 1-URGENT/2-HIGH -> express, 3-MEDIUM -> standard, else economy.

_CHANNEL_CASE_SQL = (
    "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'express' "
    "WHEN o_orderpriority = '3-MEDIUM' THEN 'standard' "
    "ELSE 'economy' END"
)


def _channel_col() -> Column:
    return (
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "express")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "standard")
        .otherwise("economy")
    )


def channel_sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q5 shape: three HETEROGENEOUS per-channel year
    aggregates (orders gross, lineitem net, returns as negative sales)
    unioned, then ROLLUP(channel, yr) with 'ALL'/-1 subtotal labels.
    Sales stay DECIMAL through both aggregation levels — rounding to
    double only at the final projection, so the rollup totals are
    order-independent and bit-identical across engines. The rollup
    itself runs over |channels| x |years| pre-aggregated rows: free.

    NULL-date rows are FILTERED before the rollup (r11 advice fix):
    coalesce(yr, -1) cannot distinguish a genuine NULL-year data group
    from the per-channel subtotal, so this op declares the
    no-NULL-dates assumption explicitly and enforces it with the
    filter. For the lattice WITH grouping markers (where subtotals and
    NULL groups coexist safely) see ``parts_hierarchy_rollup_topk``,
    which carries explicit GROUPING() flags."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate").isNotNull())
    dec = "decimal(30,6)"
    gross = orders.groupBy(F.year("o_orderdate").alias("yr")).agg(
        F.sum(F.col("o_totalprice").cast(dec)).alias("sales_dec"),
        F.count("*").alias("n_rows"),
    ).select(F.lit("orders_gross").alias("channel"), "yr", "sales_dec", "n_rows")
    net = li.groupBy(F.year("l_shipdate").alias("yr")).agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(dec)).alias(
            "sales_dec"
        ),
        F.count("*").alias("n_rows"),
    ).select(F.lit("lineitem_net").alias("channel"), "yr", "sales_dec", "n_rows")
    ret = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy(F.year("l_shipdate").alias("yr"))
        .agg(
            (-F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(dec))).alias(
                "sales_dec"
            ),
            F.count("*").alias("n_rows"),
        )
        .select(F.lit("returns").alias("channel"), "yr", "sales_dec", "n_rows")
    )
    u = gross.unionByName(net).unionByName(ret)
    return (
        u.rollup("channel", "yr")
        .agg(F.sum("sales_dec").alias("s"), F.sum("n_rows").alias("n"))
        # drop the degenerate all-NULL grand-total row DuckDB emits for
        # the () group over an EMPTY input (Spark's Expand+groupBy
        # rollup emits no rows there); on any non-empty input n >= 1,
        # so this filter is a no-op
        .filter(F.col("n").isNotNull())
        .select(
            F.coalesce("channel", F.lit("ALL")).alias("channel"),
            F.coalesce("yr", F.lit(-1)).cast("int").alias("yr"),
            # native-round-ok: s is the DECIMAL(30,6) rollup sum — exact
            F.round(F.col("s"), 2).cast("double").alias("sales"),
            F.col("n").cast("long").alias("n_rows"),
        )
    )


CHANNEL_ROLLUP_SQL = """
WITH u AS (
  SELECT 'orders_gross' AS channel, CAST(year(o_orderdate) AS INT) AS yr,
         sum(CAST(o_totalprice AS DECIMAL(30,6))) AS sales_dec, count(*) AS n_rows
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY yr
  UNION ALL
  SELECT 'lineitem_net', CAST(year(l_shipdate) AS INT),
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), count(*)
  FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 2
  UNION ALL
  SELECT 'returns', CAST(year(l_shipdate) AS INT),
         -sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), count(*)
  FROM lineitem WHERE l_returnflag = 'R' AND l_shipdate IS NOT NULL GROUP BY 2
)
SELECT coalesce(channel, 'ALL') AS channel,
       CAST(coalesce(yr, -1) AS INT) AS yr,
       CAST(/* native-round-ok: DECIMAL */ round(sum(sales_dec), 2) AS DOUBLE) AS sales,
       CAST(sum(n_rows) AS BIGINT) AS n_rows
FROM u GROUP BY ROLLUP (channel, yr)
HAVING sum(n_rows) IS NOT NULL
"""


def returns_ratio_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q49 shape: per ship-year, the 10 brands with the worst
    currency return ratio (returned net revenue / total net revenue),
    ranked by a window over the tiny (brand, year) aggregate. Ratios
    are non-dyadic doubles -> tie-safe rounded BEFORE the rank order,
    so both engines rank the identical values; (ratio, brand) ordering
    makes ranks unique and deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    dec = "decimal(30,6)"
    net = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(dec)
    per = (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", F.year("l_shipdate").alias("yr"))
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "R", net).otherwise(F.lit(0).cast(dec))).alias("ret_dec"),
            F.sum(net).alias("tot_dec"),
        )
    )
    scored = per.select(
        "yr",
        "p_brand",
        # native-round-ok: ret_dec is DECIMAL(30,6) — exact
        F.round(F.col("ret_dec"), 2).cast("double").alias("returned_revenue"),
        round_ties_safe(
            F.col("ret_dec").cast("double") / F.col("tot_dec").cast("double"), 6
        ).alias("return_ratio"),
    )
    w = Window.partitionBy("yr").orderBy(F.desc("return_ratio"), "p_brand")
    return (
        scored.withColumn("rnk", F.rank().over(w).cast("int"))
        .filter(F.col("rnk") <= 10)
        .select("yr", "p_brand", "returned_revenue", "return_ratio", "rnk")
    )


RETURNS_RATIO_SQL = f"""
WITH per AS (
  SELECT p_brand, CAST(year(l_shipdate) AS INT) AS yr,
         sum(CASE WHEN l_returnflag = 'R'
                  THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))
                  ELSE CAST(0 AS DECIMAL(30,6)) END) AS ret_dec,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS tot_dec
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, yr
), scored AS (
  SELECT yr, p_brand,
         CAST(/* native-round-ok: DECIMAL */ round(ret_dec, 2) AS DOUBLE) AS returned_revenue,
         {round_ties_safe_sql("CAST(ret_dec AS DOUBLE) / CAST(tot_dec AS DOUBLE)", 6)} AS return_ratio
  FROM per
)
SELECT yr, p_brand, returned_revenue, return_ratio,
       CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, rank() OVER (PARTITION BY yr ORDER BY return_ratio DESC, p_brand) AS rnk
  FROM scored
) t WHERE rnk <= 10
"""


def date_dim_quarter_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS date-dimension aggregate: calendar attributes (year,
    quarter) derived in-query from o_orderdate (a real deployment
    broadcast-joins a date_dim table — the derived form has the same
    plan shape with the dim computed instead of scanned), revenue per
    quarter plus its share of the year via a window over the tiny
    (year, quarter) aggregate. Revenue stays decimal through the
    window sum; the share ratio is tie-safe rounded."""
    orders = _t(spark, sf_dir, "orders")
    q = orders.groupBy(
        F.year("o_orderdate").alias("yr"), F.quarter("o_orderdate").alias("qtr")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,6)")).alias("rev_dec"),
        F.count("*").alias("n_orders"),
        F.countDistinct(F.to_date("o_orderdate")).alias("n_active_days"),
    )
    w = Window.partitionBy("yr")
    return q.select(
        F.col("yr").cast("int").alias("yr"),
        F.col("qtr").cast("int").alias("qtr"),
        # native-round-ok: rev_dec is DECIMAL(30,6) — exact
        F.round(F.col("rev_dec"), 2).cast("double").alias("revenue"),
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("n_active_days").cast("long").alias("n_active_days"),
        round_ties_safe(
            F.col("rev_dec").cast("double")
            / F.sum("rev_dec").over(w).cast("double"),
            6,
        ).alias("share_of_year"),
    )


DATE_DIM_QUARTER_SQL = f"""
WITH q AS (
  SELECT CAST(year(o_orderdate) AS INT) AS yr,
         CAST(quarter(o_orderdate) AS INT) AS qtr,
         sum(CAST(o_totalprice AS DECIMAL(30,6))) AS rev_dec,
         count(*) AS n_orders,
         count(DISTINCT CAST(o_orderdate AS DATE)) AS n_active_days
  FROM orders GROUP BY yr, qtr
)
SELECT yr, qtr,
       CAST(/* native-round-ok: DECIMAL */ round(rev_dec, 2) AS DOUBLE) AS revenue,
       CAST(n_orders AS BIGINT) AS n_orders,
       CAST(n_active_days AS BIGINT) AS n_active_days,
       {round_ties_safe_sql("CAST(rev_dec AS DOUBLE) / CAST(sum(rev_dec) OVER (PARTITION BY yr) AS DOUBLE)", 6)} AS share_of_year
FROM q
"""


def quarterly_segment_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS trend shape: quarter-over-quarter revenue growth per
    market segment — decimal-exact quarterly revenue, then a lag
    window over the |segments| x |quarters| aggregate (nil cost; the
    heavy part is the one orders->customer join). First quarter per
    segment has NULL growth. Growth is computed on the already-rounded
    revenue doubles (both engines see identical inputs), tie-safe
    rounded."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    q = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "c_mktsegment",
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"),
        )
        .agg(dsum(F.col("o_totalprice")).alias("revenue"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy("yr", "qtr")
    prev = F.lag("revenue").over(w)
    return q.select(
        "c_mktsegment",
        F.col("yr").cast("int").alias("yr"),
        F.col("qtr").cast("int").alias("qtr"),
        "revenue",
        round_ties_safe((F.col("revenue") - prev) / prev, 4).alias("qoq_growth"),
    )


QUARTERLY_GROWTH_SQL = f"""
WITH q AS (
  SELECT c_mktsegment, CAST(year(o_orderdate) AS INT) AS yr,
         CAST(quarter(o_orderdate) AS INT) AS qtr,
         {dsum_sql("o_totalprice")} AS revenue
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, yr, qtr
)
SELECT c_mktsegment, yr, qtr, revenue,
       {round_ties_safe_sql("(revenue - lag(revenue) OVER (PARTITION BY c_mktsegment ORDER BY yr, qtr)) / lag(revenue) OVER (PARTITION BY c_mktsegment ORDER BY yr, qtr)", 4)} AS qoq_growth
FROM q
"""


def cross_channel_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q38 shape (customers present in EVERY channel): per
    market segment, how many customers ordered through all three
    priority channels, and how many orders those omni-channel
    customers placed. One shuffle to the per-customer channel set, one
    join back to customer for the segment — the INTERSECT of three
    channel scans expressed as count(DISTINCT channel) = 3, which
    scans orders once instead of three times."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    per = orders.withColumn("channel", _channel_col()).groupBy("o_custkey").agg(
        F.countDistinct("channel").alias("n_channels"),
        F.count("*").alias("n_orders"),
    )
    triple = per.filter(F.col("n_channels") == 3)
    return (
        triple.join(cust, triple.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum("n_orders").cast("long").alias("n_orders"),
        )
    )


CROSS_CHANNEL_SQL = f"""
WITH per AS (
  SELECT o_custkey,
         count(DISTINCT {_CHANNEL_CASE_SQL}) AS n_channels,
         count(*) AS n_orders
  FROM orders GROUP BY o_custkey
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(n_orders) AS BIGINT) AS n_orders
FROM per JOIN customer ON o_custkey = c_custkey
WHERE n_channels = 3
GROUP BY c_mktsegment
"""


def customers_above_avg_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q1 shape: customers whose returned net revenue exceeds
    1.2x the average over their NATION's returning customers — the
    classic correlated scalar subquery rewritten as one window over
    the per-customer aggregate, so the "subquery" costs a single
    Exchange(nationkey) of customer-COUNT rows instead of a rescan of
    the fact table per outer row. The membership predicate compares
    the UNROUNDED doubles: both engines derive them from the same
    exact DECIMAL sums with the identical cast/divide/multiply IEEE
    ops, so membership is bit-deterministic cross-engine; displayed
    values round (native for the exact decimal, tie-safe for the
    non-dyadic avg/ratio) only at the final projection."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    dec = "decimal(30,6)"
    net = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(dec)
    per = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(net).alias("ret_dec"))
    )
    wc = per.join(cust, per.o_custkey == cust.c_custkey).select(
        "c_custkey", "c_nationkey", "ret_dec"
    )
    w = Window.partitionBy("c_nationkey")
    scored = wc.withColumn("nat_sum", F.sum("ret_dec").over(w)).withColumn(
        "nat_n", F.count(F.lit(1)).over(w)
    )
    avg = F.col("nat_sum").cast("double") / F.col("nat_n")
    return (
        scored.filter(F.col("ret_dec").cast("double") > 1.2 * avg)
        .join(broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "c_custkey",
            "n_name",
            # native-round-ok: ret_dec is DECIMAL(30,6) — exact
            F.round(F.col("ret_dec"), 2).cast("double").alias("cust_returns"),
            round_ties_safe(avg, 4).alias("nation_avg_returns"),
            round_ties_safe(F.col("ret_dec").cast("double") / avg, 4).alias("ratio"),
        )
    )


ABOVE_AVG_RETURNS_SQL = f"""
WITH per AS (
  SELECT o_custkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS ret_dec
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
  GROUP BY o_custkey
), wc AS (
  SELECT c_custkey, c_nationkey, ret_dec,
         sum(ret_dec) OVER (PARTITION BY c_nationkey) AS nat_sum,
         count(*) OVER (PARTITION BY c_nationkey) AS nat_n
  FROM per JOIN customer ON o_custkey = c_custkey
)
SELECT c_custkey, n_name,
       CAST(/* native-round-ok: DECIMAL */ round(ret_dec, 2) AS DOUBLE) AS cust_returns,
       {round_ties_safe_sql("CAST(nat_sum AS DOUBLE) / nat_n", 4)} AS nation_avg_returns,
       {round_ties_safe_sql("CAST(ret_dec AS DOUBLE) / (CAST(nat_sum AS DOUBLE) / nat_n)", 4)} AS ratio
FROM wc JOIN nation ON c_nationkey = n_nationkey
WHERE CAST(ret_dec AS DOUBLE) > 1.2 * (CAST(nat_sum AS DOUBLE) / nat_n)
"""


def bulk_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q34/Q73 shape (group -> band filter -> regroup): orders
    with 5-7 lineitems are 'bulk'; return customers holding >= 2 of
    them with their bulk order count and total bulk quantity. The only
    wide op over the fact table is the map-side-combined per-order
    aggregate; the order->customer join then moves already-aggregated
    order rows (one row per qualifying order), never raw lineitems."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    per = (
        li.groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("l_quantity").cast("decimal(30,6)")).alias("qty_dec"),
        )
        .filter((F.col("n_lines") >= 5) & (F.col("n_lines") <= 7))
    )
    return (
        per.join(orders, per.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_bulk"), F.sum("qty_dec").alias("q"))
        .filter(F.col("n_bulk") >= 2)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("n_bulk").cast("long").alias("n_bulk_orders"),
            # native-round-ok: q is a DECIMAL sum — exact
            F.round(F.col("q"), 2).cast("double").alias("bulk_qty"),
        )
    )


BULK_ORDER_SQL = """
WITH per AS (
  SELECT l_orderkey, count(*) AS n_lines,
         sum(CAST(l_quantity AS DECIMAL(30,6))) AS qty_dec
  FROM lineitem GROUP BY l_orderkey
  HAVING count(*) BETWEEN 5 AND 7
)
SELECT o_custkey AS c_custkey,
       CAST(count(*) AS BIGINT) AS n_bulk_orders,
       CAST(/* native-round-ok: DECIMAL */ round(sum(qty_dec), 2) AS DOUBLE) AS bulk_qty
FROM per JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_custkey
HAVING count(*) >= 2
"""


_QTY_BANDS = [(1, 10), (10, 20), (20, 30), (30, 40), (40, 50)]


def lineitem_quantity_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q88 shape: the textbook form is EIGHT scalar subqueries
    (one scan per time band) cross-joined into a single row; the
    Spark-first rewrite is ONE conditional-aggregation pass — each
    band is a count over a predicate, all bands share one scan with
    map-side combine, output is a single row. Counts (not sums with
    0-else) so EMPTY input yields 0s in both engines rather than a
    NULL/absent-row divergence."""
    li = _t(spark, sf_dir, "lineitem")
    aggs = [
        F.count(
            F.when((F.col("l_quantity") >= lo) & (F.col("l_quantity") < hi), 1)
        )
        .cast("long")
        .alias(f"band_{lo}_{hi}")
        for lo, hi in _QTY_BANDS
    ]
    aggs.append(
        F.count(F.when(F.col("l_quantity") >= _QTY_BANDS[-1][1], 1))
        .cast("long")
        .alias("band_50_up")
    )
    aggs.append(F.count("*").cast("long").alias("n_total"))
    return li.agg(*aggs)


QTY_BANDS_SQL = f"""
SELECT
  {", ".join(f'''CAST(count(CASE WHEN l_quantity >= {lo} AND l_quantity < {hi} THEN 1 END) AS BIGINT) AS band_{lo}_{hi}''' for lo, hi in _QTY_BANDS)},
  CAST(count(CASE WHEN l_quantity >= {_QTY_BANDS[-1][1]} THEN 1 END) AS BIGINT) AS band_50_up,
  CAST(count(*) AS BIGINT) AS n_total
FROM lineitem
"""


def orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog time series: how many orders were placed but
    not yet (fully) shipped on each day an order event happened. The
    interval-counting pattern WITHOUT a range join: every order emits
    +1 at its order date and -1 at its completion date (max lineitem
    ship date — the order is open until its LAST line ships; orders
    with no lineitems never complete and stay in the backlog), the
    deltas pre-aggregate per day, and a running sum over the bounded
    day table yields the backlog. Scale shape: the only corpus-sized
    work is two map-side-combined aggregates (per-order completion,
    per-day delta); the cumsum window runs over |distinct days| rows
    (a date-dimension-sized table), so its single partition is a
    bounded post-aggregation artifact, not a corpus sort — the same
    class as the share-of-year windows."""
    from pyspark.sql.window import Window

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    done = li.groupBy("l_orderkey").agg(F.max(F.date_trunc("day", "l_shipdate")).alias("d"))
    opens = orders.select(F.date_trunc("day", "o_orderdate").alias("day")).withColumn(
        "delta", F.lit(1).cast("long")
    )
    closes = (
        orders.join(done, orders.o_orderkey == done.l_orderkey)
        .select(F.col("d").alias("day"))
        .withColumn("delta", F.lit(-1).cast("long"))
    )
    daily = (
        opens.unionByName(closes)
        .groupBy("day")
        .agg(F.sum("delta").alias("delta"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        F.col("delta").cast("long").alias("delta"),
        F.sum("delta").over(w).cast("long").alias("open_orders"),
    )


OPEN_BACKLOG_SQL = """
WITH done AS (
  SELECT l_orderkey, max(date_trunc('day', l_shipdate)) AS d FROM lineitem GROUP BY l_orderkey
), ev AS (
  SELECT date_trunc('day', o_orderdate) AS day, 1 AS delta FROM orders
  UNION ALL
  SELECT done.d AS day, -1 AS delta FROM orders JOIN done ON o_orderkey = l_orderkey
), daily AS (
  SELECT day, CAST(sum(delta) AS BIGINT) AS delta FROM ev GROUP BY day
)
SELECT day, delta,
       CAST(sum(delta) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS open_orders
FROM daily
"""


def part_type_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-concentration analytics: the Herfindahl-Hirschman index
    of supplier revenue shares within each part type — the
    procurement-risk view (HHI → 1 means one supplier owns the type;
    → 1/n means evenly spread). Shares are each supplier's net
    revenue over the type total (exact DECIMAL sums, identical
    cast/divide IEEE ops both engines); the squared shares accumulate
    in DECIMAL before the final tie-safe rounding, so the HHI is
    order-independent. One shuffle to the (type, supplier) aggregate;
    the type total is a window over that bounded table; final rows =
    |types|."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    dec = "decimal(30,6)"
    net = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(dec)
    per = (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_type", "l_suppkey")
        .agg(F.sum(net).alias("rev_dec"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("p_type")
    share = F.col("rev_dec").cast("double") / F.sum("rev_dec").over(w).cast("double")
    scored = per.withColumn("share2", (share * share).cast("decimal(30,15)"))
    return (
        scored.groupBy("p_type")
        .agg(
            F.count("*").cast("long").alias("n_suppliers"),
            round_ties_safe(F.sum("share2").cast("double"), 6).alias("hhi"),
        )
    )


HHI_SQL = f"""
WITH per AS (
  SELECT p_type, l_suppkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS rev_dec
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_type, l_suppkey
), sh AS (
  SELECT p_type,
         CAST((CAST(rev_dec AS DOUBLE) / CAST(sum(rev_dec) OVER (PARTITION BY p_type) AS DOUBLE))
              * (CAST(rev_dec AS DOUBLE) / CAST(sum(rev_dec) OVER (PARTITION BY p_type) AS DOUBLE))
              AS DECIMAL(30,15)) AS share2
  FROM per
)
SELECT p_type, CAST(count(*) AS BIGINT) AS n_suppliers,
       {round_ties_safe_sql("CAST(sum(share2) AS DOUBLE)", 6)} AS hhi
FROM sh GROUP BY p_type
"""


def parts_hierarchy_rollup_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q67 shape: ROLLUP over the part hierarchy (mfgr ->
    brand -> ship year), then a per-top-level rank window OVER THE
    ROLLED LATTICE itself — subtotal rows compete with leaf rows for
    the top-10 slots, which is what makes Q67 interesting (a plain
    per-group top-k never ranks a subtotal). The manufacturer level
    derives from the brand code (TPC-H's Brand#MB encoding: char 7 is
    the manufacturer digit) since this schema's part table carries no
    p_mfgr column.

    Unlike ``channel_sales_rollup`` (and per the r11 advice on its
    coalesce conflation), subtotal rows carry explicit GROUPING()
    flags, so a genuine NULL data group can never collide with an
    'ALL'/-1 subtotal label. Rank partitions include g_mfgr, putting
    the grand-total row in its own partition. Sales stay DECIMAL
    through the rollup (order-independent, engine-exact); the rank
    orders the exact-rounded double with full label tie-breaks. The
    rollup + window run over the tiny (mfgr, brand, yr) aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    base = li.join(broadcast(part), li.l_partkey == part.p_partkey).select(
        F.concat(F.lit("MFGR#"), F.substring("p_brand", 7, 1)).alias("p_mfgr"),
        "p_brand",
        F.year("l_shipdate").alias("yr"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(30,6)")
        .alias("net"),
    )
    rolled = (
        base.rollup("p_mfgr", "p_brand", "yr")
        .agg(
            F.sum("net").alias("s_dec"),
            F.count("*").alias("n"),
            F.grouping("p_mfgr").cast("int").alias("g_mfgr"),
            F.grouping("p_brand").cast("int").alias("g_brand"),
            F.grouping("yr").cast("int").alias("g_yr"),
        )
        # empty-input device (see channel_sales_rollup): DuckDB emits a
        # degenerate () row over an empty scan, Spark emits nothing
        .filter(F.col("n") > 0)
        .select(
            F.coalesce("p_mfgr", F.lit("ALL")).alias("mfgr"),
            F.coalesce("p_brand", F.lit("ALL")).alias("brand"),
            F.coalesce("yr", F.lit(-1)).cast("int").alias("yr"),
            "g_mfgr",
            "g_brand",
            "g_yr",
            # native-round-ok: s_dec is the DECIMAL rollup sum — exact
            F.round("s_dec", 2).cast("double").alias("sales"),
            F.col("n").cast("long").alias("n_rows"),
        )
    )
    w = Window.partitionBy("g_mfgr", "mfgr").orderBy(
        F.desc("sales"), "g_brand", "g_yr", "brand", "yr"
    )
    return rolled.withColumn("rnk", F.rank().over(w).cast("int")).filter(
        F.col("rnk") <= 10
    )


ROLLUP_TOPK_SQL = """
WITH base AS (
  SELECT 'MFGR#' || substring(p_brand, 7, 1) AS p_mfgr,
         p_brand, CAST(year(l_shipdate) AS INT) AS yr,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)) AS net
  FROM lineitem JOIN part ON l_partkey = p_partkey
), rolled AS (
  SELECT coalesce(p_mfgr, 'ALL') AS mfgr, coalesce(p_brand, 'ALL') AS brand,
         CAST(coalesce(yr, -1) AS INT) AS yr,
         CAST(GROUPING(p_mfgr) AS INT) AS g_mfgr,
         CAST(GROUPING(p_brand) AS INT) AS g_brand,
         CAST(GROUPING(yr) AS INT) AS g_yr,
         CAST(/* native-round-ok: DECIMAL */ round(sum(net), 2) AS DOUBLE) AS sales,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM base GROUP BY ROLLUP (p_mfgr, p_brand, yr)
  HAVING count(*) > 0
)
SELECT mfgr, brand, yr, g_mfgr, g_brand, g_yr, sales, n_rows, CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, rank() OVER (
    PARTITION BY g_mfgr, mfgr
    ORDER BY sales DESC, g_brand, g_yr, brand, yr
  ) AS rnk FROM rolled
) t WHERE rnk <= 10
"""


def channel_cumulative_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q51 shape: per market segment, the express and economy
    channels' monthly revenue become two CUMULATIVE series, FULL OUTER
    joined on (segment, month); months missing on one side gap-fill
    with a running-max window (cumulative revenue is nondecreasing, so
    running max IS the carried-forward cumulative — Q51's exact
    device; leading-edge months before a channel's first sale coalesce
    to a 0 cumulative rather than dropping on a NULL comparison); emit
    the months where the express cumulative has overtaken the economy
    cumulative.

    Cumulatives stay DECIMAL through the sum and max windows, so the
    overtake comparison is exact in both engines; windows run over the
    |segments| x |months| aggregate (bounded partitions)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    per = (
        orders.withColumn("channel", _channel_col())
        .filter(F.col("channel").isin("express", "economy"))
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "c_mktsegment",
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
            "channel",
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(30,6)")).alias("rev_dec"))
    )
    wcum = (
        Window.partitionBy("c_mktsegment")
        .orderBy("yr", "mo")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    a = (
        per.filter(F.col("channel") == "express")
        .withColumn("cum_a", F.sum("rev_dec").over(wcum))
        .select("c_mktsegment", "yr", "mo", "cum_a")
    )
    b = (
        per.filter(F.col("channel") == "economy")
        .withColumn("cum_b", F.sum("rev_dec").over(wcum))
        .select("c_mktsegment", "yr", "mo", "cum_b")
    )
    j = a.join(b, ["c_mktsegment", "yr", "mo"], "full_outer")
    wfill = (
        Window.partitionBy("c_mktsegment")
        .orderBy("yr", "mo")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    zero = F.lit(0).cast("decimal(30,6)")
    filled = j.select(
        "c_mktsegment",
        F.col("yr").cast("int").alias("yr"),
        F.col("mo").cast("int").alias("mo"),
        # leading-edge months (before a channel's FIRST sale) have
        # nothing for the running max to carry — their cumulative is 0
        # by definition, so coalesce instead of dropping the month via
        # a NULL comparison (r12 self-review find: express overtaking
        # an economy that hasn't sold yet IS an overtake month)
        F.coalesce(F.max("cum_a").over(wfill), zero).alias("express_cum_dec"),
        F.coalesce(F.max("cum_b").over(wfill), zero).alias("economy_cum_dec"),
    )
    return filled.filter(F.col("express_cum_dec") > F.col("economy_cum_dec")).select(
        "c_mktsegment",
        "yr",
        "mo",
        # native-round-ok: both cumulatives are DECIMAL — exact
        F.round("express_cum_dec", 2).cast("double").alias("express_cum"),
        F.round("economy_cum_dec", 2).cast("double").alias("economy_cum"),
    )


CHANNEL_CUMULATIVE_SQL = f"""
WITH per AS (
  SELECT c_mktsegment, CAST(year(o_orderdate) AS INT) AS yr,
         CAST(month(o_orderdate) AS INT) AS mo,
         {_CHANNEL_CASE_SQL} AS channel,
         sum(CAST(o_totalprice AS DECIMAL(30,6))) AS rev_dec
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE {_CHANNEL_CASE_SQL} IN ('express', 'economy')
  GROUP BY c_mktsegment, yr, mo, channel
), a AS (
  SELECT c_mktsegment, yr, mo,
         sum(rev_dec) OVER (PARTITION BY c_mktsegment ORDER BY yr, mo
                            ROWS UNBOUNDED PRECEDING) AS cum_a
  FROM per WHERE channel = 'express'
), b AS (
  SELECT c_mktsegment, yr, mo,
         sum(rev_dec) OVER (PARTITION BY c_mktsegment ORDER BY yr, mo
                            ROWS UNBOUNDED PRECEDING) AS cum_b
  FROM per WHERE channel = 'economy'
), j AS (
  SELECT c_mktsegment, yr, mo, cum_a, cum_b
  FROM a FULL OUTER JOIN b USING (c_mktsegment, yr, mo)
), filled AS (
  SELECT c_mktsegment, yr, mo,
         COALESCE(max(cum_a) OVER (PARTITION BY c_mktsegment ORDER BY yr, mo
                          ROWS UNBOUNDED PRECEDING), CAST(0 AS DECIMAL(30,6))) AS express_cum_dec,
         COALESCE(max(cum_b) OVER (PARTITION BY c_mktsegment ORDER BY yr, mo
                          ROWS UNBOUNDED PRECEDING), CAST(0 AS DECIMAL(30,6))) AS economy_cum_dec
  FROM j
)
SELECT c_mktsegment, yr, mo,
       CAST(/* native-round-ok: DECIMAL */ round(express_cum_dec, 2) AS DOUBLE) AS express_cum,
       CAST(/* native-round-ok: DECIMAL */ round(economy_cum_dec, 2) AS DOUBLE) AS economy_cum
FROM filled WHERE express_cum_dec > economy_cum_dec
"""


def channel_overlap_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q97 shape: customer-base overlap between two channels as
    one FULL OUTER join of the two distinct-customer sets — how many
    buy express only / economy only / both. One orders scan feeds both
    distinct sets; the join runs on the narrow customer key; output is
    a single row of three counts (the null-side CASE flags are the
    textbook Q97 device)."""
    orders = _t(spark, sf_dir, "orders").withColumn("channel", _channel_col())
    ex = (
        orders.filter(F.col("channel") == "express")
        .select(F.col("o_custkey").alias("ek"))
        .distinct()
    )
    ec = (
        orders.filter(F.col("channel") == "economy")
        .select(F.col("o_custkey").alias("ck"))
        .distinct()
    )
    j = ex.join(ec, ex.ek == ec.ck, "full_outer")
    return j.agg(
        F.sum(
            F.when(F.col("ek").isNotNull() & F.col("ck").isNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_express_only"),
        F.sum(
            F.when(F.col("ek").isNull() & F.col("ck").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_economy_only"),
        F.sum(
            F.when(F.col("ek").isNotNull() & F.col("ck").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_both"),
    )


CHANNEL_OVERLAP_SQL = f"""
WITH ex AS (
  SELECT DISTINCT o_custkey AS ek FROM orders WHERE {_CHANNEL_CASE_SQL} = 'express'
), ec AS (
  SELECT DISTINCT o_custkey AS ck FROM orders WHERE {_CHANNEL_CASE_SQL} = 'economy'
)
SELECT CAST(sum(CASE WHEN ek IS NOT NULL AND ck IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_express_only,
       CAST(sum(CASE WHEN ek IS NULL AND ck IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_economy_only,
       CAST(sum(CASE WHEN ek IS NOT NULL AND ck IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both
FROM ex FULL OUTER JOIN ec ON ek = ck
"""


def express_only_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q35/Q69 shape: channel-membership EXISTS / NOT-EXISTS —
    customers with at least one express order and NO economy order,
    profiled by (market segment, nation) with headcount and average
    balance. The membership predicates are a LEFT SEMI and a LEFT ANTI
    join on the customer key (Catalyst's native EXISTS/NOT-EXISTS
    forms — one pass over orders each, no fact-table rescan per outer
    row); nation is a broadcast dim."""
    orders = _t(spark, sf_dir, "orders").withColumn("channel", _channel_col())
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    express = orders.filter(F.col("channel") == "express").select("o_custkey")
    economy = orders.filter(F.col("channel") == "economy").select("o_custkey")
    sel = cust.join(
        express, cust.c_custkey == express.o_custkey, "left_semi"
    ).join(economy, cust.c_custkey == economy.o_custkey, "left_anti")
    return (
        sel.join(broadcast(nation), sel.c_nationkey == nation.n_nationkey)
        .groupBy("c_mktsegment", "n_name")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            davg(F.col("c_acctbal")).alias("avg_acctbal"),
        )
    )


EXPRESS_ONLY_SQL = f"""
SELECT c_mktsegment, n_name,
       CAST(count(*) AS BIGINT) AS n_customers,
       {davg_sql("c_acctbal")} AS avg_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND {_CHANNEL_CASE_SQL} = 'express')
  AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND {_CHANNEL_CASE_SQL} = 'economy')
GROUP BY c_mktsegment, n_name
"""


# --- TPC-DS tranche 3 (r13): the heavy multi-join shapes ------------------

_FREQ_MIN_DATES = 5  # 'frequent' part: sold on >= 5 distinct order dates


def frequent_buyer_channel_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q23 shape: revenue from FREQUENT items bought by BEST
    customers, per (channel, year). 'Frequent' = part sold on >=
    ``_FREQ_MIN_DATES`` distinct order dates (Q23's frequent_ss_items);
    'best' = customer whose total net spend exceeds HALF the maximum
    customer spend (Q23's best_ss_customer percent-of-max device, as
    the exact integer comparison ``spend * 2 > max`` so both engines
    compare identical decimals — no double threshold).

    Scale shape: the lineitem-orders join is WRITTEN once and consumed
    by all three branches (frequent set, spend ranking, final rollup);
    Catalyst expands the branches and column-prunes each one to its
    own narrow scan (the frequent branch reads 2 lineitem columns, the
    spend branch 3) — deliberately NOT checkpointed: unlike Q64's tiny
    lattice, this intermediate is corpus-sized, and three pruned
    columnar scans beat materializing the full join at any scale. The
    qualifying sets apply as LEFT SEMI joins (Catalyst's native IN
    form); the max-spend scalar rides a 1-row broadcast. Everything
    after the semi joins aggregates on tiny lattices."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_discount"
    )
    dec = "decimal(30,6)"
    net = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(dec)
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_partkey", "o_custkey", "o_orderdate", _channel_col().alias("channel"),
        net.alias("net"),
    )
    freq = (
        lo.groupBy("l_partkey")
        .agg(F.countDistinct("o_orderdate").alias("nd"))
        .filter(F.col("nd") >= _FREQ_MIN_DATES)
        .select("l_partkey")
    )
    spend = lo.groupBy("o_custkey").agg(F.sum("net").alias("sp"))
    mx = spend.agg(F.max("sp").alias("mx"))
    best = (
        spend.crossJoin(F.broadcast(mx))
        .filter(F.col("sp") * 2 > F.col("mx"))
        .select("o_custkey")
    )
    return (
        lo.join(freq, "l_partkey", "left_semi")
        .join(best, "o_custkey", "left_semi")
        .groupBy("channel", F.year("o_orderdate").cast("int").alias("yr"))
        .agg(
            # native-round-ok: DECIMAL(30,6) sum — exact
            F.round(F.sum("net"), 2).cast("double").alias("sales"),
            F.count("*").cast("long").alias("n_rows"),
        )
    )


FREQUENT_BUYER_SQL = f"""
WITH lo AS (
  SELECT l_partkey, o_custkey, o_orderdate, {_CHANNEL_CASE_SQL} AS channel,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)) AS net
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), freq AS (
  SELECT l_partkey FROM lo GROUP BY l_partkey
  HAVING count(DISTINCT o_orderdate) >= {_FREQ_MIN_DATES}
), spend AS (
  SELECT o_custkey, sum(net) AS sp FROM lo GROUP BY o_custkey
), best AS (
  SELECT o_custkey FROM spend WHERE sp * 2 > (SELECT max(sp) FROM spend)
)
SELECT channel, CAST(year(o_orderdate) AS INT) AS yr,
       CAST(/* native-round-ok: DECIMAL */ round(sum(net), 2) AS DOUBLE) AS sales,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lo
WHERE l_partkey IN (SELECT l_partkey FROM freq)
  AND o_custkey IN (SELECT o_custkey FROM best)
GROUP BY channel, yr
"""


def brand_nation_cross_year_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q64 shape: the multi-dimension SNOWFLAKE join — lineitem
    fact to part (brand), supplier -> nation (supplier side), orders ->
    customer -> nation (customer side) — aggregated per (brand,
    customer nation, supplier nation, year), then self-joined on
    CONSECUTIVE years keeping combos whose second-year sales held or
    grew (Q64's cross-year same-item comparison). Exercises 6-table
    fact-dim join planning none of the earlier DS shapes touch.

    Scale shape: part/supplier/nation broadcast (true dims); orders ->
    customer resolves the customer nation on the narrow key BEFORE
    touching the fact table, so the big join is one fact-side shuffle
    on l_orderkey; the cross-year self-join runs on the tiny (brand x
    nation^2 x year) aggregate. Sales stay DECIMAL through the
    comparison — both engines compare exact values."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dec = "decimal(30,6)"
    oc = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            broadcast(nation.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation"))),
            F.col("c_nationkey") == F.col("cnk"),
        )
        .select("o_orderkey", "o_orderdate", "cust_nation")
    )
    j = (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .join(broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            broadcast(nation.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("snk"),
        )
        .join(oc, li.l_orderkey == oc.o_orderkey)
    )
    per = j.groupBy(
        "p_brand", "cust_nation", "supp_nation", F.year("o_orderdate").cast("int").alias("yr")
    ).agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(dec)).alias("rev"),
        F.count("*").alias("n"),
    )
    # the cross-year self-join reads this lattice twice; without the
    # eager cut both branches recompute the ENTIRE 6-table fact join
    # (2x fact work at any scale). The lattice is tiny: |brands| x
    # |nations|^2 x |years| upper-bounds it
    per = per.localCheckpoint(eager=True)
    a = per.select(
        "p_brand", "cust_nation", "supp_nation",
        F.col("yr").alias("yr1"), F.col("rev").alias("rev1"), F.col("n").alias("n1"),
    )
    b = per.select(
        "p_brand", "cust_nation", "supp_nation",
        F.col("yr").alias("yr2"), F.col("rev").alias("rev2"), F.col("n").alias("n2"),
    )
    return (
        a.join(b, ["p_brand", "cust_nation", "supp_nation"])
        .filter((F.col("yr2") == F.col("yr1") + 1) & (F.col("rev2") >= F.col("rev1")))
        .select(
            "p_brand",
            "cust_nation",
            "supp_nation",
            "yr1",
            # native-round-ok: DECIMAL(30,6) sums — exact
            F.round(F.col("rev1"), 2).cast("double").alias("sales1"),
            F.round(F.col("rev2"), 2).cast("double").alias("sales2"),
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
        )
    )


BRAND_NATION_XYEAR_SQL = """
WITH per AS (
  SELECT p_brand, cn.n_name AS cust_nation, sn.n_name AS supp_nation,
         CAST(year(o_orderdate) AS INT) AS yr,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS rev,
         count(*) AS n
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  GROUP BY p_brand, cust_nation, supp_nation, yr
)
SELECT a.p_brand AS p_brand, a.cust_nation AS cust_nation,
       a.supp_nation AS supp_nation, a.yr AS yr1,
       CAST(/* native-round-ok: DECIMAL */ round(a.rev, 2) AS DOUBLE) AS sales1,
       CAST(/* native-round-ok: DECIMAL */ round(b.rev, 2) AS DOUBLE) AS sales2,
       CAST(a.n AS BIGINT) AS n1, CAST(b.n AS BIGINT) AS n2
FROM per a JOIN per b
  ON a.p_brand = b.p_brand AND a.cust_nation = b.cust_nation
 AND a.supp_nation = b.supp_nation AND b.yr = a.yr + 1 AND b.rev >= a.rev
"""


def cross_channel_part_iceberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q14 shape: the ICEBERG query over cross-channel parts —
    parts sold in ALL THREE channels (Q14's INTERSECT over store/
    catalog/web item sets, expressed as count(DISTINCT channel) = 3 —
    one aggregate instead of two intersect shuffles), then per
    (channel, brand) revenue over only those parts, keeping rows above
    the AVERAGE (channel, brand) revenue (Q14's avg_sales HAVING). The
    average compare is exact: ``rev * k > total`` on decimals, never a
    double threshold.

    Scale shape: one lineitem-orders join feeds both the channel-
    membership aggregate (distinct (channel, part) pairs — map-side
    combined) and the final rollup; cross-channel parts apply as a
    LEFT SEMI on the narrow part key; the avg threshold rides a 1-row
    broadcast over the tiny (channel, brand) lattice."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_discount"
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    dec = "decimal(30,6)"
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_partkey",
        _channel_col().alias("channel"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(dec).alias("net"),
    )
    cross = (
        lo.select("channel", "l_partkey")
        .distinct()
        .groupBy("l_partkey")
        .agg(F.count("*").alias("nc"))
        .filter(F.col("nc") == 3)
        .select("l_partkey")
    )
    per = (
        lo.join(cross, "l_partkey", "left_semi")
        .join(broadcast(part), F.col("l_partkey") == part.p_partkey)
        .groupBy("channel", "p_brand")
        .agg(F.sum("net").alias("rev"), F.count("*").alias("n"))
    )
    tot = per.agg(F.sum("rev").alias("tot"), F.count("*").alias("k"))
    return (
        per.crossJoin(F.broadcast(tot))
        .filter(F.col("rev") * F.col("k") > F.col("tot"))
        .select(
            "channel",
            "p_brand",
            # native-round-ok: DECIMAL(30,6) sum — exact
            F.round(F.col("rev"), 2).cast("double").alias("sales"),
            F.col("n").cast("long").alias("n_rows"),
        )
    )


CROSS_CHANNEL_ICEBERG_SQL = f"""
WITH lo AS (
  SELECT l_partkey, {_CHANNEL_CASE_SQL} AS channel,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)) AS net
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), cross_parts AS (
  SELECT l_partkey FROM (SELECT DISTINCT channel, l_partkey FROM lo) d
  GROUP BY l_partkey HAVING count(*) = 3
), per AS (
  SELECT channel, p_brand, sum(net) AS rev, count(*) AS n
  FROM lo JOIN part ON l_partkey = p_partkey
  WHERE l_partkey IN (SELECT l_partkey FROM cross_parts)
  GROUP BY channel, p_brand
)
SELECT channel, p_brand,
       CAST(/* native-round-ok: DECIMAL */ round(rev, 2) AS DOUBLE) AS sales,
       CAST(n AS BIGINT) AS n_rows
FROM per
WHERE rev * (SELECT count(*) FROM per) > (SELECT sum(rev) FROM per)
"""


# --- TPC-DS tranche 4 (r14): YoY cross-channel growth + balanced-
# channel iceberg. Reference query shapes: TPC-DS Q4/Q74 (customers
# whose growth in one channel outpaces another across a fixed year
# pair) and Q58 (items whose per-channel revenue is balanced within a
# band of the three-channel average). Public spec shapes re-expressed
# on the TPC-H-ish schema: channels from o_orderpriority (the house
# _channel_col), years fixed so the predicate is data-independent.

_YOY_Y1, _YOY_Y2 = 1996, 1997


def customer_channel_yoy_outpace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q4/Q74 shape: customers whose EXPRESS-channel spend grew
    faster year-over-year than their STANDARD-channel spend, requiring
    presence in both channels in both years (Q4's "must appear in all
    four cells"). The growth comparison is EXACT — ``e2·s1 > s2·e1``
    on DECIMAL(18,6) yearly sums (cross-multiplying positive ratios;
    the product is DECIMAL(37,12), inside Spark's 38-digit cap) —
    never a double-ratio threshold; the displayed growth ratios are
    tie-safe-rounded doubles, derived AFTER the filter. The oracle
    casts the same sums to DECIMAL(19,6): DuckDB only promotes the
    multiply to its exact 128-bit path at width 19 (at 18 it stays on
    the int64 kernel and overflows), while Spark at 19 would exceed
    38 digits in the product — same values, same boolean, each
    engine's exact regime.

    Scale shape: one orders scan with the year predicate pushed to
    parquet, one map-side-combined groupBy(o_custkey) producing four
    conditional sums, and a row-local filter — no joins, no windows;
    |customers with 1996+1997 activity| rows ever shuffle. The
    DECIMAL(18,6) downcast bounds a customer's per-channel-year spend
    at 1e12 — beyond any real per-customer annual figure."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(_YOY_Y1, _YOY_Y2)
    )
    dec = "decimal(18,6)"
    base = orders.select(
        "o_custkey",
        _channel_col().alias("channel"),
        F.year("o_orderdate").alias("yr"),
        F.col("o_totalprice").cast(dec).alias("spend"),
    ).filter(F.col("channel").isin("express", "standard"))

    def cell(ch: str, yr: int):
        return F.sum(
            F.when((F.col("channel") == ch) & (F.col("yr") == yr), F.col("spend"))
        ).cast(dec)

    per = base.groupBy("o_custkey").agg(
        cell("express", _YOY_Y1).alias("e1"),
        cell("express", _YOY_Y2).alias("e2"),
        cell("standard", _YOY_Y1).alias("s1"),
        cell("standard", _YOY_Y2).alias("s2"),
    )
    full = per.filter(
        F.col("e1").isNotNull()
        & F.col("e2").isNotNull()
        & F.col("s1").isNotNull()
        & F.col("s2").isNotNull()
    )
    kept = full.filter(F.col("e2") * F.col("s1") > F.col("s2") * F.col("e1"))
    ratio = lambda num, den: round_ties_safe(  # noqa: E731
        F.col(num).cast("double") / F.col(den).cast("double"), 6
    )
    return kept.select(
        F.col("o_custkey").cast("long").alias("c_custkey"),
        # native-round-ok: DECIMAL(18,6) sums — exact
        F.round(F.col("e1"), 2).cast("double").alias("express_y1"),
        F.round(F.col("e2"), 2).cast("double").alias("express_y2"),
        # native-round-ok: DECIMAL(18,6) sums — exact
        F.round(F.col("s1"), 2).cast("double").alias("standard_y1"),
        F.round(F.col("s2"), 2).cast("double").alias("standard_y2"),
        ratio("e2", "e1").alias("growth_express"),
        ratio("s2", "s1").alias("growth_standard"),
    )


YOY_OUTPACE_SQL = f"""
WITH base AS (
  SELECT o_custkey, {_CHANNEL_CASE_SQL} AS channel,
         year(o_orderdate) AS yr,
         CAST(o_totalprice AS DECIMAL(18,6)) AS spend
  FROM orders
  WHERE year(o_orderdate) IN ({_YOY_Y1}, {_YOY_Y2})
), per AS (
  SELECT o_custkey,
         CAST(sum(CASE WHEN channel = 'express'  AND yr = {_YOY_Y1} THEN spend END) AS DECIMAL(19,6)) AS e1,
         CAST(sum(CASE WHEN channel = 'express'  AND yr = {_YOY_Y2} THEN spend END) AS DECIMAL(19,6)) AS e2,
         CAST(sum(CASE WHEN channel = 'standard' AND yr = {_YOY_Y1} THEN spend END) AS DECIMAL(19,6)) AS s1,
         CAST(sum(CASE WHEN channel = 'standard' AND yr = {_YOY_Y2} THEN spend END) AS DECIMAL(19,6)) AS s2
  FROM base
  WHERE channel IN ('express', 'standard')
  GROUP BY o_custkey
)
SELECT CAST(o_custkey AS BIGINT) AS c_custkey,
       CAST(/* native-round-ok: DECIMAL */ round(e1, 2) AS DOUBLE) AS express_y1,
       CAST(/* native-round-ok: DECIMAL */ round(e2, 2) AS DOUBLE) AS express_y2,
       CAST(/* native-round-ok: DECIMAL */ round(s1, 2) AS DOUBLE) AS standard_y1,
       CAST(/* native-round-ok: DECIMAL */ round(s2, 2) AS DOUBLE) AS standard_y2,
       {round_ties_safe_sql("CAST(e2 AS DOUBLE) / CAST(e1 AS DOUBLE)", 6)} AS growth_express,
       {round_ties_safe_sql("CAST(s2 AS DOUBLE) / CAST(s1 AS DOUBLE)", 6)} AS growth_standard
FROM per
WHERE e1 IS NOT NULL AND e2 IS NOT NULL AND s1 IS NOT NULL AND s2 IS NOT NULL
  AND e2 * s1 > s2 * e1
"""


def channel_balanced_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q58 shape: parts whose revenue is BALANCED across all
    three channels — each channel's net revenue within [0.9, 1.1] of
    the three-channel average. Q58's band predicate is evaluated
    EXACTLY on decimals via integer cross-multiplication
    (``min·10 ≥ tot·3`` and ``max·30 ≤ tot·11`` — equivalent to
    0.9·avg ≤ rev ≤ 1.1·avg for every channel since avg = tot/3),
    never as a double-ratio threshold.

    Scale shape: one lineitem-orders join (the fact shuffle), one
    (part, channel) aggregate, then a 3-rows-per-part regroup to a
    single row carrying min/max/total plus the per-channel pivots —
    both aggregates map-side combine; no windows, no driver
    materialization. The DECIMAL(18,6) downcast after the first
    aggregate bounds per-(part, channel) revenue at 1e12 and keeps
    every later multiply inside the 38-digit cap."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_discount"
    )
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_partkey",
        _channel_col().alias("channel"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(30,6)")
        .alias("net"),
    )
    per = (
        lo.groupBy("l_partkey", "channel")
        .agg(F.sum("net").alias("rev_wide"))
        .select("l_partkey", "channel", F.col("rev_wide").cast("decimal(18,6)").alias("rev"))
    )

    def pivot(ch: str):
        return F.sum(F.when(F.col("channel") == ch, F.col("rev")))

    agg = per.groupBy("l_partkey").agg(
        F.count("*").alias("nc"),
        F.min("rev").alias("mn"),
        F.max("rev").alias("mx"),
        F.sum("rev").alias("tot"),
        pivot("express").alias("express_rev"),
        pivot("standard").alias("standard_rev"),
        pivot("economy").alias("economy_rev"),
    )
    kept = agg.filter(
        (F.col("nc") == 3)
        & (F.col("mn") * 10 >= F.col("tot") * 3)
        & (F.col("mx") * 30 <= F.col("tot") * 11)
    )
    return kept.select(
        F.col("l_partkey").cast("long").alias("p_partkey"),
        # native-round-ok: DECIMAL sums — exact
        F.round(F.col("express_rev"), 2).cast("double").alias("express_rev"),
        F.round(F.col("standard_rev"), 2).cast("double").alias("standard_rev"),
        # native-round-ok: DECIMAL sums — exact
        F.round(F.col("economy_rev"), 2).cast("double").alias("economy_rev"),
        F.round(F.col("tot"), 2).cast("double").alias("total_rev"),
    )


BALANCED_PARTS_SQL = f"""
WITH lo AS (
  SELECT l_partkey, {_CHANNEL_CASE_SQL} AS channel,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)) AS net
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), per AS (
  SELECT l_partkey, channel, CAST(sum(net) AS DECIMAL(19,6)) AS rev
  FROM lo GROUP BY l_partkey, channel
), agg AS (
  SELECT l_partkey, count(*) AS nc, min(rev) AS mn, max(rev) AS mx,
         sum(rev) AS tot,
         sum(CASE WHEN channel = 'express'  THEN rev END) AS express_rev,
         sum(CASE WHEN channel = 'standard' THEN rev END) AS standard_rev,
         sum(CASE WHEN channel = 'economy'  THEN rev END) AS economy_rev
  FROM per GROUP BY l_partkey
)
SELECT CAST(l_partkey AS BIGINT) AS p_partkey,
       CAST(/* native-round-ok: DECIMAL */ round(express_rev, 2) AS DOUBLE) AS express_rev,
       CAST(/* native-round-ok: DECIMAL */ round(standard_rev, 2) AS DOUBLE) AS standard_rev,
       CAST(/* native-round-ok: DECIMAL */ round(economy_rev, 2) AS DOUBLE) AS economy_rev,
       CAST(/* native-round-ok: DECIMAL */ round(tot, 2) AS DOUBLE) AS total_rev
FROM agg
WHERE nc = 3 AND mn * 10 >= tot * 3 AND mx * 30 <= tot * 11
"""


def brand_monthly_deviation_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q47/Q57 shape: per brand, the top-3 months whose sales
    deviate most from that brand-year's monthly average — the
    seasonality-outlier scan. The deviation is EXACT decimal
    arithmetic: ``dev = sales·n_months − year_total`` (equivalent in
    sign and brand-local ORDER to sales − avg, with no division), so
    the rank never compares engine-dependent doubles; ties across
    months break on (yr, mon) in both engines. Only complete
    brand-years (12 observed months) compete, mirroring Q47's
    full-year constraint. The displayed ``dev_frac`` (dev/total) is a
    tie-safe-rounded double derived AFTER ranking.

    Scale shape: the part dim broadcasts into the fact scan, one
    map-side-combined groupBy to the (brand, yr, mon) lattice — the
    only fact shuffle — and every window (year totals, month counts,
    the rank) runs over that tiny lattice: |brands|·|years|·12 rows."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate").isNotNull())
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    base = li.join(broadcast(part), li.l_partkey == part.p_partkey).select(
        "p_brand",
        F.year("l_shipdate").alias("yr"),
        F.month("l_shipdate").alias("mon"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(30,6)")
        .alias("net"),
    )
    per = base.groupBy("p_brand", "yr", "mon").agg(
        F.sum("net").alias("s"), F.count("*").alias("n")
    )
    wy = Window.partitionBy("p_brand", "yr")
    d = (
        per.withColumn("tot", F.sum("s").over(wy))
        .withColumn("nm", F.count("*").over(wy))
        .filter(F.col("nm") == 12)
        .withColumn("dev", F.col("s") * F.col("nm") - F.col("tot"))
    )
    wr = Window.partitionBy("p_brand").orderBy(
        F.abs(F.col("dev")).desc(), F.col("yr"), F.col("mon")
    )
    return (
        d.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 3)
        .select(
            "p_brand",
            F.col("yr").cast("int").alias("yr"),
            F.col("mon").cast("int").alias("mon"),
            # native-round-ok: DECIMAL sum — exact
            F.round(F.col("s"), 2).cast("double").alias("sales"),
            round_ties_safe(
                F.col("dev").cast("double") / F.col("tot").cast("double"), 6
            ).alias("dev_frac"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


MONTHLY_DEVIATION_SQL = f"""
WITH base AS (
  SELECT p_brand, year(l_shipdate) AS yr, month(l_shipdate) AS mon,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)) AS net
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate IS NOT NULL
), per AS (
  SELECT p_brand, yr, mon, sum(net) AS s, count(*) AS n
  FROM base GROUP BY p_brand, yr, mon
), w AS (
  SELECT p_brand, yr, mon, s,
         sum(s)  OVER (PARTITION BY p_brand, yr) AS tot,
         count(*) OVER (PARTITION BY p_brand, yr) AS nm
  FROM per
), d AS (
  SELECT p_brand, yr, mon, s, tot, s * nm - tot AS dev
  FROM w WHERE nm = 12
), r AS (
  SELECT p_brand, yr, mon, s, tot, dev,
         row_number() OVER (PARTITION BY p_brand ORDER BY abs(dev) DESC, yr, mon) AS rnk
  FROM d
)
SELECT p_brand, CAST(yr AS INT) AS yr, CAST(mon AS INT) AS mon,
       CAST(/* native-round-ok: DECIMAL */ round(s, 2) AS DOUBLE) AS sales,
       {round_ties_safe_sql("CAST(dev AS DOUBLE) / CAST(tot AS DOUBLE)", 6)} AS dev_frac,
       CAST(rnk AS INT) AS rnk
FROM r WHERE rnk <= 3
"""


# --- TPC-DS tranche 5 (r15): inventory/date-window shapes ------------


def part_fulfillment_lag_q72(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q72 shape: the notorious multi-join whose selective
    predicate is a DATE-OFFSET INEQUALITY between two fact-side dates
    (Q72: inventory week vs sale date + 5 days; here: ship date more
    than 75 days past the order date — the promise-window miss), with
    three dimensions resolved alongside. Emits, per (nation, brand):
    line count, late-line count, late fraction, and late revenue.

    Spark-first plan: the inequality is a row-local predicate of the
    single lineitem-orders equi-join — Catalyst evaluates it inside
    the join stage, so unlike Q72's literal inventory self-join no
    second fact shuffle ever exists. part / supplier / nation all
    broadcast into the fact scan; the only shuffle is the final
    (nation, brand) aggregate over a ~|nations|x|brands| lattice.
    Late revenue is decimal-accumulated (dsum); late_frac divides
    exact integer counts, tie-safe rounded."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_shipdate",
        "l_extendedprice", "l_discount",
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    late = F.datediff("l_shipdate", "o_orderdate") > 75
    net = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(30,6)"
    )
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(part), li.l_partkey == part.p_partkey)
        .join(broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            "n_name", "p_brand", late.alias("late"), net.alias("net")
        )
    )
    agg = base.groupBy("n_name", "p_brand").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("late"), 1).otherwise(0)).cast("long").alias("n_late"),
        F.round(
            F.sum(F.when(F.col("late"), F.col("net")).otherwise(F.lit(0).cast("decimal(30,6)"))),
            2,
        ).cast("double").alias("late_revenue"),
    )
    return agg.select(
        "n_name",
        "p_brand",
        "n_lines",
        "n_late",
        round_ties_safe(
            F.col("n_late").cast("double") / F.col("n_lines").cast("double"), 6
        ).alias("late_frac"),
        "late_revenue",
    ).filter(F.col("n_late") > 0)


FULFILLMENT_LAG_SQL = f"""
WITH base AS (
  SELECT n_name, p_brand,
         date_diff('day', o_orderdate, l_shipdate) > 75 AS late,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)) AS net
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
), agg AS (
  SELECT n_name, p_brand, CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
         CAST(/* native-round-ok: DECIMAL */ round(sum(CASE WHEN late THEN net ELSE CAST(0 AS DECIMAL(30,6)) END), 2) AS DOUBLE) AS late_revenue
  FROM base GROUP BY n_name, p_brand
)
SELECT n_name, p_brand, n_lines, n_late,
       {round_ties_safe_sql("CAST(n_late AS DOUBLE) / CAST(n_lines AS DOUBLE)", 6)} AS late_frac,
       late_revenue
FROM agg WHERE n_late > 0
"""


def multi_supplier_return_orders_q95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q95 shape: orders that BOTH span at least two distinct
    suppliers across their lines (Q95's ws1/ws2 different-warehouse
    EXISTS self-join) AND contain a returned line (Q95's web_returns
    EXISTS) — rolled up per order month: qualifying-order count and
    their total price.

    Spark-first plan: Q95's two EXISTS over a self-joined fact
    re-express as ONE map-side-combined aggregate over lineitem
    (count distinct suppliers + any-return flag per order) — the
    well-known rewrite that deletes both self-join shuffles; the
    only remaining shuffles are the per-order aggregate and the
    order-month rollup. The ORACLE deliberately keeps the literal
    double-EXISTS self-join form, so the driver pins the rewrite's
    equivalence, not a shared formula. Total price is
    decimal-accumulated."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.max((F.col("l_returnflag") == "R").cast("int")).alias("has_ret"),
    )
    qual = per_order.filter((F.col("n_supp") >= 2) & (F.col("has_ret") == 1))
    return (
        orders.join(qual, orders.o_orderkey == qual.l_orderkey)
        .groupBy(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.month("o_orderdate").cast("int").alias("mon"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_price"),
        )
    )


MULTI_SUPPLIER_RETURN_SQL = """
SELECT CAST(year(o_orderdate) AS INT) AS yr,
       CAST(month(o_orderdate) AS INT) AS mon,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(/* native-round-ok: DECIMAL */ round(sum(CAST(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_price
FROM orders o
WHERE EXISTS (
        SELECT 1 FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey
         AND l1.l_suppkey <> l2.l_suppkey
        WHERE l1.l_orderkey = o.o_orderkey)
  AND EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = o.o_orderkey AND l3.l_returnflag = 'R')
GROUP BY yr, mon
"""


def customer_channel_spend_ratio_q78(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q78 shape: the cross-channel per-customer ratio rollup —
    per (customer, year) net revenue in the express vs standard
    channel, customers ACTIVE IN BOTH, kept when express spend is at
    least twice standard spend. The threshold is EXACT decimal
    arithmetic (``e >= s·2`` on DECIMAL(19,6) sums — never a double
    ratio); the top-5 per year rank orders by the tie-safe-rounded
    ratio (identical in both engines by the house rounding contract)
    with c_custkey breaking residual ties.

    Scale shape: one lineitem-orders equi-join (the fact shuffle), one
    map-side-combined (custkey, yr) aggregate with conditional sums,
    a row-local filter, and a rank window over the few survivors per
    year. The DECIMAL(19,6) downcast bounds per-(customer, channel,
    year) revenue at 1e13 — the SAME precision in BOTH engines (r15
    advice: an 18-vs-19 mismatch made overflow a silent cross-engine
    divergence inside the comparable range; with the bounds aligned,
    past-bound behavior is a NULL-dropped row under non-ANSI Spark and
    a loud cast error in the DuckDB oracle — divergence can no longer
    hide inside in-bounds data)."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    base = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_custkey",
        F.year("o_orderdate").alias("yr"),
        _channel_col().alias("channel"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(30,6)")
        .alias("net"),
    )
    per = (
        base.filter(F.col("channel").isin("express", "standard"))
        .groupBy("o_custkey", "yr")
        .agg(
            F.sum(F.when(F.col("channel") == "express", F.col("net")))
            .cast("decimal(19,6)")
            .alias("e"),
            F.sum(F.when(F.col("channel") == "standard", F.col("net")))
            .cast("decimal(19,6)")
            .alias("s"),
        )
        .filter(F.col("e").isNotNull() & F.col("s").isNotNull())
        .filter(F.col("e") >= F.col("s") * 2)
    )
    ratio = round_ties_safe(
        F.col("e").cast("double") / F.col("s").cast("double"), 6
    )
    ranked = per.withColumn("ratio", ratio).withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("yr").orderBy(
                F.col("ratio").desc(), F.col("o_custkey")
            )
        ),
    )
    return ranked.filter(F.col("rnk") <= 5).select(
        F.col("yr").cast("int").alias("yr"),
        F.col("o_custkey").cast("long").alias("c_custkey"),
        # native-round-ok: DECIMAL(18,6) sums — exact
        F.round(F.col("e"), 2).cast("double").alias("express_spend"),
        F.round(F.col("s"), 2).cast("double").alias("standard_spend"),
        "ratio",
        F.col("rnk").cast("int").alias("rnk"),
    )


CHANNEL_SPEND_RATIO_SQL = f"""
WITH base AS (
  SELECT o_custkey, year(o_orderdate) AS yr, {_CHANNEL_CASE_SQL} AS channel,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)) AS net
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), per AS (
  SELECT o_custkey, yr,
         CAST(sum(CASE WHEN channel = 'express'  THEN net END) AS DECIMAL(19,6)) AS e,
         CAST(sum(CASE WHEN channel = 'standard' THEN net END) AS DECIMAL(19,6)) AS s
  FROM base WHERE channel IN ('express', 'standard')
  GROUP BY o_custkey, yr
), kept AS (
  SELECT o_custkey, yr, e, s,
         {round_ties_safe_sql("CAST(e AS DOUBLE) / CAST(s AS DOUBLE)", 6)} AS ratio
  FROM per
  WHERE e IS NOT NULL AND s IS NOT NULL AND e >= s * 2
), ranked AS (
  SELECT yr, o_custkey, e, s, ratio,
         row_number() OVER (PARTITION BY yr ORDER BY ratio DESC, o_custkey) AS rnk
  FROM kept
)
SELECT CAST(yr AS INT) AS yr, CAST(o_custkey AS BIGINT) AS c_custkey,
       CAST(/* native-round-ok: DECIMAL */ round(e, 2) AS DOUBLE) AS express_spend,
       CAST(/* native-round-ok: DECIMAL */ round(s, 2) AS DOUBLE) AS standard_spend,
       ratio, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 5
"""


OPS = {
    "orders_open_backlog": Op(
        "orders_open_backlog",
        orders_open_backlog,
        OPEN_BACKLOG_SQL,
        description=(
            "open-order backlog time series via +1/-1 event cumsum — "
            "interval counting with no range join; cumsum window over "
            "the bounded day table only"
        ),
    ),
    "part_type_supplier_hhi": Op(
        "part_type_supplier_hhi",
        part_type_supplier_hhi,
        HHI_SQL,
        description=(
            "Herfindahl-Hirschman supplier-concentration index per part "
            "type; squared shares decimal-accumulated, tie-safe rounded"
        ),
    ),
    "parts_hierarchy_rollup_topk": Op(
        "parts_hierarchy_rollup_topk",
        parts_hierarchy_rollup_topk,
        ROLLUP_TOPK_SQL,
        description=(
            "TPC-DS Q67 shape: mfgr->brand->year ROLLUP with explicit "
            "GROUPING() flags, then a per-mfgr rank window over the "
            "rolled lattice itself (subtotals compete with leaves)"
        ),
    ),
    "channel_cumulative_compare": Op(
        "channel_cumulative_compare",
        channel_cumulative_compare,
        CHANNEL_CUMULATIVE_SQL,
        description=(
            "TPC-DS Q51 shape: per-segment express vs economy cumulative "
            "monthly revenue, FULL OUTER joined, running-max gap-fill, "
            "overtake months; decimal-exact comparisons"
        ),
    ),
    "channel_overlap_counts": Op(
        "channel_overlap_counts",
        channel_overlap_counts,
        CHANNEL_OVERLAP_SQL,
        description=(
            "TPC-DS Q97 shape: express/economy customer-base overlap "
            "via one FULL OUTER join of the two distinct-key sets; "
            "single-row three-way count"
        ),
    ),
    "express_only_customers": Op(
        "express_only_customers",
        express_only_customers,
        EXPRESS_ONLY_SQL,
        description=(
            "TPC-DS Q35/Q69 shape: EXISTS/NOT-EXISTS channel membership "
            "as LEFT SEMI + LEFT ANTI joins; segment x nation headcount "
            "and average balance"
        ),
    ),
    "frequent_buyer_channel_sales": Op(
        "frequent_buyer_channel_sales",
        frequent_buyer_channel_sales,
        FREQUENT_BUYER_SQL,
        description=(
            "TPC-DS Q23 shape: frequent-item x best-customer revenue "
            "per channel/year; qualifying sets as LEFT SEMI joins, "
            "max-spend threshold as the exact spend*2 > max decimal "
            "comparison"
        ),
    ),
    "brand_nation_cross_year_sales": Op(
        "brand_nation_cross_year_sales",
        brand_nation_cross_year_sales,
        BRAND_NATION_XYEAR_SQL,
        description=(
            "TPC-DS Q64 shape: 6-table snowflake (part, supplier, "
            "nation x2, orders, customer) aggregated per brand/"
            "nations/year, self-joined on consecutive years where "
            "sales held or grew"
        ),
    ),
    "cross_channel_part_iceberg": Op(
        "cross_channel_part_iceberg",
        cross_channel_part_iceberg,
        CROSS_CHANNEL_ICEBERG_SQL,
        description=(
            "TPC-DS Q14 shape: iceberg over parts sold in ALL three "
            "channels (INTERSECT as count(DISTINCT channel)=3), "
            "keeping (channel, brand) rows above the lattice average "
            "via the exact rev*k > total decimal comparison"
        ),
    ),
    "customer_channel_yoy_outpace": Op(
        "customer_channel_yoy_outpace",
        customer_channel_yoy_outpace,
        YOY_OUTPACE_SQL,
        description=(
            "TPC-DS Q4/Q74 shape: customers whose express-channel YoY "
            "growth outpaces standard-channel growth; the ratio compare "
            "is the exact e2*s1 > s2*e1 decimal cross-multiplication"
        ),
    ),
    "channel_balanced_parts": Op(
        "channel_balanced_parts",
        channel_balanced_parts,
        BALANCED_PARTS_SQL,
        description=(
            "TPC-DS Q58 shape: parts with per-channel revenue inside "
            "[0.9, 1.1] of the three-channel average; band checked via "
            "exact integer cross-multiplies on decimals"
        ),
    ),
    "brand_monthly_deviation_topk": Op(
        "brand_monthly_deviation_topk",
        brand_monthly_deviation_topk,
        MONTHLY_DEVIATION_SQL,
        description=(
            "TPC-DS Q47/Q57 shape: top-3 seasonality-outlier months per "
            "brand; deviation ranked as the exact decimal "
            "sales*n_months - year_total (no double compares), "
            "full-year groups only"
        ),
    ),
    "lineitem_quantity_bands": Op(
        "lineitem_quantity_bands",
        lineitem_quantity_bands,
        QTY_BANDS_SQL,
        description=(
            "TPC-DS Q88 shape: 6 band counts that the textbook query "
            "writes as 8 scalar-subquery scans, collapsed to ONE "
            "conditional-aggregation pass"
        ),
    ),
    "customers_above_avg_returns": Op(
        "customers_above_avg_returns",
        customers_above_avg_returns,
        ABOVE_AVG_RETURNS_SQL,
        description=(
            "TPC-DS Q1 shape: returns above 1.2x the nation average, "
            "correlated subquery rewritten as one window over the "
            "per-customer aggregate"
        ),
    ),
    "bulk_order_customers": Op(
        "bulk_order_customers",
        bulk_order_customers,
        BULK_ORDER_SQL,
        description=(
            "TPC-DS Q34/Q73 shape: group -> band filter -> regroup; "
            "customers with >= 2 orders of 5-7 lineitems"
        ),
    ),
    "channel_sales_rollup": Op(
        "channel_sales_rollup",
        channel_sales_rollup,
        CHANNEL_ROLLUP_SQL,
        description=(
            "TPC-DS Q5 shape: heterogeneous channel sub-aggregates "
            "unioned then ROLLUP(channel, yr); decimal-exact through "
            "both aggregation levels"
        ),
    ),
    "returns_ratio_topn": Op(
        "returns_ratio_topn",
        returns_ratio_topn,
        RETURNS_RATIO_SQL,
        description=(
            "TPC-DS Q49 shape: worst-10 brands by currency return "
            "ratio per ship-year via a rank window over the (brand, "
            "year) aggregate"
        ),
    ),
    "date_dim_quarter_sales": Op(
        "date_dim_quarter_sales",
        date_dim_quarter_sales,
        DATE_DIM_QUARTER_SQL,
        description=(
            "derived date-dimension aggregate: quarterly revenue + "
            "share-of-year window over the (yr, qtr) rollup"
        ),
    ),
    "quarterly_segment_growth": Op(
        "quarterly_segment_growth",
        quarterly_segment_growth,
        QUARTERLY_GROWTH_SQL,
        description=(
            "quarter-over-quarter revenue growth per market segment "
            "via a lag window over the tiny quarterly aggregate; "
            "negative growth values exactly on a 4-dp tie round toward "
            "+inf in both engines (round_ties_safe semantics)"
        ),
    ),
    "cross_channel_customers": Op(
        "cross_channel_customers",
        cross_channel_customers,
        CROSS_CHANNEL_SQL,
        description=(
            "TPC-DS Q38 shape: customers present in every priority "
            "channel, as one scan + count(DISTINCT channel) = 3 "
            "instead of a 3-way INTERSECT"
        ),
    ),
    "customer_rfm_segments": Op(
        "customer_rfm_segments",
        customer_rfm_segments,
        RFM_SQL,
        description=(
            "RFM quintile segmentation via broadcast quantile "
            "boundaries — never a global ntile sort; segment-level "
            "rollup with decimal-exact means"
        ),
    ),
    "nation_order_value_quantiles": Op(
        "nation_order_value_quantiles",
        nation_order_value_quantiles,
        NATION_QUANTILES_SQL,
        description=(
            "per-nation median/p90 order value via the grouped 256-bin "
            "histogram device — bounded state per group, never a "
            "grouped exact percentile buffer"
        ),
    ),
    "customer_spend_migration": Op(
        "customer_spend_migration",
        customer_spend_migration,
        SPEND_MIGRATION_SQL,
        description=(
            "spend-quintile migration matrix between order-history "
            "halves (tier 0 = absent: churn/new); per-half histogram-"
            "device boundaries, never a per-half ntile sort"
        ),
    ),
    "nation_shipping_trend": Op(
        "nation_shipping_trend",
        nation_shipping_trend,
        SHIPPING_TREND_SQL,
        description=(
            "per-nation delivery-delay OLS slope vs ship month — "
            "integer-sum regression, exact accumulation, one final "
            "IEEE division"
        ),
    ),
    "brand_return_rate_wilson": Op(
        "brand_return_rate_wilson",
        brand_return_rate_wilson,
        WILSON_SQL,
        description=(
            "per-brand return rate ranked by the Wilson score lower "
            "bound (confidence-aware worst-offender ranking); "
            f"top-{_WILSON_TOPK} via TakeOrdered"
        ),
    ),
    "parts_copurchase_kcore": Op(
        "parts_copurchase_kcore",
        parts_copurchase_kcore,
        _kcore_sql(),
        description=(
            f"bounded k-core peeling (K={_KCORE_K}, {_KCORE_ROUNDS} "
            "rounds): per-round (nodes, edges) decay trace; the edge "
            "table only shrinks, unrolled-CTE oracle"
        ),
    ),
    "parts_copurchase_lpa": Op(
        "parts_copurchase_lpa",
        parts_copurchase_lpa,
        _lpa_sql(),
        description=(
            "synchronous min-tie-break label propagation communities "
            "on the co-purchase graph, fixed rounds, per-round "
            "localCheckpoint; top-20 communities by size"
        ),
    ),
    "parts_copurchase_modularity": Op(
        "parts_copurchase_modularity",
        parts_copurchase_modularity,
        _modularity_sql(),
        description=(
            "Newman modularity eval of the LPA communities: per-"
            "community q_c = e_c/m - (d_c/2m)^2 plus the graph-wide Q "
            "over ALL communities; bounded joins only, no pair "
            "enumeration"
        ),
    ),
    "parts_copurchase_jaccard": Op(
        "parts_copurchase_jaccard",
        parts_copurchase_jaccard,
        JACCARD_SQL,
        description=(
            "neighborhood Jaccard for co-purchased part pairs (related "
            "products): common-neighbor counts from the oriented "
            f"triangle stream, top-{_JAC_TOPK} pairs"
        ),
    ),
    "parts_copurchase_triangles": Op(
        "parts_copurchase_triangles",
        parts_copurchase_triangles,
        TRIANGLES_SQL,
        description=(
            "degree-ordered triangle counting on the part co-purchase "
            "graph (each triangle matched once, wedge fan-out O(sqrt E)); "
            f"top-{_TRI_TOPK} parts by closed triangles"
        ),
    ),
    "parts_copurchase_pagerank": Op(
        "parts_copurchase_pagerank",
        parts_copurchase_pagerank,
        _pagerank_sql(),
        description=(
            f"weighted PageRank on the part co-purchase graph, "
            f"{_PR_ITERS} power iterations (edges stay put, rank vector "
            "broadcasts; contribution sums decimal-exact); oracle "
            "replays the iterations as unrolled CTEs"
        ),
    ),
    "q1_pricing_summary": Op("q1_pricing_summary", q1_pricing_summary, Q1_SQL, headline=True),
    "order_key_sets": Op("order_key_sets", order_key_sets, ORDER_SETS_SQL),
    "customer_balance_distribution": Op(
        "customer_balance_distribution", customer_balance_distribution, BALANCE_DIST_SQL
    ),
    "q2_min_price_part": Op("q2_min_price_part", q2_min_price_part, Q2_SQL),
    "q8_market_share": Op("q8_market_share", q8_market_share, Q8_SQL),
    "q11_important_parts": Op("q11_important_parts", q11_important_parts, Q11_SQL),
    "q15_top_supplier": Op("q15_top_supplier", q15_top_supplier, Q15_SQL),
    "q17_small_quantity_revenue": Op(
        "q17_small_quantity_revenue", q17_small_quantity_revenue, Q17_SQL
    ),
    "q20_heavy_shippers": Op("q20_heavy_shippers", q20_heavy_shippers, Q20_SQL),
    "q21_last_shippers": Op("q21_last_shippers", q21_last_shippers, Q21_SQL),
    "q3_unshipped_revenue": Op("q3_unshipped_revenue", q3_unshipped_revenue, Q3_SQL),
    "q4_order_priority": Op("q4_order_priority", q4_order_priority, Q4_SQL),
    "q5_local_supplier_volume": Op(
        "q5_local_supplier_volume", q5_local_supplier_volume, Q5_SQL, headline=True
    ),
    "q6_forecast_revenue": Op("q6_forecast_revenue", q6_forecast_revenue, Q6_SQL),
    "q7_volume_shipping": Op("q7_volume_shipping", q7_volume_shipping, Q7_SQL),
    "q9_product_profit": Op("q9_product_profit", q9_product_profit, Q9_SQL, headline=True),
    "q10_returned_items": Op("q10_returned_items", q10_returned_items, Q10_SQL),
    "q12_priority_shipping": Op("q12_priority_shipping", q12_priority_shipping, Q12_SQL),
    "q13_customer_distribution": Op(
        "q13_customer_distribution", q13_customer_distribution, Q13_SQL
    ),
    "q14_promo_revenue": Op("q14_promo_revenue", q14_promo_revenue, Q14_SQL),
    "q16_brand_supplier_counts": Op(
        "q16_brand_supplier_counts", q16_brand_supplier_counts, Q16_SQL
    ),
    "q18_large_orders": Op("q18_large_orders", q18_large_orders, Q18_SQL, headline=True),
    "q19_discounted_revenue": Op("q19_discounted_revenue", q19_discounted_revenue, Q19_SQL),
    "q22_global_sales_opportunity": Op(
        "q22_global_sales_opportunity", q22_global_sales_opportunity, Q22_SQL
    ),
    "top_parts_per_brand": Op("top_parts_per_brand", top_parts_per_brand, TOP_PARTS_SQL),
    "customer_order_rollup": Op("customer_order_rollup", customer_order_rollup, ROLLUP_SQL),
    "customer_order_cube": Op("customer_order_cube", customer_order_cube, CUBE_SQL),
    "customers_without_orders": Op(
        "customers_without_orders", customers_without_orders, NO_ORDERS_SQL
    ),
    "repeat_buyers": Op("repeat_buyers", repeat_buyers, REPEAT_BUYERS_SQL),
    "orders_market_basket": Op(
        "orders_market_basket",
        orders_market_basket,
        MARKET_BASKET_SQL,
        description=(
            "brand-pair support/lift; per-order fan-out bounded at "
            "|brands|^2/2 — never an all-pairs join over orders"
        ),
    ),
    "order_ship_latency_histogram": Op(
        "order_ship_latency_histogram",
        order_ship_latency_histogram,
        LATENCY_HIST_SQL,
    ),
    "nation_revenue_yoy": Op(
        "nation_revenue_yoy",
        nation_revenue_yoy,
        YOY_SQL,
        description=(
            "negative growth values exactly on a rounding tie round "
            "toward +inf in both engines (round_ties_safe semantics)"
        ),
    ),
    "customer_order_grouping_sets": Op(
        "customer_order_grouping_sets",
        customer_order_grouping_sets,
        GROUPING_SETS_SQL,
    ),
    "orders_abc_pareto": Op(
        "orders_abc_pareto",
        orders_abc_pareto,
        ABC_SQL,
        description=(
            "global revenue-ordered cumsum via log2-magnitude buckets + "
            "broadcast prefix offsets — no SinglePartition window; "
            "decimal-exact accumulation"
        ),
    ),
    "part_fulfillment_lag_q72": Op(
        "part_fulfillment_lag_q72",
        part_fulfillment_lag_q72,
        FULFILLMENT_LAG_SQL,
        description=(
            "TPC-DS Q72 shape: multi-join with a cross-table "
            "date-offset inequality (ship > order + 75d), dims "
            "broadcast, one fact shuffle"
        ),
    ),
    "multi_supplier_return_orders_q95": Op(
        "multi_supplier_return_orders_q95",
        multi_supplier_return_orders_q95,
        MULTI_SUPPLIER_RETURN_SQL,
        description=(
            "TPC-DS Q95 shape: double EXISTS over self-joined fact "
            "rewritten as one per-order aggregate; oracle keeps the "
            "literal EXISTS form to pin the rewrite"
        ),
    ),
    "customer_channel_spend_ratio_q78": Op(
        "customer_channel_spend_ratio_q78",
        customer_channel_spend_ratio_q78,
        CHANNEL_SPEND_RATIO_SQL,
        description=(
            "TPC-DS Q78 shape: per-customer cross-channel spend ratio, "
            "exact-decimal threshold (e >= 2s), top-5 per year on the "
            "tie-safe-rounded ratio"
        ),
    ),
}
