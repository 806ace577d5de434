"""More TPC-H-shaped queries (M3 breadth): Q6 forecasting-revenue filter,
Q12-style conditional aggregation over a join, Q18-style HAVING-subquery
large-volume customers. Same determinism rules as relational.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cc_mapreducer_spark.operators.relational import DEC, _dec
from cc_mapreducer_spark.registry import register
from cc_mapreducer_spark.tables import load_table

_Q6_SQL = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("q6_forecast_revenue", oracle=_Q6_SQL, driver=False)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan + conjunctive filter + sum. The whole
    WHERE clause must reach the parquet scan as PushedFilters; there is
    no shuffle except the final single-row partial-agg merge."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        F.sum(F.col("l_extendedprice").cast(DEC) * F.col("l_discount").cast(DEC))
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_rows"),
    )


_Q12_SQL = """
SELECT l.l_linestatus,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY l.l_linestatus
"""


@register("q12_priority_lines", oracle=_Q12_SQL, driver=False)
def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-fact join + conditional counts.

    driver=False since round 4: the 50-key roster slot went to
    ann_recall_digest (the PQ serving-path recall contract — a whole
    operator family the driver otherwise never hashes, where Q12's
    join+conditional-agg shape is already covered by the q4/q7/q10/q13/
    q18 driver keys). Full hash parity still runs every round via
    tests/test_oracle_parity.py."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


_Q18_SQL = """
WITH big_orders AS (
    SELECT l_orderkey
    FROM lineitem
    GROUP BY l_orderkey
    HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 150
)
SELECT c.c_name, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       CAST(o.o_totalprice AS DOUBLE) AS totalprice,
       CAST(sum(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM big_orders)
GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY totalprice DESC, o.o_orderkey
LIMIT 25
"""


@register("q18_large_volume_customers", oracle=_Q18_SQL)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING subquery as a LEFT SEMI join on the
    aggregated key set (exactly how Catalyst rewrites the IN-subquery)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("qty"))
        .filter(F.col("qty") > 150)
        .select("l_orderkey")
    )
    return (
        o.join(big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi")
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("total_qty"))
        .select(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_totalprice").cast("double").alias("totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("totalprice"), "o_orderkey")
        .limit(25)
    )


_Q4_SQL = """
SELECT o.o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1996-07-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o.o_orderpriority
"""


@register("q4_order_priority", oracle=_Q4_SQL, driver=False)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (EXISTS correlated on a date offset): orders with a
    late-shipping lineitem, counted by priority. The EXISTS becomes a
    LEFT SEMI join whose extra condition rides the join."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    semi = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


_Q7_SQL = """
SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
       CAST(year(l.l_shipdate) AS INT) AS ship_year,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
WHERE cn.n_name IN ('NATION_1', 'NATION_2') AND sn.n_name IN ('NATION_1', 'NATION_2')
  AND cn.n_name <> sn.n_name
GROUP BY 1, 2, 3
"""


@register("q7_nation_volume", oracle=_Q7_SQL, driver=False)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-nation shipping volume by year. The nation
    dim joins twice under different aliases (both broadcast)."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin("NATION_1", "NATION_2"))
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin("NATION_1", "NATION_2"))
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(cn), c.c_nationkey == cn.cn_key)
        .join(F.broadcast(sn), s.s_nationkey == sn.sn_key)
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation", F.year("l_shipdate").cast("int").alias("ship_year"))
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


_Q10_SQL = """
SELECT c.c_custkey, c.c_name,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
       CAST(c.c_acctbal AS DOUBLE) AS acctbal,
       c.c_mktsegment
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1996-07-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, c.c_mktsegment
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
"""


@register("q10_returned_items", oracle=_Q10_SQL, driver=False)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns, top-20 customers."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.col("c_acctbal").cast("double").alias("acctbal"),
            "c_mktsegment",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


_Q13_SQL = """
WITH per_cust AS (
    SELECT c.c_custkey, count(o.o_orderkey) AS c_count
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '5-LOW'
    GROUP BY c.c_custkey
)
SELECT c_count, count(*) AS custdist
FROM per_cust
GROUP BY c_count
"""


@register("q13_customer_distribution", oracle=_Q13_SQL)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: two-level aggregation (orders per customer, then
    customers per order-count) over an outer join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


_Q14_SQL = """
SELECT CAST(100.0 AS DOUBLE)
         * CAST(sum(CASE WHEN p.p_type = 'ECONOMY'
                         THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                              * (1 - CAST(l.l_discount AS DECIMAL(12,2)))
                         ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
         / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS promo_revenue_pct,
       count(*) AS n_rows
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate <  TIMESTAMP '1997-04-01'
"""


@register("q14_promo_share", oracle=_Q14_SQL, driver=False)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional revenue share ('ECONOMY' standing in
    for PROMO%). Both numerator and denominator are exact decimal sums;
    the ratio is one double division."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    p = load_table(spark, sf_dir, "part")
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    promo = F.when(F.col("p_type") == "ECONOMY", revenue).otherwise(F.lit(0).cast(DEC))
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    return j.agg(
        (
            F.lit(100.0)
            * F.sum(promo).cast("double")
            / F.sum(revenue).cast("double")
        ).alias("promo_revenue_pct"),
        F.count("*").alias("n_rows"),
    )


_Q17_SQL = """
WITH part_avg AS (
    SELECT l_partkey, CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty
    FROM lineitem GROUP BY l_partkey
)
SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly,
       count(*) AS n_rows
FROM lineitem l
JOIN part_avg a ON l.l_partkey = a.l_partkey
WHERE CAST(l.l_quantity AS DOUBLE) < 0.5 * a.avg_qty
"""


@register("q17_small_quantity", oracle=_Q17_SQL, driver=False)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: rows below half their part's average quantity —
    aggregate subquery joined back to the fact (self-join on l_partkey)."""
    l = load_table(spark, sf_dir, "lineitem")
    part_avg = l.groupBy("l_partkey").agg(
        (F.sum(_dec("l_quantity")).cast("double") / F.count("*")).alias("avg_qty")
    ).withColumnRenamed("l_partkey", "a_partkey")
    j = l.join(part_avg, l.l_partkey == part_avg.a_partkey).filter(
        F.col("l_quantity").cast("double") < 0.5 * F.col("avg_qty")
    )
    return j.agg(
        (F.sum(_dec("l_extendedprice")).cast("double") / 7.0).alias("avg_yearly"),
        F.count("*").alias("n_rows"),
    )


_Q19_SQL = """
SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
       count(*) AS n_rows
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= 1 AND l.l_quantity <= 20)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity >= 10 AND l.l_quantity <= 30)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
       AND l.l_quantity >= 20 AND l.l_quantity <= 40)
"""


@register("q19_disjunctive_revenue", oracle=_Q19_SQL, driver=False)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    bands — the join stays an equi-join on partkey with the disjunction as
    a post-join filter (Catalyst also derives prunable per-side bounds)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    band = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 40)
        )
    )
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return j.filter(band).agg(
        F.sum(revenue).cast("double").alias("revenue"),
        F.count("*").alias("n_rows"),
    )


def _scalar_digest(name: str, df: DataFrame, value_col: str) -> DataFrame:
    return df.select(
        F.lit(name).alias("query"),
        F.col(value_col).alias("value"),
        F.col("n_rows"),
    )


_SCALAR_SUITE_SQL = f"""
SELECT 'q6_forecast_revenue' AS query, revenue AS value, n_rows FROM ({_Q6_SQL})
UNION ALL
SELECT 'q14_promo_share', promo_revenue_pct, n_rows FROM ({_Q14_SQL})
UNION ALL
SELECT 'q17_small_quantity', avg_yearly, n_rows FROM ({_Q17_SQL})
UNION ALL
SELECT 'q19_disjunctive_revenue', revenue, n_rows FROM ({_Q19_SQL})
"""


@register("tpch_scalar_suite", oracle=_SCALAR_SUITE_SQL)
def tpch_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver digest of the four single-row TPC-H aggregates (Q6/Q14/Q17/
    Q19) as (query, value, n_rows) rows — every scalar still lands in the
    driver's value hash while occupying only one roster slot. The singles remain
    individually registered (driver=False) so pytest parity-checks each
    full-schema result."""
    parts = [
        _scalar_digest("q6_forecast_revenue", q6_forecast_revenue(spark, sf_dir), "revenue"),
        _scalar_digest("q14_promo_share", q14_promo_share(spark, sf_dir), "promo_revenue_pct"),
        _scalar_digest("q17_small_quantity", q17_small_quantity(spark, sf_dir), "avg_yearly"),
        _scalar_digest("q19_disjunctive_revenue", q19_disjunctive_revenue(spark, sf_dir), "revenue"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
