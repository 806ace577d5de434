"""The remaining nine TPC-H query shapes (Q2, Q8, Q9, Q11, Q15, Q16, Q20,
Q21, Q22), completing 22/22 TPC-H coverage together with relational.py and
tpch_more.py.

The driver's synthetic schema (TESTDATA.md) has no ``partsupp`` table and
lineitem lacks commit/receipt dates and ship modes, so the queries that
reference those columns are adapted — each docstring states the exact
substitution. The *shape* each query exists to exercise (correlated min,
market-share ratio, profit expression, value-concentration HAVING against
a scalar subquery, argmax-equality view join, anti-join + count-distinct,
correlated majority threshold, EXISTS/NOT-EXISTS double correlation,
anti-join + scalar-subquery threshold) is preserved faithfully.

Determinism rules match relational.py: money math in DECIMAL(12,2) (exact,
order-insensitive sums) cast to double only at the output boundary;
tie-breaks via explicit row_number orderings; no rand() anywhere.

Each single registers with ``driver=False`` (pytest parity-checks the full
result) and the consolidated ``tpch_suite_extra`` digest carries every
value into the driver's 50-key hash roster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from cc_mapreducer_spark.operators.relational import DEC, _dec
from cc_mapreducer_spark.registry import register
from cc_mapreducer_spark.tables import load_table

# Folded into the driver digest (r5): their singles moved to driver=False
# so the freed roster slots could go to the sketch/feature/mining suites.
from cc_mapreducer_spark.operators.tpch_more import (  # noqa: E402
    _Q4_SQL as _TM_Q4_SQL,
    _Q7_SQL as _TM_Q7_SQL,
    _Q10_SQL as _TM_Q10_SQL,
    q4_order_priority,
    q7_nation_volume,
    q10_returned_items,
)

_REVENUE = "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))"


_Q2_SQL = """
WITH candidates AS (
    SELECT p.p_partkey, s.s_suppkey, s.s_name, s.s_acctbal, n.n_name,
           CAST(l.l_extendedprice AS DECIMAL(12,2)) AS line_price
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE p.p_size BETWEEN 10 AND 20 AND p.p_type = 'STANDARD' AND r.r_name = 'ASIA'
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY p_partkey ORDER BY line_price, s_suppkey
    ) AS rn
    FROM candidates
)
SELECT CAST(s_acctbal AS DOUBLE) AS acctbal, s_name, n_name, p_partkey,
       CAST(line_price AS DOUBLE) AS min_price
FROM ranked WHERE rn = 1
ORDER BY acctbal DESC, s_name, p_partkey
LIMIT 100
"""


@register("q2_min_cost_supplier", oracle=_Q2_SQL, driver=False)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier per part, region-scoped).

    Adaptation: no ``partsupp``/``ps_supplycost`` in the test schema, so
    "cost" is the minimum observed single-line l_extendedprice for the
    part among the region's suppliers — the same correlated-min-per-group
    pattern, realised as one window rank instead of a min-subquery
    rejoin (one shuffle on p_partkey instead of two). Exact decimal
    ordering; s_suppkey tie-break keeps ranks engine-stable.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "STANDARD")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cand = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("p_partkey", "s_suppkey", "s_name", "s_acctbal", "n_name",
                _dec("l_extendedprice").alias("line_price"))
    )
    w = Window.partitionBy("p_partkey").orderBy("line_price", "s_suppkey")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("s_acctbal").cast("double").alias("acctbal"),
            "s_name", "n_name", "p_partkey",
            F.col("line_price").cast("double").alias("min_price"),
        )
        .orderBy(F.desc("acctbal"), "s_name", "p_partkey")
        .limit(100)
    )


_Q8_SQL = f"""
WITH volumes AS (
    SELECT CAST(year(o.o_orderdate) AS INT) AS order_year,
           {_REVENUE} AS volume,
           sn.n_name AS supp_nation
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    JOIN region r   ON cn.n_regionkey = r.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    JOIN part p     ON l.l_partkey = p.p_partkey
    WHERE r.r_name = 'EUROPE' AND p.p_type = 'LARGE'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
)
SELECT order_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                     ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
         / CAST(sum(volume) AS DOUBLE) AS mkt_share
FROM volumes
GROUP BY order_year
"""


@register("q8_market_share", oracle=_Q8_SQL, driver=False)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share) — runs exactly on the test schema:
    NATION_3's share of LARGE-part revenue delivered into EUROPE customers
    by order year. Both ratio terms are exact decimal sums; the one double
    division is identical in both engines. The six-way join broadcasts
    every dimension so the only shuffles are lineitem⋈orders and the
    final year rollup."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "LARGE")
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region"))
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    volume = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    nation_vol = F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(
        F.lit(0).cast(DEC)
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == r.r_regionkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .select(
            F.year("o_orderdate").cast("int").alias("order_year"),
            volume.alias("volume"),
            "supp_nation",
        )
        .groupBy("order_year")
        .agg(
            (F.sum(nation_vol).cast("double") / F.sum("volume").cast("double")).alias("mkt_share")
        )
    )


_Q9_SQL = """
SELECT sn.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS order_year,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(12,2)))
                - CAST(p.p_retailprice AS DECIMAL(12,2))
                  * CAST(l.l_quantity AS DECIMAL(12,2)) * CAST(0.1 AS DECIMAL(12,2))
               ) AS DOUBLE) AS profit
FROM lineitem l
JOIN part p     ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
JOIN orders o   ON l.l_orderkey = o.o_orderkey
WHERE p.p_name LIKE '%widget%'
GROUP BY sn.n_name, order_year
"""


@register("q9_product_type_profit", oracle=_Q9_SQL, driver=False)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year).

    Adaptation: no ``ps_supplycost``, so unit cost is proxied as
    0.1 × p_retailprice (a fixed margin assumption stated here, applied
    identically in the oracle). The profit expression keeps Q9's
    sum(revenue − cost×qty) structure in exact decimals."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    amount = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")) - _dec(
        "p_retailprice"
    ) * _dec("l_quantity") * F.lit(0.1).cast(DEC)
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("order_year"),
        )
        .agg(F.sum(amount).cast("double").alias("profit"))
    )


_Q11_SQL = """
WITH scoped AS (
    SELECT l.l_partkey, CAST(l.l_extendedprice AS DECIMAL(12,2)) AS val
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name IN ('NATION_5', 'NATION_6', 'NATION_7')
)
SELECT l_partkey, CAST(sum(val) AS DOUBLE) AS part_value
FROM scoped
GROUP BY l_partkey
HAVING CAST(sum(val) AS DOUBLE) > (SELECT CAST(sum(val) AS DOUBLE) FROM scoped) * 0.0009
"""


@register("q11_important_parts", oracle=_Q11_SQL, driver=False)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (value concentration: groups whose share exceeds a
    scalar-subquery fraction of the total).

    Adaptation: no ``partsupp``, so "stock value" is the summed
    l_extendedprice flowing through a nation group's suppliers per part.
    The HAVING-vs-scalar-subquery pattern is preserved: per-part decimal
    sums against a broadcast single-row grand total (one scan feeds both
    via cache; no second shuffle for the total — it partial-aggregates
    map-side). Threshold compares in double on both engines from exact
    decimal sums, so the boundary is engine-stable."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_5", "NATION_6", "NATION_7")
    )
    scoped = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("l_partkey", _dec("l_extendedprice").alias("val"))
    )
    per_part = scoped.groupBy("l_partkey").agg(F.sum("val").cast("double").alias("part_value"))
    total = scoped.agg(F.sum("val").cast("double").alias("grand_total"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("grand_total") * 0.0009)
        .select("l_partkey", "part_value")
    )


_Q15_SQL = """
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           sum(CAST(l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS total_rev
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
    GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_rev = (SELECT max(total_rev) FROM revenue)
"""


@register("q15_top_supplier", oracle=_Q15_SQL, driver=False)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier: revenue view + argmax-equality self
    reference) — exact on the test schema. The max is joined back by
    *decimal equality* (exact sums, so cross-engine-safe where a double
    max would not be). One shuffle builds the revenue view; the max rides
    a broadcast single-row join."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).alias("total_rev")
    )
    best = revenue.agg(F.max("total_rev").alias("best_rev"))
    return (
        revenue.join(F.broadcast(best))
        .filter(F.col("total_rev") == F.col("best_rev"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue"))
    )


_Q16_SQL = """
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
"""


@register("q16_parts_supplier_relation", oracle=_Q16_SQL, driver=False)
def q16_parts_supplier_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier diversity per part class, excluding a
    complained-about supplier set via NOT IN).

    Adaptation: the part↔supplier relation comes from lineitem (no
    ``partsupp``), and the excluded set is suppliers with negative
    account balance (no comment column to grep 'Customer Complaints'
    from). The NOT IN realises as a broadcast LEFT ANTI join; distinct
    suppliers per (brand, type, size) partial-aggregate map-side."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("bad_suppkey"))
    )
    return (
        l.join(F.broadcast(bad), l.l_suppkey == F.col("bad_suppkey"), "left_anti")
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


_Q20_SQL = """
WITH shipped AS (
    SELECT l.l_partkey, l.l_suppkey,
           sum(CAST(l.l_quantity AS DECIMAL(12,2))) AS supp_qty
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_name LIKE 'blue%'
      AND l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l.l_partkey, l.l_suppkey
), part_totals AS (
    SELECT l_partkey, sum(supp_qty) AS part_qty FROM shipped GROUP BY l_partkey
)
SELECT DISTINCT s.s_suppkey, s.s_name
FROM shipped sh
JOIN part_totals t ON sh.l_partkey = t.l_partkey
JOIN supplier s    ON sh.l_suppkey = s.s_suppkey
WHERE 2 * sh.supp_qty > t.part_qty
"""


@register("q20_dominant_suppliers", oracle=_Q20_SQL, driver=False)
def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (suppliers crossing a correlated quantity
    threshold on a name-prefixed part family).

    Adaptation: no ``ps_availqty``, so the threshold becomes "shipped a
    strict majority of the part's 1997 volume" — the same
    per-(part,supplier) aggregate vs per-part correlated aggregate
    comparison. The 2×qty > total compare stays in exact decimals; the
    part totals derive from the already-aggregated per-supplier frame
    (second aggregation is n_parts-sized, not a rescan)."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("blue%"))
    s = load_table(spark, sf_dir, "supplier")
    shipped = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_dec("l_quantity")).alias("supp_qty"))
    )
    totals = shipped.groupBy("l_partkey").agg(F.sum("supp_qty").alias("part_qty"))
    return (
        shipped.join(totals, "l_partkey")
        .filter(F.lit(2) * F.col("supp_qty") > F.col("part_qty"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name")
        .distinct()
    )


_Q21_SQL = """
SELECT s.s_name, count(*) AS numwait
FROM lineitem l1
JOIN orders o   ON l1.l_orderkey = o.o_orderkey
JOIN supplier s ON l1.l_suppkey = s.s_suppkey
WHERE o.o_orderstatus = 'F'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > l1.l_shipdate
  )
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 20
"""


@register("q21_blocking_suppliers", oracle=_Q21_SQL, driver=False)
def q21_blocking_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (EXISTS + NOT EXISTS double correlation on the
    same fact under different predicates).

    Adaptation: lineitem has no commit/receipt dates, so "kept the order
    waiting" means: in a finished ('F') multi-supplier order, this
    supplier's line shipped last (no other supplier's line shipped
    later). EXISTS → LEFT SEMI, NOT EXISTS → LEFT ANTI, both shuffling
    on l_orderkey with the extra correlation riding the join condition —
    exactly how Catalyst plans correlated EXISTS."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    l1 = li.select(
        F.col("l_orderkey").alias("k1"),
        F.col("l_suppkey").alias("sk1"),
        F.col("l_shipdate").alias("ship1"),
    )
    l2 = li.select(F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("sk2"))
    l3 = li.select(
        F.col("l_orderkey").alias("k3"),
        F.col("l_suppkey").alias("sk3"),
        F.col("l_shipdate").alias("ship3"),
    )
    waiting = (
        l1.join(o, F.col("k1") == o.o_orderkey, "left_semi")
        .join(l2, (F.col("k1") == F.col("k2")) & (F.col("sk1") != F.col("sk2")), "left_semi")
        .join(
            l3,
            (F.col("k1") == F.col("k3"))
            & (F.col("sk1") != F.col("sk3"))
            & (F.col("ship3") > F.col("ship1")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(s), F.col("sk1") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


_Q22_SQL = """
WITH eligible AS (
    SELECT c_custkey, c_nationkey, CAST(c_acctbal AS DECIMAL(12,2)) AS bal
    FROM customer
    WHERE c_nationkey IN (0, 3, 7, 11, 14, 17, 20)
), threshold AS (
    SELECT CAST(sum(bal) AS DOUBLE) / count(*) AS avg_bal
    FROM eligible WHERE bal > 0
)
SELECT e.c_nationkey, count(*) AS numcust, CAST(sum(e.bal) AS DOUBLE) AS totacctbal
FROM eligible e, threshold t
WHERE CAST(e.bal AS DOUBLE) > t.avg_bal
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = e.c_custkey AND o.o_orderdate >= TIMESTAMP '2000-01-01'
  )
GROUP BY e.c_nationkey
"""


@register("q22_global_sales_opportunity", oracle=_Q22_SQL, driver=False)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (rich-but-dormant customers: scalar-subquery
    threshold + NOT EXISTS anti-join, grouped).

    Adaptation: no c_phone, so the country-code prefix set becomes a
    c_nationkey set, and "no orders in 7 years" becomes "no orders since
    2000-01-01" (dormant customers — the all-time anti-join is empty on
    this corpus where every customer has ordered at least once). The
    average is computed as exact-decimal sum / count, divided once in
    double, so the > threshold boundary cannot drift between engines (a
    naive double avg would be summation-order-dependent)."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(0, 3, 7, 11, 14, 17, 20)
    ).select("c_custkey", "c_nationkey", _dec("c_acctbal").alias("bal"))
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "2000-01-01")
    threshold = c.filter(F.col("bal") > 0).agg(
        (F.sum("bal").cast("double") / F.count("*")).alias("avg_bal")
    )
    return (
        c.join(F.broadcast(threshold))
        .filter(F.col("bal").cast("double") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("numcust"), F.sum("bal").cast("double").alias("totacctbal"))
    )


# ---------------------------------------------------------------------------
# Driver digest: every value from the nine singles in one roster key.
# ---------------------------------------------------------------------------

_SUITE_EXTRA_SQL = f"""
SELECT 'q2' AS query, s_name || '|' || CAST(p_partkey AS VARCHAR) AS entity, min_price AS value
FROM ({_Q2_SQL})
UNION ALL
SELECT 'q2_acctbal', s_name || '|' || CAST(p_partkey AS VARCHAR), acctbal FROM ({_Q2_SQL})
UNION ALL
SELECT 'q8', CAST(order_year AS VARCHAR), mkt_share FROM ({_Q8_SQL})
UNION ALL
SELECT 'q9', nation || '|' || CAST(order_year AS VARCHAR), profit FROM ({_Q9_SQL})
UNION ALL
SELECT 'q11', CAST(l_partkey AS VARCHAR), part_value FROM ({_Q11_SQL})
UNION ALL
SELECT 'q15', s_name, total_revenue FROM ({_Q15_SQL})
UNION ALL
SELECT 'q16', p_brand || '|' || p_type || '|' || CAST(p_size AS VARCHAR),
       CAST(supplier_cnt AS DOUBLE) FROM ({_Q16_SQL})
UNION ALL
SELECT 'q20', s_name, CAST(s_suppkey AS DOUBLE) FROM ({_Q20_SQL})
UNION ALL
SELECT 'q21', s_name, CAST(numwait AS DOUBLE) FROM ({_Q21_SQL})
UNION ALL
SELECT 'q22', CAST(c_nationkey AS VARCHAR) || ':cnt', CAST(numcust AS DOUBLE) FROM ({_Q22_SQL})
UNION ALL
SELECT 'q22', CAST(c_nationkey AS VARCHAR) || ':bal', totacctbal FROM ({_Q22_SQL})
UNION ALL
SELECT 'q4', o_orderpriority, CAST(order_count AS DOUBLE) FROM ({_TM_Q4_SQL})
UNION ALL
SELECT 'q7', cust_nation || '|' || supp_nation || '|' || CAST(ship_year AS VARCHAR),
       revenue FROM ({_TM_Q7_SQL})
UNION ALL
SELECT 'q10', CAST(c_custkey AS VARCHAR) || '|' || c_name || '|' || c_mktsegment || ':rev',
       revenue FROM ({_TM_Q10_SQL})
UNION ALL
SELECT 'q10', CAST(c_custkey AS VARCHAR) || '|' || c_name || '|' || c_mktsegment || ':bal',
       acctbal FROM ({_TM_Q10_SQL})
UNION ALL
SELECT 'zstats', layout || '|' || CAST(pid AS VARCHAR),
       CAST(min_ck * 100000 + max_ck AS DOUBLE)
FROM ({{ZPART}})
UNION ALL
SELECT 'zstats_day', layout || '|' || CAST(pid AS VARCHAR),
       CAST(min_day * 100000 + max_day AS DOUBLE)
FROM ({{ZPART}})
UNION ALL
SELECT 'zprune', layout || '|' || query,
       CAST(n_scanned * 10000000 + rows_scanned AS DOUBLE)
FROM ({{ZPRUNE}})
"""


def _suite_extra_sql() -> str:
    from cc_mapreducer_spark.operators.zorder import (
        _PARTITION_STATS_SQL,
        _PRUNING_SQL,
    )

    return _SUITE_EXTRA_SQL.replace("{ZPART}", _PARTITION_STATS_SQL).replace(
        "{ZPRUNE}", _PRUNING_SQL
    )


@register("tpch_suite_extra", oracle=_suite_extra_sql())
def tpch_suite_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver digest of TPC-H Q2/Q4/Q7/Q8/Q9/Q10/Q11/Q15/Q16/Q20/Q21/Q22
    normalized to (query, entity, value) rows so all twelve land in the
    driver's value hash under one roster key. The full-schema singles are
    registered driver=False and parity-checked individually by pytest.
    Q4/Q7/Q10 folded in r5 to free roster slots for the sketch/feature/
    mining suites. The ``zstats``/``zprune`` legs (r8 s2) hash the
    Z-order layout family: per-(layout, tile) min/max of both clustered
    dims and the box/slice pruning decisions."""
    def norm(query: str, df: DataFrame, entity: F.Column, value: F.Column) -> DataFrame:
        return df.select(
            F.lit(query).alias("query"),
            entity.cast("string").alias("entity"),
            value.cast("double").alias("value"),
        )

    q2 = q2_min_cost_supplier(spark, sf_dir)
    q22 = q22_global_sales_opportunity(spark, sf_dir)
    parts = [
        norm("q2", q2, F.concat_ws("|", "s_name", "p_partkey"), F.col("min_price")),
        norm("q2_acctbal", q2, F.concat_ws("|", "s_name", "p_partkey"), F.col("acctbal")),
        norm("q8", q8_market_share(spark, sf_dir), F.col("order_year"), F.col("mkt_share")),
        norm(
            "q9",
            q9_product_type_profit(spark, sf_dir),
            F.concat_ws("|", "nation", "order_year"),
            F.col("profit"),
        ),
        norm("q11", q11_important_parts(spark, sf_dir), F.col("l_partkey"), F.col("part_value")),
        norm("q15", q15_top_supplier(spark, sf_dir), F.col("s_name"), F.col("total_revenue")),
        norm(
            "q16",
            q16_parts_supplier_relation(spark, sf_dir),
            F.concat_ws("|", "p_brand", "p_type", "p_size"),
            F.col("supplier_cnt"),
        ),
        norm("q20", q20_dominant_suppliers(spark, sf_dir), F.col("s_name"), F.col("s_suppkey")),
        norm("q21", q21_blocking_suppliers(spark, sf_dir), F.col("s_name"), F.col("numwait")),
        norm(
            "q22",
            q22,
            F.concat_ws("", F.col("c_nationkey").cast("string"), F.lit(":cnt")),
            F.col("numcust"),
        ),
        norm(
            "q22",
            q22,
            F.concat_ws("", F.col("c_nationkey").cast("string"), F.lit(":bal")),
            F.col("totacctbal"),
        ),
        norm(
            "q4",
            q4_order_priority(spark, sf_dir),
            F.col("o_orderpriority"),
            F.col("order_count"),
        ),
        norm(
            "q7",
            q7_nation_volume(spark, sf_dir),
            F.concat_ws("|", "cust_nation", "supp_nation", "ship_year"),
            F.col("revenue"),
        ),
    ]
    q10 = q10_returned_items(spark, sf_dir)
    q10_ent = F.concat_ws("|", "c_custkey", "c_name", "c_mktsegment")
    parts += [
        norm("q10", q10, F.concat(q10_ent, F.lit(":rev")), F.col("revenue")),
        norm("q10", q10, F.concat(q10_ent, F.lit(":bal")), F.col("acctbal")),
    ]
    # Z-order layout legs (r8 s2): the orders-table clustering family
    # rides the relational digest — partition stats pinned per (layout,
    # tile) and the pruning decisions per (layout, predicate)
    from cc_mapreducer_spark.operators.zorder import (
        zorder_partition_stats,
        zorder_pruning_report,
    )

    zstats = zorder_partition_stats(spark, sf_dir).localCheckpoint()
    zent = F.concat_ws("|", "layout", "pid")
    parts += [
        norm(
            "zstats", zstats, zent,
            F.col("min_ck") * 100000 + F.col("max_ck"),
        ),
        norm(
            "zstats_day", zstats, zent,
            F.col("min_day") * 100000 + F.col("max_day"),
        ),
        norm(
            "zprune",
            zorder_pruning_report(spark, sf_dir),
            F.concat_ws("|", "layout", "query"),
            F.col("n_scanned") * 10000000 + F.col("rows_scanned"),
        ),
    ]
    out = parts[0]
    for piece in parts[1:]:
        out = out.unionByName(piece)
    return out
