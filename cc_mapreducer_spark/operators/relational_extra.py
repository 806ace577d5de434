"""Extended relational coverage (M3 continuation): outer/cross joins,
pivot, exact percentiles, string/array/date function breadth, null
semantics. Same determinism rules as relational.py (decimal-exact money,
tiebroken limits, string-formatted timestamps).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cc_mapreducer_spark.operators.relational import DEC, _dec
from cc_mapreducer_spark.registry import register
from cc_mapreducer_spark.tables import load_table

# --------------------------------------------------------------------------
# outer / cross joins
# --------------------------------------------------------------------------

_LEFT_OUTER_SQL = """
SELECT c.c_custkey, c.c_mktsegment,
       count(o.o_orderkey) AS n_orders,
       CAST(coalesce(sum(CAST(o.o_totalprice AS DECIMAL(12,2))), 0) AS DOUBLE) AS total_spend
FROM customer c
LEFT JOIN orders o ON o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
GROUP BY c.c_custkey, c.c_mktsegment
"""


def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER with a join-side predicate (kept in the ON clause, not
    WHERE — the classic outer-join-predicate placement trap)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(F.col("o_totalprice").cast(DEC)), F.lit(0).cast(DEC))
            .cast("double")
            .alias("total_spend"),
        )
    )


_FULL_OUTER_SQL = """
WITH by_seg AS (
  SELECT c_mktsegment AS seg, count(*) AS n_cust FROM customer GROUP BY 1
), by_pri AS (
  SELECT o_orderpriority AS seg2, count(*) AS n_ord FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') GROUP BY 1
)
SELECT coalesce(a.seg, 'NONE') AS seg,
       coalesce(b.seg2, 'NONE') AS seg2,
       coalesce(a.n_cust, -1) AS n_cust,
       coalesce(b.n_ord, -1) AS n_ord
FROM by_seg a FULL OUTER JOIN by_pri b ON a.seg = b.seg2
"""


def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER between two disjoint-keyed aggregates (all rows null-pad
    on one side — exercises the null-completion path)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    by_seg = c.groupBy(F.col("c_mktsegment").alias("seg")).agg(F.count("*").alias("n_cust"))
    by_pri = (
        o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy(F.col("o_orderpriority").alias("seg2"))
        .agg(F.count("*").alias("n_ord"))
    )
    j = by_seg.join(by_pri, by_seg.seg == by_pri.seg2, "full_outer")
    return j.select(
        F.coalesce("seg", F.lit("NONE")).alias("seg"),
        F.coalesce("seg2", F.lit("NONE")).alias("seg2"),
        F.coalesce("n_cust", F.lit(-1)).alias("n_cust"),
        F.coalesce("n_ord", F.lit(-1)).alias("n_ord"),
    )


_CROSS_JOIN_SQL = """
SELECT r.r_name, n.n_name
FROM region r CROSS JOIN nation n
WHERE n.n_regionkey <> r.r_regionkey
"""


def join_cross_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join with a non-equi filter (theta-join shape) —
    bounded to the two dim tables; Spark plans BroadcastNestedLoopJoin."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).filter(F.col("n_regionkey") != F.col("r_regionkey")).select(
        "r_name", "n_name"
    )


# --------------------------------------------------------------------------
# pivot
# --------------------------------------------------------------------------

_PIVOT_SQL = """
SELECT c.c_mktsegment,
       count(*) FILTER (WHERE o.o_orderstatus = 'F') AS n_f,
       count(*) FILTER (WHERE o.o_orderstatus = 'O') AS n_o,
       count(*) FILTER (WHERE o.o_orderstatus = 'P') AS n_p,
       CAST(coalesce(sum(CAST(o.o_totalprice AS DECIMAL(12,2)))
            FILTER (WHERE o.o_orderstatus = 'F'), 0) AS DOUBLE) AS spend_f
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


def pivot_status_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide conditional aggregation). Expressed with explicit
    when()-guarded aggregates rather than relational pivot() so the output
    schema is static — at scale you always pin pivot values anyway (an
    unpinned pivot runs an extra distinct-collect job on the driver)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    return j.groupBy("c_mktsegment").agg(
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_f"),
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_o"),
        F.count(F.when(F.col("o_orderstatus") == "P", 1)).alias("n_p"),
        F.coalesce(
            F.sum(F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice").cast(DEC))),
            F.lit(0).cast(DEC),
        )
        .cast("double")
        .alias("spend_f"),
    )


# --------------------------------------------------------------------------
# exact percentiles (linear interpolation — verified identical engines)
# --------------------------------------------------------------------------

_PERCENTILE_SQL = """
SELECT o_orderstatus,
       quantile_cont(o_totalprice, 0.25) AS p25,
       quantile_cont(o_totalprice, 0.5) AS p50,
       quantile_cont(o_totalprice, 0.75) AS p75,
       CAST(min(o_totalprice) AS DOUBLE) AS price_min,
       CAST(max(o_totalprice) AS DOUBLE) AS price_max
FROM orders GROUP BY o_orderstatus
"""


def percentiles_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (Spark `percentile` == DuckDB `quantile_cont`,
    both linear-interpolating — verified bit-equal). At 100 TB you'd use
    approx_percentile (t-digest) instead; exact percentile shuffles all
    values per group."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.25)").alias("p25"),
        F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
        F.expr("percentile(o_totalprice, 0.75)").alias("p75"),
        F.min("o_totalprice").cast("double").alias("price_min"),
        F.max("o_totalprice").cast("double").alias("price_max"),
    )


# --------------------------------------------------------------------------
# string function breadth
# --------------------------------------------------------------------------

_STRING_FN_SQL = """
SELECT c_custkey,
       trim(concat('  ', c_name, '  ')) AS name_trimmed,
       reverse(c_name) AS name_rev,
       repeat(c_mktsegment, 2) AS seg_twice,
       translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_lower_vowels,
       left(c_name, 4) AS name_left4,
       right(c_name, 3) AS name_right3,
       strpos(c_name, '_') AS underscore_pos,
       CAST(starts_with(c_mktsegment, 'BU') AS INT) AS is_building_prefix,
       CAST(contains(c_name, '1') AS INT) AS has_one,
       split_part(c_name, '_', 2) AS name_num_part
FROM customer
"""


def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.trim(F.concat(F.lit("  "), F.col("c_name"), F.lit("  "))).alias("name_trimmed"),
        F.reverse("c_name").alias("name_rev"),
        F.repeat("c_mktsegment", 2).alias("seg_twice"),
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias("seg_lower_vowels"),
        F.substring("c_name", 1, 4).alias("name_left4"),
        F.expr("right(c_name, 3)").alias("name_right3"),
        F.locate("_", F.col("c_name")).cast("bigint").alias("underscore_pos"),
        F.startswith("c_mktsegment", F.lit("BU")).cast("int").alias("is_building_prefix"),
        F.contains("c_name", F.lit("1")).cast("int").alias("has_one"),
        F.split_part("c_name", F.lit("_"), F.lit(2)).alias("name_num_part"),
    )


# --------------------------------------------------------------------------
# array function breadth (deterministically-built arrays)
# --------------------------------------------------------------------------

_ARRAY_FN_SQL = """
WITH per_order AS (
    SELECT l_orderkey, list_sort(list(l_linenumber)) AS lines,
           list_sort(list(DISTINCT l_suppkey)) AS supps
    FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey,
       CAST(len(lines) AS INT) AS n_lines,
       lines[1] AS first_line,
       lines[-1] AS last_line,
       CAST(list_contains(supps, 1) AS INT) AS has_supp1,
       array_to_string(lines, ',') AS lines_csv,
       CAST(len(list_filter(lines, x -> x % 2 = 0)) AS INT) AS n_even_lines
FROM per_order
"""


def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array library over deterministically-sorted collected arrays
    (collect_list order is nondeterministic — always array_sort before
    any order-sensitive array op)."""
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("l_linenumber")).alias("lines"),
        F.array_sort(F.collect_set("l_suppkey")).alias("supps"),
    )
    return per_order.select(
        "l_orderkey",
        F.size("lines").cast("int").alias("n_lines"),
        F.element_at("lines", 1).alias("first_line"),
        F.element_at("lines", -1).alias("last_line"),
        F.array_contains("supps", 1).cast("int").alias("has_supp1"),
        F.array_join(F.transform("lines", lambda x: x.cast("string")), ",").alias("lines_csv"),
        F.size(F.filter("lines", lambda x: x % 2 == 0)).cast("int").alias("n_even_lines"),
    )


# --------------------------------------------------------------------------
# window distribution functions
# --------------------------------------------------------------------------

_WINDOW_DIST_SQL = """
SELECT c_custkey, c_mktsegment,
       ntile(4) OVER w AS balance_quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       CAST(first_value(c_custkey) OVER w AS BIGINT) AS poorest_in_seg,
       CAST(nth_value(c_custkey, 2) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS second_poorest
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
"""


def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile/percent_rank/cume_dist (exact
    integer-ratio math in both engines) + first/nth value over a full
    frame."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("balance_quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("c_custkey").over(w).cast("bigint").alias("poorest_in_seg"),
        F.nth_value("c_custkey", 2).over(w_full).cast("bigint").alias("second_poorest"),
    )


# --------------------------------------------------------------------------
# unpivot / stack
# --------------------------------------------------------------------------

_UNPIVOT_SQL = """
WITH seg AS (
    SELECT c.c_mktsegment AS segment,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
           CAST(count(*) AS DOUBLE) AS n_orders,
           CAST(count(DISTINCT o.o_custkey) AS DOUBLE) AS n_customers
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
)
SELECT segment, metric, value
FROM seg UNPIVOT (value FOR metric IN (total_price, n_orders, n_customers))
"""


def unpivot_segment_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long): Spark's unpivot == SQL stack(); metric
    columns cast to a common DOUBLE first (unpivot requires one value
    type)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    seg = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total_price"),
            F.count("*").cast("double").alias("n_orders"),
            F.countDistinct("o_custkey").cast("double").alias("n_customers"),
        )
    )
    return seg.unpivot(
        ids=["segment"],
        values=["total_price", "n_orders", "n_customers"],
        variableColumnName="metric",
        valueColumnName="value",
    )


# --------------------------------------------------------------------------
# date arithmetic + null semantics
# --------------------------------------------------------------------------

_DATE_ARITH_SQL = """
SELECT o_orderkey,
       date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since_epoch_start,
       CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS yyyymm,
       strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS quarter_start,
       CAST((year(o_orderdate) % 4 = 0 AND (year(o_orderdate) % 100 <> 0 OR year(o_orderdate) % 400 = 0)) AS INT) AS in_leap_year
FROM orders
"""


def date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    y = F.year("o_orderdate")
    return o.select(
        "o_orderkey",
        F.datediff(F.to_date("o_orderdate"), F.to_date(F.lit("1995-01-01")))
        .cast("bigint")
        .alias("days_since_epoch_start"),
        (y * 100 + F.month("o_orderdate")).cast("int").alias("yyyymm"),
        F.date_format(F.date_trunc("quarter", "o_orderdate"), "yyyy-MM-dd").alias("quarter_start"),
        ((y % 4 == 0) & ((y % 100 != 0) | (y % 400 == 0))).cast("int").alias("in_leap_year"),
    )


_NULL_SEMANTICS_SQL = """
WITH t AS (
    SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderstatus END AS maybe_status
    FROM orders
)
SELECT coalesce(maybe_status, '<null>') AS status_bucket,
       count(*) AS n_total,
       count(maybe_status) AS n_nonnull,
       CAST(sum(CASE WHEN maybe_status IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_safe
FROM t GROUP BY 1
"""


def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL handling: count(*) vs count(col), null-safe equality (<=> is
    Spark's IS NOT DISTINCT FROM), coalesce bucketing."""
    o = load_table(spark, sf_dir, "orders")
    t = o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "P", None).otherwise(F.col("o_orderstatus")).alias(
            "maybe_status"
        ),
    )
    return t.groupBy(F.coalesce("maybe_status", F.lit("<null>")).alias("status_bucket")).agg(
        F.count("*").alias("n_total"),
        F.count("maybe_status").alias("n_nonnull"),
        F.sum(F.expr("CASE WHEN maybe_status <=> NULL THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_null_safe"),
    )


# --------------------------------------------------------------------------
# statistical moments from exact sums (engine-native stddev/corr use
# Welford-style accumulation whose FP order differs between engines; the
# sums-of-powers form is exact in decimal, then one identical double
# expression tree on both sides)
# --------------------------------------------------------------------------

_MOMENTS_SQL = """
WITH s AS (
    SELECT l_returnflag,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx2,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy2,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy
    FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       sx / n AS mean_qty,
       (sx2 - sx * sx / n) / (n - 1) AS var_qty,
       sqrt((sx2 - sx * sx / n) / (n - 1)) AS stddev_qty,
       -- corr consumes sums whose integer-unit magnitude exceeds 2^53:
       -- DECIMAL->DOUBLE casting rounds once in Spark (BigDecimal) but
       -- twice in DuckDB (int128->double, then /10^scale), so the raw
       -- doubles can differ by 1 ULP; round(12) absorbs it
       round((n * sxy - sx * sy) / (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy)), 12) AS corr_qty_price
FROM s
"""


def stats_exact_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean/variance/stddev/correlation derived from exact decimal
    sums-of-powers (NOT the engines' native stddev/corr, whose streaming
    accumulation order is engine-specific), then one identical double
    expression tree — bit-equal across engines and partitionings."""
    li = load_table(spark, sf_dir, "lineitem")
    q, p = _dec("l_quantity"), _dec("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(q).cast("double").alias("sx"),
        F.sum(q * q).cast("double").alias("sx2"),
        F.sum(p).cast("double").alias("sy"),
        F.sum(p * p).cast("double").alias("sy2"),
        F.sum(q * p).cast("double").alias("sxy"),
    )
    n, sx, sx2 = F.col("n"), F.col("sx"), F.col("sx2")
    sy, sy2, sxy = F.col("sy"), F.col("sy2"), F.col("sxy")
    return s.select(
        "l_returnflag",
        "n",
        (sx / n).alias("mean_qty"),
        ((sx2 - sx * sx / n) / (n - 1)).alias("var_qty"),
        F.sqrt((sx2 - sx * sx / n) / (n - 1)).alias("stddev_qty"),
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sx2 - sx * sx) * F.sqrt(n * sy2 - sy * sy)),
            12,
        ).alias("corr_qty_price"),
    )


# --------------------------------------------------------------------------
# RANGE window frames (value-based, interval-bounded) + arg_min/arg_max
# --------------------------------------------------------------------------

_RANGE_FRAME_SQL = """
SELECT o_custkey, o_orderkey,
       count(*) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate
         RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW
       ) AS orders_last_30d,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate
         RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS spend_last_30d
FROM orders
"""


def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based RANGE frame (30-day rolling window per customer) —
    unlike ROWS frames, peers with equal order keys share results, so the
    result is deterministic without an orderkey tiebreak. Expressed in SQL
    because the Python Window API only takes numeric range bounds."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_rf")
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey,
               count(*) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW
               ) AS orders_last_30d,
               CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS spend_last_30d
        FROM orders_rf
        """
    )


_ARGMINMAX_SQL = """
SELECT c_mktsegment,
       arg_min(c_name, c_custkey) AS first_customer,
       arg_max(c_name, c_custkey) AS last_customer,
       arg_max(c_name, c_acctbal) AS richest_customer
FROM customer
GROUP BY c_mktsegment
"""


def argmin_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by == DuckDB arg_min/arg_max. Ordering keys here are
    unique per group (custkey always; acctbal verified unique at the test
    SFs) so results are deterministic — with ties these aggregates are
    engine- and order-dependent, the classic correctness trap."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.min_by("c_name", "c_custkey").alias("first_customer"),
        F.max_by("c_name", "c_custkey").alias("last_customer"),
        F.max_by("c_name", "c_acctbal").alias("richest_customer"),
    )


_REGEX_GROUPS_SQL = """
SELECT c_custkey,
       regexp_extract(c_name, '([A-Z]+)_([0-9]+)', 1) AS name_word,
       regexp_extract(c_name, '([A-Z]+)_([0-9]+)', 2) AS name_num,
       CAST(regexp_matches(c_name, '^CUSTOMER_[0-9]+$') AS INT) AS is_canonical,
       least(c_acctbal, 1000.0) AS bal_capped,
       greatest(CAST(c_nationkey AS BIGINT), 10) AS natkey_floor10
FROM customer
"""


def regex_extract_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex capture groups (Spark regexp_extract idx == DuckDB group
    idx), full-match test, and least/greatest. Both engines back these
    regexes with the same semantics on this pattern class (anchors,
    classes, quantifiers — no lookaround, which RE2 lacks)."""
    c = load_table(spark, sf_dir, "customer")
    pat = "([A-Z]+)_([0-9]+)"
    return c.select(
        "c_custkey",
        F.regexp_extract("c_name", pat, 1).alias("name_word"),
        F.regexp_extract("c_name", pat, 2).alias("name_num"),
        F.col("c_name").rlike("^CUSTOMER_[0-9]+$").cast("int").alias("is_canonical"),
        F.least(F.col("c_acctbal"), F.lit(1000.0)).alias("bal_capped"),
        F.greatest(F.col("c_nationkey").cast("bigint"), F.lit(10).cast("bigint")).alias(
            "natkey_floor10"
        ),
    )


_HOF_ARRAY_SQL = """
WITH per_order AS (
    SELECT l_orderkey, list_sort(list(l_linenumber)) AS lines
    FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey,
       CAST(len(list_filter(lines, x -> x > 5)) > 0 AS INT) AS any_gt5,
       CAST(len(list_filter(lines, x -> x % 2 = 0)) = len(lines) AS INT) AS all_even,
       CAST(list_sum(list_transform(lines, x -> x * x)) AS BIGINT) AS sum_sq,
       array_to_string(list_transform(lines, x -> x * 10), ',') AS lines_x10_csv
FROM per_order
"""


def higher_order_array_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (exists/forall/transform/aggregate)
    over deterministically-sorted arrays. Fine OUTSIDE hot paths — these
    lambdas run interpreted (no codegen), which is why the dedup shingle
    path avoids them (see operators/dedup.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("l_linenumber")).alias("lines")
    )
    return per_order.select(
        "l_orderkey",
        F.exists("lines", lambda x: x > 5).cast("int").alias("any_gt5"),
        F.forall("lines", lambda x: x % 2 == 0).cast("int").alias("all_even"),
        F.aggregate(
            "lines", F.lit(0).cast("bigint"), lambda acc, x: acc + x.cast("bigint") * x
        ).alias("sum_sq"),
        # string-rendered: array-typed result columns hash differently
        # across pandas representations (numpy vs list), so results keep
        # to scalar columns
        F.array_join(
            F.transform("lines", lambda x: (x * 10).cast("string")), ","
        ).alias("lines_x10_csv"),
    )
