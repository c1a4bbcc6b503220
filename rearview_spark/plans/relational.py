"""Relational/app-layer query suite (SURVEY.md §2.3) over the TPC-H-ish
test tables.

The reference's relational surface is ActiveRecord CRUD + FK joins +
latest-per-group + tree prefix filters (R1-R12, evidence: db/schema.rb
indexes :26,:36,:47,:48,:71-74). Those patterns are exercised here against
the driver's star schema, widened with the standard OLAP shapes the
reference lacked (multi-way joins, rollup, set ops, top-k per group) that
SURVEY.md §2.3 marks Prov-A "free in Spark".

Every query is a pure function (spark, sf_dir) -> DataFrame paired with a
DuckDB oracle. Hash-stability conventions (see plans/_exact.py):
- identical aliases on both sides;
- sums/averages of fixed-decimal money columns use exact integer-cents
  arithmetic (bit-identical across engines);
- all float outputs go through the boundary-nudged r4/r6 rounding.

Scale notes: only constant-size dims (region=5, nation=25 rows) are
force-broadcast. customer/supplier/part grow proportionally with the fact
tables (TPC-H scaling), so at 100 TB a forced broadcast would OOM the
executors — those joins are left to AQE, which picks broadcast at small SF
and sort-merge (with runtime skew splitting) at scale. Fact-side
aggregates are partial (map-side combine) before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rearview_spark.plans._exact import exact_avg, exact_sum, int_sum, r4
from rearview_spark.sources.loader import Tables


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: full-scan aggregate with map-side partial agg; the
    canonical whole-stage-codegen pipeline (scan -> filter -> hash agg)."""
    li = Tables(spark, sf_dir).lineitem
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            r4(exact_sum(F.col("l_quantity"), 100)).alias("sum_qty"),
            r4(exact_sum(F.col("l_extendedprice"), 100)).alias("sum_base_price"),
            r4(exact_sum(disc_price, 10_000)).alias("sum_disc_price"),
            r4(exact_sum(charge, 1_000_000)).alias("sum_charge"),
            r4(exact_avg(F.col("l_quantity"), 100)).alias("avg_qty"),
            r4(exact_avg(F.col("l_extendedprice"), 100)).alias("avg_price"),
            r4(exact_avg(F.col("l_discount"), 100)).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(CAST(round(l_quantity * 100.0) AS BIGINT)) / 100.0 + 0.00000005, 4) AS sum_qty,
       round(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) / 100.0 + 0.00000005, 4) AS sum_base_price,
       round(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000.0) AS BIGINT)) / 10000.0 + 0.00000005, 4) AS sum_disc_price,
       round(sum(CAST(round((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 1000000.0) AS BIGINT)) / 1000000.0 + 0.00000005, 4) AS sum_charge,
       round(sum(CAST(round(l_quantity * 100.0) AS BIGINT)) / 100.0 / count(l_quantity) + 0.00000005, 4) AS avg_qty,
       round(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) / 100.0 / count(l_extendedprice) + 0.00000005, 4) AS avg_price,
       round(sum(CAST(round(l_discount * 100.0) AS BIGINT)) / 100.0 / count(l_discount) + 0.00000005, 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

# Shared SQL fragment: exact revenue sum (4-decimal units of
# extendedprice*(1-discount), summed as int64).
REV_SQL = "round(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000.0) AS BIGINT)) / 10000.0 + 0.00000005, 4)"


def _revenue() -> F.Column:
    return r4(exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10_000))


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> fact join -> top-10 by
    revenue. customer is AQE-broadcast at this SF; orders->lineitem is
    the big join.
    The ordering key (exact revenue) is bit-identical across engines, so
    the LIMIT cutoff is deterministic."""
    t = Tables(spark, sf_dir)
    cust = t.customer.filter(F.col("c_mktsegment") == "BUILDING")
    ord_ = t.orders.filter(F.col("o_orderdate") < F.lit("1995-03-15"))
    li = t.lineitem.filter(F.col("l_shipdate") > F.lit("1995-03-15"))
    return (
        li.join(ord_, li.l_orderkey == ord_.o_orderkey)
        .join(cust, ord_.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_revenue().alias("revenue"))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


Q3_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority, {REV_SQL} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate  > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way join where supplier and customer must share a
    nation. Constant dims force-broadcast, sized dims AQE-planned."""
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.join(t.orders, t.lineitem.l_orderkey == t.orders.o_orderkey)
        .join(t.supplier, t.lineitem.l_suppkey == t.supplier.s_suppkey)
        .join(t.customer, t.orders.o_custkey == t.customer.c_custkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(t.nation), F.col("s_nationkey") == t.nation.n_nationkey)
        .join(F.broadcast(t.region), t.nation.n_regionkey == t.region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(_revenue().alias("revenue"))
        .orderBy("r_name", "n_name")
    )


Q5_SQL = f"""
SELECT r_name, n_name, {REV_SQL} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def q6_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure filter + scalar aggregate. The whole predicate is
    pushed to the parquet scan (PushedFilters on shipdate/discount/qty)."""
    li = Tables(spark, sf_dir).lineitem
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(r4(exact_sum(F.col("l_extendedprice") * F.col("l_discount"), 10_000)).alias("revenue"))


Q6_SQL = """
SELECT round(sum(CAST(round((l_extendedprice * l_discount) * 10000.0) AS BIGINT)) / 10000.0 + 0.00000005, 4) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def top3_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (R8/G19 pattern): window row_number over a
    pre-aggregated (small) frame, never over the raw fact table."""
    t = Tables(spark, sf_dir)
    per_part = (
        t.lineitem.join(t.part, t.lineitem.l_partkey == t.part.p_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(_revenue().alias("revenue"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.col("revenue").desc(), F.col("p_partkey"))
    return (
        per_part.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("p_brand", "p_partkey", "revenue", "rank")
    )


TOP3_SQL = f"""
WITH per_part AS (
  SELECT p_brand, p_partkey, {REV_SQL} AS revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, p_partkey
)
SELECT p_brand, p_partkey, revenue, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS INT) AS rank
  FROM per_part
) WHERE rank <= 3
"""


def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets surface (Prov-A in the reference; free in Spark)."""
    li = Tables(spark, sf_dir).lineitem
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(_revenue().alias("revenue"), F.count("*").alias("n_rows"))
        .orderBy(F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


ROLLUP_SQL = f"""
SELECT l_returnflag, l_linestatus, {REV_SQL} AS revenue, count(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8 — latest-row-per-group, the job_data chart-load pattern
    (db/schema.rb:36 index), as row_number window."""
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
    latest = (
        t.orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return latest.join(t.customer, latest.o_custkey == t.customer.c_custkey).select(
        "c_custkey", "c_name", "o_orderkey", "o_orderdate", r4(F.col("o_totalprice")).alias("totalprice")
    )


LATEST_SQL = """
SELECT c_custkey, c_name, o_orderkey, o_orderdate, round(o_totalprice + 0.00000005, 4) AS totalprice
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
) o JOIN customer ON o_custkey = c_custkey
WHERE rn = 1
"""


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (NOT EXISTS) on the dim side."""
    t = Tables(spark, sf_dir)
    return (
        t.customer.join(t.orders, t.customer.c_custkey == t.orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


NO_ORDERS_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


def mktsegment_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational asPercent (G8 shape): share of order value by segment.
    Both the per-segment subtotal and the grand total stay exact int64
    until the final division, so the percentage is deterministic.

    The grand total arrives as a broadcast one-row crossJoin, not a
    partition-less ``sum() OVER ()`` window — the window form funnels
    the per-segment frame through one task (harmless at segment
    cardinality, but it is the exact plan shape the WindowExec sweep
    bans, and the broadcast scalar is what every other share-of-total
    gate in this repo already does)."""
    t = Tables(spark, sf_dir)
    per_seg = (
        t.orders.join(t.customer, t.orders.o_custkey == t.customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(int_sum(F.col("o_totalprice"), 100).alias("_cents"))
    )
    total = per_seg.agg(F.sum("_cents").alias("_total"))
    return (
        per_seg.crossJoin(F.broadcast(total))
        .select(
            "c_mktsegment",
            r4(F.col("_cents") / F.lit(100.0)).alias("seg_revenue"),
            r4(F.col("_cents") / F.col("_total") * 100.0).alias("pct"),
        )
        .orderBy("c_mktsegment")
    )


SEGMENT_SHARE_SQL = """
WITH per_seg AS (
  SELECT c_mktsegment, sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment
)
SELECT c_mktsegment,
       round(cents / 100.0 + 0.00000005, 4) AS seg_revenue,
       round(cents / sum(cents) OVER () * 100.0 + 0.00000005, 4) AS pct
FROM per_seg
ORDER BY c_mktsegment
"""


def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-dimension aggregate: truncation + exact count distinct."""
    t = Tables(spark, sf_dir)
    return (
        t.orders.groupBy(
            F.date_trunc("month", "o_orderdate").alias("month"),
            F.col("o_orderpriority"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            r4(exact_sum(F.col("o_totalprice"), 100)).alias("revenue"),
        )
        .orderBy("month", "o_orderpriority")
    )


ORDERS_BY_MONTH_SQL = """
SELECT date_trunc('month', o_orderdate) AS month, o_orderpriority,
       count(*) AS n_orders,
       count(DISTINCT o_custkey) AS n_customers,
       round(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) / 100.0 + 0.00000005, 4) AS revenue
FROM orders
GROUP BY 1, 2
ORDER BY 1, 2
"""


def high_value_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + HAVING-style filter: customers whose exact order total
    exceeds 10x their account balance."""
    t = Tables(spark, sf_dir)
    per_cust = t.orders.groupBy("o_custkey").agg(
        (int_sum(F.col("o_totalprice"), 100) / F.lit(100.0)).alias("_total")
    )
    return (
        t.customer.join(per_cust, t.customer.c_custkey == per_cust.o_custkey)
        .filter(F.col("_total") > 10 * F.col("c_acctbal"))
        .select(
            "c_custkey", "c_name",
            r4(F.col("c_acctbal")).alias("acctbal"),
            r4(F.col("_total")).alias("order_total"),
        )
        .orderBy("c_custkey")
    )


HIGH_VALUE_SQL = """
SELECT c_custkey, c_name,
       round(c_acctbal + 0.00000005, 4) AS acctbal,
       round(t.total + 0.00000005, 4) AS order_total
FROM customer
JOIN (SELECT o_custkey, sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) / 100.0 AS total
      FROM orders GROUP BY o_custkey) t
  ON c_custkey = t.o_custkey
WHERE t.total > 10 * c_acctbal
ORDER BY c_custkey
"""


def part_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dim join (AQE-planned) + multi-agg incl. exact median over groups."""
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.join(t.part, t.lineitem.l_partkey == t.part.p_partkey)
        .groupBy("p_type")
        .agg(
            r4(exact_avg(F.col("l_discount"), 100)).alias("avg_disc"),
            r4(F.expr("percentile(l_quantity, 0.5)")).alias("median_qty"),
            r4(F.max("l_extendedprice")).alias("max_price"),
            F.count("*").alias("n"),
        )
        .orderBy("p_type")
    )


PART_TYPE_SQL = """
SELECT p_type,
       round(sum(CAST(round(l_discount * 100.0) AS BIGINT)) / 100.0 / count(l_discount) + 0.00000005, 4) AS avg_disc,
       round(quantile_cont(l_quantity, 0.5) + 0.00000005, 4) AS median_qty,
       round(max(l_extendedprice) + 0.00000005, 4) AS max_price,
       count(*) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_type
ORDER BY p_type
"""


def nation_customer_minus_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops surface: nations that have customers but no suppliers
    (EXCEPT), reference Prov-A category."""
    t = Tables(spark, sf_dir)
    cust_nations = t.customer.select(F.col("c_nationkey").alias("nationkey")).distinct()
    supp_nations = t.supplier.select(F.col("s_nationkey").alias("nationkey")).distinct()
    return (
        cust_nations.exceptAll(supp_nations)
        .join(F.broadcast(t.nation), F.col("nationkey") == t.nation.n_nationkey)
        .select("nationkey", "n_name")
        .orderBy("nationkey")
    )


EXCEPT_SQL = """
SELECT nationkey, n_name
FROM (
  SELECT DISTINCT c_nationkey AS nationkey FROM customer
  EXCEPT
  SELECT DISTINCT s_nationkey AS nationkey FROM supplier
) t JOIN nation ON nationkey = n_nationkey
ORDER BY nationkey
"""


QUERIES: dict[str, dict] = {
    "q1_pricing_summary": {"fn": q1_pricing_summary, "oracle": Q1_SQL},
    "q3_shipping_priority": {"fn": q3_shipping_priority, "oracle": Q3_SQL},
    "q5_local_supplier_volume": {"fn": q5_local_supplier_volume, "oracle": Q5_SQL},
    "q6_revenue_change": {"fn": q6_revenue_change, "oracle": Q6_SQL},
    "top3_parts_per_brand": {"fn": top3_parts_per_brand, "oracle": TOP3_SQL},
    "rollup_revenue": {"fn": rollup_revenue, "oracle": ROLLUP_SQL},
    "latest_order_per_customer": {"fn": latest_order_per_customer, "oracle": LATEST_SQL},
    "customers_without_orders": {"fn": customers_without_orders, "oracle": NO_ORDERS_SQL},
    "mktsegment_share": {"fn": mktsegment_share, "oracle": SEGMENT_SHARE_SQL},
    "orders_by_month": {"fn": orders_by_month, "oracle": ORDERS_BY_MONTH_SQL},
    "high_value_customers": {"fn": high_value_customers, "oracle": HIGH_VALUE_SQL},
    "part_type_stats": {"fn": part_type_stats, "oracle": PART_TYPE_SQL},
    "nation_customer_minus_supplier": {"fn": nation_customer_minus_supplier, "oracle": EXCEPT_SQL},
}


# --- additions: cube, intersect, exists-subquery shapes ----------------------

def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping-sets surface over two dims."""
    li = Tables(spark, sf_dir).lineitem
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(_revenue().alias("revenue"), F.count("*").alias("n_rows"))
        .orderBy(F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


CUBE_SQL = f"""
SELECT l_returnflag, l_linestatus, {REV_SQL} AS revenue, count(*) AS n_rows
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def nations_with_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: nations having both customers and suppliers."""
    t = Tables(spark, sf_dir)
    cust = t.customer.select(F.col("c_nationkey").alias("nationkey")).distinct()
    supp = t.supplier.select(F.col("s_nationkey").alias("nationkey")).distinct()
    return (
        cust.intersect(supp)
        .join(F.broadcast(t.nation), F.col("nationkey") == t.nation.n_nationkey)
        .select("nationkey", "n_name")
        .orderBy("nationkey")
    )


INTERSECT_SQL = """
SELECT nationkey, n_name
FROM (
  SELECT DISTINCT c_nationkey AS nationkey FROM customer
  INTERSECT
  SELECT DISTINCT s_nationkey AS nationkey FROM supplier
) t JOIN nation ON nationkey = n_nationkey
ORDER BY nationkey
"""


def q4_priority_with_big_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS-subquery (left-semi) -> priority counts."""
    t = Tables(spark, sf_dir)
    big = t.lineitem.filter(F.col("l_quantity") >= 45).select("l_orderkey")
    return (
        t.orders.join(big, t.orders.o_orderkey == big.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: supplier-nation x customer-nation yearly volume."""
    t = Tables(spark, sf_dir)
    sn = t.nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    cn = t.nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    return (
        t.lineitem.join(t.orders, t.lineitem.l_orderkey == t.orders.o_orderkey)
        .join(t.supplier, t.lineitem.l_suppkey == t.supplier.s_suppkey)
        .join(t.customer, t.orders.o_custkey == t.customer.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(_revenue().alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year, {REV_SQL} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE sn.n_name < cn.n_name
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


QUERIES.update(
    {
        "cube_revenue": {"fn": cube_revenue, "oracle": CUBE_SQL},
        "nations_with_both": {"fn": nations_with_both, "oracle": INTERSECT_SQL},
        "q4_priority_with_big_items": {"fn": q4_priority_with_big_items, "oracle": Q4_SQL},
        "q7_nation_volume": {"fn": q7_nation_volume, "oracle": Q7_SQL},
    }
)


# --- additions 2: Q10/Q12 shapes, ntile distribution -------------------------

def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer, top 20.
    Selective fact filter (l_returnflag='R') reaches the scan; the
    orderkey join is the only big shuffle; top-k via exact-revenue sort.
    Ties broken by custkey so LIMIT is deterministic."""
    t = Tables(spark, sf_dir)
    returned = t.lineitem.filter(F.col("l_returnflag") == "R")
    return (
        returned.join(t.orders, returned.l_orderkey == t.orders.o_orderkey)
        .join(t.customer, t.orders.o_custkey == t.customer.c_custkey)
        .join(F.broadcast(t.nation), F.col("c_nationkey") == t.nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_revenue().alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


Q10_SQL = f"""
SELECT c_custkey, c_name, n_name, {REV_SQL} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey LIMIT 20
"""


def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (conditional aggregation — CASE inside sum — after
    a pushed range filter; grouped by l_returnflag since the driver's
    reduced lineitem schema carries no l_shipmode)."""
    t = Tables(spark, sf_dir)
    li = t.lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(t.orders, li.l_orderkey == t.orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


Q12_SQL = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile/percent_rank surface: customers bucketed into revenue
    deciles, per-decile totals — WITHOUT a partition-less ntile window.

    r10 shipped this as ``ntile(10).over(Window.orderBy(...))``, which
    plans a single-task WindowExec over the whole per-customer frame
    (~1.5B rows at the 100 TB target — VERDICT r10 "What's wrong" #1).
    Now: distributed global row number (range-partitioned parallel
    sort + broadcast prefix offsets, _util.global_row_number) and the
    SQL-standard ntile closed form over (rn, n) — bit-identical bucket
    assignment, no global-sort window anywhere in the plan (pinned by
    tests/test_plan_shapes.py's WindowExec sweep)."""
    from rearview_spark.operators._util import (
        global_row_number,
        ntile_from_row_number,
    )

    t = Tables(spark, sf_dir)
    per_cust = (
        t.orders.groupBy("o_custkey")
        .agg(r4(exact_sum(F.col("o_totalprice"), 100)).alias("cust_revenue"))
    )
    ranked, n = global_row_number(
        per_cust, [F.col("cust_revenue").desc(), F.col("o_custkey")]
    )
    deciled = ranked.withColumn(
        "decile", ntile_from_row_number(F.col("global_rn"), n, 10)
    )
    return (
        deciled.groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            r4(exact_sum(F.col("cust_revenue"), 10_000)).alias("decile_revenue"),
        )
        .orderBy("decile")
    )


DECILE_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         round(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) / 100.0 + 0.00000005, 4) AS cust_revenue
  FROM orders GROUP BY 1
), deciled AS (
  SELECT *, ntile(10) OVER (ORDER BY cust_revenue DESC, o_custkey) AS decile FROM per_cust
)
SELECT decile, count(*) AS n_customers,
       round(sum(CAST(round(cust_revenue * 10000.0) AS BIGINT)) / 10000.0 + 0.00000005, 4) AS decile_revenue
FROM deciled GROUP BY decile ORDER BY decile
"""


QUERIES.update(
    {
        "q10_returned_items": {"fn": q10_returned_items, "oracle": Q10_SQL},
        "q12_shipmode_priority": {"fn": q12_shipmode_priority, "oracle": Q12_SQL},
        "customer_value_deciles": {"fn": customer_value_deciles, "oracle": DECILE_SQL},
    }
)


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join (customers with zero orders kept)
    -> per-customer order count -> histogram of counts. Two aggregations,
    both map-side partial; the outer join is the only wide shuffle."""
    t = Tables(spark, sf_dir)
    per_cust = (
        t.customer.join(
            t.orders, t.customer.c_custkey == t.orders.o_custkey, "left_outer"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""


def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional revenue share — ratio of two exact
    integer-cents sums (bit-identical across engines), one month of
    lineitem with the range filter pushed to the scan."""
    t = Tables(spark, sf_dir)
    li = t.lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    joined = li.join(t.part, li.l_partkey == t.part.p_partkey)
    rev_cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast("long")
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev_cents).otherwise(F.lit(0)))
    total = F.sum(rev_cents)
    return joined.agg(
        r4(F.lit(100.0) * promo / total).alias("promo_revenue_pct")
    )


Q14_SQL = """
SELECT round(100.0
  * sum(CASE WHEN p_type = 'PROMO' THEN CAST(round((l_extendedprice * (1 - l_discount)) * 10000.0) AS BIGINT) ELSE 0 END)
  / sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000.0) AS BIGINT))
  + 0.00000005, 4) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= DATE '1996-03-01' AND l_shipdate < DATE '1996-04-01'
"""


QUERIES.update(
    {
        "q13_customer_distribution": {"fn": q13_customer_distribution, "oracle": Q13_SQL},
        "q14_promo_revenue_share": {"fn": q14_promo_revenue_share, "oracle": Q14_SQL},
    }
)


def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (SQL form, distinct from cube/rollup):
    revenue by (returnflag, linestatus), by (returnflag), and grand
    total, with grouping_id distinguishing the levels."""
    t = Tables(spark, sf_dir)
    t.lineitem.createOrReplaceTempView("_li_gs")
    return spark.sql(f"""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               CAST({REV_SQL} AS DOUBLE) AS revenue,
               count(*) AS n_rows
        FROM _li_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """)


GROUPING_SETS_SQL = f"""
SELECT l_returnflag, l_linestatus,
       CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       CAST({REV_SQL} AS DOUBLE) AS revenue,
       count(*) AS n_rows
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


QUERIES["grouping_sets_revenue"] = {"fn": grouping_sets_revenue, "oracle": GROUPING_SETS_SQL}


# --- additions 3: remaining TPC-H shapes expressible on the reduced schema ---
# (no partsupp table and no commitdate/receiptdate columns in the driver's
# star schema, so Q2/Q11/Q20/Q21 have no faithful equivalent; Q8, Q9, Q15,
# Q16, Q17, Q18, Q19, Q22 below are adapted to the available columns.)

def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_5's share of ASIA's ECONOMY-part order
    revenue per year. Share = ratio of two exact integer-cents sums
    (conditional numerator), so the division is deterministic."""
    t = Tables(spark, sf_dir)
    sn = t.nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    cn = t.nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    rev_cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast("long")
    return (
        t.lineitem.join(t.part.filter(F.col("p_type") == "ECONOMY"),
                        t.lineitem.l_partkey == t.part.p_partkey)
        .join(t.orders, t.lineitem.l_orderkey == t.orders.o_orderkey)
        .join(t.customer, t.orders.o_custkey == t.customer.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(t.region.filter(F.col("r_name") == "ASIA")),
              F.col("c_rk") == t.region.r_regionkey)
        .join(t.supplier, t.lineitem.l_suppkey == t.supplier.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (F.sum(F.when(F.col("supp_nation") == "NATION_5", rev_cents).otherwise(F.lit(0)))
             ).alias("_nation_cents"),
            F.sum(rev_cents).alias("_all_cents"),
        )
        .select(
            "o_year",
            r4(F.col("_nation_cents") / F.col("_all_cents") * 100.0).alias("mkt_share_pct"),
            r4(F.col("_all_cents") / F.lit(10000.0)).alias("total_revenue"),
        )
        .orderBy("o_year")
    )


Q8_SQL = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(sum(CASE WHEN sn.n_name = 'NATION_5' THEN CAST(round((l_extendedprice * (1 - l_discount)) * 10000.0) AS BIGINT) ELSE 0 END)
             / sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000.0) AS BIGINT)) * 100.0 + 0.00000005, 4) AS mkt_share_pct,
       round(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000.0) AS BIGINT)) / 10000.0 + 0.00000005, 4) AS total_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region ON cn.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
GROUP BY 1 ORDER BY 1
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and year over parts named
    '%widget%'. The reference schema has no partsupp/ps_supplycost, so
    cost is modeled as 10% of p_retailprice per unit — the plan shape
    (scan with LIKE filter -> 4-way join -> two-level agg) is Q9's."""
    t = Tables(spark, sf_dir)
    profit_cents = F.round(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))
         - F.col("p_retailprice") * 0.1 * F.col("l_quantity")) * 10000
    ).cast("long")
    return (
        t.lineitem.join(t.part.filter(F.col("p_name").like("%widget%")),
                        t.lineitem.l_partkey == t.part.p_partkey)
        .join(t.supplier, t.lineitem.l_suppkey == t.supplier.s_suppkey)
        .join(F.broadcast(t.nation), F.col("s_nationkey") == t.nation.n_nationkey)
        .join(t.orders, t.lineitem.l_orderkey == t.orders.o_orderkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(r4(F.sum(profit_cents) / F.lit(10000.0)).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


Q9_SQL = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(sum(CAST(round((l_extendedprice * (1 - l_discount) - p_retailprice * 0.1 * l_quantity) * 10000.0) AS BIGINT)) / 10000.0 + 0.00000005, 4) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2 ORDER BY nation, o_year DESC
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: revenue view over a quarter -> supplier(s) at the
    exact maximum (scalar-subquery max as a whole-frame window, no second
    scan of the base data; ties all returned, like the spec)."""
    t = Tables(spark, sf_dir)
    li = t.lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        int_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10_000).alias("_cents")
    )
    mx = rev.agg(F.max("_cents").alias("_mx"))
    top = rev.crossJoin(F.broadcast(mx)).filter(F.col("_cents") == F.col("_mx"))
    return (
        top.join(t.supplier, top.supplier_no == t.supplier.s_suppkey)
        .select("s_suppkey", "s_name", r4(F.col("_cents") / F.lit(10000.0)).alias("total_revenue"))
        .orderBy("s_suppkey")
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000.0) AS BIGINT)) AS cents
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, round(cents / 10000.0 + 0.00000005, 4) AS total_revenue
FROM revenue JOIN supplier ON supplier_no = s_suppkey
WHERE cents = (SELECT max(cents) FROM revenue)
ORDER BY s_suppkey
"""


def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per (brand, type, size)
    with exclusion filters. lineitem's (partkey, suppkey) pairs stand in
    for the absent partsupp table; the pair-distinct happens before the
    dim join so the heavy dedup is on narrow columns."""
    t = Tables(spark, sf_dir)
    bridge = t.lineitem.select("l_partkey", "l_suppkey").distinct()
    parts = t.part.filter(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 28, 36)
    )
    return (
        bridge.join(parts, bridge.l_partkey == parts.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 24, 28, 36)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    quantity) decorrelated into an aggregate + equi-join; average uses
    the exact integer-cents scheme so the 0.2*avg threshold is
    bit-identical across engines."""
    t = Tables(spark, sf_dir)
    parts = t.part.filter((F.col("p_brand") == "Brand#23") & (F.col("p_type") == "SMALL"))
    li = t.lineitem.join(parts, t.lineitem.l_partkey == parts.p_partkey)
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (exact_avg(F.col("l_quantity"), 100) * 0.2).alias("qty_threshold")
    )
    return (
        li.join(thresholds, li.l_partkey == thresholds.t_partkey)
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(r4(exact_sum(F.col("l_extendedprice"), 100) / F.lit(7.0)).alias("avg_yearly"))
    )


Q17_SQL = """
WITH li AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#23' AND p_type = 'SMALL'
), thresholds AS (
  SELECT l_partkey AS t_partkey,
         sum(CAST(round(l_quantity * 100.0) AS BIGINT)) / 100.0 / count(l_quantity) * 0.2 AS qty_threshold
  FROM li GROUP BY 1
)
SELECT round(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) / 100.0 / 7.0 + 0.00000005, 4) AS avg_yearly
FROM li JOIN thresholds ON l_partkey = t_partkey
WHERE l_quantity < qty_threshold
"""


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a fact aggregate (orders whose total
    quantity exceeds 200) -> join back to orders + customer. The
    per-order agg is map-side partial; only qualifying orderkeys reach
    the dim joins."""
    t = Tables(spark, sf_dir)
    big = (
        t.lineitem.groupBy("l_orderkey")
        .agg((int_sum(F.col("l_quantity"), 100) / F.lit(100.0)).alias("sum_qty"))
        .filter(F.col("sum_qty") > 200)
    )
    return (
        big.join(t.orders, big.l_orderkey == t.orders.o_orderkey)
        .join(t.customer, t.orders.o_custkey == t.customer.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            r4(F.col("o_totalprice")).alias("totalprice"),
            r4(F.col("sum_qty")).alias("sum_qty"),
        )
        .orderBy(F.col("totalprice").desc(), "o_orderkey")
        .limit(100)
    )


Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey, o_orderdate,
       round(o_totalprice + 0.00000005, 4) AS totalprice,
       round(sq.sum_qty + 0.00000005, 4) AS sum_qty
FROM (
  SELECT l_orderkey, sum(CAST(round(l_quantity * 100.0) AS BIGINT)) / 100.0 AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(CAST(round(l_quantity * 100.0) AS BIGINT)) / 100.0 > 200
) sq
JOIN orders ON sq.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY totalprice DESC, o_orderkey
LIMIT 100
"""


def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of three conjunctive brand/size/
    quantity branches — the classic OR-of-ANDs predicate Catalyst turns
    into a single scan with the common join key; revenue over the union
    of branches."""
    t = Tables(spark, sf_dir)
    j = t.lineitem.join(t.part, t.lineitem.l_partkey == t.part.p_partkey)
    b1 = (F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11)
    b2 = (F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 20)
    b3 = (F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 30)
    return j.filter(b1 | b2 | b3).agg(_revenue().alias("revenue"))


Q19_SQL = f"""
SELECT {REV_SQL} AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
"""


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery (average positive balance,
    broadcast as a 1-row frame — no collect) + NOT EXISTS anti-join
    against recent orders, grouped by nation (standing in for the absent
    phone country code)."""
    t = Tables(spark, sf_dir)
    nations = [1, 3, 5, 7, 9, 11, 13, 15, 17, 19, 21, 23]
    cust = t.customer.filter(F.col("c_nationkey").isin(nations))
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(exact_avg(F.col("c_acctbal"), 100).alias("_avg_bal"))
    )
    recent = t.orders.filter(F.col("o_orderdate") >= F.lit("2000-01-01"))
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            r4(exact_sum(F.col("c_acctbal"), 100)).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


Q22_SQL = """
WITH cust AS (
  SELECT * FROM customer WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13, 15, 17, 19, 21, 23)
), avg_bal AS (
  SELECT sum(CAST(round(c_acctbal * 100.0) AS BIGINT)) / 100.0 / count(c_acctbal) AS a
  FROM cust WHERE c_acctbal > 0.0
)
SELECT c_nationkey, count(*) AS numcust,
       round(sum(CAST(round(c_acctbal * 100.0) AS BIGINT)) / 100.0 + 0.00000005, 4) AS totacctbal
FROM cust, avg_bal
WHERE c_acctbal > a
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderdate >= DATE '2000-01-01')
GROUP BY c_nationkey ORDER BY c_nationkey
"""


QUERIES.update(
    {
        "q8_market_share": {"fn": q8_market_share, "oracle": Q8_SQL},
        "q9_product_profit": {"fn": q9_product_profit, "oracle": Q9_SQL},
        "q15_top_supplier": {"fn": q15_top_supplier, "oracle": Q15_SQL},
        "q16_supplier_part_counts": {"fn": q16_supplier_part_counts, "oracle": Q16_SQL},
        "q17_small_quantity_revenue": {"fn": q17_small_quantity_revenue, "oracle": Q17_SQL},
        "q18_large_volume_customers": {"fn": q18_large_volume_customers, "oracle": Q18_SQL},
        "q19_discounted_revenue": {"fn": q19_discounted_revenue, "oracle": Q19_SQL},
        "q22_global_sales_opportunity": {"fn": q22_global_sales_opportunity, "oracle": Q22_SQL},
    }
)


def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (operators/skew.py) over the most
    skew-prone grouping in the schema — lineitem by (l_returnflag,
    l_linestatus), 4 populated groups holding the whole fact table, the
    exact shape where one hot key pins a reducer at 100 TB (AQE splits
    partitions, not keys). Was unit-only (VERDICT r04 §2.1 'Skew
    mitigation'); this gate row proves the (key, salt) partial + key
    merge is VALUE-identical to a one-phase groupBy: sums use the
    integer-cents scheme, so the extra merge step cannot perturb doubles
    (int64 addition is associative)."""
    from rearview_spark.operators.skew import salted_aggregate

    li = (
        Tables(spark, sf_dir)
        .lineitem.withColumn("qty_cents", F.round(F.col("l_quantity") * 100).cast("long"))
        .withColumn("price_cents", F.round(F.col("l_extendedprice") * 100).cast("long"))
    )
    out = salted_aggregate(
        li,
        keys=["l_returnflag", "l_linestatus"],
        aggs={
            "sum_qty_cents": ("qty_cents", "sum"),
            "sum_price_cents": ("price_cents", "sum"),
            "n_rows": ("l_orderkey", "count"),
            "max_shipdate": ("l_shipdate", "max"),
        },
        # salts vary WITHIN a hot key: every (orderkey, linenumber) is
        # distinct, so the hot groups spread evenly over the 16 salts
        salt_src=["l_orderkey", "l_linenumber"],
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        (F.col("sum_qty_cents") / 100.0).alias("sum_qty"),
        (F.col("sum_price_cents") / 100.0).alias("sum_price"),
        "n_rows",
        "max_shipdate",
    ).orderBy("l_returnflag", "l_linestatus")


SKEW_AGG_SQL = """
SELECT l_returnflag, l_linestatus,
       sum(CAST(round(l_quantity * 100.0) AS BIGINT)) / 100.0 AS sum_qty,
       sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) / 100.0 AS sum_price,
       count(l_orderkey) AS n_rows,
       max(l_shipdate) AS max_shipdate
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


QUERIES["skew_salted_agg"] = {"fn": skew_salted_agg, "oracle": SKEW_AGG_SQL}


def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact-to-dim join (operators/skew.py salted_join): lineitem
    (skewed side — a hot order id would pin one reducer) joined to the
    urgent-orders subset with the dim replicated 16 ways and the join key
    widened to (orderkey, salt). Salts derive from (orderkey, linenumber)
    — varying WITHIN a hot key — so one hot order's lines spread over 16
    reducers. The gate proves result-set equivalence to a plain join: the
    oracle runs the unsalted SQL join and the aggregate must match
    value-level (integer-cents sums; no float drift from the extra
    replication). Honest scale note: replication multiplies the right
    side's shuffle 16x, so at 100 TB this exact pairing (orders is a
    fact) would lean on AQE skew splitting instead — salted_join is for
    dimension-sized right sides and the streaming micro-batches where
    AQE cannot re-plan (operators/skew.py docstring); the gate exercises
    the mechanism's correctness, not a recommendation for this pairing.
    The contract-matching example — a genuinely dimension-sized right
    side — is the companion gate ``skew_salted_join_dim`` below."""
    from rearview_spark.operators.skew import salted_join

    t = Tables(spark, sf_dir)
    urgent = t.orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
    )
    joined = salted_join(
        t.lineitem.select("l_orderkey", "l_linenumber", "l_extendedprice"),
        urgent,
        on=["l_orderkey"],
        salt_src=["l_orderkey", "l_linenumber"],
    )
    return (
        joined.groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(
            F.count("*").alias("n_lines"),
            r4(exact_sum(F.col("l_extendedprice"), 100)).alias("revenue"),
        )
        .orderBy("month")
    )


SKEW_JOIN_SQL = """
SELECT date_trunc('month', o_orderdate) AS month,
       count(*) AS n_lines,
       round(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) / 100.0 + 0.00000005, 4) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY 1
ORDER BY 1
"""


QUERIES["skew_salted_join"] = {"fn": skew_salted_join, "oracle": SKEW_JOIN_SQL}


def skew_salted_join_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join in its DOCUMENTED regime (VERDICT r05 next-round #4):
    lineitem (fact, skewed side) joined to a genuinely dimension-sized
    right side — supplier enriched with its nation name, SF x 10k rows,
    the canonical case where replicating the dim ``n_salts`` ways is
    cheap (16x a dimension is still tiny next to one fact shuffle) and a
    hot supplier key would otherwise pin a single reducer. Salts derive
    from (l_orderkey, l_linenumber), distinct within any hot supplier,
    so its lines spread over all 16 reducers. The oracle is the plain
    unsalted SQL join: the gate proves the salt widening + replication
    is value-invisible (integer-cents revenue). The mechanism-only
    companion gate (fact-sized right side, explicitly NOT the
    recommended pairing) is ``skew_salted_join`` above."""
    from rearview_spark.operators.skew import salted_join

    t = Tables(spark, sf_dir)
    dim = (
        t.supplier.join(t.nation, t.supplier.s_nationkey == t.nation.n_nationkey)
        .select(F.col("s_suppkey").alias("l_suppkey"), "n_name")
    )
    joined = salted_join(
        t.lineitem.select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice"),
        dim,
        on=["l_suppkey"],
        salt_src=["l_orderkey", "l_linenumber"],
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.count("*").alias("n_lines"),
            r4(exact_sum(F.col("l_extendedprice"), 100)).alias("revenue"),
        )
        .orderBy("n_name")
    )


SKEW_JOIN_DIM_SQL = """
SELECT n_name,
       count(*) AS n_lines,
       round(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) / 100.0 + 0.00000005, 4) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""


QUERIES["skew_salted_join_dim"] = {"fn": skew_salted_join_dim, "oracle": SKEW_JOIN_DIM_SQL}


def edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string join (operators/joins.edit_distance_join): supplier
    names within 2 edits, candidates from positional q-gram count
    filtering, verified with the built-in integer levenshtein. Oracle =
    the brute-force all-pairs join over the same contract domain — the
    hash match proves the count filter's completeness bound held."""
    from rearview_spark.operators.joins import edit_distance_join

    sup = Tables(spark, sf_dir).supplier.select("s_suppkey", "s_name")
    return edit_distance_join(
        sup, text_col="s_name", id_col="s_suppkey", max_dist=2, q=2
    ).orderBy("id_a", "id_b")


EDIT_DIST_SQL = """
WITH s AS (
  SELECT s_suppkey AS id, s_name AS str FROM supplier WHERE length(s_name) >= 6
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(levenshtein(a.str, b.str) AS INTEGER) AS dist
FROM s a JOIN s b ON a.id < b.id
WHERE levenshtein(a.str, b.str) <= 2
ORDER BY id_a, id_b
"""


QUERIES["edit_distance_pairs"] = {"fn": edit_distance_pairs, "oracle": EDIT_DIST_SQL}


def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity-resolution blocking
    (operators/joins.sorted_neighborhood_pairs): customers ordered by
    (mktsegment, acctbal, custkey), window of 5 ranks, then the merge/
    purge verify predicate — same nation, account balances within 100 —
    flags likely duplicate accounts. The oracle computes ranks with a
    plain row_number window and pairs with an rn-distance self-join; the
    hash match proves the bucket-join blocking meets exactly the same
    pair set the textbook windowed scan defines, while the Spark plan
    has no global sort (range repartition + per-partition ranks) and
    shuffles only uniform window-sized integer buckets."""
    from rearview_spark.operators.joins import sorted_neighborhood_pairs

    cust = Tables(spark, sf_dir).customer
    pairs = sorted_neighborhood_pairs(
        cust,
        ["c_mktsegment", "c_acctbal", "c_custkey"],
        window=5,
        id_col="c_custkey",
        carry_cols=("c_nationkey", "c_acctbal"),
    )
    return (
        pairs.filter(
            (F.col("c_nationkey_a") == F.col("c_nationkey_b"))
            & (F.abs(F.col("c_acctbal_b") - F.col("c_acctbal_a")) <= 100)
        )
        .select(
            "id_a",
            "id_b",
            r4(F.col("c_acctbal_b") - F.col("c_acctbal_a")).alias("bal_gap"),
        )
        .orderBy("id_a", "id_b")
    )


SORTED_NEIGHBORHOOD_SQL = """
WITH r AS (
  SELECT c_custkey, c_nationkey, c_acctbal,
         row_number() OVER (ORDER BY c_mktsegment, c_acctbal, c_custkey) AS rn
  FROM customer
)
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       round(b.c_acctbal - a.c_acctbal + 0.00000005, 4) AS bal_gap
FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 5
WHERE a.c_nationkey = b.c_nationkey
  AND abs(b.c_acctbal - a.c_acctbal) <= 100
ORDER BY id_a, id_b
"""


QUERIES["dedup_sorted_neighborhood"] = {
    "fn": dedup_sorted_neighborhood,
    "oracle": SORTED_NEIGHBORHOOD_SQL,
}


def rel_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan column profiler over lineitem's numeric measures
    (operators/profiling.profile_numeric_columns): per-column row/null
    counts, distinct cardinality, min and max — the trust-the-drop
    stats sweep run before layout decisions. This gate PINS
    ``exact=True`` (the default) so the distinct count is bit-exact
    against the DuckDB oracle; production callers on high-NDV columns
    flip ``exact=False`` for the HLL path (no expand node — see the
    operator docstring and test_profile_approx_mode). All
    comparison-only outputs; no float arithmetic, no rounding
    contract."""
    from rearview_spark.operators.profiling import profile_numeric_columns

    li = Tables(spark, sf_dir).lineitem
    return profile_numeric_columns(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    ).orderBy("col_name")


REL_COLUMN_PROFILE_SQL = """
WITH u AS (
  SELECT 'l_quantity' AS col_name, l_quantity AS value FROM lineitem
  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
  UNION ALL SELECT 'l_tax', l_tax FROM lineitem
)
SELECT col_name,
       count(*) AS n_rows,
       count(*) - count(value) AS n_nulls,
       count(DISTINCT value) AS n_distinct,
       min(value) AS min_value,
       max(value) AS max_value
FROM u
GROUP BY col_name
ORDER BY col_name
"""


# Staged for later registration (window arithmetic in
# plans/__init__.py; oracle-green via tests/test_pending_gates.py).
PENDING_QUERIES: dict[str, dict] = {
    "rel_column_profile": {
        "fn": rel_column_profile,
        "oracle": REL_COLUMN_PROFILE_SQL,
    },
}


def er_customer_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution over customers — the merge/purge
    pipeline composed from its tested pieces: sorted-neighborhood
    blocking (joins.sorted_neighborhood_pairs — linear candidates, no
    global sort), a match rule (same nation, account balances within
    100), then transitive closure (dedup.connected_components) to
    assign each matched customer an entity id (= min member key) with
    its entity size. Customers with no match stay out of the frame —
    the ER output is the merge map, not the full roster.

    Scale shape is the sum of its parts: n*window blocking candidates
    over uniformly-sized integer bucket keys, filter at the join,
    min-label propagation with O(members) state per round."""
    from rearview_spark.operators.dedup import connected_components
    from rearview_spark.operators.joins import sorted_neighborhood_pairs

    cust = Tables(spark, sf_dir).customer
    pairs = sorted_neighborhood_pairs(
        cust,
        ["c_mktsegment", "c_acctbal", "c_custkey"],
        window=5,
        id_col="c_custkey",
        carry_cols=("c_nationkey", "c_acctbal"),
    )
    matched = pairs.filter(
        (F.col("c_nationkey_a") == F.col("c_nationkey_b"))
        & (F.abs(F.col("c_acctbal_b") - F.col("c_acctbal_a")) <= 100)
    )
    cc = connected_components(matched)
    return cc.select(
        F.col("id").alias("c_custkey"),
        F.col("component").alias("entity"),
        F.count("*").over(Window.partitionBy("component")).alias("entity_size"),
    ).orderBy("c_custkey")


ER_CUSTOMER_SQL = """
WITH RECURSIVE r AS (
  SELECT c_custkey, c_nationkey, c_acctbal,
         row_number() OVER (ORDER BY c_mktsegment, c_acctbal, c_custkey) AS rn
  FROM customer
),
pairs AS (
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
  FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 5
  WHERE a.c_nationkey = b.c_nationkey
    AND abs(b.c_acctbal - a.c_acctbal) <= 100
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(id, rr) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT re.id, e.dst FROM reach re JOIN edges e ON re.rr = e.src
),
comp AS (SELECT id, min(rr) AS entity FROM reach GROUP BY id),
sz AS (SELECT entity, count(*) AS entity_size FROM comp GROUP BY entity)
SELECT comp.id AS c_custkey, comp.entity, sz.entity_size
FROM comp JOIN sz USING (entity)
ORDER BY c_custkey
"""

PENDING_QUERIES["er_customer_entities"] = {
    "fn": er_customer_entities,
    "oracle": ER_CUSTOMER_SQL,
}


def rel_ols_price_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate in-database regression (operators/linalg.ols_fit):
    order price in whole dollars regressed on line count and total
    quantity per order — one distributed integer moment aggregation,
    exact Cramer solve, three bit-deterministic coefficients. The
    oracle recomputes the nine moment sums in HUGEINT and expands the
    3x3 determinants term for term."""
    from rearview_spark.operators.linalg import ols_fit

    t = Tables(spark, sf_dir)
    per_order = t.lineitem.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_quantity")).cast("long").alias("sum_qty"),
    )
    feats = t.orders.join(
        per_order, t.orders["o_orderkey"] == per_order["l_orderkey"]
    ).select(
        F.round(F.col("o_totalprice")).cast("long").alias("price_dollars"),
        "n_items",
        "sum_qty",
    )
    return ols_fit(feats, "price_dollars", ["n_items", "sum_qty"]).orderBy(
        "term"
    )


REL_OLS_SQL = """
WITH f AS (
  SELECT CAST(round(o.o_totalprice) AS BIGINT) AS y, l.ni, l.sq
  FROM orders o JOIN (
    SELECT l_orderkey, count(*) AS ni,
           CAST(round(sum(l_quantity)) AS BIGINT) AS sq
    FROM lineitem GROUP BY 1) l ON o.o_orderkey = l.l_orderkey
),
s AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(ni) AS HUGEINT) AS s1, CAST(sum(sq) AS HUGEINT) AS s2,
         CAST(sum(ni * ni) AS HUGEINT) AS s11,
         CAST(sum(ni * sq) AS HUGEINT) AS s12,
         CAST(sum(sq * sq) AS HUGEINT) AS s22,
         CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(ni * y) AS HUGEINT) AS s1y,
         CAST(sum(sq * y) AS HUGEINT) AS s2y
  FROM f
),
d AS (SELECT
  n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2) AS det,
  sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y) AS det0,
  n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2) AS det1,
  n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2) AS det2
  FROM s)
SELECT * FROM (
  SELECT 'intercept' AS term, CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE) AS beta FROM d
  UNION ALL
  SELECT 'n_items', CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE) FROM d
  UNION ALL
  SELECT 'sum_qty', CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE) FROM d
) ORDER BY term
"""

PENDING_QUERIES["rel_ols_price_model"] = {
    "fn": rel_ols_price_model,
    "oracle": REL_OLS_SQL,
}


def rel_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics (operators/skew.key_skew_report) for
    lineitem's part key: cardinality, hottest key, rank-exact p50/p99
    per-key counts, and the Gini coefficient — the read that decides
    whether the salting operators are needed at all. The oracle replays
    the ranked-histogram arithmetic with window functions."""
    from rearview_spark.operators.skew import key_skew_report

    li = Tables(spark, sf_dir).lineitem
    return key_skew_report(li, "l_partkey")


REL_SKEW_REPORT_SQL = """
WITH c AS (SELECT l_partkey AS k, count(*) AS cnt FROM lineitem GROUP BY 1),
r AS (
  SELECT cnt,
         row_number() OVER (ORDER BY cnt, k) AS rn,
         count(*) OVER () AS n
  FROM c)
SELECT count(*) AS n_keys,
       CAST(sum(cnt) AS BIGINT) AS total_rows,
       max(cnt) AS max_count,
       max(CASE WHEN rn = (n + 1) // 2 THEN cnt END) AS p50_count,
       max(CASE WHEN rn = (99 * n + 99) // 100 THEN cnt END) AS p99_count,
       CAST(sum((2 * rn - n - 1) * cnt) AS DOUBLE)
         / CAST(count(*) * sum(cnt) AS DOUBLE) AS gini
FROM r
"""

PENDING_QUERIES["rel_key_skew_report"] = {
    "fn": rel_key_skew_report,
    "oracle": REL_SKEW_REPORT_SQL,
}


def rel_orders_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (operators/joins.table_diff) between the
    orders table and a deterministically mutated re-delivery of it —
    modulo-keyed deletes (% 101), price bumps (% 97), status flips
    (% 89), and synthetic inserts (% 103, offset keys): the audit a
    pipeline runs before accepting a vendor re-drop. The oracle applies
    the same mutations in SQL and classifies through the same
    null-safe full-outer comparison."""
    from rearview_spark.operators.joins import table_diff

    orders = Tables(spark, sf_dir).orders
    mutated = (
        orders.filter(F.col("o_orderkey") % 101 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 89 == 0, F.lit("X")
            ).otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
            F.when(
                F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + 1.0
            ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 103 == 0).select(
                (F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey"),
                "o_orderstatus",
                "o_totalprice",
            )
        )
    )
    base = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    return table_diff(
        base, mutated, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    ).orderBy("kind")


REL_DIFF_SQL = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
mutated AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 89 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
         CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 101 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 103 = 0),
j AS (
  SELECT b.o_orderkey AS kb, m.o_orderkey AS km,
         b.o_orderstatus AS os_b, m.o_orderstatus AS os_m,
         b.o_totalprice AS tp_b, m.o_totalprice AS tp_m
  FROM base b FULL OUTER JOIN mutated m ON b.o_orderkey = m.o_orderkey),
c AS (
  SELECT *,
         (kb IS NOT NULL AND km IS NOT NULL AND NOT (os_b IS NOT DISTINCT FROM os_m)) AS ch_status,
         (kb IS NOT NULL AND km IS NOT NULL AND NOT (tp_b IS NOT DISTINCT FROM tp_m)) AS ch_price
  FROM j),
wide AS (
  SELECT sum(CASE WHEN kb IS NULL THEN 1 ELSE 0 END) AS added,
         sum(CASE WHEN km IS NULL THEN 1 ELSE 0 END) AS removed,
         sum(CASE WHEN ch_status OR ch_price THEN 1 ELSE 0 END) AS changed,
         sum(CASE WHEN kb IS NOT NULL AND km IS NOT NULL
                   AND NOT (ch_status OR ch_price) THEN 1 ELSE 0 END) AS unchanged,
         sum(CASE WHEN ch_status THEN 1 ELSE 0 END) AS ch_s,
         sum(CASE WHEN ch_price THEN 1 ELSE 0 END) AS ch_p
  FROM c)
SELECT kind, CAST(n_rows AS BIGINT) AS n_rows FROM (
  SELECT 'added' AS kind, added AS n_rows FROM wide
  UNION ALL SELECT 'removed', removed FROM wide
  UNION ALL SELECT 'changed', changed FROM wide
  UNION ALL SELECT 'unchanged', unchanged FROM wide
  UNION ALL SELECT 'col_changed:o_orderstatus', ch_s FROM wide
  UNION ALL SELECT 'col_changed:o_totalprice', ch_p FROM wide
) ORDER BY kind
"""

PENDING_QUERIES["rel_orders_diff"] = {
    "fn": rel_orders_diff,
    "oracle": REL_DIFF_SQL,
}


def rel_penny_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder rebate allocation
    (operators/allocation.allocate_proportional): a 10% order-level
    rebate (whole cents) distributed across each order's line items
    pro-rata by extended price, with the leftover pennies going to the
    largest division remainders — so per-order allocations reconcile
    EXACTLY (sum == rebate, an integer identity the oracle hashes, not
    an approximation)."""
    from rearview_spark.operators.allocation import allocate_proportional

    li = Tables(spark, sf_dir).lineitem.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_cents"),
    )
    rebate = li.groupBy("l_orderkey").agg(
        F.expr("sum(price_cents) div 10").alias("rebate_cents")
    )
    lines = li.join(rebate, "l_orderkey")
    out = allocate_proportional(
        lines,
        "l_orderkey",
        "price_cents",
        "rebate_cents",
        "l_linenumber",
        out_col="alloc_cents",
    )
    return out.select(
        "l_orderkey", "l_linenumber", "price_cents", "rebate_cents", "alloc_cents"
    ).orderBy("l_orderkey", "l_linenumber")


REL_PENNY_SQL = """
WITH li AS (
  SELECT l_orderkey, l_linenumber,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
  FROM lineitem),
rb AS (
  SELECT l_orderkey, sum(price_cents) // 10 AS rebate_cents
  FROM li GROUP BY 1),
j AS (SELECT li.*, rb.rebate_cents FROM li JOIN rb USING (l_orderkey)),
parts AS (
  SELECT *,
         (rebate_cents * price_cents)
           // sum(price_cents) OVER (PARTITION BY l_orderkey) AS base,
         (rebate_cents * price_cents)
           % sum(price_cents) OVER (PARTITION BY l_orderkey) AS rem
  FROM j),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY rem DESC, l_linenumber, price_cents DESC) AS rk,
         rebate_cents - sum(base) OVER (PARTITION BY l_orderkey) AS pennies
  FROM parts)
SELECT l_orderkey, l_linenumber, price_cents,
       CAST(rebate_cents AS BIGINT) AS rebate_cents,
       CAST(base + CASE WHEN rk <= pennies THEN 1 ELSE 0 END AS BIGINT) AS alloc_cents
FROM ranked
ORDER BY l_orderkey, l_linenumber
"""

PENDING_QUERIES["rel_penny_allocation"] = {
    "fn": rel_penny_allocation,
    "oracle": REL_PENNY_SQL,
}

# r13 registration (VERDICT_r12 next-round #1): the staged backlog flips
# live in one move. Never-driver-checked names front-load automatically via
# group (c) in plans/all_queries(), so each gets a first driver row this
# round; the window's remaining slots rotate the stalest green cohort.
QUERIES.update(PENDING_QUERIES)
PENDING_QUERIES = {}


def rel_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by order priority through a BUCKETED orders-lineitem
    join (sources/bucketed.py): both sides written once pre-hashed on
    the order key into the same bucket count, then joined through the
    catalog read path — the Exchange below the join is elided (the
    plan pin lives in tests/test_plan_shapes.py; this gate proves the
    write -> catalog -> join -> aggregate path END-TO-END and that the
    bucketed layout returns bit-identical values to the plain join the
    oracle runs). Pre-paying the fact-fact shuffle at write time is
    the 100 TB pattern; at gate scale the write is a one-second
    amortized cost. Temp-scoped external tables: unique per-process
    names, dropped (and their directory removed) after the result
    materializes."""
    import os
    import shutil
    import tempfile

    from rearview_spark.sources.bucketed import (
        drop_bucketed,
        read_bucketed,
        write_bucketed,
    )

    t = Tables(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="bucketed_gate_")
    to, tl = f"rv_bkt_o_{os.getpid()}", f"rv_bkt_l_{os.getpid()}"
    try:
        write_bucketed(t.orders, to, "o_orderkey", 8, path=f"{work}/o")
        write_bucketed(t.lineitem, tl, "l_orderkey", 8, path=f"{work}/l")
        j = read_bucketed(spark, to).join(
            read_bucketed(spark, tl),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        out = (
            j.groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                _revenue().alias("revenue"),
            )
            .orderBy("o_orderpriority")
            .localCheckpoint(eager=True)
        )
        return out
    finally:
        drop_bucketed(spark, to)
        drop_bucketed(spark, tl)
        shutil.rmtree(work, ignore_errors=True)


REL_BUCKETED_SQL = f"""
SELECT o_orderpriority, count(*) AS n_items, {REV_SQL} AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

QUERIES["rel_bucketed_join"] = {"fn": rel_bucketed_join, "oracle": REL_BUCKETED_SQL}


def rel_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog apply (operators/cdc.apply_cdc): a deterministic CDC
    feed over orders — deletes (orderkey % 10 == 0), double-delivered
    out-of-order updates on % 10 == 1 (the seq-2 row must win:
    +2.00 on o_totalprice), and inserts of new keys for % 10 == 2 —
    collapsed last-writer-wins and applied in one full-outer join. The
    oracle states the FINAL snapshot directly (outcome semantics, not
    an implementation replay), so it also proves the collapse picked
    the right winners."""
    from rearview_spark.operators.cdc import apply_cdc

    o = Tables(spark, sf_dir).orders
    deletes = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        *[F.lit(None).cast(o.schema[c].dataType).alias(c) for c in o.columns[1:]],
        F.lit("D").alias("op"),
        F.lit(1).alias("seq"),
    )
    upd = o.filter(F.col("o_orderkey") % 10 == 1)
    updates_stale = upd.select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        "o_orderdate", "o_orderpriority",
        F.lit("U").alias("op"), F.lit(1).alias("seq"),
    )
    updates_win = upd.select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        (F.col("o_totalprice") + F.lit(2.0)).alias("o_totalprice"),
        "o_orderdate", "o_orderpriority",
        F.lit("U").alias("op"), F.lit(2).alias("seq"),
    )
    inserts = o.filter(F.col("o_orderkey") % 10 == 2).select(
        (F.col("o_orderkey") + F.lit(1000000000)).alias("o_orderkey"),
        "o_custkey", F.lit("N").alias("o_orderstatus"), "o_totalprice",
        "o_orderdate", "o_orderpriority",
        F.lit("I").alias("op"), F.lit(1).alias("seq"),
    )
    changes = deletes.unionByName(updates_stale).unionByName(
        updates_win
    ).unionByName(inserts)
    return apply_cdc(o, changes, ["o_orderkey"], ["seq"]).orderBy("o_orderkey")


REL_CDC_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice + 2.0
            ELSE o_totalprice END AS o_totalprice,
       o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey % 10 <> 0
UNION ALL
SELECT o_orderkey + 1000000000, o_custkey, 'N', o_totalprice,
       o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey % 10 = 2
ORDER BY o_orderkey
"""

QUERIES["rel_cdc_apply"] = {"fn": rel_cdc_apply, "oracle": REL_CDC_SQL}


def rel_bootstrap_avg_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the average order
    value (operators/stats.bootstrap_mean_ci): 200 deterministic
    replicas from md5-derived integer Poisson(1) weights, exact int64
    sufficient sums per replica, percentile_disc element-pick CI — the
    one-pass error bar a 100 TB metric report carries. The oracle
    replays the hash, the INTEGER CDF threshold table (generated from
    the same constants), both divisions in the same order, and the
    discrete quantile picks."""
    from rearview_spark.operators.stats import bootstrap_mean_ci

    o = Tables(spark, sf_dir).orders
    return bootstrap_mean_ci(
        o, "o_orderkey", "o_totalprice", replicas=200, cents_scale=100
    )


def _bootstrap_sql() -> str:
    from rearview_spark.operators.stats import _POISSON1_CDF_PPB

    thresholds = ", ".join(str(t) for t in _POISSON1_CDF_PPB)
    return f"""
WITH reps AS (SELECT unnest(range(200)) AS replica),
pairs AS (
  SELECT r.replica,
         CAST(round(o.o_totalprice * 100.0) AS BIGINT) AS c,
         CAST(concat('0x', substr(md5(concat(CAST(o.o_orderkey AS VARCHAR),
                                             ':boot:',
                                             CAST(r.replica AS VARCHAR))), 1, 15))
              AS BIGINT) % 1000000000 AS u
  FROM orders o CROSS JOIN reps r
),
weighted AS (
  SELECT replica, c,
         len(list_filter([{thresholds}], t -> u >= t)) AS w
  FROM pairs
),
per_rep AS (
  SELECT replica,
         CAST(sum(w) AS BIGINT) AS n_eff,
         CAST(sum(w * c) AS BIGINT) AS wc
  FROM weighted GROUP BY 1
),
means AS (
  SELECT CASE WHEN n_eff > 0
              THEN CAST(wc AS DOUBLE) / CAST(n_eff AS DOUBLE) / 100.0 END AS mean
  FROM per_rep
),
fullstats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) / 100.0 AS mean_full
  FROM orders
)
SELECT f.n_rows, CAST(count(*) AS BIGINT) AS n_replicas, f.mean_full,
       quantile_disc(m.mean, 0.025) AS ci_lo,
       quantile_disc(m.mean, 0.975) AS ci_hi
FROM means m CROSS JOIN fullstats f
GROUP BY f.n_rows, f.mean_full
"""


QUERIES["rel_bootstrap_avg_order"] = {
    "fn": rel_bootstrap_avg_order,
    "oracle": _bootstrap_sql(),
}


def rel_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT order statistics of order values at p25/p50/p90/p99/max
    (operators/quantiles.exact_percentiles): global_row_number's range
    shuffle + a rank IN-list pick — the true-percentile complement of
    the approx-sketch gate ev_approx_quantiles, costing exactly one
    distributed sort pass. The oracle replays the SAME rank formula
    (ceil(p*n), identical double literals both sides) over a window
    row_number, so element selection matches bit-for-bit."""
    from rearview_spark.operators.quantiles import exact_percentiles

    o = Tables(spark, sf_dir).orders
    return exact_percentiles(
        o, "o_totalprice", [0.25, 0.5, 0.9, 0.99, 1.0], "o_orderkey"
    )


REL_EXACT_PCT_SQL = """
WITH v AS (
  SELECT o_totalprice AS value, o_orderkey AS t
  FROM orders WHERE o_totalprice IS NOT NULL
),
r AS (SELECT value, row_number() OVER (ORDER BY value, t) AS rank FROM v),
n AS (SELECT count(*) AS n FROM v),
ps AS (SELECT unnest([0.25, 0.5, 0.9, 0.99, 1.0]) AS p)
SELECT ps.p,
       CAST(greatest(1, ceil(ps.p * n.n)) AS BIGINT) AS rank,
       r.value
FROM ps CROSS JOIN n
JOIN r ON r.rank = CAST(greatest(1, ceil(ps.p * n.n)) AS BIGINT)
ORDER BY ps.p
"""

QUERIES["rel_exact_percentiles"] = {
    "fn": rel_exact_percentiles,
    "oracle": REL_EXACT_PCT_SQL,
}


def rel_equidepth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram of order totals
    (operators/profiling.equi_depth_histogram): ten equal-population
    buckets over (o_totalprice, o_orderkey) — a strict total order, so
    the cut is deterministic through tied prices; bounds are exact
    element picks, bucket occupancy differs by at most one."""
    from rearview_spark.operators.profiling import equi_depth_histogram

    t = Tables(spark, sf_dir)
    return equi_depth_histogram(t.orders, "o_totalprice", "o_orderkey", buckets=10)


REL_EQUIDEPTH_SQL = """
WITH r AS (
  SELECT o_totalprice AS v,
         row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
         count(*) OVER () AS n_total
  FROM orders WHERE o_totalprice IS NOT NULL)
SELECT CAST(((rn - 1) * 10) // n_total AS BIGINT) AS bucket,
       count(*) AS n,
       min(v) AS lo,
       max(v) AS hi
FROM r GROUP BY 1 ORDER BY 1
"""

QUERIES["rel_equidepth_hist"] = {
    "fn": rel_equidepth_hist,
    "oracle": REL_EQUIDEPTH_SQL,
}


def rel_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization audit of order totals
    (operators/quantiles.winsorize_summary): clamp at the exact
    p01/p99 discrete percentiles (element picks over the strict
    (price, orderkey) order) and report clipped counts and the
    integer-cents mean before/after — the outlier-treatment decision
    read. Rank arithmetic and every division are the same IEEE
    expressions in both engines."""
    from rearview_spark.operators.quantiles import winsorize_summary

    t = Tables(spark, sf_dir)
    return winsorize_summary(t.orders, "o_totalprice", "o_orderkey")


REL_WINSOR_SQL = """
WITH v AS (
  SELECT o_totalprice AS v, o_orderkey AS t
  FROM orders WHERE o_totalprice IS NOT NULL),
r AS (
  SELECT v, t, row_number() OVER (ORDER BY v, t) AS rnk,
         count(*) OVER () AS n
  FROM v),
b AS (
  SELECT
    min(CASE WHEN rnk = greatest(1, CAST(ceil(0.01 * n) AS BIGINT))
             THEN v END) AS lo,
    min(CASE WHEN rnk = greatest(1, CAST(ceil(0.99 * n) AS BIGINT))
             THEN v END) AS hi
  FROM r),
c AS (
  SELECT v.v, b.lo, b.hi,
         CASE WHEN v.v < b.lo THEN b.lo
              WHEN v.v > b.hi THEN b.hi
              ELSE v.v END AS cv
  FROM v, b),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN v < lo THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clipped_low,
         CAST(sum(CASE WHEN v > hi THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clipped_high,
         CAST(sum(CAST(round(v * 100.0) AS BIGINT)) AS BIGINT) AS sb,
         CAST(sum(CAST(round(cv * 100.0) AS BIGINT)) AS BIGINT) AS sa,
         min(lo) AS lo_bound, min(hi) AS hi_bound
  FROM c)
SELECT n, n_clipped_low, n_clipped_high, lo_bound, hi_bound,
       CAST(sb AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean_before,
       CAST(sa AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean_after
FROM agg
"""

# Staged for r14 (window-full rule) with the rest of the late-r13 wave.
PENDING_QUERIES["rel_winsorize"] = {
    "fn": rel_winsorize,
    "oracle": REL_WINSOR_SQL,
}


def rel_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column Shannon entropy of the orders table
    (operators/profiling.column_entropy): the dictionary-encoding /
    layout signal — o_orderkey reads norm 1.0 (unique), o_orderstatus
    near 0 (3 values, skewed). Summands are 1e-9-quantized int64,
    mirrored token-for-token; norm is one division by ln(ndv)."""
    from rearview_spark.operators.profiling import column_entropy

    t = Tables(spark, sf_dir)
    orders_num = t.orders.select(
        F.col("o_orderkey").cast("double").alias("o_orderkey"),
        F.col("o_custkey").cast("double").alias("o_custkey"),
        F.col("o_totalprice").alias("o_totalprice"),
    )
    return column_entropy(
        orders_num, ["o_orderkey", "o_custkey", "o_totalprice"]
    )


REL_ENTROPY_SQL = """
WITH unp AS (
  SELECT col_name, value FROM (
    SELECT 'o_orderkey' AS col_name, CAST(o_orderkey AS DOUBLE) AS value FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(o_custkey AS DOUBLE) FROM orders
    UNION ALL
    SELECT 'o_totalprice', o_totalprice FROM orders
  ) WHERE value IS NOT NULL),
hist AS (SELECT col_name, value, count(*) AS c FROM unp GROUP BY 1, 2),
tot AS (SELECT col_name, sum(c) AS n, count(*) AS ndv FROM hist GROUP BY 1),
u AS (
  SELECT h.col_name, t.n, t.ndv,
         CAST(round((CAST(h.c AS DOUBLE) / CAST(t.n AS DOUBLE))
               * ln(CAST(h.c AS DOUBLE) / CAST(t.n AS DOUBLE))
               * 1000000000.0) AS BIGINT) AS un
  FROM hist h JOIN tot t USING (col_name)),
agg AS (
  SELECT col_name, CAST(min(n) AS BIGINT) AS n,
         CAST(min(ndv) AS BIGINT) AS n_distinct,
         sum(un) AS su
  FROM u GROUP BY 1)
SELECT col_name, n, n_distinct,
       round(-su / 1000000000.0 + 0.0000000005, 6) AS entropy,
       CASE WHEN n_distinct > 1
            THEN round(-su / 1000000000.0 + 0.0000000005, 6)
                 / ln(CAST(n_distinct AS DOUBLE))
       END AS norm_entropy
FROM agg ORDER BY col_name
"""

# Staged for r14 (window-full rule) with the rest of the late-r13 wave.
PENDING_QUERIES["rel_column_entropy"] = {
    "fn": rel_column_entropy,
    "oracle": REL_ENTROPY_SQL,
}


def rel_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals
    (operators/profiling.benford_first_digit): observed leading-digit
    frequencies vs log10(1 + 1/d) with per-digit chi-squared
    contributions — the fabricated-data / unit-mixing screen. Digit
    extraction is string arithmetic on a fixed 12-decimal rendering
    (identical in both engines); expected probabilities are embedded
    as the SAME Python-computed double literals on both sides."""
    from rearview_spark.operators.profiling import benford_first_digit

    return benford_first_digit(Tables(spark, sf_dir).orders, "o_totalprice")


def _benford_sql() -> str:
    import math

    rows = ", ".join(
        f"({d}, {math.log10(1 + 1 / d)!r})" for d in range(1, 10)
    )
    return f"""
WITH d0 AS (
  SELECT CAST(substr(regexp_replace(printf('%.12f', o_totalprice),
                                    '[0.,]', '', 'g'), 1, 1) AS INT) AS digit
  FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0),
obs AS (
  SELECT digit, count(*) AS n_obs FROM d0
  WHERE digit IS NOT NULL GROUP BY 1),
exp AS (SELECT * FROM (VALUES {rows}) AS t(digit, p_expected)),
j AS (
  SELECT e.digit, CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_obs,
         e.p_expected
  FROM exp e LEFT JOIN obs o USING (digit)),
tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM j)
SELECT digit, n_obs, p_expected,
       CASE WHEN n > 0 THEN
         CAST(round(((CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * p_expected)
                     * (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * p_expected)
                     / (CAST(n AS DOUBLE) * p_expected))
                    * 1000000000.0) AS BIGINT) / 1000000000.0
       END AS contrib
FROM j, tot ORDER BY digit
"""


# Staged for r14 (window-full rule) with the rest of the late-r13 wave.
PENDING_QUERIES["rel_benford_audit"] = {
    "fn": rel_benford_audit,
    "oracle": _benford_sql(),
}

# r14 flip (VERDICT_r13 next-round #1): every staged gate registers —
# the window arithmetic is 16 first-ever checks + 34 stale rotations.
QUERIES.update(PENDING_QUERIES)
PENDING_QUERIES = {}


def rel_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlations over lineitem's numeric columns
    (operators/profiling.correlation_matrix): integer-cents exact
    moments in one scan, one mirrored double expression per pair."""
    from rearview_spark.operators.profiling import correlation_matrix

    return correlation_matrix(
        Tables(spark, sf_dir).lineitem,
        ["l_discount", "l_extendedprice", "l_quantity", "l_tax"],
    )


def _corr_sql() -> str:
    cols = ["l_discount", "l_extendedprice", "l_quantity", "l_tax"]
    qs = {c: f"CAST(round({c} * 100) AS BIGINT)" for c in cols}
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    # square/cross moments mirror the operator's hi/lo int64 split:
    # per-row products fit BIGINT, hi = floor-div by 2^31 (DuckDB //
    # floors like Spark's arithmetic shift), lo = P - hi*2^31, each
    # half summed as a plain integer and reassembled at the double
    # edge — bit-identical assembly on both engines
    moments = ["CAST(count(*) AS BIGINT) AS n"]

    def _h(pe: str, name: str) -> list:
        return [
            f"CAST(sum(({pe}) // 2147483648) AS BIGINT) AS hi_{name}",
            f"CAST(sum(({pe}) - (({pe}) // 2147483648) * 2147483648)"
            f" AS BIGINT) AS lo_{name}",
        ]

    for c in cols:
        moments.append(f"CAST(sum(q.{c}_q) AS BIGINT) AS s_{c}")
        moments.extend(_h(f"q.{c}_q * q.{c}_q", f"ss_{c}"))
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    for a, b in pairs:
        moments.extend(_h(f"q.{a}_q * q.{b}_q", f"sx_{a}_{b}"))
    def _asm(name: str) -> str:
        return (
            f"(CAST(hi_{name} AS DOUBLE) * 2147483648.0"
            f" + CAST(lo_{name} AS DOUBLE))"
        )

    selects = []
    for a, b in pairs:
        expr = (
            f"(CAST(n AS DOUBLE) * {_asm(f'sx_{a}_{b}')}"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
            f" / (sqrt(CAST(n AS DOUBLE) * {_asm(f'ss_{a}')}"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
            f" * sqrt(CAST(n AS DOUBLE) * {_asm(f'ss_{b}')}"
            f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))"
        )
        guard = (
            f"CAST(n AS DOUBLE) * {_asm(f'ss_{a}')}"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE) > 0"
            f" AND CAST(n AS DOUBLE) * {_asm(f'ss_{b}')}"
            f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE) > 0"
        )
        selects.append(
            f"SELECT '{a}' AS col_x, '{b}' AS col_y, n,"
            f" CASE WHEN {guard} THEN round(({expr}) + 0.0000000005, 6)"
            f" END AS corr FROM m"
        )
    qexprs = ", ".join(f"{qs[c]} AS {c}_q" for c in cols)
    return (
        f"WITH q AS (SELECT {qexprs} FROM lineitem WHERE {notnull}),\n"
        f"m AS (SELECT {', '.join(moments)} FROM q)\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY col_x, col_y"
    )


# Staged (r14 growth budget; flips in r15).
PENDING_QUERIES["rel_corr_matrix"] = {
    "fn": rel_corr_matrix,
    "oracle": _corr_sql(),
}


def rel_fk_integrity(spark, sf_dir):
    """Referential-integrity audit across the star schema's declared
    FK edges (operators/profiling.fk_integrity_audit): orphan counts
    and rates per relationship — all zero on clean TPC-H data, which
    is exactly what the gate pins (the machinery, totals, and
    divisions are the check)."""
    from rearview_spark.operators.profiling import fk_integrity_audit

    t = Tables(spark, sf_dir)
    return fk_integrity_audit(
        [
            ("lineitem.orderkey->orders", t.lineitem, "l_orderkey", t.orders, "o_orderkey"),
            ("lineitem.partkey->part", t.lineitem, "l_partkey", t.part, "p_partkey"),
            ("lineitem.suppkey->supplier", t.lineitem, "l_suppkey", t.supplier, "s_suppkey"),
            ("orders.custkey->customer", t.orders, "o_custkey", t.customer, "c_custkey"),
            ("supplier.nationkey->nation", t.supplier, "s_nationkey", t.nation, "n_nationkey"),
        ]
    )


REL_FK_SQL = """
WITH rel AS (
  SELECT 'lineitem.orderkey->orders' AS relationship,
         (SELECT count(*) FROM lineitem) AS n_child,
         (SELECT count(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey)
             OR l.l_orderkey IS NULL) AS n_orphans
  UNION ALL
  SELECT 'lineitem.partkey->part',
         (SELECT count(*) FROM lineitem),
         (SELECT count(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM part p
                            WHERE p.p_partkey = l.l_partkey)
             OR l.l_partkey IS NULL)
  UNION ALL
  SELECT 'lineitem.suppkey->supplier',
         (SELECT count(*) FROM lineitem),
         (SELECT count(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM supplier s
                            WHERE s.s_suppkey = l.l_suppkey)
             OR l.l_suppkey IS NULL)
  UNION ALL
  SELECT 'orders.custkey->customer',
         (SELECT count(*) FROM orders),
         (SELECT count(*) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey)
             OR o.o_custkey IS NULL)
  UNION ALL
  SELECT 'supplier.nationkey->nation',
         (SELECT count(*) FROM supplier),
         (SELECT count(*) FROM supplier s
          WHERE NOT EXISTS (SELECT 1 FROM nation n
                            WHERE n.n_nationkey = s.s_nationkey)
             OR s.s_nationkey IS NULL)
)
SELECT relationship,
       CAST(n_child AS BIGINT) AS n_child,
       CAST(n_orphans AS BIGINT) AS n_orphans,
       CASE WHEN n_child > 0
            THEN CAST(n_orphans AS DOUBLE) / CAST(n_child AS DOUBLE)
       END AS orphan_rate
FROM rel ORDER BY relationship
"""

PENDING_QUERIES["rel_fk_integrity"] = {
    "fn": rel_fk_integrity,
    "oracle": REL_FK_SQL,
}


def rel_fd_violations(spark, sf_dir):
    """Functional-dependency audit (operators/profiling.fd_violations)
    over three candidate dependencies: one that HOLDS by construction
    (n_nationkey -> n_name), two that a normalizer would reject
    (c_nationkey -> c_mktsegment, o_custkey -> o_orderpriority) — the
    redundant-column screen run before layout decisions."""
    from rearview_spark.operators.profiling import fd_violations

    t = Tables(spark, sf_dir)
    checks = [
        ("nation.n_nationkey->n_name", t.nation, "n_nationkey", "n_name"),
        ("customer.c_nationkey->c_mktsegment", t.customer, "c_nationkey", "c_mktsegment"),
        ("orders.o_custkey->o_orderpriority", t.orders, "o_custkey", "o_orderpriority"),
    ]
    out = None
    for name, df, lhs, rhs in checks:
        row = fd_violations(df, lhs, rhs).select(
            F.lit(name).alias("dependency"),
            "n_groups",
            "n_violating",
            "max_rhs_ndv",
            "violation_rate",
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("dependency")


def _fd_sql() -> str:
    checks = [
        ("nation.n_nationkey->n_name", "nation", "n_nationkey", "n_name"),
        ("customer.c_nationkey->c_mktsegment", "customer", "c_nationkey", "c_mktsegment"),
        ("orders.o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority"),
    ]
    parts = []
    for name, tbl, lhs, rhs in checks:
        parts.append(
            f"""SELECT '{name}' AS dependency,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
       CAST(max(ndv) AS BIGINT) AS max_rhs_ndv,
       CAST(sum(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS violation_rate
FROM (SELECT {lhs} AS l, count(DISTINCT {rhs}) AS ndv
      FROM {tbl} WHERE {rhs} IS NOT NULL GROUP BY 1)"""
        )
    return "\nUNION ALL\n".join(parts) + "\nORDER BY dependency"


PENDING_QUERIES["rel_fd_violations"] = {
    "fn": rel_fd_violations,
    "oracle": _fd_sql(),
}


# r15 FLIP (VERDICT_r14 next-round #1): the r14-staged wave registers —
# every gate below was pre-verified at sf0.001 + sf0.01 + sf0.1 through
# tests/test_pending_gates.py, so this is the known-green one-line move.
QUERIES.update(PENDING_QUERIES)
PENDING_QUERIES = {}

def rel_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot column-profile drift
    (operators/profiling.profile_drift): orders before vs since
    1998-01-01 as the two loads — per column exact row/NULL/distinct
    counts and the two alert signals (null-rate delta, NDV ratio)."""
    from rearview_spark.operators.profiling import profile_drift

    orders = Tables(spark, sf_dir).orders
    a = orders.filter(F.col("o_orderdate") < F.lit("1998-01-01"))
    b = orders.filter(F.col("o_orderdate") >= F.lit("1998-01-01"))
    return profile_drift(
        a, b, ["o_orderstatus", "o_orderpriority", "o_custkey", "o_orderdate"]
    )


REL_PROFILE_DRIFT_SQL = """
WITH a AS (SELECT * FROM orders WHERE o_orderdate < DATE '1998-01-01'),
b AS (SELECT * FROM orders WHERE o_orderdate >= DATE '1998-01-01'),
pa AS (
  SELECT 'o_orderstatus' AS col_name, count(*) AS n_a,
         coalesce(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END), 0) AS null_a,
         count(DISTINCT o_orderstatus) AS ndv_a FROM a
  UNION ALL
  SELECT 'o_orderpriority', count(*),
         coalesce(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END), 0),
         count(DISTINCT o_orderpriority) FROM a
  UNION ALL
  SELECT 'o_custkey', count(*),
         coalesce(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0),
         count(DISTINCT o_custkey) FROM a
  UNION ALL
  SELECT 'o_orderdate', count(*),
         coalesce(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END), 0),
         count(DISTINCT o_orderdate) FROM a),
pb AS (
  SELECT 'o_orderstatus' AS col_name, count(*) AS n_b,
         coalesce(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END), 0) AS null_b,
         count(DISTINCT o_orderstatus) AS ndv_b FROM b
  UNION ALL
  SELECT 'o_orderpriority', count(*),
         coalesce(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END), 0),
         count(DISTINCT o_orderpriority) FROM b
  UNION ALL
  SELECT 'o_custkey', count(*),
         coalesce(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0),
         count(DISTINCT o_custkey) FROM b
  UNION ALL
  SELECT 'o_orderdate', count(*),
         coalesce(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END), 0),
         count(DISTINCT o_orderdate) FROM b)
SELECT pa.col_name,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(null_a AS BIGINT) AS null_a, CAST(null_b AS BIGINT) AS null_b,
       CAST(ndv_a AS BIGINT) AS ndv_a, CAST(ndv_b AS BIGINT) AS ndv_b,
       (CASE WHEN n_b > 0 THEN CAST(null_b AS DOUBLE) / CAST(n_b AS DOUBLE) END)
       - (CASE WHEN n_a > 0 THEN CAST(null_a AS DOUBLE) / CAST(n_a AS DOUBLE) END)
         AS null_rate_delta,
       CASE WHEN ndv_a > 0
            THEN CAST(ndv_b AS DOUBLE) / CAST(ndv_a AS DOUBLE) END AS ndv_ratio
FROM pa JOIN pb USING (col_name)
ORDER BY pa.col_name
"""

# Staged (r15 wave — r16 budget).
PENDING_QUERIES["rel_profile_drift"] = {
    "fn": rel_profile_drift,
    "oracle": REL_PROFILE_DRIFT_SQL,
}

# r16 flip: the r15-staged wave registers (window = 7 flips + 34 r10 +
# 9 r11 rotations, pinned by VERDICT_r15 next-round #3).
QUERIES.update(PENDING_QUERIES)
PENDING_QUERIES = {}

