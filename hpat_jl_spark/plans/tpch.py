"""TPC-H-style headline queries on the fixture schema — multi-operator
pipelines exercising scan→filter→join→agg→sort, used as bench headliners
alongside the BigBench analogues.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hpat_jl_spark.operators.relational import aggregate, join, table_filter
from hpat_jl_spark.operators.windowed import top_k
from hpat_jl_spark.registry import register
from hpat_jl_spark.tables import load_table


@register(
    "q1_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    tags=("tpch", "headline", "prepared", "concurrent"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy single-pass aggregate. The whole query
    is one Parquet scan + partial/final hash agg on a 6-group key — the
    plan that must stay fully codegen'd (no Python) at 100 TB."""
    li = load_table(spark, "lineitem", sf_dir)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    filtered = table_filter(
        li, F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp")
    )
    return (
        filtered.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q6_forecast_revenue",
    oracle="""
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.04 AND 0.06
  AND l_quantity < 24
""",
    tags=("tpch",),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan + multi-predicate filter + global sum.
    The whole query should compile to one FileScan with every predicate
    in PushedFilters + a 2-value partial/final agg — the minimal-IO
    plan whose cost at 100 TB is the scan itself."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "q18_large_orders",
    oracle="""
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total,
       round(qty, 2) AS qty
FROM orders JOIN (
  SELECT l_orderkey, sum(l_quantity) AS qty
  FROM lineitem
  GROUP BY l_orderkey
  HAVING sum(l_quantity) > 150
) big ON o_orderkey = big.l_orderkey
""",
    tags=("tpch",),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate subquery with HAVING feeding a join —
    the aggregate-then-join pattern (the subquery output is tiny, so
    AQE broadcasts it into the orders join at runtime)."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 150)
    )
    return orders.join(big, orders.o_orderkey == big.l_orderkey).select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("total"),
        F.round("qty", 2).alias("qty"),
    )


@register(
    "q3_shipping_priority",
    oracle="""
SELECT o_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       any_value(o_orderdate) AS o_orderdate
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
    tags=("tpch", "headline", "prepared", "concurrent"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → two joins → agg → global
    top-k. customer is broadcast; orders⋈lineitem shuffles on orderkey;
    the top-k is TakeOrderedAndProject (per-partition k + driver merge),
    never a global sort. o_orderkey tiebreak makes the limit
    deterministic."""
    customer = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    cutoff = F.lit("1998-03-15").cast("timestamp")
    building = table_filter(customer, F.col("c_mktsegment") == "BUILDING")
    open_orders = table_filter(orders, F.col("o_orderdate") < cutoff)
    late_items = table_filter(li, F.col("l_shipdate") > cutoff)
    j1 = join(open_orders, building, "o_custkey", "c_custkey", "cid",
              broadcast_right=True)
    j2 = join(late_items, j1, "l_orderkey", "o_orderkey", "o_orderkey")
    agg = aggregate(
        j2,
        "o_orderkey",
        [
            (
                "revenue",
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ),
            ),
            ("o_orderdate", F.any_value(F.col("o_orderdate"))),
        ],
    )
    return top_k(agg, 10, F.col("revenue").desc(), F.col("o_orderkey"))
