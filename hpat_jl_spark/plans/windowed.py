"""Ordered/window query plans: cumsum, 3-point stencil, ranking,
per-group top-k, and gap-based sessionization (the reference's designed
q02 semantics, examples/queries_devel/q02.jl).

All window queries here PARTITION BY a key (user) — the scalable form;
the ordering the reference took from file row order is explicit
(event_id / ts), per SURVEY §7.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hpat_jl_spark.operators.windowed import (
    cumsum,
    stencil_3pt,
    top_k_per_group,
)
from hpat_jl_spark.registry import register
from hpat_jl_spark.tables import load_table

SESSION_GAP_SECONDS = 3600


@register(
    "cumsum_per_user",
    oracle="""
SELECT event_id, user_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
                              ROWS UNBOUNDED PRECEDING), 4) AS running_value
FROM events
""",
    tags=("window", "headline", "prepared"),
)
def cumsum_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed prefix sum (reference dist_cumsum!: local sum →
    MPI_Exscan → local add, src/cgen-hpat-pattern-match.jl:433-459),
    partitioned per user so every group scans in parallel."""
    events = load_table(spark, "events", sf_dir)
    out = cumsum(events, "value", order_by="event_id", out="__cum",
                 partition_by="user_id")
    return out.select(
        "event_id", "user_id", F.round(F.col("__cum"), 4).alias("running_value")
    )


@register(
    "stencil_smooth",
    oracle="""
SELECT event_id, user_id,
       round(CASE WHEN lag(value) OVER w IS NULL OR lead(value) OVER w IS NULL
             THEN value
             ELSE (lag(value) OVER w + 2 * value + lead(value) OVER w) / 4.0
             END, 4) AS smoothed
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
""",
    tags=("window",),
)
def stencil_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-point stencil `(x[-1]+2x[0]+x[1])/4` with pass-through
    boundaries (reference test/stencil_test1.jl:35 golden; MPI halo
    exchange src/distributed-pass.jl:882-1001 → lag/lead window)."""
    events = load_table(spark, "events", sf_dir)
    out = stencil_3pt(
        events, "value", order_by="event_id", out="__s", partition_by="user_id"
    )
    return out.select(
        "event_id", "user_id", F.round(F.col("__s"), 4).alias("smoothed")
    )


@register(
    "rank_orders",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice,
       row_number() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey) AS rn
FROM orders
""",
    tags=("window",),
)
def rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking — new surface (SURVEY §2.5 'Not present'). Unique
    o_orderkey tiebreak ⇒ deterministic row_number."""
    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.select(
        "o_orderkey", "o_custkey", "o_totalprice", F.row_number().over(w).alias("rn")
    )


@register(
    "rank_functions_suite",
    oracle="""
SELECT o_orderkey,
       ntile(4) OVER w AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       CAST(rank() OVER w AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w AS BIGINT) AS drnk
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
""",
    tags=("window",),
)
def rank_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full analytic-function surface (SURVEY §2.5 'Not present' in
    the reference): ntile / percent_rank / cume_dist / rank /
    dense_rank in one pass. Unique (price, orderkey) ordering keeps
    every function deterministic."""
    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
    )


@register(
    "topk_per_customer",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
""",
    tags=("window",),
)
def topk_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k — the designed `sort!(...)[1:n]` tail of
    reference examples/queries_devel/q01.jl/q02.jl, grouped."""
    orders = load_table(spark, "orders", sf_dir)
    return top_k_per_group(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        "o_custkey",
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        3,
    )


@register(
    "sessionize_events",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_SECONDS}::BIGINT * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts, value,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       count(*) AS n_events,
       min(ts) AS session_start,
       max(ts) AS session_end,
       round(sum(value), 2) AS session_value
FROM numbered
GROUP BY user_id, session_id
""",
    tags=("window", "sessionization", "headline", "prepared", "concurrent"),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization — the reference's *designed but dead*
    q02 session_split (examples/queries_devel/q02.jl: sessions split on
    1-hour timestamp gaps), realized as lag → gap flag → running sum →
    per-session aggregate. Fully partition-parallel per user; the
    streaming twin uses F.session_window (streaming/sessionize.py).
    """
    events = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    flagged = events.withColumn(
        "__new_sess", F.when(gap > SESSION_GAP_SECONDS * 1_000_000, 1).otherwise(0)
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    numbered = flagged.withColumn("session_id", F.sum("__new_sess").over(w2))
    return numbered.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.round(F.sum("value"), 2).alias("session_value"),
    )


_quartile_oracle = """
WITH rev AS (
  SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem GROUP BY l_suppkey),
q AS (SELECT l_suppkey, revenue,
             ntile(4) OVER (ORDER BY revenue, l_suppkey) AS quartile
      FROM rev)
SELECT quartile, count(*)::BIGINT AS n_suppliers,
       round(sum(revenue), 2) AS total_revenue,
       round(min(revenue), 2) AS lo, round(max(revenue), 2) AS hi
FROM q GROUP BY quartile
"""


@register("supplier_revenue_quartiles", oracle=_quartile_oracle, tags=("windowed",))
def supplier_revenue_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ntile(4) over per-supplier revenue — an unpartitioned
    window, i.e. a GLOBAL sort. Revenue is rounded to cents BEFORE
    ranking and l_suppkey breaks ties, so bucket boundaries are
    deterministic across engines.

    Scale note: an unpartitioned window is the one operator that
    serializes into a single task after a RangePartitioning sort UNLESS
    the input is already small — here it runs on the per-supplier
    aggregate (|suppliers| rows, 5 orders of magnitude smaller than
    lineitem), which is the correct place for a global rank. Ranking
    raw lineitem globally would be the 100 TB anti-pattern."""
    li = load_table(spark, "lineitem", sf_dir)
    rev = li.groupBy("l_suppkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )
    w = Window.orderBy("revenue", "l_suppkey")
    q = rev.withColumn("quartile", F.ntile(4).over(w))
    return q.groupBy("quartile").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.round(F.sum("revenue"), 2).alias("total_revenue"),
        F.round(F.min("revenue"), 2).alias("lo"),
        F.round(F.max("revenue"), 2).alias("hi"),
    )


_cumsum_global_oracle = """
SELECT l_orderkey, l_linenumber,
       round(sum(l_quantity) OVER (
         ORDER BY l_orderkey * 100 + l_linenumber
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty
FROM lineitem
"""


@register("cumsum_global_chunked", oracle=_cumsum_global_oracle, tags=("windowed",))
def cumsum_global_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL prefix sum over the whole fact table — the reference's
    MPI_Exscan cumsum (src/cgen-hpat-pattern-match.jl:433-459) at its
    actual scale shape: range-partition on the order key, local prefix
    per chunk, exclusive scan of the tiny per-chunk totals, broadcast
    offset add (operators/windowed.cumsum_chunked) — no task ever sees
    more than one chunk. The oracle is the single-window formulation
    the chunked plan must equal exactly; quantities are integral
    doubles so the sums are order-exact."""
    from hpat_jl_spark.operators.windowed import cumsum_chunked

    li = load_table(spark, "lineitem", sf_dir).withColumn(
        "__ord", F.col("l_orderkey") * 100 + F.col("l_linenumber")
    )
    out = cumsum_chunked(li, "l_quantity", "__ord", "running_qty", num_chunks=64)
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.round("running_qty", 2).alias("running_qty"),
    )


# Exact: cumulative counts are integers and n1/n2 are the same integers
# on both engines, so the IEEE divisions (and the max of their absolute
# differences) are bit-identical — the round(6) is belt-and-braces.
_ks_oracle = """
WITH vals AS (
  SELECT value,
         count(*) FILTER (event_type = 'purchase') AS c1,
         count(*) FILTER (event_type = 'view') AS c2
  FROM events WHERE event_type IN ('purchase', 'view')
  GROUP BY value
), tot AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM vals),
cdf AS (
  SELECT sum(c1) OVER (ORDER BY value)::DOUBLE / (SELECT n1 FROM tot) AS f1,
         sum(c2) OVER (ORDER BY value)::DOUBLE / (SELECT n2 FROM tot) AS f2
  FROM vals
)
SELECT (SELECT n1 FROM tot)::BIGINT AS n1,
       (SELECT n2 FROM tot)::BIGINT AS n2,
       round(max(abs(f1 - f2)), 6) AS ks_stat
FROM cdf
"""


@register("ks_test_purchase_view", oracle=_ks_oracle, tags=("windowed", "stats"))
def ks_test_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the
    purchase and view value distributions: KS = max_x |F1(x) - F2(x)|
    over the empirical CDFs — the distribution-drift test a training
    pipeline runs between corpus snapshots or data sources.

    This is the reference's MPI_Exscan prefix-sum (SURVEY §2.5, reference
    src/cgen-hpat-pattern-match.jl:433-459) composed into a statistical
    kernel: per-value counts (one shuffle), then TWO chunked distributed
    prefix sums (operators/windowed.cumsum_chunked — range-partitioned
    local scans + a broadcast offset table, no task ever sees all rows),
    then one max aggregate. The 1-row totals cross-join is the standard
    decorrelated-scalar shape (plan_lint allow-listed). ECDFs are
    evaluated at distinct values, so duplicate-value ties are handled
    exactly; cumulative counts are integers, making the cross-engine
    comparison exact rather than fp-tolerant."""
    from hpat_jl_spark.operators.windowed import cumsum_chunked

    events = load_table(spark, "events", sf_dir)
    vals = (
        events.filter(F.col("event_type").isin("purchase", "view"))
        .groupBy("value")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("c1"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("c2"),
        )
    )
    cum = cumsum_chunked(vals, "c1", order_by="value", out="cum1", num_chunks=64)
    cum = cumsum_chunked(cum, "c2", order_by="value", out="cum2", num_chunks=64)
    tot = vals.agg(
        F.sum("c1").cast("bigint").alias("n1"), F.sum("c2").cast("bigint").alias("n2")
    )
    cdf = cum.crossJoin(F.broadcast(tot))
    return cdf.agg(
        F.first("n1").alias("n1"),
        F.first("n2").alias("n2"),
        F.round(
            F.max(
                F.abs(
                    F.col("cum1").cast("double") / F.col("n1")
                    - F.col("cum2").cast("double") / F.col("n2")
                )
            ),
            6,
        ).alias("ks_stat"),
    )
