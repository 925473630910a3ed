"""TPC-H subquery-suite analogues (Q15/Q17/Q19/Q21/Q22) on the fixture
schema.

The reference has no subquery surface at all — correlated predicates,
scalar subqueries, EXISTS/NOT EXISTS are entirely absent from its
operator inventory (SURVEY §2.3: "Not present: outer/left/right/semi/
anti joins"). This module exercises the decorrelation patterns a Spark
engine gets from Catalyst, each expressed as an explicit DataFrame plan
(aggregate-then-join) rather than SQL, so the physical shape is pinned:
scalar subqueries become broadcast 1-row joins, correlated aggregates
become groupBy+join, and EXISTS/NOT EXISTS pairs become window-ranked
per-group statistics.

Fixture adaptations: no l_commitdate/l_receiptdate → Q21's "kept orders
waiting" is re-keyed to last-to-ship among multi-supplier orders; no
c_phone → Q22's country-code IN-list is on c_nationkey.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hpat_jl_spark.operators.relational import table_filter
from hpat_jl_spark.operators.windowed import top_k
from hpat_jl_spark.registry import register
from hpat_jl_spark.tables import load_table


@register(
    "q15_top_supplier",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
    tags=("tpch",),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: scalar subquery over an aggregate view — the
    quarter's per-supplier revenue, filtered to the max. Spark plan:
    the revenue aggregate is computed once, its 1-row max is cross-
    broadcast back, and equality keeps all tied suppliers. Revenue is
    rounded to cents BEFORE the max comparison on both sides, so the
    float-sum tie is deterministic."""
    li = load_table(spark, "lineitem", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    revenue = (
        table_filter(
            li,
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")),
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("total_revenue")
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    best = revenue.join(
        F.broadcast(max_rev), revenue.total_revenue == F.col("max_revenue")
    )
    # `best` is the tie-set at the max (tiny in practice but not provably
    # bounded) and supplier is O(sf): no forced broadcast on either side,
    # AQE picks the build side from measured sizes.
    return best.join(
        supplier, best.supplier_no == supplier.s_suppkey
    ).select("s_suppkey", "s_name", "total_revenue")


@register(
    "q17_small_quantity_revenue",
    oracle="""
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#13'
  AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = p_partkey)
""",
    tags=("tpch",),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    quantity) gating the outer row. Decorrelated plan: semi-join
    lineitem to the brand's parts first (so the per-part average is only
    computed for parts that matter), aggregate, then join the reduced
    per-part threshold back onto the fact rows (brand_parts and the
    threshold table are O(sf) — brand-filtered but still growing with
    the data — so broadcasting is AQE's runtime decision, not forced) — the per-group-threshold
    pattern that at 100 TB must avoid re-scanning lineitem twice at full
    width (the avg needs only partkey+quantity: column pruning does
    that)."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    brand_parts = table_filter(part, F.col("p_brand") == "Brand#13").select(
        "p_partkey"
    )
    thresholds = (
        li.join(brand_parts, li.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_partkey")
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold"))
    )
    gated = li.join(
        thresholds.withColumnRenamed("l_partkey", "t_partkey"),
        (li.l_partkey == F.col("t_partkey"))
        & (li.l_quantity < F.col("qty_threshold")),
    )
    return gated.agg(
        F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly")
    )


@register(
    "q19_disjunctive_predicates",
    oracle="""
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*)::BIGINT AS n_rows
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
""",
    tags=("tpch",),
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: a disjunction of conjunctions mixing columns
    from BOTH join sides. Catalyst extracts the common-side implications
    (p_brand IN (...), l_quantity BETWEEN 1 AND 30) and pushes them
    below the join as scan filters while keeping the full OR as the
    join residual — the optimizer behavior the reference's wishlist
    called "boolean simplification" (examples/queries_devel/
    optimizer.txt) and never built."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    # part is O(sf): Catalyst pushes the brand/size implications into its
    # scan, AQE broadcasts the reduced side if it measures small.
    lp = li.join(part, li.l_partkey == part.p_partkey)
    q = F.col("l_quantity")
    branch = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & q.between(qlo, qhi)
    )
    hit = lp.filter(
        branch("Brand#1", 15, 1, 11)
        | branch("Brand#13", 25, 10, 20)
        | branch("Brand#20", 35, 20, 30)
    )
    return hit.agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "q21_waiting_supplier",
    oracle="""
SELECT s_name, count(*)::BIGINT AS numwait
FROM supplier, lineitem l1, orders, nation
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F' AND s_nationkey = n_nationkey
  AND n_name = 'NATION_11'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > l1.l_shipdate)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""",
    tags=("tpch", "headline", "prepared"),
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted: lateness = last-to-ship, since the
    fixture has no receipt/commit dates): for finished multi-supplier
    orders, count each supplier's lines that no OTHER supplier shipped
    strictly later — an EXISTS + NOT EXISTS pair over the same fact
    table.

    Decorrelated plan: per (order, supplier) take max shipdate; per
    order compute the top-two distinct supplier maxima via window
    functions; a line qualifies iff its shipdate >= the max over OTHER
    suppliers and the order has >1 supplier. All shuffles hash on
    orderkey(+suppkey) — the EXISTS/NOT-EXISTS pair becomes window
    arithmetic over the tiny per-(order,supplier) aggregate instead of
    two additional full self-joins of lineitem (the naive plan scans
    and shuffles the fact table three times; this one aggregates it
    once and re-joins only the line-match step).

    Measured dead end (r6): collecting each (order,supplier)'s shipdate
    list in the first aggregate and counting qualifiers with an array
    filter removes the line-match re-join (and the second lineitem
    scan) but ran 1.10s → 1.32s at sf0.1 — collect_list forces the
    aggregate off whole-stage codegen into ObjectHashAggregate and the
    arrays ride through the window sort; a window-free variant
    (per-order collect of supplier structs, O(k²) array walk) was worse
    still (1.45s).

    r11 (VERDICT r10 #2 — of-ceiling 0.28 at ×100 made this the #2
    provisioned-cost driver): the q01/hll exchange-reuse treatment.
    Both consumers of the filtered line stream (the per-(order,supplier)
    max aggregate and the line-match join) now read ONE pinned
    ``repartition(width, l_orderkey)`` exchange with byte-sized width
    (``max(defaultParallelism, sized_shuffle_partitions)`` — the r9
    pinned-width rule: every downstream per-task buffer is
    corpus/width). HashPartitioning(orderkey) satisfies every
    downstream clustering requirement — the (orderkey,suppkey)
    aggregate, the orderkey window, and BOTH sides of the line-match
    join — so lineitem is scanned once and the line stream is shuffled
    once (the old shape re-scanned lineitem per consumer and re-keyed
    o→(o,s)→o across three exchanges). The nation-supplier broadcast is
    applied to the QUALIFIED side before the line-match join (25×
    smaller build, s_name rides through), and the join is hinted
    SHUFFLE_HASH: the build is the per-(order,supplier) aggregate of
    one nation's suppliers — bounded by corpus/width like q01's build —
    and the hint keeps the wide fl stream un-sorted."""
    from hpat_jl_spark.session import pinned_width

    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)

    f_orders = table_filter(orders, F.col("o_orderstatus") == "F").select(
        "o_orderkey"
    )
    # f_orders is ~half the orders table (O(sf)) — VERDICT r01 flagged
    # force-broadcasting it as the worst scale hazard in the repo. The
    # semi-ish join shuffles (or AQE-broadcasts) on orderkey; the pinned
    # repartition right after it is the ONE line-stream exchange every
    # downstream stage reuses.
    width = pinned_width(spark, sf_dir)
    # Explicit not-null filters make the two consumers' scan predicates
    # IDENTICAL: the line-match join infers isnotnull(suppkey/shipdate)
    # constraints and pushes them below the exchange on its branch
    # only, which de-canonicalizes the shared subtree and defeats AQE
    # stage reuse (measured: lineitem scanned twice without these).
    # Value-neutral for the KEY columns only (null l_orderkey/l_suppkey
    # can't satisfy the oracle's = / <> join predicates). The
    # l_shipdate filter is NOT value-neutral in general: the oracle's
    # EXISTS(l2) has no shipdate predicate, so a valid-key row with
    # NULL l_shipdate would still count toward nsupp there while this
    # plan drops it — an explicit FIXTURE-DEPENDENT assumption (ADVICE
    # r11): the TPC-H-shaped fixtures are shipdate-null-free, and
    # tests/test_null_semantics.py pins where the engine diverges by
    # design.
    fl = (
        li.filter(
            F.col("l_orderkey").isNotNull()
            & F.col("l_suppkey").isNotNull()
            & F.col("l_shipdate").isNotNull()
        )
        .join(f_orders, li.l_orderkey == F.col("o_orderkey"))
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .repartition(width, "l_orderkey")
    )
    supp_max = fl.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("smax")
    )
    w = Window.partitionBy("l_orderkey")
    stats = (
        supp_max.withColumn("m1", F.max("smax").over(w))
        .withColumn("nsupp", F.count(F.lit(1)).over(w))
        .withColumn(
            "m2",
            F.max(F.when(F.col("smax") < F.col("m1"), F.col("smax"))).over(w),
        )
        .withColumn(
            "n_at_m1",
            F.sum(F.when(F.col("smax") == F.col("m1"), 1).otherwise(0)).over(w),
        )
    )
    # max shipdate among the order's OTHER suppliers, for this supplier
    other_max = F.when(
        (F.col("smax") < F.col("m1")) | (F.col("n_at_m1") > 1), F.col("m1")
    ).otherwise(F.col("m2"))
    qualified = stats.filter(F.col("nsupp") > 1).withColumn(
        "other_max", other_max
    )
    # nation filter pushed into the qualified (build) side: only
    # NATION_11's suppliers can contribute to the answer, so the
    # line-match build shrinks ~25× and carries s_name through.
    nat_supp = supplier.join(
        F.broadcast(table_filter(nation, F.col("n_name") == "NATION_11")),
        supplier.s_nationkey == nation.n_nationkey,
    ).select("s_suppkey", "s_name")
    # not force-broadcast: supplier is O(sf) (repo policy — the r1
    # flag); at fixture sizes the static threshold/AQE broadcasts it
    # anyway, preserving qualified's orderkey partitioning.
    q_nat = qualified.join(
        nat_supp,
        qualified.l_suppkey == F.col("s_suppkey"),
    ).select(
        F.col("l_orderkey").alias("q_orderkey"),
        F.col("l_suppkey").alias("q_suppkey"),
        "other_max",
        "s_name",
    )
    # lines of this (order, supplier) shipped >= every other supplier's
    # line; both sides still carry the pinned orderkey partitioning, so
    # the shuffled-hash join adds no exchange.
    waiting = fl.join(
        q_nat.hint("SHUFFLE_HASH"),
        (fl.l_orderkey == F.col("q_orderkey"))
        & (fl.l_suppkey == F.col("q_suppkey"))
        & (fl.l_shipdate >= F.col("other_max")),
    )
    counted = waiting.groupBy("s_name").agg(
        F.count(F.lit(1)).alias("numwait")
    )
    return top_k(counted, 20, F.col("numwait").desc(), F.col("s_name"))


@register(
    "q22_global_sales_opportunity",
    oracle="""
SELECT c_nationkey, count(*)::BIGINT AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_nationkey IN (0, 3, 7, 11, 14, 19, 23)
  AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
                   WHERE c_acctbal > 0.0
                     AND c_nationkey IN (0, 3, 7, 11, 14, 19, 23))
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
""",
    tags=("tpch",),
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (adapted: country codes are c_nationkey, the
    fixture has no c_phone): rich customers in target countries with no
    orders. The scalar avg subquery becomes a broadcast 1-row cross
    join; NOT EXISTS becomes a left-anti join against orders — the
    anti-join shuffles customer (small side) against orders' custkey
    projection only."""
    customer = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    nations = [0, 3, 7, 11, 14, 19, 23]
    target = table_filter(customer, F.col("c_nationkey").isin(nations))
    avg_bal = target.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    rich = target.join(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    no_orders = rich.join(
        orders, rich.c_custkey == orders.o_custkey, "left_anti"
    )
    return no_orders.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
    )
