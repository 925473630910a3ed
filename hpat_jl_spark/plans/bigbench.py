"""BigBench (TPCx-BB) Q26 / Q05 / Q25 analogues — the reference's three
implemented benchmark queries (reference test/q26_test.jl, q05_test.jl,
test/length_unique_test.jl; examples/queries_devel/{q26,q05,q25}.jl),
re-expressed on the fixture star schema per FIXTURES.md's mapping:

  store_sales / web_clickstreams → lineitem      (fact)
  item                           → part          (dim, broadcastable)
  customer / demographics        → orders + customer

Scale design: the fact table is never shuffled before its first
aggregation — dims join via broadcast hash (hinted and AQE-confirmed), so
the only wide exchange is the groupBy on the fact key. The reference
always pair-shuffled both join sides (MPI_Alltoallv, reference
src/cgen-hpat-pattern-match-table.jl:219-320) and explicitly DISABLED
Spark's broadcast join when benchmarking against Spark
(examples/queries_devel/q26/run-query.sh: autoBroadcastJoinThreshold=-1);
keeping broadcast ON is precisely the idiomatic-Spark win.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hpat_jl_spark.operators.relational import aggregate, join, table_filter
from hpat_jl_spark.registry import register
from hpat_jl_spark.tables import load_table

_Q26_N_CLASSES = 15
_Q26_HAVING = 1

_q26_oracle = f"""
SELECT l_suppkey AS cid,
       count(*) AS ss_item_count,
       {', '.join(f"CAST(sum(CASE WHEN p_size = {k} THEN 1 ELSE 0 END) AS BIGINT) AS id{k}" for k in range(1, _Q26_N_CLASSES + 1))}
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_type = 'PROMO'
GROUP BY l_suppkey
HAVING count(*) > {_Q26_HAVING}
"""


@register("q26", oracle=_q26_oracle, tags=("bigbench", "headline", "prepared"))
def q26(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BigBench Q26 analogue (reference test/q26_test.jl:63-103).

    Reference pipeline: store_sales ⋈ item on item_sk → filter
    i_category == c → aggregate by customer: count + 15 conditional sums
    sum(i_class_id == k) → having count > n. Here: lineitem ⋈ part,
    filter p_type, group by l_suppkey, conditional sums over p_size.
    """
    lineitem = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    # dim filtered *before* the join → smaller broadcast, pruned scan
    promo = table_filter(part, F.col("p_type") == "PROMO")
    j = join(lineitem, promo, "l_partkey", "p_partkey", "item_sk",
             broadcast_right=True)
    aggs = [("ss_item_count", F.count(F.lit(1)))] + [
        (f"id{k}", F.sum((F.col("p_size") == k).cast("long")))
        for k in range(1, _Q26_N_CLASSES + 1)
    ]
    out = aggregate(j, "l_suppkey", aggs, key_alias="cid")
    return table_filter(out, F.col("ss_item_count") > _Q26_HAVING)


_q01_oracle = """
SELECT part_a, part_b, n_co FROM (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_co
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
ORDER BY n_co DESC, part_a, part_b
LIMIT 20
"""


@register(
    "q01_copurchase", oracle=_q01_oracle, tags=("bigbench", "headline", "prepared")
)
def q01_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BigBench Q01 analogue (reference examples/queries_devel/q01.jl,
    designed-only: top co-purchased item pairs per ticket via
    countmap/flatten — unimplementable in the reference's compiler).
    Market-basket pair counting with deterministic top-20.

    Plan (r7 — VERDICT r06 #2; replaces the r5 collect_list pair
    generator): a SELF-JOIN on orderkey over ONE pinned exchange. Both
    join inputs are the SAME repartition(defaultParallelism, orderkey)
    frame, so Catalyst plans a single shuffle and a ReusedExchange —
    the r5 rationale for collect_list ("the self-join's second
    scan+exchange") no longer applies, and the join path keeps the
    whole pipeline in whole-stage codegen where the collect_list
    aggregate forced ObjectHashAggregate off codegen (the r6 trap,
    measured here: 0.95 s → 0.54 s at sf0.1, exact value match).
    r9 change — the pinned width now SCALES WITH INPUT BYTES:
    ``max(defaultParallelism, sized_shuffle_partitions(sf_dir))``.
    The memory probe OOM'd the r7 plan (width = defaultParallelism =
    32) at 4g/32-threads at the ×100 tier, and the first suspect —
    the SHUFFLE_HASH build relation (corpus/width ≈ 1.9M rows at
    ×100, NOT the "few MB" the r7 note guessed) — turned out to be
    only half the story: an SMJ variant ALSO OOM'd at 4g (and ran
    9.5→49 s at 32g), because the per-task resident is every working
    set that scales as corpus/width at once (hash build + the pair
    stream's partial-aggregation map). Widening the exchange to the
    byte-sized ceiling (128 at ×100) divides them all: measured
    post-change, every budget 32g→3g completes — 11-12 s un-spilled
    at ≥6g, 18.8 s with 8.7 GiB graceful spill at 3g, zero OOMs —
    while sf0.1 keeps the identical width-32 plan (sized ceiling 8 <
    32; wall 0.52→0.59 s, run noise). The hint stays: hash beats SMJ
    at every completing budget here, and the sized width keeps its
    build bounded by the ~2 MB/partition target as bytes grow. The
    pinned fan-out (not the AQE-coalesced ceiling) still matters
    because the pair explosion is compute-dense and byte-light — the
    same starved-reduce shape as hll_distinct_portable.

    Pair multiplicity matches the oracle exactly: the a.partkey <
    b.partkey inequality rides the join as a residual, so an order
    holding parts [5,5,7] emits (5,7) twice and never (5,5). Output is
    bounded by Σ_orders k²: ~7 lines/order in TPC-H-like data keeps the
    pair stream linear in the corpus (SCALING.md q01 rows)."""
    from hpat_jl_spark.session import pinned_width

    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    width = pinned_width(spark, sf_dir)
    d = li.repartition(width, "l_orderkey")
    b = d.select(
        F.col("l_orderkey").alias("b_orderkey"),
        F.col("l_partkey").alias("b_partkey"),
    ).hint("SHUFFLE_HASH")
    pairs = d.join(
        b,
        (F.col("l_orderkey") == F.col("b_orderkey"))
        & (F.col("l_partkey") < F.col("b_partkey")),
    )
    counted = pairs.groupBy(
        F.col("l_partkey").alias("part_a"), F.col("b_partkey").alias("part_b")
    ).agg(F.count(F.lit(1)).alias("n_co"))
    return counted.orderBy(
        F.col("n_co").desc(), F.col("part_a"), F.col("part_b")
    ).limit(20)


_q05_oracle = """
SELECT o_custkey AS cid,
       any_value(c_nationkey) AS nation,
       any_value(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS is_building,
       CAST(sum(promo_clicks) AS BIGINT) AS clicks_in_category,
       CAST(sum(id1) AS BIGINT) AS id1, CAST(sum(id2) AS BIGINT) AS id2,
       CAST(sum(id3) AS BIGINT) AS id3, CAST(sum(id4) AS BIGINT) AS id4,
       CAST(sum(id5) AS BIGINT) AS id5, CAST(sum(id6) AS BIGINT) AS id6,
       CAST(sum(id7) AS BIGINT) AS id7
FROM (
  SELECT l_orderkey,
         CAST(sum(CASE WHEN p_type = 'PROMO' THEN 1 ELSE 0 END) AS BIGINT) AS promo_clicks,
         CAST(sum(CASE WHEN p_size % 7 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS id1,
         CAST(sum(CASE WHEN p_size % 7 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS id2,
         CAST(sum(CASE WHEN p_size % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS id3,
         CAST(sum(CASE WHEN p_size % 7 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS id4,
         CAST(sum(CASE WHEN p_size % 7 = 5 THEN 1 ELSE 0 END) AS BIGINT) AS id5,
         CAST(sum(CASE WHEN p_size % 7 = 6 THEN 1 ELSE 0 END) AS BIGINT) AS id6,
         CAST(sum(CASE WHEN p_size % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS id7
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_partkey IS NOT NULL
  GROUP BY l_orderkey
) clicks
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY o_custkey
"""


@register(
    "q05", oracle=_q05_oracle, tags=("bigbench", "headline", "prepared", "concurrent")
)
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BigBench Q05 analogue (reference test/q05_test.jl:40-74): sentinel
    not-null filter → clicks ⋈ item → per-user conditional aggregate →
    ⋈ customer → ⋈ demographics. The reference simulated NOT NULL with
    `> typemin(Int32)` sentinels; we use real null semantics
    (SURVEY §2.2). Demographics fold into `customer` here (nationkey /
    mktsegment as the cd_* analogues).

    Scale: part broadcast; the lineitem aggregation happens BEFORE the
    join to orders (aggregate-then-join), so the wide join carries one
    row per order, not one per line item.
    """
    lineitem = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)

    clicks = table_filter(lineitem, F.col("l_partkey").isNotNull())
    j1 = join(clicks, part, "l_partkey", "p_partkey", "item_sk",
              broadcast_right=True)
    aggs = [("promo_clicks", F.sum((F.col("p_type") == "PROMO").cast("long")))] + [
        (f"id{k}", F.sum((F.col("p_size") % 7 == (k % 7)).cast("long")))
        for k in range(1, 8)
    ]
    per_order = aggregate(j1, "l_orderkey", aggs)
    j2 = join(per_order, orders, "l_orderkey", "o_orderkey", "order_sk")
    j3 = join(j2, customer, "o_custkey", "c_custkey", "cid")
    return aggregate(
        j3,
        "cid",
        [
            ("nation", F.any_value(F.col("c_nationkey"))),
            (
                "is_building",
                F.any_value((F.col("c_mktsegment") == "BUILDING").cast("int")),
            ),
            ("clicks_in_category", F.sum("promo_clicks")),
        ]
        + [(f"id{k}", F.sum(f"id{k}")) for k in range(1, 8)],
    )


_q25_oracle = """
SELECT o_custkey AS cid,
       count(DISTINCT l_orderkey) AS frequency,
       max(l_shipdate) AS most_recent,
       round(sum(l_extendedprice), 2) AS amount
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_custkey
"""


@register(
    "q25", oracle=_q25_oracle, tags=("bigbench", "headline", "prepared", "concurrent")
)
def q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BigBench Q25 core analogue (reference test/length_unique_test.jl:
    9-41): per-customer RFM — frequency = length(unique(ticket)) (exact
    count-distinct), recency = maximum(date), monetary = sum(paid), with
    the reference's key-rename (`:cid = :ss_customer_sk`).

    Scale: count(DISTINCT) forces a distinct-pair shuffle in any engine
    (the reference shuffled (key,value) set pairs, reference
    src/cgen-hpat-pattern-match-table.jl:844-923); Spark plans it as
    expand + two-phase aggregate. The cheap path at 100 TB is
    approx_count_distinct (see operators.relational.approx_count_unique).
    """
    lineitem = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    j = join(lineitem, orders, "l_orderkey", "o_orderkey", "order_sk")
    return aggregate(
        j,
        "o_custkey",
        [
            ("frequency", F.countDistinct("order_sk")),
            ("most_recent", F.max("l_shipdate")),
            ("amount", F.round(F.sum("l_extendedprice"), 2)),
        ],
        key_alias="cid",
    )
