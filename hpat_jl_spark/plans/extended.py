"""Extended relational surface beyond the reference (SURVEY §2.4/§2.7
'Not present' rows): pivot, rollup/cube grouping sets, array-valued
aggregation (the reference's designed-only `collect(:col)`,
examples/queries_devel/q02.jl), approximate count-distinct (the scale
twin of length_unique), and the scalar math-function surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hpat_jl_spark.registry import register
from hpat_jl_spark.tables import load_table


@register(
    "pivot_status",
    oracle="""
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_O,
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_F
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("extended",),
)
def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot — wide conditional aggregation by a value list. The
    explicit value list matters at scale: without it Spark runs an extra
    distinct pass to discover columns."""
    li = load_table(spark, "lineitem", sf_dir)
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    return out.select(
        "l_returnflag",
        F.col("O").alias("qty_O"),
        F.col("F").alias("qty_F"),
    )


@register(
    "rollup_sales",
    oracle="""
SELECT coalesce(l_returnflag, '(all)') AS flag,
       coalesce(l_linestatus, '(all)') AS status,
       round(sum(l_extendedprice), 2) AS total,
       count(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    tags=("extended",),
)
def rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals (flag → flag+status → grand total).
    Grouping-set nulls are coalesced to a sentinel so the oracle compare
    is unambiguous (fixture columns are never null themselves)."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("total"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("(all)")).alias("flag"),
            F.coalesce(F.col("l_linestatus"), F.lit("(all)")).alias("status"),
            "total",
            "n",
        )
    )


@register(
    "cube_sales",
    oracle="""
SELECT coalesce(l_returnflag, '(all)') AS flag,
       coalesce(l_linestatus, '(all)') AS status,
       count(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    tags=("extended",),
)
def cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping-set combinations (adds status-only subtotals over
    rollup)."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("(all)")).alias("flag"),
            F.coalesce(F.col("l_linestatus"), F.lit("(all)")).alias("status"),
            "n",
        )
    )


@register(
    "collect_sorted_list",
    oracle="""
SELECT o_custkey AS cid,
       array_to_string(list_transform(list(o_orderkey ORDER BY o_orderkey),
                                      v -> v::VARCHAR), ',') AS orderkeys
FROM orders
GROUP BY o_custkey
""",
    tags=("extended",),
)
def collect_sorted_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-valued aggregation — the reference's designed-only
    `collect(:tstamp_inSec)` (examples/queries_devel/q02.jl →
    F.collect_list per SURVEY §2.2). Sorted + serialized so the compare
    is canonical. At 100 TB: bounded groups only — an unbounded
    collect_list materializes the group in memory (SURVEY §7 warning)."""
    orders = load_table(spark, "orders", sf_dir)
    serialized = F.concat_ws(
        ",",
        F.transform(
            F.sort_array(F.collect_list("o_orderkey")), lambda v: v.cast("string")
        ),
    )
    return orders.groupBy(F.col("o_custkey").alias("cid")).agg(
        serialized.alias("orderkeys")
    )


@register(
    "grouping_sets_sales",
    oracle="""
SELECT coalesce(l_returnflag, '(all)') AS flag,
       coalesce(o_orderpriority, '(all)') AS priority,
       round(sum(l_extendedprice), 2) AS total
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY GROUPING SETS ((l_returnflag), (o_orderpriority))
""",
    tags=("extended",),
)
def grouping_sets_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither rollup nor cube): totals by flag
    and, separately, by priority, in one pass over the join."""
    load_table(spark, "lineitem", sf_dir).createOrReplaceTempView("__gs_lineitem")
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("__gs_orders")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, '(all)') AS flag,
               coalesce(o_orderpriority, '(all)') AS priority,
               round(sum(l_extendedprice), 2) AS total
        FROM __gs_lineitem JOIN __gs_orders ON l_orderkey = o_orderkey
        GROUP BY GROUPING SETS ((l_returnflag), (o_orderpriority))
        """
    )


@register(
    "range_frame_window",
    oracle="""
SELECT event_id, user_id,
       round(sum(value) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 2)
         AS value_last_hour
FROM events
""",
    tags=("extended",),
)
def range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame: per event, the sum of the user's values in
    the trailing hour — a value-based frame (rangeBetween), not a
    row-count frame; the time-series primitive behind rolling metrics."""
    from pyspark.sql import Window

    events = load_table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("value_last_hour"),
    )


@register("approx_distinct", oracle=None, tags=("extended",))
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ count-distinct — the 100 TB path for
    length_unique (exact-distinct shuffles every distinct pair; HLL
    ships a 1.5 KB sketch per group). Rows-only check: HLL estimates
    are engine-specific; accuracy vs exact is asserted in
    tests/test_plans.py. hll_distinct_portable below is the hash-gated
    twin built from relational primitives."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )


# ---- portable HyperLogLog: the hash-gated twin of approx_distinct ----
# Registers from portable_hash (md5-based, identical in both engines);
# all register state is EXACT integer arithmetic: the harmonic sum
# Z = Σ 2^-M is kept scaled by 2^52 (Σ 2^(52-M), an int64 ≤ 512·2^51),
# so the only floats are two final divisions/logs of exact integers —
# deterministic in any IEEE engine, no accumulation-order sensitivity.
_HLL_P = 9
_HLL_M = 1 << _HLL_P  # 512 registers
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)  # Flajolet et al. bias constant
_HLL_WBITS = 60 - _HLL_P  # portable_hash is 60-bit

_hll_oracle = f"""
WITH h AS (
  SELECT l_returnflag,
         ('0x' || substr(md5(l_orderkey::VARCHAR), 1, 15))::BIGINT AS hv
  FROM lineitem
), reg AS (
  SELECT l_returnflag, hv & {_HLL_M - 1} AS bucket,
         max(CASE WHEN (hv >> {_HLL_P}) = 0 THEN {_HLL_WBITS + 1}
                  ELSE {_HLL_WBITS + 1} - length(bin(hv >> {_HLL_P})) END) AS m
  FROM h GROUP BY 1, 2
), est AS (
  SELECT l_returnflag,
         count(*) AS nb,
         sum(1::BIGINT << ({_HLL_WBITS + 1} - m)) AS z_scaled
  FROM reg GROUP BY 1
), ex AS (
  SELECT l_returnflag, count(DISTINCT l_orderkey)::BIGINT AS exact_orders
  FROM lineitem GROUP BY 1
)
SELECT est.l_returnflag,
       ex.exact_orders,
       round(CASE WHEN ({_HLL_ALPHA!r}::DOUBLE * {_HLL_M} * {_HLL_M})
                       / ((({_HLL_M} - nb)::DOUBLE * {2 ** (_HLL_WBITS + 1)}
                           + z_scaled) / {2.0 ** (_HLL_WBITS + 1)!r})
                       <= {2.5 * _HLL_M} AND nb < {_HLL_M}
             THEN {_HLL_M} * ln({_HLL_M}::DOUBLE / ({_HLL_M} - nb))
             ELSE ({_HLL_ALPHA!r}::DOUBLE * {_HLL_M} * {_HLL_M})
                  / ((({_HLL_M} - nb)::DOUBLE * {2 ** (_HLL_WBITS + 1)}
                      + z_scaled) / {2.0 ** (_HLL_WBITS + 1)!r})
             END, 3) AS hll_estimate
FROM est JOIN ex USING (l_returnflag)
"""


@register(
    "hll_distinct_portable",
    oracle=_hll_oracle,
    tags=("extended", "sketch", "headline", "prepared"),
)
def hll_distinct_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog count-distinct built from relational primitives with
    a PORTABLE hash — the hash-gated companion to approx_distinct
    (whose builtin HLL++ sketch is engine-specific, hence rows-only).
    Here every piece is replayable: register index = low 9 bits of
    portable_hash, rank = leading-zero count of the remaining 51 bits
    via length(bin(w)) (minimal-width in both engines), and the
    harmonic sum is kept as the EXACT integer Σ 2^(52-M) so no
    float-accumulation order can flip the value hash. Includes the
    small-range linear-counting correction (m·ln(m/V)).

    Scale shape: the sketch itself is production-HLL — 512 registers
    per group regardless of input size, mergeable by max, never more
    than (groups × 512) rows after the map-side partial agg. Because
    this query ALSO outputs the exact count for comparison, it needs a
    distinct (group, key) exchange anyway, so both branches consume
    that one exchange and the fact table is scanned ONCE (r6; register
    max is idempotent under duplicate keys, so sketching the distinct
    pairs is value-identical to sketching raw rows — AQE stage reuse
    collapses the two static scans). A production sketch-only run would
    drop the exact branch and with it the distinct shuffle entirely —
    that sketch-without-distinct shape is approx_distinct above. The
    estimate lands within a few σ (σ = 1.04/√512 ≈ 4.6%) of the exact
    count (asserted in tests)."""
    from hpat_jl_spark.functions.dedup import portable_hash

    li = load_table(spark, "lineitem", sf_dir)
    wbits1 = _HLL_WBITS + 1  # rank when the suffix is all zeros
    # ONE distinct (flag, orderkey) exchange feeds BOTH branches:
    # register max is idempotent under duplicate keys, so the sketch
    # over distinct pairs is value-identical to the sketch over raw
    # rows, and the exact count is the distinct frame's row count —
    # ReusedExchange makes the fact scan run once instead of twice
    # (r6; was two full lineitem scans, 20.6 MB vs 10.3 in SHUFFLE.md).
    # r7: the exchange fan-out is PINNED at defaultParallelism instead
    # of inheriting the (input-sized, then AQE-coalesced) ceiling: the
    # reduce side runs the portable md5 hash over every distinct pair —
    # compute-dense, byte-light, the exact shape size-based coalescing
    # starves (the r5 parallelismFirst trap). AQE had been coalescing
    # it to ~2 tasks on a 32-thread box (0.84 s → 0.43 s measured at
    # sf0.1). dropDuplicates reuses the repartition's hash partitioning
    # (same keys), so this is still ONE exchange; at 100 TB the distinct
    # reduce is byte-heavy and the pin is simply the 1-2×-cores setting
    # a capacity plan would choose for it anyway.
    d = (
        li.select("l_returnflag", "l_orderkey")
        .repartition(
            spark.sparkContext.defaultParallelism,
            "l_returnflag",
            "l_orderkey",
        )
        .dropDuplicates()
    )
    h = d.select(
        "l_returnflag",
        portable_hash(F.col("l_orderkey").cast("string")).alias("hv"),
    )
    w = F.shiftright("hv", _HLL_P)
    reg = (
        h.select(
            "l_returnflag",
            F.col("hv").bitwiseAND(_HLL_M - 1).alias("bucket"),
            F.when(w == 0, F.lit(wbits1))
            .otherwise(F.lit(wbits1) - F.length(F.bin(w)))
            .alias("rank"),
        )
        .groupBy("l_returnflag", "bucket")
        .agg(F.max("rank").alias("m"))
    )
    est = reg.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum(
            F.expr(f"shiftleft(1L, cast({wbits1} - m as int))")
        ).alias("z_scaled"),
    )
    z = (
        (F.lit(_HLL_M) - F.col("nb")).cast("double") * F.lit(float(2 ** wbits1))
        + F.col("z_scaled")
    ) / F.lit(2.0 ** wbits1)
    e_raw = F.lit(_HLL_ALPHA * _HLL_M * _HLL_M) / z
    v = F.lit(_HLL_M) - F.col("nb")
    estimate = F.when(
        (e_raw <= F.lit(2.5 * _HLL_M)) & (F.col("nb") < _HLL_M),
        F.lit(_HLL_M) * F.log(F.lit(float(_HLL_M)) / v),
    ).otherwise(e_raw)
    ex = d.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("exact_orders")
    )
    return est.join(ex, "l_returnflag").select(
        "l_returnflag",
        "exact_orders",
        F.round(estimate, 3).alias("hll_estimate"),
    )


@register(
    "multi_key_join",
    oracle="""
SELECT a.o_custkey AS cid, a.o_orderstatus AS status, count(*) AS n_pairs
FROM orders a JOIN orders b
  ON a.o_custkey = b.o_custkey
 AND a.o_orderstatus = b.o_orderstatus
 AND a.o_orderkey < b.o_orderkey
GROUP BY 1, 2
""",
    tags=("extended",),
)
def multi_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key equi-join — absent in the reference (SURVEY §2.3:
    single equality key only); native in Spark (both keys enter the
    shuffle hash). Self-join: pairs of same-status orders per customer."""
    orders = load_table(spark, "orders", sf_dir)
    a, b = orders.alias("a"), orders.alias("b")
    pairs = a.join(
        b,
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("a.o_orderstatus") == F.col("b.o_orderstatus"))
        & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
    )
    return pairs.groupBy(
        F.col("a.o_custkey").alias("cid"),
        F.col("a.o_orderstatus").alias("status"),
    ).agg(F.count(F.lit(1)).alias("n_pairs"))


@register(
    "udaf_mad",
    oracle="""
SELECT user_id,
       count(*) AS n,
       round(mad(value)::DOUBLE, 4) AS value_mad
FROM events
GROUP BY user_id
""",
    tags=("extended", "udaf"),
)
def udaf_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom grouped UDAF via applyInPandas: median absolute deviation
    per user — a holistic aggregate Spark has no built-in for (the
    reference's compiled-closure UDF surface, SURVEY §2.9, answered
    with an Arrow grouped kernel). The whole group materializes in the
    kernel — at 100 TB that bounds group size, exactly the holistic-
    aggregate tradeoff (or switch to an approx sketch)."""
    import numpy as np
    import pandas as pd

    events = load_table(spark, "events", sf_dir)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"].to_numpy(dtype=np.float64)
        med = np.median(v)
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n": [len(v)],
                "value_mad": [round(float(np.median(np.abs(v - med))), 4)],
            }
        )

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandas(kernel, "user_id long, n long, value_mad double")
    )


@register(
    "math_surface",
    oracle="""
SELECT l_orderkey, l_linenumber,
       round(exp(l_discount), 6) AS e_disc,
       round(ln(l_extendedprice), 6) AS ln_price,
       round(sqrt(l_quantity), 6) AS sqrt_qty,
       round(pow(1 + l_tax, 2), 6) AS tax_sq,
       abs(l_quantity - 25) AS qty_dev,
       round(sin(l_discount) + cos(l_tax), 6) AS trig
FROM lineitem
""",
    tags=("extended",),
)
def math_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar math surface (SURVEY §2.7: exp/log/sqrt/pow from the
    reference's examples — blackscholes.jl, logistic_regression.jl —
    plus trig). All JVM intrinsics inside whole-stage codegen."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.exp("l_discount"), 6).alias("e_disc"),
        F.round(F.log("l_extendedprice"), 6).alias("ln_price"),
        F.round(F.sqrt("l_quantity"), 6).alias("sqrt_qty"),
        F.round(F.pow(F.lit(1) + F.col("l_tax"), 2), 6).alias("tax_sq"),
        F.abs(F.col("l_quantity") - 25).alias("qty_dev"),
        F.round(F.sin("l_discount") + F.cos("l_tax"), 6).alias("trig"),
    )


_unpivot_oracle = """
SELECT o_orderkey, metric, val
FROM (SELECT o_orderkey, o_totalprice AS total_price,
             o_totalprice * 0.25 AS est_tax
      FROM orders WHERE o_orderkey < 500)
UNPIVOT (val FOR metric IN (total_price, est_tax))
"""


@register("unpivot_metrics", oracle=_unpivot_oracle, tags=("extended",))
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide metric columns → (key, metric, value) long
    form — the inverse of `pivot_status`, completing the reshape pair.
    Spark's unpivot/melt is a zero-shuffle Expand node (each input row
    emits one row per metric), same as DuckDB's UNPIVOT."""
    orders = load_table(spark, "orders", sf_dir)
    # ×0.25 is an exact dyadic scaling → bit-identical across engines
    # with NO rounding step (see CLAUDE.md round() trap)
    wide = orders.filter(F.col("o_orderkey") < 500).select(
        "o_orderkey",
        F.col("o_totalprice").alias("total_price"),
        (F.col("o_totalprice") * 0.25).alias("est_tax"),
    )
    long = wide.unpivot(
        ids=["o_orderkey"],
        values=["total_price", "est_tax"],
        variableColumnName="metric",
        valueColumnName="val",
    )
    return long.select("o_orderkey", "metric", "val")


_histogram_oracle = """
SELECT least(greatest(floor(o_totalprice / 25000.0) + 1, 0), 21)::BIGINT
         AS bucket,
       count(*)::BIGINT AS n_orders,
       round(sum(o_totalprice), 2) AS bucket_total
FROM orders
GROUP BY 1
"""


@register("order_price_histogram", oracle=_histogram_oracle, tags=("extended",))
def order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (width_bucket semantics, 20 bins of 25k
    over [0, 500k], spelled as floor arithmetic identical on both
    engines) — binning IS a group-by
    on a computed key, so the whole histogram is one partial+final hash
    aggregate over the scan; no sort, no per-bin pass. The 100 TB shape
    for any distribution profile."""
    orders = load_table(spark, "orders", sf_dir)
    bucket = F.least(
        F.greatest(F.floor(F.col("o_totalprice") / 25000.0) + 1, F.lit(0)),
        F.lit(21),
    )
    return (
        orders.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("bucket_total"),
        )
    )


@register("stratified_sample_sources", oracle=None, tags=("extended",))
def stratified_sample_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus downsampling (sampleBy): per-source keep
    fractions — the rebalancing step when one source dominates a
    training mix. Seeded and deterministic WITHIN Spark but with no
    DuckDB twin (different PRNG) → rows-only driver check; the strata
    proportions are asserted in tests/test_scale_strategies.py."""
    docs = load_table(spark, "documents", sf_dir)
    fractions = {"web": 0.3, "wiki": 1.0, "books": 1.0, "code": 0.6}
    sources = [r.source for r in docs.select("source").distinct().collect()]
    sampled = docs.sampleBy(
        "source", {s: fractions.get(s, 0.5) for s in sources}, seed=42
    )
    return sampled.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("chars_kept"),
    )


# ---- content-addressed stratified sample: the hash-gated twin of ----
# stratified_sample_sources. Keep fractions per stratum, decided by
# portable_hash(doc_id) % 1000 < frac·1000 — no PRNG stream at all, so
# (a) DuckDB replays the EXACT kept set (value-hash oracle, unlike
# sampleBy's Bernoulli draw) and (b) the sample is stable across runs,
# engines, cluster sizes, and retries — the property a reproducible
# training-mix pipeline actually needs (re-running the job must not
# reshuffle the corpus). Per-row decision, no shuffle before the agg.
# Fractions name the fixture's ACTUAL sources (src0..src19) so the
# heterogeneous-mix path is really exercised, not a default fallback.
_STRAT_FRACS = {"src0": 0.1, "src1": 0.25, "src2": 1.0, "src3": 0.6}
_STRAT_DEFAULT = 0.5

_strat_hash_case = " ".join(
    f"WHEN source = '{s}' THEN {int(f * 1000)}" for s, f in _STRAT_FRACS.items()
)
_strat_hash_oracle = f"""
WITH kept AS (
  SELECT source, n_chars
  FROM documents
  WHERE ('0x' || substr(md5('strat:' || doc_id::VARCHAR), 1, 15))::BIGINT % 1000
        < CASE {_strat_hash_case} ELSE {int(_STRAT_DEFAULT * 1000)} END
)
SELECT source, count(*)::BIGINT AS n_kept, sum(n_chars)::BIGINT AS chars_kept
FROM kept GROUP BY source
"""


@register(
    "stratified_sample_hash", oracle=_strat_hash_oracle, tags=("extended", "llm")
)
def stratified_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-addressed stratified downsampling: keep a
    per-source fraction of documents chosen by a portable hash of the
    doc id rather than a PRNG. See the module comment above — this is
    the reproducibility-grade variant of stratified_sample_sources and
    the one a 100 TB pipeline should run: the kept set is a pure
    function of the data, so incremental re-runs, speculative retries,
    and engine migrations all keep exactly the same rows. Fraction
    accuracy vs the target mix is asserted in
    tests/test_scale_strategies.py."""
    from hpat_jl_spark.functions.dedup import portable_hash

    docs = load_table(spark, "documents", sf_dir)
    thresh = F.lit(int(_STRAT_DEFAULT * 1000))
    for s, f in _STRAT_FRACS.items():
        thresh = F.when(F.col("source") == s, F.lit(int(f * 1000))).otherwise(
            thresh
        )
    kept = docs.filter(
        portable_hash(F.concat(F.lit("strat:"), F.col("doc_id").cast("string")))
        % 1000
        < thresh
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("chars_kept"),
    )


_salted_oracle = """
SELECT l_returnflag,
       round(sum(l_extendedprice), 2) AS total_price,
       count(*)::BIGINT AS n_items
FROM lineitem
GROUP BY l_returnflag
"""


@register("salted_skew_aggregate", oracle=_salted_oracle, tags=("extended",))
def salted_skew_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient two-phase aggregation on a deliberately
    low-cardinality key (l_returnflag: 3 values over all of lineitem —
    every key is a hot key): groupBy(key, salt) splits each key across
    32 reducers for the heavy partial pass, then a 3×32-row final merge.
    The oracle is the plain GROUP BY — salting must be semantically
    invisible."""
    from hpat_jl_spark.operators.skew import salted_aggregate

    li = load_table(spark, "lineitem", sf_dir)
    out = salted_aggregate(
        li,
        "l_returnflag",
        partial_aggs=[
            ("s", F.sum("l_extendedprice")),
            ("c", F.count(F.lit(1))),
        ],
        final_aggs=[
            ("total_price_raw", F.sum("s")),
            ("n_items", F.sum("c")),
        ],
    )
    return out.select(
        "l_returnflag",
        F.round("total_price_raw", 2).alias("total_price"),
        "n_items",
    )


# The iterative float fixpoint DOES have a SQL twin: the 10-step
# damping-0.85 power iteration as a chain of UNROLLED MATERIALIZED
# CTEs, one per iteration (the bpe_train technique — CLAUDE.md r5:
# round-chained CTEs must be MATERIALIZED). An earlier WITH RECURSIVE
# form computed identical values but DuckDB's recursive evaluation
# drove ~731M rows through the iteration join at sf0.1 (46 s, and a
# liveness-audit slow-skip at amplified tiers); the unrolled chain does
# the honest ~600k rows/iteration (~2 s). Self-loops with weight 0
# keep every vertex (including pure sinks) alive through the
# per-iteration GROUP BY — the SQL analogue of the Spark side's left
# join on verts. (tol=1e-6 early-exit can't fire in 10 iterations: the
# geometric contraction is 0.85^k, so deltas are ~0.2x scale at k=10.)


def _pagerank_unrolled_oracle(iters: int = 10) -> str:
    steps = ",\n".join(
        f"""r{k} AS MATERIALIZED (
  SELECT a.dst AS vertex, 0.15 + 0.85 * sum(p.rank * a.w) AS rank
  FROM r{k - 1} p JOIN aug a ON a.src = p.vertex
  GROUP BY a.dst
)"""
        for k in range(1, iters + 1)
    )
    return f"""
WITH
edges AS MATERIALIZED (
  SELECT DISTINCT l_suppkey::BIGINT AS src, (o_custkey + 1000000)::BIGINT AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
verts AS MATERIALIZED (
  SELECT src AS vertex FROM edges UNION SELECT dst FROM edges
),
degs AS MATERIALIZED (SELECT src AS vertex, count(*)::DOUBLE AS out_deg FROM edges GROUP BY src),
aug AS MATERIALIZED (
  SELECT e.src, e.dst, 1.0 / d.out_deg AS w
  FROM edges e JOIN degs d ON d.vertex = e.src
  UNION ALL
  SELECT vertex, vertex, 0.0 FROM verts
),
r0 AS MATERIALIZED (SELECT vertex, 1.0::DOUBLE AS rank FROM verts),
{steps}
SELECT vertex, round(rank, 4) AS rank FROM r{iters}
"""


_pagerank_oracle = _pagerank_unrolled_oracle(10)


@register("pagerank_trade_graph", oracle=_pagerank_oracle, tags=("extended",))
def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the supplier→customer trade graph (distinct
    (l_suppkey, o_custkey) pairs from lineitem⋈orders): power iteration
    with per-iteration checkpointed lineage — the reference's
    checkpointed-loop entry point (SURVEY §2.10 / entry point C) on a
    data-derived graph. Oracle: the same 10-iteration power method as a
    DuckDB recursive CTE (upgraded from rows-only per VERDICT r02 #7);
    golden-graph semantics additionally pinned in
    tests/test_examples_iterative.py."""
    from hpat_jl_spark.operators.iterative import pagerank

    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("l_suppkey").alias("src"),
            (F.col("o_custkey") + 1_000_000).alias("dst"),  # disjoint id spaces
        )
        .distinct()
    )
    ranks = pagerank(edges, max_iter=10)
    return ranks.select("vertex", F.round("rank", 4).alias("rank"))


_scd2_oracle = """
WITH dim AS (SELECT c_custkey AS cust, c_mktsegment AS seg,
                    0::BIGINT AS valid_from, NULL::BIGINT AS valid_to
             FROM customer),
upd AS (SELECT c_custkey AS cust,
               CASE WHEN c_acctbal > 8000 THEN 'PREMIUM'
                    ELSE c_mktsegment END AS seg,
               100::BIGINT AS ts
        FROM customer WHERE c_acctbal > 5000),
changed AS (SELECT d.cust, d.seg AS old_seg, u.seg AS new_seg, u.ts
            FROM dim d JOIN upd u USING (cust) WHERE d.seg <> u.seg)
SELECT cust, seg, valid_from, valid_to
FROM dim WHERE cust NOT IN (SELECT cust FROM changed)
UNION ALL SELECT cust, old_seg, 0::BIGINT, ts FROM changed
UNION ALL SELECT cust, new_seg, ts, NULL::BIGINT FROM changed
"""


@register("scd2_customer_segments", oracle=_scd2_oracle, tags=("extended",))
def scd2_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 merge on the customer dimension:
    rich customers (acctbal > 8000) move to a PREMIUM segment at t=100
    (closing their current version and opening a new one); mid-balance
    updates are identical snapshots (no-op path); everyone else
    survives untouched. One full-outer join on the key — the MERGE INTO
    shape without a transaction log. Golden unit test covers history
    passthrough and new-key inserts the fixture can't express."""
    from hpat_jl_spark.operators.relational import scd2_merge

    customer = load_table(spark, "customer", sf_dir)
    dim = customer.select(
        F.col("c_custkey").alias("cust"),
        F.col("c_mktsegment").alias("seg"),
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    updates = customer.filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("cust"),
        F.when(F.col("c_acctbal") > 8000, F.lit("PREMIUM"))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
        F.lit(100).cast("long").alias("effective_ts"),
    )
    return scd2_merge(dim, updates, "cust", ["seg"], "effective_ts")


_profile_oracle = """
SELECT 'o_totalprice' AS col, count(*)::BIGINT AS n,
       round(avg(o_totalprice), 4) AS mean,
       round(stddev_samp(o_totalprice), 4) AS std,
       round(min(o_totalprice), 2) AS min_v,
       round(max(o_totalprice), 2) AS max_v,
       count(*) FILTER (o_totalprice IS NULL)::BIGINT AS n_null
FROM orders
UNION ALL
SELECT 'c_acctbal', count(*)::BIGINT, round(avg(c_acctbal), 4),
       round(stddev_samp(c_acctbal), 4), round(min(c_acctbal), 2),
       round(max(c_acctbal), 2),
       count(*) FILTER (c_acctbal IS NULL)::BIGINT
FROM customer
"""


@register("profile_numeric_columns", oracle=_profile_oracle, tags=("extended",))
def profile_numeric_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling (the pre-training audit step): per-column
    count/mean/std/min/max/null-count as one partial+final aggregate
    per table — each profile row costs one scan regardless of how many
    statistics it carries, because every aggregate folds map-side."""
    def prof(df: DataFrame, col: str) -> DataFrame:
        return df.agg(
            F.lit(col).alias("col"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(col), 4).alias("mean"),
            F.round(F.stddev_samp(col), 4).alias("std"),
            F.round(F.min(col), 2).alias("min_v"),
            F.round(F.max(col), 2).alias("max_v"),
            F.count(F.when(F.col(col).isNull(), 1)).alias("n_null"),
        )

    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    return prof(orders, "o_totalprice").unionByName(prof(customer, "c_acctbal"))


_anomaly_oracle = """
WITH daily AS (SELECT date_trunc('day', ts) AS day, round(sum(value), 2) AS x
               FROM events GROUP BY 1),
stats AS (SELECT day, x,
                 avg(x) OVER w AS mu,
                 stddev_samp(x) OVER w AS sigma,
                 count(*) OVER w AS n_win
          FROM daily
          WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
SELECT day, x, round(mu, 4) AS mu,
       round((x - mu) / sigma, 4) AS z
FROM stats
WHERE n_win = 7 AND sigma > 0 AND abs((x - mu) / sigma) > 1.5
"""


@register("daily_anomalies", oracle=_anomaly_oracle, tags=("temporal", "extended"))
def daily_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each day's total against the
    mean/std of the PRECEDING 7 days (trailing frame excludes the
    current row — no self-contamination), flagging |z| > 1.5. One
    ordered window over the tiny daily aggregate; the raw fact table
    only feeds the first groupBy."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.round(F.sum("value"), 2).alias("x")
    )
    w = Window.orderBy("day").rowsBetween(-7, -1)
    stats = daily.select(
        "day",
        "x",
        F.avg("x").over(w).alias("mu"),
        F.stddev_samp("x").over(w).alias("sigma"),
        F.count(F.lit(1)).over(w).alias("n_win"),
    )
    z = (F.col("x") - F.col("mu")) / F.col("sigma")
    return (
        stats.filter((F.col("n_win") == 7) & (F.col("sigma") > 0) & (F.abs(z) > 1.5))
        .select("day", "x", F.round("mu", 4).alias("mu"), F.round(z, 4).alias("z"))
    )


_salted_join_oracle = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*)::BIGINT AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


@register("salted_skew_join", oracle=_salted_join_oracle, tags=("extended",))
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient replicated join (operators/skew.salted_join) as a
    registered query (VERDICT r01 #7 — the salted JOIN had tests but no
    driver row, unlike salted_aggregate): lineitem joined to supplier
    with the fact side salted into 16 buckets and the dimension
    replicated 16×, so one hot suppkey spreads over 16 reducers. The
    oracle is the plain equi-join — salting must be semantically
    invisible. The per-nation rollup keeps the output bounded."""
    from hpat_jl_spark.operators.skew import salted_join

    li = load_table(spark, "lineitem", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    supp = supplier.join(
        F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", "n_name")
    joined = salted_join(li, supp, "l_suppkey", "s_suppkey", salt_buckets=16)
    return (
        joined.groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "checkpointed_pagerank", oracle=_pagerank_oracle, tags=("extended", "iterative")
)
def checkpointed_pagerank_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's checkpoint/restart loop (reference
    src/HPAT.jl:246-275, src/checkpoint.jl:100-231) as a registered
    query: PageRank over the supplier→customer trade graph driven by
    operators/iterative.checkpointed_loop — rank state snapshots to
    durable storage mid-loop, and a rerun after a driver kill resumes
    from the last snapshot instead of iteration 0 (pinned by
    tests/test_checkpoint_restart.py). The snapshot dir is cleared
    first so each invocation is a fresh, deterministic run. Oracle:
    same recursive-CTE power iteration as pagerank_trade_graph — the
    checkpoint plumbing must be numerically invisible.

    The snapshot dir is SESSION-scoped (workdirs.session_workdir —
    VERDICT r09 #1: the old fixed /tmp name raced across concurrent
    engine sessions); cross-process resume remains the operator's
    contract, pinned with caller-owned paths in
    tests/test_checkpoint_restart.py."""
    import shutil

    from hpat_jl_spark.operators.iterative import checkpointed_pagerank
    from hpat_jl_spark.workdirs import session_workdir

    ckpt = os.path.join(session_workdir("ckpt_pagerank"), "state")
    shutil.rmtree(ckpt, ignore_errors=True)
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("l_suppkey").alias("src"),
            (F.col("o_custkey") + 1_000_000).alias("dst"),
        )
        .distinct()
    )
    ranks = checkpointed_pagerank(edges, ckpt, max_iter=10, snapshot_every=3)
    return ranks.select("vertex", F.round("rank", 4).alias("rank"))
