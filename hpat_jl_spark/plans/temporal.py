"""Temporal join plans: as-of join (oracle: DuckDB's native ASOF JOIN)
and banded range join (oracle: plain inequality join — exact same pair
set, different physical strategy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hpat_jl_spark.operators.asof import asof_join, banded_range_join
from hpat_jl_spark.operators.windowed import ewma_regular, resample_ffill
from hpat_jl_spark.registry import register
from hpat_jl_spark.tables import load_table

_asof_oracle = """
SELECT p.event_id,
       p.user_id,
       round(p.value, 2) AS purchase_value,
       round(v.value, 2) AS last_view_value,
       round((epoch_us(p.ts) - epoch_us(v.ts)) / 1000000.0, 3) AS secs_since_view
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND p.ts >= v.ts
"""


@register(
    "asof_join_views", oracle=_asof_oracle, tags=("temporal", "headline", "prepared")
)
def asof_join_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase matched to the user's most recent prior view —
    merge-asof via single shuffle + running last_value window
    (operators/asof.py), checked against DuckDB's native ASOF JOIN."""
    events = load_table(spark, "events", sf_dir)
    purchases = events.filter(F.col("event_type") == "purchase")
    views = events.filter(F.col("event_type") == "view")
    j = asof_join(purchases, views, on="ts", by="user_id",
                  right_value_cols=["value"])
    return j.select(
        "event_id",
        "user_id",
        F.round("value", 2).alias("purchase_value"),
        F.round("right_value", 2).alias("last_view_value"),
        F.round(
            (F.unix_micros("ts") - F.unix_micros("right_ts")) / 1_000_000.0, 3
        ).alias("secs_since_view"),
    )


# Tolerance = post-filter of the as-of match (the latest prior view
# either is within the window or there is no match at all), so the
# oracle is the same native ASOF JOIN with a CASE guard — identical tie
# behavior to asof_join_views.
_asof_tol_oracle = """
SELECT p.event_id,
       p.user_id,
       round(p.value, 2) AS purchase_value,
       round(CASE WHEN epoch_us(p.ts) - epoch_us(v.ts) <= 600000000
                  THEN v.value END, 2) AS last_view_value,
       round(CASE WHEN epoch_us(p.ts) - epoch_us(v.ts) <= 600000000
                  THEN (epoch_us(p.ts) - epoch_us(v.ts)) / 1000000.0
             END, 3) AS secs_since_view
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND p.ts >= v.ts
"""


@register("asof_join_tolerance", oracle=_asof_tol_oracle, tags=("temporal",))
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """asof_join's TOLERANCE path (pandas merge_asof tolerance=10min):
    the most recent prior view still counts only within 600 s; older
    matches null out while the purchase row survives (left semantics).
    Same single-shuffle running-window plan as asof_join_views — the
    tolerance is a row-local post-condition, not a second join."""
    events = load_table(spark, "events", sf_dir)
    purchases = events.filter(F.col("event_type") == "purchase")
    views = events.filter(F.col("event_type") == "view")
    j = asof_join(purchases, views, on="ts", by="user_id",
                  right_value_cols=["value"], tolerance_seconds=600)
    return j.select(
        "event_id",
        "user_id",
        F.round("value", 2).alias("purchase_value"),
        F.round("right_value", 2).alias("last_view_value"),
        F.round(
            (F.unix_micros("ts") - F.unix_micros("right_ts")) / 1_000_000.0, 3
        ).alias("secs_since_view"),
    )


_q03_oracle = """
SELECT p.event_id, p.user_id,
       count(v.v_ts) AS views_before,
       round(coalesce(sum(v.v_value), 0.0), 2) AS viewed_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT user_id AS v_user, ts AS v_ts, value AS v_value
           FROM events WHERE event_type = 'view') v
  ON p.user_id = v.v_user
 AND v.v_ts <= p.ts
 AND v.v_ts >= p.ts - INTERVAL 24 HOURS
GROUP BY p.event_id, p.user_id
"""


@register("q03_views_before_purchase", oracle=_q03_oracle, tags=("temporal", "bigbench"))
def q03_views_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BigBench Q03 analogue (reference examples/queries_devel/q03.jl,
    designed-only: items viewed in the session before each purchase):
    per purchase, the count and value of the user's views in the
    preceding 24 h — a batch time-range join (the streaming twin is
    streaming/windows.stream_stream_purchase_after_view).

    Scale: the join shuffles both sides once on user_id; the range
    predicate bounds the per-user pair fan-out by the 24 h window."""
    events = load_table(spark, "events", sf_dir)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("value").alias("v_value"),
    )
    j = purchases.join(
        views,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("ts"))
        & (F.col("v_ts") >= F.col("ts") - F.expr("INTERVAL 24 HOURS")),
        "left",
    )
    return j.groupBy("event_id", "user_id").agg(
        F.count("v_ts").alias("views_before"),
        F.round(F.coalesce(F.sum("v_value"), F.lit(0.0)), 2).alias("viewed_value"),
    )


_range_oracle = """
SELECT s.s_suppkey, c.c_custkey,
       round(s.s_acctbal - c.c_acctbal, 2) AS bal_gap
FROM supplier s JOIN customer c
  ON abs(s.s_acctbal - c.c_acctbal) <= 100.0
"""


@register("range_join_balance", oracle=_range_oracle, tags=("temporal",))
def range_join_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|s_acctbal - c_acctbal| <= 100 pairs via the banded range join
    (bucket equi-join + neighbor replication) — the pair set must equal
    the naive theta join the oracle runs."""
    supplier = load_table(spark, "supplier", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    j = banded_range_join(
        supplier.select("s_suppkey", "s_acctbal"),
        customer.select("c_custkey", "c_acctbal"),
        "s_acctbal",
        "c_acctbal",
        band_width=100.0,
    )
    return j.select(
        "s_suppkey",
        "c_custkey",
        F.round(F.col("s_acctbal") - F.col("c_acctbal"), 2).alias("bal_gap"),
    )


_funnel_oracle = """
WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
       JOIN s1 ON e.user_id = s1.user_id
       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
       JOIN s2 ON e.user_id = s2.user_id
       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
SELECT (SELECT count(*) FROM s1)::BIGINT AS n_view,
       (SELECT count(*) FROM s2)::BIGINT AS n_view_click,
       (SELECT count(*) FROM s3)::BIGINT AS n_view_click_purchase
"""


@register("funnel_conversion", oracle=_funnel_oracle, tags=("temporal",))
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel (view → click → purchase): a user advances
    a step only with a LATER event of the next type — the sequential
    dependency that makes this harder than three independent counts.

    Plan shape: each step is filter → per-user min-timestamp aggregate →
    join to the previous step's frontier. Every shuffle hashes on
    user_id (no cross-key repartitioning anywhere in the chain), and
    the per-step frontiers shrink monotonically — step N+1 joins only
    step-N survivors, so at scale the dominant cost is the first
    step's scan, not the chain."""
    ev = load_table(spark, "events", sf_dir)

    def step_after(prev: DataFrame, etype: str, t_prev: str, t_out: str) -> DataFrame:
        nxt = ev.filter(F.col("event_type") == etype).select("user_id", "ts")
        return (
            nxt.join(prev, "user_id")
            .filter(F.col("ts") > F.col(t_prev))
            .groupBy("user_id")
            .agg(F.min("ts").alias(t_out))
        )

    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = step_after(s1, "click", "t1", "t2")
    s3 = step_after(s2, "purchase", "t2", "t3")
    c1 = s1.agg(F.count(F.lit(1)).alias("n_view"))
    c2 = s2.agg(F.count(F.lit(1)).alias("n_view_click"))
    c3 = s3.agg(F.count(F.lit(1)).alias("n_view_click_purchase"))
    return c1.crossJoin(c2).crossJoin(c3)


_retention_oracle = """
WITH first AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
               FROM events GROUP BY user_id)
SELECT cohort_week,
       (date_diff('day', cohort_week, date_trunc('week', e.ts)) / 7)::INT
         AS week_offset,
       count(DISTINCT e.user_id)::BIGINT AS active_users
FROM events e JOIN first USING (user_id)
GROUP BY 1, 2
"""


@register("weekly_retention", oracle=_retention_oracle, tags=("temporal",))
def weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity week; for each
    (cohort, week-offset) the distinct active users. Two shuffles on
    user_id (first-week aggregate + attach), then one on the
    low-cardinality (cohort, offset) key; both engines truncate weeks
    to Monday so the offsets align exactly."""
    ev = load_table(spark, "events", sf_dir)
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    act = ev.join(first, "user_id").select(
        "user_id",
        "cohort_week",
        (
            F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week")) / 7
        ).cast("int").alias("week_offset"),
    )
    return act.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("user_id").alias("active_users")
    )


_resample_oracle = """
WITH span AS (SELECT date_trunc('day', min(ts)) AS d0,
                     date_trunc('day', max(ts)) AS d1 FROM events),
grid AS (
  SELECT u.user_id, unnest(generate_series(d0, d1, INTERVAL '1 day')) AS day
  FROM (SELECT DISTINCT user_id FROM events WHERE user_id < 20) u, span),
obs AS (SELECT user_id, date_trunc('day', ts) AS day,
               round(sum(value), 2) AS day_total
        FROM events WHERE user_id < 20 GROUP BY 1, 2)
SELECT g.user_id, g.day AS ts,
       last_value(o.day_total IGNORE NULLS)
         OVER (PARTITION BY g.user_id ORDER BY g.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.day = o.day
"""


@register("resample_daily_ffill", oracle=_resample_oracle, tags=("temporal",))
def resample_daily_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: per-user daily grid over the global
    event span with the last observed daily total carried across gaps
    (NULL before a user's first event). Exercises sequence+explode grid
    generation, a broadcast one-row span, and an ignore-nulls running
    window — the resample/ffill primitive every feature-engineering
    pipeline needs and the reference never had (its time axis was file
    row order, SURVEY §2.5)."""
    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 20)
    return resample_ffill(
        ev,
        key="user_id",
        ts_col="ts",
        value_col="value",
        value_agg=F.round(F.sum("value"), 2),
    )


_ewma_oracle = """
WITH obs AS (SELECT user_id, date_trunc('day', ts) AS day,
                    round(sum(value), 2) AS x
             FROM events WHERE user_id < 30 GROUP BY 1, 2),
idx AS (SELECT user_id, day, x,
               row_number() OVER (PARTITION BY user_id ORDER BY day) - 1 AS i,
               first_value(x) OVER (PARTITION BY user_id ORDER BY day) AS x0
        FROM obs),
z AS (SELECT *, sum(x / power(0.5, i))
               OVER (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zsum
      FROM idx)
SELECT user_id, day,
       floor(power(0.5, i) * (0.5 * (zsum - x0) + x0) * 10000) / 10000.0 AS ewma
FROM z
"""


@register("ewma_daily_value", oracle=_ewma_oracle, tags=("temporal",))
def ewma_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (α=0.5) of daily event-value totals — the linear
    recurrence y_t = 0.5·y_{t-1} + 0.5·x_t expressed as ONE windowed
    prefix sum via exponential rebasing (operators/windowed.ewma_regular)
    — no UDF, no sequential loop, fully partition-parallel on user_id.
    The oracle runs the identical closed form in DuckDB; equivalence to
    pandas ewm(adjust=False) is pinned in tests to 1e-9. α=0.5 keeps
    every rescale an exact power of two, so both engines execute
    bit-identical FP sequences (α=0.3 tripped last-ulp pow() divergence
    between JVM and libm at two rounding boundaries)."""
    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 30)
    # daily totals rounded to cents BEFORE the recurrence: float sums
    # differ across engines at ~1e-12 and the exponential rebasing
    # amplifies that past the output rounding boundary — identical
    # inputs keep the closed form engine-stable
    obs = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.round(F.sum("value"), 2).alias("x"))
    out = ewma_regular(obs, "user_id", "day", "x", alpha=0.5)
    # floor-quantize instead of round(): with α=0.5 both engines produce
    # BIT-IDENTICAL doubles, and floor/multiply/divide are exact IEEE ops
    # on identical inputs — while round() reinterprets decimally (Spark
    # BigDecimal HALF_UP vs DuckDB mul-round-div) and the cents-dyadic
    # values here land EXACTLY on .xxxx5 boundaries where those differ
    return out.select(
        "user_id", "day",
        (F.floor(F.col("ewma") * 10000) / 10000.0).alias("ewma"),
    )


_overlap_oracle = """
WITH ev AS (SELECT user_id, ts FROM events WHERE user_id < 12),
lagd AS (SELECT user_id, ts,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS brk
         FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sess AS (SELECT user_id, ts,
                sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
         FROM lagd),
bounds AS (SELECT user_id, sid, min(ts) AS s, max(ts) AS e
           FROM sess GROUP BY 1, 2)
SELECT a.user_id AS ua, b.user_id AS ub, count(*)::BIGINT AS n_overlaps
FROM bounds a JOIN bounds b
  ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
GROUP BY 1, 2
"""


@register("session_overlap_pairs", oracle=_overlap_oracle, tags=("temporal",))
def session_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrency analysis: count overlapping session pairs between
    every pair of users — sessionize (30-min gaps) then an interval
    OVERLAP join. The overlap join explodes each session into the
    1-hour buckets it spans and equi-joins on bucket id (operators/
    asof.interval_overlap_join) — overlapping intervals always share a
    bucket, so the candidate stream is bucket-local, never the
    sessions×sessions cross product the oracle's theta join spells."""
    from pyspark.sql import Window

    from hpat_jl_spark.operators.asof import interval_overlap_join

    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 12)
    w = Window.partitionBy("user_id").orderBy("ts")
    prev = F.lag("ts").over(w)
    brk = F.when(
        prev.isNull()
        | (F.unix_timestamp("ts") - F.unix_timestamp(prev) > 1800),
        1,
    ).otherwise(0)
    sess = ev.withColumn("brk", brk).withColumn(
        "sid",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    bounds = sess.groupBy("user_id", "sid").agg(
        F.unix_timestamp(F.min("ts")).cast("double").alias("s"),
        F.unix_timestamp(F.max("ts")).cast("double").alias("e"),
    )
    left = bounds.select(
        F.col("user_id").alias("ua"),
        F.col("sid").alias("sid_a"),
        F.col("s").alias("s_a"),
        F.col("e").alias("e_a"),
    )
    right = bounds.select(
        F.col("user_id").alias("ub"),
        F.col("sid").alias("sid_b"),
        F.col("s").alias("s_b"),
        F.col("e").alias("e_b"),
    )
    pairs = interval_overlap_join(
        left,
        right,
        "s_a",
        "e_a",
        "s_b",
        "e_b",
        bucket_width=3600.0,
        extra_cond=F.col("ua") < F.col("ub"),
        dedup_cols=("ua", "sid_a", "ub", "sid_b"),
    )
    return pairs.groupBy("ua", "ub").agg(F.count(F.lit(1)).alias("n_overlaps"))


_ts_sim_oracle = """
WITH span AS (SELECT date_trunc('day', min(ts)) AS d0,
                     date_trunc('day', max(ts)) AS d1 FROM events),
grid AS (
  SELECT u.user_id, unnest(generate_series(d0, d1, INTERVAL '1 day')) AS day
  FROM (SELECT DISTINCT user_id FROM events WHERE user_id < 20) u, span),
obs AS (SELECT user_id, date_trunc('day', ts) AS day,
               round(sum(value), 2) AS x
        FROM events WHERE user_id < 20 GROUP BY 1, 2),
filled AS (SELECT g.user_id, g.day, coalesce(o.x, 0.0) AS x
           FROM grid g LEFT JOIN obs o
             ON g.user_id = o.user_id AND g.day = o.day),
vec AS (SELECT user_id, array_agg(x ORDER BY day) AS v
        FROM filled GROUP BY user_id)
SELECT a.user_id AS ua, b.user_id AS ub,
       round(list_cosine_similarity(a.v, b.v), 4) AS cos_sim
FROM vec a JOIN vec b ON a.user_id < b.user_id
"""


@register("timeseries_similarity", oracle=_ts_sim_oracle, tags=("temporal", "similarity"))
def timeseries_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search: each user's activity becomes a
    fixed-length daily vector (global span, zero-filled gaps) and every
    user pair gets a cosine similarity — the distributed shape of
    behavioral-similarity search. Vector assembly is
    aggregate-then-sort (array_sort of (day, x) structs — no window,
    one shuffle per user); the pair scoring reuses the JVM-side
    sequential-fold cosine from the similarity module, so both engines
    traverse identical component orders and the scores align at 4 dp.
    Pair blow-up is bounded by the analyzed-user filter; at corpus
    scale the pair stage becomes an LSH/IVF candidate join exactly like
    document near-dup."""
    from hpat_jl_spark.functions.similarity import cosine

    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 20)
    span = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    days = span.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"), F.expr("interval 1 day"))).alias(
            "day"
        )
    )
    users = ev.select("user_id").distinct()
    grid = users.crossJoin(F.broadcast(days))
    obs = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.round(F.sum("value"), 2).alias("x"))
    filled = grid.join(obs, ["user_id", "day"], "left").select(
        "user_id", "day", F.coalesce(F.col("x"), F.lit(0.0)).alias("x")
    )
    vec = filled.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "x"))),
            lambda s: s.x,
        ).alias("v")
    )
    a = vec.select(F.col("user_id").alias("ua"), F.col("v").alias("va"))
    b = vec.select(F.col("user_id").alias("ub"), F.col("v").alias("vb"))
    pairs = a.join(b, F.col("ua") < F.col("ub"))
    return pairs.select(
        "ua", "ub", F.round(cosine(F.col("va"), F.col("vb")), 4).alias("cos_sim")
    )


_streaks_oracle = """
WITH days AS (
  SELECT DISTINCT user_id, ts::DATE AS day FROM events
), grp AS (
  SELECT user_id, day,
         day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                    AS INTEGER) AS island
  FROM days
), streaks AS (
  SELECT user_id, count(*)::BIGINT AS streak_days,
         min(day) AS streak_start, max(day) AS streak_end
  FROM grp GROUP BY user_id, island
)
SELECT user_id, streak_days, streak_start, streak_end
FROM streaks
ORDER BY streak_days DESC, user_id, streak_start
LIMIT 20
"""


@register("activity_streaks", oracle=_streaks_oracle, tags=("temporal",))
def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's maximal runs of consecutive active
    days (the canonical streak/uptime/retention primitive; the
    reference's ordered-window story — SURVEY §2.5 cumsum/stencil —
    composes into it, reference src/domain-pass.jl gives the 1-D
    ordered-distribution machinery).

    The classic trick: within a user, day minus row_number(day) is
    constant exactly along a run of consecutive days, so one
    user-partitioned window plus one (user, island) hash-agg finds every
    maximal run — no self-join, no iteration. Plan: distinct
    (user, day) prunes to at most span×users rows before the window;
    the window and the aggregate share the user_id shuffle key (the agg
    is partial-final, so the extra island column costs a map-side
    combine, not a second full shuffle of raw events). Top-20 longest
    with (streak_days desc, user_id, streak_start) total order."""
    events = load_table(spark, "events", sf_dir)
    days = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.withColumn(
        "island", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    streaks = grp.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).cast("bigint").alias("streak_days"),
        F.min("day").alias("streak_start"),
        F.max("day").alias("streak_end"),
    )
    return (
        streaks.select("user_id", "streak_days", "streak_start", "streak_end")
        .orderBy(F.desc("streak_days"), "user_id", "streak_start")
        .limit(20)
    )


# Rank-based ordinal symbols instead of z-normal breakpoints keep the
# discretization INTEGER-exact across engines (a z-score boundary at fp
# noise would flip a symbol and desync the candidate sets). Engine-sync
# hardening (ADVICE r03): days anchor at 1970-01-01 so they are
# non-negative for any realistic timestamp (Spark `div` truncates
# toward zero, DuckDB `//` floors — they only disagree below the
# anchor), seg division is an explicit floor on BOTH sides, and the
# word zero-pads seg to 4 digits (printf both sides) so Spark's
# lexicographic sort_array == DuckDB's numeric ORDER BY seg for any
# window up to seg 9999 (year 2106) — not just single-digit segs.
_sax_oracle = """
WITH daily AS (
  SELECT user_id, date_diff('day', DATE '1970-01-01', ts::DATE) AS day,
         avg(value) AS dv
  FROM events GROUP BY 1, 2
),
paa AS (
  SELECT user_id, CAST(floor(day / 5.0) AS BIGINT) AS seg, avg(dv) AS paa
  FROM daily GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY paa, seg) AS r
  FROM paa
),
symb AS (SELECT *, ((r - 1) * 3) // 6 AS sym FROM ranked),
words AS (
  SELECT user_id, string_agg(printf('%04d', seg) || ':' || sym, ';' ORDER BY seg)
           AS word
  FROM symb GROUP BY user_id
),
cands AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b
  FROM words a JOIN words b ON a.word = b.word AND a.user_id < b.user_id
)
SELECT c.user_a, c.user_b,
       round(sqrt(avg((pa.paa - pb.paa) ^ 2)), 3) AS paa_dist
FROM cands c
JOIN paa pa ON pa.user_id = c.user_a
JOIN paa pb ON pb.user_id = c.user_b AND pb.seg = pa.seg
GROUP BY 1, 2
"""


@register("sax_similarity_candidates", oracle=_sax_oracle, tags=("temporal", "similarity"))
def sax_similarity_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity at scale: SAX-style symbolic discretization
    (Lin, Keogh et al. 2003) with banding — the SCALE-PATH twin of the
    capped all-pairs `timeseries_similarity` demo. Each user's 30-day
    value series is piecewise-aggregated into 5-day segments (PAA), the
    segments are discretized to 3 ordinal symbols by within-user RANK
    (integer-exact — no z-score breakpoint fp risk), and users sharing
    the full symbolic word become candidates via one equi-self-join on
    the word. Exact PAA distance is then computed ONLY for candidates
    (zip_with over the aligned segment vectors, JVM-side).

    Scale shape: daily/PAA aggregation is two user-keyed shuffles; the
    word join is an equi-join on a low-cardinality key (90 distinct
    words for 6 segments x 3 symbols), NEVER an all-pairs product; the
    distance is row-local array math on 6-element vectors. At 100 TB
    the same plan holds with the word as the shuffle key; hot words
    (flat series) would take the same salting treatment as any skewed
    join key."""
    events = load_table(spark, "events", sf_dir)
    return _sax_candidates(events)


def _sax_candidates(events: DataFrame) -> DataFrame:
    """SAX kernel on a (user_id, ts, value) frame — split out so the
    planted test can drive it with >50-day windows (multi-digit segs)
    that the fixture never produces (ADVICE r03 hardening)."""
    daily = (
        events.select(
            "user_id",
            F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01"))).alias("day"),
            "value",
        )
        .groupBy("user_id", "day")
        .agg(F.avg("value").alias("dv"))
    )
    paa = daily.groupBy(
        "user_id", F.floor(F.col("day") / 5).cast("bigint").alias("seg")
    ).agg(F.avg("dv").alias("paa"))
    w = Window.partitionBy("user_id").orderBy("paa", "seg")
    symb = paa.withColumn("r", F.row_number().over(w)).withColumn(
        "sym", F.expr("((r - 1) * 3) div 6")
    )
    users = symb.groupBy("user_id").agg(
        F.concat_ws(
            ";",
            F.sort_array(
                F.collect_list(
                    F.concat_ws(
                        ":", F.format_string("%04d", F.col("seg")), F.col("sym")
                    )
                )
            ),
        ).alias("word"),
        F.array_sort(F.collect_list(F.struct("seg", "paa"))).alias("pv"),
    )
    a = users.select(
        F.col("user_id").alias("user_a"), "word", F.col("pv").alias("pv_a")
    )
    b = users.select(
        F.col("user_id").alias("user_b"), "word", F.col("pv").alias("pv_b")
    )
    cands = a.join(b, "word").filter(F.col("user_a") < F.col("user_b"))
    return cands.select(
        "user_a",
        "user_b",
        F.expr(
            "round(sqrt(aggregate(zip_with(pv_a, pv_b, "
            "(x, y) -> pow(x.paa - y.paa, 2D)), 0D, (acc, v) -> acc + v) "
            "/ size(pv_a)), 3)"
        ).alias("paa_dist"),
    )
