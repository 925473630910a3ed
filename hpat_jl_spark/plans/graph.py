"""Graph-analytics plans over data-derived graphs (companions to the
iterative layer's pagerank/connected-components, SURVEY §2.10). The
reference's graph story is its generic join/aggregate surface; these
show the same surface composing into the standard scalable graph
kernels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hpat_jl_spark.registry import register
from hpat_jl_spark.session import pinned_width
from hpat_jl_spark.tables import load_table


def _graph_width(spark: SparkSession, sf_dir: str) -> int:
    """Pinned exchange width for adjacency-carrying graph stages.

    The r9 pinned-width rule (q01_copurchase): every per-task working
    set downstream of a pinned exchange is corpus/width, so the width
    must scale with input bytes or a fixed-thread memory budget OOMs at
    amplified tiers — the g×100 probe measured exactly that (4 g OOMs
    all three kernels at the probes' width-128 ceiling, MEMORY_PROBE
    r10). Graph stages need a HIGHER cap than the relational 4×threads:
    the edge-iterator's dst-keyed exchange carries per-edge adjacency
    arrays whose stream is Θ(wedges) ≈ √m-amplified over the input
    bytes, so ~2 MB of input per partition is ~√m× that in flight.
    per_core_cap=16 lets the width reach 512 on a 32-thread box at the
    g×100 tier while small fixtures keep width = defaultParallelism
    (sf0.1: sized gives 8 < 32 — the sf0.1 plan shape is unchanged
    apart from the now-explicit exchange).

    Measured outcome (r11 g×100 back-to-back variants): the src pin is
    the win — triangle 445 s (no pin) → 224 s (src pin) at 32 g,
    445 → 290 s at 8 g — while a dst-side pin stacked on top measured
    STRICTLY slower (341/353 s) and a DISK_ONLY-persist variant OOM'd
    at 4 g identically to MEMORY_AND_DISK. Neither pin moves the 4 g
    floor: that death is a JVM-heap OOM in the shuffle-write stage
    (64 MB humongous pointer-array allocations across 32 concurrent
    tasks + GCLocker retry storms), not a divisible per-task data
    buffer. The 8 g/32-thread floor therefore stands as the honest
    graph-family number in CAPACITY.md: Θ(wedges) array bytes in
    flight need ~0.25 GB/core headroom at this tier regardless of
    exchange width."""
    return pinned_width(spark, sf_dir, per_core_cap=16)


def _copurchase_pairs(li: DataFrame) -> DataFrame:
    """Raw undirected co-purchase pair stream (u < v), one row per
    (order, pair): groupBy(order) collects the (bounded, ≤7 in TPC-H)
    part set and pairs are generated JVM-side from the sorted array —
    ONE order-keyed shuffle, no self-join."""
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    return per_order.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> "
                "transform(slice(ps, i + 2, size(ps) - i - 1), "
                "y -> struct(x AS u, y AS v))))"
            )
        ).alias("e")
    ).select("e.u", "e.v")


def _copurchase_edges(li: DataFrame) -> DataFrame:
    """Distinct undirected co-purchase edges (u < v): parts appearing in
    the same order are adjacent.

    Built from :func:`_copurchase_pairs` plus one distinct on the edge
    key. The earlier self-join formulation ((o,p) distinct → join on o
    → distinct) cost an extra full shuffle of the (order, part) stream
    and measured 2.3s vs 1.9s at sf0.1 — and at a 100 TB fact table
    that extra shuffle is the dominant cost, not the 20%.
    """
    return _copurchase_pairs(li).distinct()


_triangle_oracle = """
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
edges AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM op a JOIN op b ON a.o = b.o WHERE a.p < b.p
)
SELECT (SELECT count(DISTINCT x)::BIGINT
        FROM (SELECT u AS x FROM edges UNION SELECT v FROM edges)) AS n_nodes,
       (SELECT count(*)::BIGINT FROM edges) AS n_edges,
       (SELECT count(*)::BIGINT FROM (
          SELECT 1 FROM edges e1
          JOIN edges e2 ON e1.v = e2.u
          JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v)) AS n_triangles
"""


@register(
    "triangle_count", oracle=_triangle_oracle, tags=("graph", "headline", "prepared")
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the part co-purchase graph (parts appearing
    in the same order are adjacent) — the standard graph-cohesion
    kernel, as the degree-oriented EDGE-ITERATOR algorithm (Schank &
    Wagner 2005; MapReduce analysis in Suri & Vassilvitskii, WWW'11
    "Counting Triangles and the Curse of the Last Reducer").

    Orientation: every edge points from its (degree, id)-smaller
    endpoint to the larger one — a total order, so the oriented graph
    is a DAG, every triangle is counted exactly once, and out-degrees
    are bounded by O(sqrt(m)) regardless of hubs. Counting: per
    oriented edge (u,v), triangles through it = |N_out(u) ∩ N_out(v)|
    over sorted adjacency arrays — a JVM array_intersect per edge, so
    the O(m^1.5) wedge stream is never materialized as rows. The
    wedge-join formulation (materialize wedges, equi-join the closing
    edge) measured 10× slower at sf0.1 (14.9s vs ~1.5s compute) —
    rejected; the naive a<b orientation the (count-equivalent) oracle
    uses would additionally die on hub nodes at scale.

    Plan: per-order pair generation is array-local and bounded by
    order size (≤7 lineitems in TPC-H; see _copurchase_edges); degree
    join annotates both endpoints; one groupBy builds adjacency arrays
    (bounded by the orientation); two equi-joins attach them to edges.
    No Python, nothing quadratic in hubs, shuffles keyed on node ids
    only."""
    from pyspark import StorageLevel

    li = load_table(spark, "lineitem", sf_dir)
    edges = _copurchase_edges(li)
    # persist, not localCheckpoint (r5): the eager checkpoint was an
    # extra materialization JOB before the real one (2× wall-clock at
    # sf0.1 — 5.5s → 1.8s warm); a lazy persist fills during the single
    # composed job and ReusedExchange covers branches that share the
    # groupBy. No explicit unpersist (lazy-persist trap, CLAUDE.md) —
    # the CacheManager entry outlives the frame (r6 correction:
    # Dataset.persist is NOT GC-reclaimed); blocks evict LRU-to-disk
    # under pressure and harnesses clearCache between queries.
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)

    # degree: ONE pass over the cached edges (explode both endpoints),
    # not a unionAll of two scans — halves the edge cache reads (r6)
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    ann = edges.join(du, "u").join(dv, "v")
    # orient from (deg, id)-smaller to larger: a total order, so the
    # oriented graph is a DAG and every triangle has exactly one
    # out-degree-2 source node.
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # Pinned byte-sized width (r11, VERDICT r10 #3): the src exchange
    # is reused by the adjacency aggregate AND the first join (both
    # src-clustered, zero extra exchanges). A dst-side
    # repartition(width) was ALSO tried (divide the array-carrying
    # hop's per-task residency) and rejected on measurement: it did
    # not move the 4 g OOM (a JVM-heap death, not a divisible buffer),
    # and at g×100 the src-pin-only plan is the fastest of the three
    # variants measured back-to-back (src-pin 224 s / src+dst-pin
    # 341 s / no-pin 445 s at 32 g; 290/353/445 at 8 g).
    width = _graph_width(spark, sf_dir)
    oriented = (
        ann.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
        .repartition(width, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    # Edge-iterator: per oriented edge (u,v), triangles through it =
    # |N_out(u) ∩ N_out(v)|. Out-adjacency lists are bounded at
    # O(sqrt(m)) by the orientation, so each array_intersect is small
    # and JVM-side; the 35M-row wedge stream of the join formulation is
    # never materialized (measured 10× faster at sf0.1: 14.9s → below
    # 2s compute on local[32]). (r6 note: regenerating the edge stream
    # by exploding adj — edge+nbrs_u with no join — measured 2.5→3.4s:
    # the exploded rows materialize the full wedge bytes even without a
    # shuffle; the narrow-stream join is cheaper. Reverted.)
    adj = oriented.groupBy("src").agg(
        F.array_sort(F.collect_list("dst")).alias("nbrs")
    )
    au = adj.select(F.col("src").alias("src"), F.col("nbrs").alias("nbrs_u"))
    av = adj.select(F.col("src").alias("dst"), F.col("nbrs").alias("nbrs_v"))
    # LEFT joins keep every oriented edge in the stream (an edge whose
    # dst is a sink has no adjacency row), so ONE aggregate pass yields
    # both n_triangles and n_edges (r5, VERDICT r04 #2 — was a separate
    # count branch re-scanning the checkpoint). size() is NULL on a
    # missing adjacency under non-legacy semantics → coalesce to 0.
    tri = (
        oriented.join(au, "src", "left")
        .join(av, "dst", "left")
        .select(
            F.coalesce(
                F.size(F.array_intersect("nbrs_u", "nbrs_v")), F.lit(0)
            ).alias("c")
        )
        .agg(
            F.sum("c").cast("bigint").alias("n_triangles"),
            F.count(F.lit(1)).alias("n_edges"),
        )
    )
    # n_nodes = rows of the degree table (every endpoint of any edge
    # has a degree row) — reuses deg's exchange instead of a third
    # union-distinct scan of the checkpoint.
    nn = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    # two 1-row aggregates — crossJoin composes them lazily into one
    # DataFrame (no driver-side collect in the plan itself)
    return nn.crossJoin(tri.select("n_edges", "n_triangles"))


_clustering_oracle = """
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
edges AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM op a JOIN op b ON a.o = b.o WHERE a.p < b.p
), deg AS (
  SELECT n, count(*) AS d
  FROM (SELECT u AS n FROM edges UNION ALL SELECT v FROM edges) GROUP BY n
), tris AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1 JOIN edges e2 ON e1.v = e2.u
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
), pernode AS (
  SELECT n, count(*) AS n_tri
  FROM (SELECT a AS n FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris)
  GROUP BY n
)
SELECT d.n AS node, d.d::BIGINT AS degree,
       COALESCE(p.n_tri, 0)::BIGINT AS n_triangles,
       round(COALESCE(p.n_tri, 0) * 2.0 / (d.d * (d.d - 1)), 6) AS clustering
FROM deg d LEFT JOIN pernode p ON d.n = p.n
WHERE d.d >= 2
ORDER BY n_triangles DESC, node LIMIT 20
"""


@register("clustering_coefficient", oracle=_clustering_oracle, tags=("graph",))
def clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient (Watts-Strogatz 1998): per node,
    triangles through it / C(degree, 2) — the per-node companion to
    triangle_count; top-20 most-triangulated parts with deterministic
    (n_triangles desc, node) ordering.

    Plan: the same degree-oriented edge-iterator as triangle_count,
    but each matched triangle (u, v, w) is exploded as a single
    3-element array(src, dst, w) so all three corners are attributed
    in ONE pass over the join output (no per-corner union — Catalyst
    does no cross-branch CSE, and the r10 3-branch union re-ran the
    adjacency join per branch). The explode emits exactly 3 rows per
    triangle — output-linear, still no wedge materialization; per-node
    attribution adds one node-keyed shuffle.
    The id-ordered oracle enumerates each triangle once as a<b<c —
    count-equivalent to the orientation used here."""
    from pyspark import StorageLevel

    li = load_table(spark, "lineitem", sf_dir)
    # persist, not localCheckpoint — same reasoning as triangle_count
    edges = _copurchase_edges(li).persist(StorageLevel.MEMORY_AND_DISK)
    # degree: ONE pass over the cached edges (explode both endpoints),
    # not a unionAll of two scans — halves the edge cache reads (r6)
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    ann = edges.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # same pinned byte-sized src exchange as triangle_count (r11), but
    # clustering KEEPS the dst-side pin triangle dropped: without it
    # the g×100 8 g cell OOMs (the 3-corner explode downstream of the
    # second join holds more per-task state than triangle's scalar
    # intersect-sum, and the widened dst hop is what divides it);
    # with it, 8 g completes at ~322 s with graceful spill.
    width = _graph_width(spark, sf_dir)
    oriented = (
        ann.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
        .repartition(width, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    adj = oriented.groupBy("src").agg(
        F.array_sort(F.collect_list("dst")).alias("nbrs")
    )
    au = adj.select(F.col("src").alias("src"), F.col("nbrs").alias("nbrs_u"))
    av = adj.select(F.col("src").alias("dst"), F.col("nbrs").alias("nbrs_v"))
    closed = (
        oriented.join(au, "src")
        .repartition(width, "dst")
        .join(av, "dst")
        .select(
            "src",
            "dst",
            F.explode(F.array_intersect("nbrs_u", "nbrs_v")).alias("w"),
        )
    )
    # ONE pass over the closed-triangle stream: explode the 3-corner
    # array instead of unionAll-ing three projections — the union form
    # re-ran the array-payload join (oriented ⋈ au ⋈ av) once per
    # branch, and at the g×100 tier those three concurrent array-heavy
    # shuffle re-reads filled the disk (the r10 graph probe's first
    # real catch: same rows out, 3× the shuffle bytes).
    corners = closed.select(
        F.explode(F.array("src", "dst", "w")).alias("n")
    )
    pernode = corners.groupBy("n").agg(F.count(F.lit(1)).alias("n_tri"))
    out = (
        deg.join(pernode, "n", "left")
        .filter(F.col("d") >= 2)
        .select(
            F.col("n").alias("node"),
            F.col("d").cast("bigint").alias("degree"),
            F.coalesce("n_tri", F.lit(0)).cast("bigint").alias("n_triangles"),
            F.round(
                F.coalesce("n_tri", F.lit(0)) * 2.0 / (F.col("d") * (F.col("d") - 1)),
                6,
            ).alias("clustering"),
        )
    )
    return out.orderBy(F.desc("n_triangles"), "node").limit(20)


_link_pred_oracle = """
WITH cp AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), pdeg AS (
  SELECT p, count(*) AS dp FROM cp GROUP BY p
), centers AS (
  SELECT p, dp FROM pdeg WHERE dp BETWEEN 2 AND 256
), wedges AS (
  SELECT a.c AS u, b.c AS v, ctr.dp
  FROM centers ctr
  JOIN cp a ON a.p = ctr.p
  JOIN cp b ON b.p = ctr.p AND a.c < b.c
)
SELECT u, v, count(*)::BIGINT AS common_parts,
       round(sum(1.0 / ln(dp)), 6) AS adamic_adar
FROM wedges GROUP BY u, v
ORDER BY adamic_adar DESC, u, v LIMIT 20
"""


@register("link_prediction_customers", oracle=_link_pred_oracle, tags=("graph",))
def link_prediction_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction / collaborative-filtering similarity on the
    bipartite customer–part purchase graph: top customer pairs by
    Adamic-Adar (Adamic & Adar 2003) over shared parts — sum over
    common parts of 1/ln(part popularity), so rare co-purchases count
    more than ubiquitous ones. The "users with similar baskets" kernel
    behind people-also-bought recommendation and audience expansion.

    Plan: one distinct (customer, part) projection feeds both the
    part-degree aggregate and the wedge join; wedges are generated by
    two equi-joins on the part key (never a customer×customer cross),
    so per-part fan-out is C(dp, 2), explicitly bounded by the center
    filter 2 ≤ dp ≤ 256. The cap is a skew guard AND a signal
    statement: a part bought by thousands of customers contributes
    ≤ 1/ln(256) per pair while generating quadratic wedges — at 100 TB
    those hub centers are exactly the ones to drop (the same hub
    argument as triangle_count's degree orientation). Shuffles: one on
    the part key (degree + both wedge-join sides), one on (u, v) for
    the final partial-final hash agg; TakeOrdered caps driver traffic
    at 20 rows. Tiebreak (score desc, u, v) is a total order."""
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    cp = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        # persist, not localCheckpoint — reused 3× (degree + two wedge
        # sides) within the one composed job; the eager checkpoint was
        # an extra materialization job (triangle_count r5 measurement)
        .persist()
    )
    centers = (
        cp.groupBy("p")
        .agg(F.count(F.lit(1)).alias("dp"))
        .filter(F.col("dp").between(2, 256))
    )
    a = cp.select(F.col("p"), F.col("c").alias("u"))
    b = cp.select(F.col("p"), F.col("c").alias("v"))
    wedges = (
        centers.join(a, "p")
        .join(b, "p")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v", "dp")
    )
    scored = wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("common_parts"),
        F.round(F.sum(1.0 / F.log("dp")), 6).alias("adamic_adar"),
    )
    return scored.orderBy(F.desc("adamic_adar"), "u", "v").limit(20)


# Min-label propagation as a recursive CTE: 40 fixed rounds reach the
# fixpoint whenever every component's diameter is < 40 (the repeat-pair
# graph's giant component has diameter ~10); the Spark side early-stops
# at the same fixpoint, so fixed-vs-adaptive iteration counts agree.
# Self-loops keep isolated-in-round vertices alive through the GROUP BY.
_cc_oracle = """
WITH RECURSIVE
op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
edges AS MATERIALIZED (
  SELECT a.p AS u, b.p AS v
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING count(*) >= 2
),
verts AS MATERIALIZED (SELECT u AS vertex FROM edges UNION SELECT v FROM edges),
aug AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM edges
  UNION ALL SELECT v, u FROM edges
  UNION ALL SELECT vertex, vertex FROM verts
),
cc(iter, vertex, comp) AS (
  SELECT 0, vertex, vertex FROM verts
  UNION ALL
  SELECT c.iter + 1, a.dst, min(c.comp)
  FROM cc c JOIN aug a ON a.src = c.vertex
  WHERE c.iter < 40
  GROUP BY c.iter + 1, a.dst
)
SELECT vertex, comp AS component FROM cc WHERE iter = 40
"""


@register("connected_components_repeat_pairs", oracle=_cc_oracle, tags=("graph", "iterative"))
def connected_components_repeat_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via iterative min-label propagation
    (operators/iterative.connected_components — the reference's
    checkpointed-loop shape, SURVEY §2.10) on the REPEAT co-purchase
    graph: parts linked only when they co-occur in >= 2 orders, which
    fragments the otherwise-connected co-purchase graph into real
    components (9 at sf0.01). Full per-vertex labels are hash-checked
    against a DuckDB recursive-CTE twin of the same propagation — the
    first driver-gated oracle for the iterative-relational fixpoint
    itself (dedup_cluster pins it only via planted tests).

    Plan: pair stream from the per-order arrays (one shuffle), pair
    count >= 2 filter (second shuffle, keyed on the pair), then label
    propagation with per-iteration localCheckpoint lineage truncation;
    every iteration is one edge-keyed join + vertex-keyed min agg."""
    li = load_table(spark, "lineitem", sf_dir)
    edges = (
        _copurchase_pairs(li)
        .groupBy(F.col("u").alias("src"), F.col("v").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("src", "dst")
    )
    from hpat_jl_spark.operators.iterative import connected_components

    return connected_components(edges, max_iter=40)
