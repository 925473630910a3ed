"""Embedding-similarity query plans over the `embeddings` table
(array<float> column, 64-dim). Brute-force cosine top-k is the exact,
oracle-checked baseline; the LSH variant is the scale path, and since
round 4 it is ALSO fully oracle-gated — its hyperplane family is
portable integer arithmetic (functions/similarity.portable_plane_weights)
that DuckDB replays exactly, so the candidate set and ranking are
value-hash-checked, with recall vs brute force additionally asserted in
tests/test_similarity.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hpat_jl_spark.functions import similarity as S
from hpat_jl_spark.registry import register
from hpat_jl_spark.tables import load_table

_DIM = 64
_K = 5
_N_QUERIES = 8

_dot = "list_sum(list_transform(range(1, {d}), i -> {a}[i] * {b}[i]))"


def _cos_sql(a: str, b: str) -> str:
    d = _DIM + 1
    return (
        f"round({_dot.format(d=d, a=a, b=b)} / "
        f"(sqrt({_dot.format(d=d, a=a, b=a)}) * "
        f"sqrt({_dot.format(d=d, a=b, b=b)})), 6)"
    )


_knn_oracle = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {_N_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, e AS ce FROM v),
scored AS (
  SELECT query_id, neighbor_id, {_cos_sql('qe', 'ce')} AS cosine_sim
  FROM q, c WHERE neighbor_id <> query_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine_sim DESC, neighbor_id) AS knn_rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine_sim, knn_rank
FROM ranked WHERE knn_rank <= {_K}
"""


@register("knn_bruteforce", oracle=_knn_oracle, tags=("similarity", "headline"))
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast the query set, score every
    candidate partition-locally (codegen'd higher-order functions, no
    Python), per-query rank-limit. The only shuffle is the tiny
    per-query top-k merge."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    out = S.knn_bruteforce(queries, emb, k=_K)
    return out.select(
        "query_id", "neighbor_id", "cosine_sim", F.col("rank").alias("knn_rank")
    )


# Registered-variant threshold, fixture-tuned for GATE LIVENESS (late
# r6): the synthetic embeddings are near-isotropic (within-bucket max
# cosine ≈ 0.47 at sf0.01), so the production-style 0.9 made
# embedding_neardup AND embedding_dedup_clusters compare EMPTY result
# sets against their oracles every round — a hash match that could not
# catch a candidate/cluster bug. 0.4 yields a handful of pairs and
# clusters at every fixture scale, so the driver gate exercises the
# real pair → closure → summary path; the threshold is a parameter of
# the underlying kernels, and the high-threshold semantics stay pinned
# by the planted-duplicate tests (tests/test_similarity.py).
_NEARDUP_THRESHOLD = 0.4

_neardup_oracle = f"""
WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_cos_sql('a.e', 'b.e')} AS cosine_sim
  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine_sim FROM scored
WHERE cosine_sim > {_NEARDUP_THRESHOLD}
"""


@register(
    "embedding_neardup",
    oracle=_neardup_oracle,
    tags=("similarity", "dedup", "headline", "prepared"),
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, bucketed by label so the
    pair space is bounded (the label plays the role an IVF/LSH bucket
    plays at 100 TB)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return S.neardup_pairs(
        emb, bucket_col="label", threshold=_NEARDUP_THRESHOLD
    ).select("id_a", "id_b", "cosine_sim")


# SemDeDup-shaped transitive clusters over the SAME pair CTE as the
# embedding_neardup oracle, closed with the recursive-CTE min-label
# fixpoint (the graph.py / dedup_cluster pattern). 40 rounds >> the
# diameter of cosine-0.9 near-dup clusters.
_emb_cluster_oracle = f"""
WITH RECURSIVE
v AS MATERIALIZED (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
strong AS MATERIALIZED (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE {_cos_sql('a.e', 'b.e')} > {_NEARDUP_THRESHOLD}
),
verts AS MATERIALIZED (SELECT id_a AS vertex FROM strong UNION SELECT id_b FROM strong),
aug AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM strong
  UNION ALL SELECT id_b, id_a FROM strong
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
SELECT comp AS canonical_id,
       count(*)::BIGINT AS cluster_size
FROM cc WHERE iter = 40
GROUP BY comp
"""


@register(
    "embedding_dedup_clusters",
    oracle=_emb_cluster_oracle,
    tags=("similarity", "dedup", "iterative", "headline"),
)
def embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) shape: embedding-cosine near-dup
    pairs within a bucket → transitive closure → keep ONE canonical
    per semantic cluster (min id) — the embedding-space twin of
    dedup_cluster's shingle-space clustering. Cluster membership
    includes every vertex touched by a pair (size ≥ 2 by construction).

    Physical shape (late r6 — the distinct-signature discipline from
    minhash/simhash applied to embeddings): the per-bucket gram kernel
    is O(n²) FLOPs in bucket size, so verbatim duplicate vectors make
    it quadratic in duplicate multiplicity (the ×10 tier's 10-way
    replicas measured the worst growth in SCALING.md, 5.7×/decade).
    Identical vectors have cosine exactly 1.0 — they pair with each
    other and share every cross neighbor — so the kernel runs over one
    REPRESENTATIVE per distinct (bucket, vector) and the copies rejoin
    as rep→copy STAR edges, which give the connected components the
    same vertex set and connectivity as the full pair clique at O(n)
    instead of O(n²) edges. Zero vectors are excluded from stars: the
    kernel's zero-norm guard scores them 0 everywhere (never > θ), so
    their copies must not link either. The oracle replays the FULL
    pair set + recursive-CTE fixpoint, which gates the equivalence.

    Scale: rep pairs come from the bucketed gram kernel over distinct
    content only (never all-pairs, never duplicate-inflated); the CC
    iterates over the edges only (operators/iterative —
    lineage-truncated per round); the summary is one aggregate."""
    emb = load_table(spark, "embeddings", sf_dir)
    comp = semantic_dedup_components(emb)
    return comp.groupBy(F.col("component").alias("canonical_id")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )


def semantic_dedup_components(emb: DataFrame) -> DataFrame:
    """(vertex, component) for every vector in a >θ-cosine near-dup
    cluster, via rep-level gram kernel + star expansion — the body of
    embedding_dedup_clusters (see its docstring for the equivalence
    argument); split out so planted-duplicate tests can drive it with
    a constructed frame. Expects columns (label, vec_id, embedding).

    r12, in two steps. First the fixpoint moved to REP-level pairs
    with star copies attached post-hoc (the distinct-content
    discipline applied to the ITERATION: a cluster's min vertex is
    always a rep, since the rep is the min vec_id of its (label, fp)
    group — ×100 wall 14.9 → 9.5 s). Then the fixpoint was removed
    entirely: every edge here — gram-kernel pair or star — lives
    inside ONE label bucket by construction, so the components
    decompose per bucket and operators/iterative.bucketed_components
    computes them in a single shuffle + Arrow union-find kernel. The
    ~20 sequential propagation rounds (one Spark action each) that
    profiled as the structural wall at every tier rediscovered a
    partition the bucketing already proves. The general fixpoint
    remains for genuinely cross-bucket graphs (shingle-band clusters,
    repeat-pair CC)."""
    from pyspark import StorageLevel

    from hpat_jl_spark.operators.iterative import bucketed_components

    base = emb.select(
        "label",
        "vec_id",
        "embedding",
        F.md5(F.to_json(F.struct("embedding"))).alias("fp"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    grp = base.groupBy("label", "fp").agg(
        F.min(F.struct("vec_id", "embedding")).alias("r")
    )
    reps = grp.select(
        "label",
        F.col("r.vec_id").alias("vec_id"),
        F.col("r.embedding").alias("embedding"),
    )
    rep_pairs = S.neardup_pairs(
        reps, bucket_col="label", threshold=_NEARDUP_THRESHOLD,
        keep_bucket=True,
    ).select("label", "id_a", "id_b")
    stars = (
        base.select("label", "fp", "vec_id")
        .join(
            grp.select(
                "label",
                "fp",
                F.col("r.vec_id").alias("rep_id"),
                F.exists("r.embedding", lambda x: x != 0).alias("nonzero"),
            ),
            ["label", "fp"],
        )
        .filter(F.col("nonzero") & (F.col("vec_id") != F.col("rep_id")))
        .select(
            "label",
            F.col("rep_id").alias("id_a"),
            F.col("vec_id").alias("id_b"),
        )
    )
    # membership = every vertex touched by a pair OR a star edge; the
    # union feeds one per-bucket union-find (edges never cross labels).
    return bucketed_components(
        rep_pairs.unionByName(stars), "label", "id_a", "id_b"
    )


@register("knn_ivf", oracle=None, tags=("similarity",))
def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via IVF cells (KMeans coarse quantizer +
    n_probe nearest cells per query) — the storage-partitionable ANN
    path. Rows-only check (float k-means++ fit has no SQL twin; see
    knn_ivf_portable below for the hash-gated variant); twin-retrieval
    and recall pinned in tests/test_similarity.py."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    out = S.knn_ivf(
        queries, emb, k=_K, n_centroids=8, n_probe=3, fit_sample=0.25
    )
    return out.select(
        "query_id", "neighbor_id", "cosine_sim", F.col("rank").alias("knn_rank")
    )


# ---- hash-gated IVF: portable integer coarse quantizer ----
# The rows-only knn_ivf's quantizer is a float k-means++ fit no other
# engine can replay. This variant makes every stage exact and
# replayable: (1) embeddings project to 2-D int64 coordinates via two
# md5-derived integer planes (same family as knn_lsh's buckets);
# (2) the coarse quantizer is fixed-point Lloyd on those coordinates
# (integer centroids via floor division, int64 argmin, index tiebreak —
# the kmeans_lloyd_exact recipe); (3) each query probes its n_probe
# nearest cells; (4) candidates in probed cells get exact cosine + rank.
# DuckDB replays all four stages, so the driver value-hash gates a
# complete ANN index pipeline: fit → assign → probe → score.
_IVF_CELLS = 8
_IVF_PROBE = 3
_IVF_ITERS = 2
# init centroids on a ring matched to the projection magnitude
# (|proj| std ≈ 2.4e6 for unit-ish 64-dim embeddings × 8-bit planes)
_IVF_INIT = [
    (2_500_000, 0), (1_800_000, 1_800_000), (0, 2_500_000),
    (-1_800_000, 1_800_000), (-2_500_000, 0), (-1_800_000, -1_800_000),
    (0, -2_500_000), (1_800_000, -1_800_000),
]
_IVF_PLANES = S.portable_plane_weights(_DIM, 2, seed=7)


def _ivf_proj_sql(e: str) -> list[str]:
    out = []
    for row in _IVF_PLANES:
        lits = "[" + ", ".join(str(int(x)) for x in row) + "]"
        out.append(
            f"list_sum(list_transform(range(1, {_DIM + 1}), "
            f"i -> floor({e}[i] * {S.LSH_QUANT})::BIGINT * ({lits})[i]))"
        )
    return out


def _ivf_oracle() -> str:
    px, py = _ivf_proj_sql("e")
    init_vals = ", ".join(
        f"({j}, {cx}, {cy})" for j, (cx, cy) in enumerate(_IVF_INIT)
    )
    d = "(px - cx)*(px - cx) + (py - cy)*(py - cy)"
    sql = f"""WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), p AS (
  SELECT vec_id, e, {px} AS px, {py} AS py FROM v
), c0(j, cx, cy) AS (VALUES {init_vals})"""
    prev = "c0"
    for t in range(1, _IVF_ITERS + 1):
        sql += f""",
a{t} AS (
  SELECT vec_id, px, py, j, row_number() OVER (
      PARTITION BY vec_id ORDER BY {d}, j) AS rn
  FROM p CROSS JOIN {prev}
),
g{t} AS (SELECT j, count(*)::BIGINT AS n, sum(px)::BIGINT AS sx,
                sum(py)::BIGINT AS sy
         FROM a{t} WHERE rn = 1 GROUP BY j),
c{t}(j, cx, cy) AS (
  -- exact FLOOR division for either sign (DuckDB // truncates toward
  -- zero; python's // floors): subtract the floor-mod first so the
  -- numerator is an exact multiple and direction can't matter
  SELECT {prev}.j,
         CASE WHEN g{t}.n > 0
              THEN (g{t}.sx - (((g{t}.sx % g{t}.n) + g{t}.n) % g{t}.n)) // g{t}.n
              ELSE {prev}.cx END,
         CASE WHEN g{t}.n > 0
              THEN (g{t}.sy - (((g{t}.sy % g{t}.n) + g{t}.n) % g{t}.n)) // g{t}.n
              ELSE {prev}.cy END
  FROM {prev} LEFT JOIN g{t} USING (j)
)"""
        prev = f"c{t}"
    sql += f""",
cells AS (
  SELECT vec_id, j AS cell FROM (
    SELECT vec_id, j, row_number() OVER (
        PARTITION BY vec_id ORDER BY {d}, j) AS rn
    FROM p CROSS JOIN {prev}) WHERE rn = 1
),
probe AS (
  SELECT vec_id AS query_id, j AS cell FROM (
    SELECT p.vec_id, j, row_number() OVER (
        PARTITION BY p.vec_id ORDER BY {d}, j) AS rn
    FROM p CROSS JOIN {prev} WHERE p.vec_id < {_N_QUERIES})
  WHERE rn <= {_IVF_PROBE}
),
scored AS (
  SELECT probe.query_id, cells.vec_id AS neighbor_id,
         {_cos_sql('q.e', 'c.e')} AS cosine_sim
  FROM probe
  JOIN cells USING (cell)
  JOIN v q ON q.vec_id = probe.query_id
  JOIN v c ON c.vec_id = cells.vec_id
  WHERE cells.vec_id <> probe.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine_sim DESC, neighbor_id) AS knn_rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine_sim, knn_rank
FROM ranked WHERE knn_rank <= {_K}
"""
    return sql


def _ivf_proj_cols():
    """(px, py) codegen expressions over the embedding column."""
    import hpat_jl_spark.functions.similarity as sim

    out = []
    for row in _IVF_PLANES:
        q = F.transform(
            F.col("embedding"),
            lambda v: F.floor(v.cast("double") * sim.LSH_QUANT).cast("long"),
        )
        w = F.array(*[F.lit(int(x)).cast("long") for x in row])
        out.append(
            F.aggregate(
                F.zip_with(q, w, lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
        )
    return out


def _ivf_cell_expr(cents: list[tuple[int, int]], px, py):
    """Int64 argmin over centroid distances, lowest index on ties."""
    dists = [
        (px - F.lit(cx)) * (px - F.lit(cx)) + (py - F.lit(cy)) * (py - F.lit(cy))
        for cx, cy in cents
    ]
    best, bestd = F.lit(0), dists[0]
    for j in range(1, len(dists)):
        closer = dists[j] < bestd
        best = F.when(closer, F.lit(j)).otherwise(best)
        bestd = F.when(closer, dists[j]).otherwise(bestd)
    return best


def _ivf_project_arrow(emb):
    """(vec_id, embedding, px, py) via an Arrow kernel — bit-identical
    to _ivf_proj_cols (floor(v·2^15) quantize is a deterministic IEEE
    double multiply; the plane dot is exact int64 matmul) without the
    2-plane × 64-literal fold's whole-stage-codegen compile cost (the
    lsh_buckets_arrow rationale, functions/similarity.py)."""
    import numpy as np

    W = np.array(_IVF_PLANES, dtype=np.int64)  # (2, 64)

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            M = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            Q = np.floor(M * S.LSH_QUANT).astype(np.int64)
            D = Q @ W.T  # (n, 2), exact
            out = pdf[["vec_id", "embedding"]].copy()
            out["px"] = D[:, 0]
            out["py"] = D[:, 1]
            yield out

    return emb.select("vec_id", "embedding").mapInPandas(
        kernel, "vec_id long, embedding array<float>, px long, py long"
    )


def _ivf_fit(spark: SparkSession, sf_dir: str):
    """Shared portable-IVF coarse-quantizer fit: integer projections,
    then the fixed-point Lloyd rounds driver-side in exact int64 numpy
    over the collected (px, py) projection. The collect here is the
    FULL fixture BY DESIGN (ADVICE r06): the oracle replays the Lloyd
    fit over the same full projection, so any sample cap must be
    mirrored on both sides — at 100 TB the deployment would cap both
    (fit on a hashed sample, like knn_ivf's float fit caps at 100k at
    functions/similarity.py), but the gated twin keeps full-fixture
    parity because the fixture projection is 2 int64 columns (~16 B/row;
    ~100 MB even at the ×100 tier), far below driver memory.
    Per-iteration Spark jobs over the same cached rows were pure
    scheduling overhead (VERDICT r05 #2; the kmeans_lloyd_exact
    rationale). np.argmin's first-min tiebreak ==
    the oracle's ORDER BY d, j; python // floors possibly-negative
    sums, matching the oracle's floor-mod-subtract division. Returns
    (persisted projection frame, final centroid list, bounded query
    rows) — used by both the in-memory knn_ivf_portable and the
    storage-backed knn_ivf_persisted, which must agree exactly.

    r13 (VERDICT r12 #4): the fit collect and the bounded query-row
    collect share ONE action — both queries previously ran a second
    8-row collect off the cache, a whole extra job (+ its inter-job
    gap, ~0.35 s of the profiled 1.5 s wall) for rows the fit action
    already streams past. The embedding column rides along only for
    vec_id < _N_QUERIES (a when(); nulls elsewhere cost an offsets
    array), so the collect stays ~2 int64 columns wide."""
    import numpy as np

    emb = load_table(spark, "embeddings", sf_dir)
    proj = _ivf_project_arrow(emb).persist()
    # ONE collect: fit projection + query rows; also fills proj's cache
    fit = proj.select(
        "vec_id",
        "px",
        "py",
        F.when(F.col("vec_id") < _N_QUERIES, F.col("embedding")).alias("q_emb"),
    ).toPandas()
    PX = fit["px"].to_numpy(dtype=np.int64)
    PY = fit["py"].to_numpy(dtype=np.int64)
    cents = list(_IVF_INIT)
    for _ in range(_IVF_ITERS):
        C = np.asarray(cents, dtype=np.int64)  # (K, 2)
        d = (PX[:, None] - C[:, 0]) ** 2 + (PY[:, None] - C[:, 1]) ** 2
        a = np.argmin(d, axis=1)
        new_cents = []
        for j, old in enumerate(cents):
            m = a == j
            n = int(m.sum())
            if n > 0:
                new_cents.append(
                    (int(PX[m].sum()) // n, int(PY[m].sum()) // n)
                )
            else:
                new_cents.append(old)
        cents = new_cents
    qf = fit[fit["vec_id"] < _N_QUERIES]
    q_rows = [
        (
            int(r.vec_id),
            [float(x) for x in r.q_emb],
            int(r.px),
            int(r.py),
        )
        for r in qf.itertuples()
    ]
    return proj, cents, q_rows


def _ivf_probe_frame(spark: SparkSession, cents, q_rows):
    """Driver-side probe rows (query_id, q_vec, cell) — the n_probe
    nearest cells per bounded query row, exact integer centroid
    distances with the same (distance, index) tiebreak as the oracle's
    row_number ORDER BY d, j. Shared by both IVF queries (r13: was
    duplicated verbatim in each)."""
    probes = []
    for vec_id, emb_list, px, py in q_rows:
        ranked = sorted(
            ((px - cx) ** 2 + (py - cy) ** 2, j)
            for j, (cx, cy) in enumerate(cents)
        )
        for _, j in ranked[:_IVF_PROBE]:
            probes.append((vec_id, emb_list, int(j)))
    return probes, spark.createDataFrame(
        probes, "query_id long, q_vec array<float>, cell int"
    )


@register("knn_ivf_portable", oracle=_ivf_oracle(), tags=("similarity", "headline"))
def knn_ivf_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with every stage hash-gated (see module comment above):
    integer-projection coarse quantizer fit by fixed-point Lloyd, probe
    of the n_probe nearest cells, exact cosine + rank on candidates.

    Scale shape: the fit iterates a K-row collect over the (projected)
    corpus — at 100 TB you fit on a capped sample exactly like knn_ivf
    does (the quantizer is a model, not a query); assignment and
    scoring are one cell-keyed equi-join each, candidates never leave
    their cell, and the scoring fold is codegen'd Column math — the
    whole query plan is UDF-free."""
    from pyspark.sql import Window

    proj, cents, q_rows = _ivf_fit(spark, sf_dir)
    cells = proj.select(
        "vec_id",
        "embedding",
        _ivf_cell_expr(cents, F.col("px"), F.col("py")).alias("cell"),
    )
    # r12: probe computed DRIVER-side from the bounded query rows —
    # exactly knn_ivf_persisted's shape. The previous crossJoin +
    # window probe subtree read the proj cache through its own
    # exchange + broadcast-materialization jobs (profiled: 6 jobs with
    # 1.08 s of inter-job gaps against 0.73 s in-jobs at sf0.1); the
    # query rows now arrive with the fit collect (ONE action, r13) and
    # a local-relation broadcast replaces all of it. Same (distance,
    # index) tiebreak as the window's orderBy(dist, j), so the probe
    # set is identical.
    _, probe = _ivf_probe_frame(spark, cents, q_rows)
    # no explicit unpersist: cells is lazy and still reads proj's
    # cache when the returned frame executes (an unpersist here would
    # beat it to it); reclaim is eviction/clearCache, not GC (r6)
    cand = (
        cells.join(F.broadcast(probe), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(S.cosine(F.col("q_vec"), F.col("embedding")), 6).alias(
                "cosine_sim"
            ),
        )
    )
    wrank = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("knn_rank", F.row_number().over(wrank))
        .filter(F.col("knn_rank") <= _K)
        .select("query_id", "neighbor_id", "cosine_sim", "knn_rank")
    )


@register("knn_ivf_persisted", oracle=_ivf_oracle(), tags=("similarity", "headline"))
def knn_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-index IVF path end-to-end under the SAME oracle as
    knn_ivf_portable (VERDICT r04 #7): fit the portable quantizer,
    WRITE the cell assignments as a hive-partitioned parquet index
    (partitionBy cell), probe by reading back ONLY the probed
    partitions (`cell IN (...)` becomes PartitionFilters — directories
    outside the probe set are never listed or read; asserted in
    tests/test_similarity.py), then score the candidates with the
    codegen'd cosine fold. The value hash proves storage-layer pruning
    returns answers identical to the in-memory path and to DuckDB.

    Scale shape: this IS the 100 TB deployment — the index write is
    one partitioned shuffle-free pass, and every later query touches
    n_probe directories, not the corpus."""
    from pyspark.sql import Window

    proj, cents, q_rows = _ivf_fit(spark, sf_dir)
    cells = proj.select(
        "vec_id",
        "embedding",
        _ivf_cell_expr(cents, F.col("px"), F.col("py")).alias("cell"),
    )
    # Session-scoped per-corpus path (VERDICT r09 #1 — the fixed
    # per-user name raced across two concurrent engine sessions
    # overwrite-writing the same corpus key): workdirs.session_workdir
    # keys by (0700-verified user parent, realpath(sf_dir), a
    # per-process token) and memoizes within the process, so bench
    # reps / repeated invocations still reuse ONE directory per corpus
    # (the r05 leak fix — the dir is also removed atexit now), two
    # corpus spellings share (ADVICE r06), and two sessions never
    # collide. The index write happens every invocation regardless
    # (it IS part of the measured query), so dropping cross-process
    # reuse costs nothing.
    from hpat_jl_spark.workdirs import session_workdir

    path = os.path.join(session_workdir("ivf_index", corpus=sf_dir), "index")
    cells.write.mode("overwrite").partitionBy("cell").parquet(path)

    # Driver-side probe from the (bounded) query rows, which arrive
    # with the fit collect (ONE action, r13): exact integer centroid
    # distances with the same (distance, index) tiebreak as the
    # oracle's row_number ORDER BY d, j.
    probes, probe = _ivf_probe_frame(spark, cents, q_rows)
    probed_cells = sorted({p[2] for p in probes})
    # r12: pass the writer's schema explicitly — schema inference on
    # the partitioned read-back paid a footer-sampling job plus the
    # partition-column type discovery every invocation (~80-110 ms of
    # the profiled 1.3 s inter-job gap budget); the index layout is
    # ours, so the schema is known statically.
    data = (
        spark.read.schema(cells.schema)
        .parquet(path)
        .filter(F.col("cell").isin(probed_cells))
    )
    cand = (
        data.join(F.broadcast(probe), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(S.cosine(F.col("q_vec"), F.col("embedding")), 6).alias(
                "cosine_sim"
            ),
        )
    )
    wrank = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("knn_rank", F.row_number().over(wrank))
        .filter(F.col("knn_rank") <= _K)
        .select("query_id", "neighbor_id", "cosine_sim", "knn_rank")
    )


# knn_lsh oracle: replay the PORTABLE bucket function (integer-quantized
# components × md5-derived integer plane weights — functions/similarity.
# lsh_bucket_sql inlines the same literals lsh_bucket_expr compiles), so
# DuckDB reproduces the candidate set EXACTLY, then scores/ranks it with
# the same cosine arithmetic as the brute-force oracle. This upgraded
# knn_lsh from rows-only (r1-r3: gaussian planes from a numpy RNG no
# other engine could replay) to a full value-hash gate.
_LSH_PLANES = 3
_lsh_bucket = S.lsh_bucket_sql("e", S.portable_plane_weights(_DIM, _LSH_PLANES))

_knn_lsh_oracle = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
b AS (SELECT vec_id, e, {_lsh_bucket} AS bucket FROM v),
q AS (SELECT vec_id AS query_id, e AS qe, bucket FROM b
      WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT query_id, c.vec_id AS neighbor_id, {_cos_sql('qe', 'c.e')} AS cosine_sim
  FROM q JOIN b c USING (bucket) WHERE c.vec_id <> query_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine_sim DESC, neighbor_id) AS knn_rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine_sim, knn_rank
FROM ranked WHERE knn_rank <= {_K}
"""


@register(
    "knn_lsh", oracle=_knn_lsh_oracle, tags=("similarity", "headline", "prepared")
)
def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH bucketing — the
    candidate join shuffles on bucket key instead of cross-joining.
    Fully oracle-gated since round 4: the bucket function is exact
    integer arithmetic both engines compute identically (see
    functions/similarity.lsh_buckets), so the oracle replays candidate
    generation AND ranking; recall vs the exact baseline is additionally
    asserted in tests/test_similarity.py."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    # 3 planes = 8 buckets: the fixture embeddings are near-isotropic
    # noise (top-5 cosine ≈ 0.37), so recall needs generous buckets;
    # clustered real-world embeddings support far more planes.
    # score='fold' (r5, ADVICE r04): the gated query scores with the
    # SAME codegen'd left-fold the oracle executes, so a 6dp-rounded
    # score cannot flip cross-engine on a last-ulp boundary; it is also
    # one declarative job (no driver collect / Arrow exchange), which
    # recovered the r3→r4 bench regression on this query.
    out = S.knn_lsh(queries, emb, k=_K, num_planes=3, dim=_DIM, score="fold")
    return out.select(
        "query_id", "neighbor_id", "cosine_sim", F.col("rank").alias("knn_rank")
    )


_centroid_oracle = """
WITH ex AS (
  SELECT label, vec_id, unnest(embedding)::DOUBLE AS val,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings),
cent AS (SELECT label, pos, avg(val) AS cval FROM ex GROUP BY 1, 2),
cnorm AS (SELECT label, sqrt(sum(cval * cval)) AS cn FROM cent GROUP BY 1),
pv AS (SELECT e.label, e.vec_id, sum(e.val * c.cval) AS dot,
              sqrt(sum(e.val * e.val)) AS vn
       FROM ex e JOIN cent c ON e.label = c.label AND e.pos = c.pos
       GROUP BY 1, 2)
SELECT pv.label, count(*)::BIGINT AS n_vecs,
       round(max(cn), 6) AS centroid_norm,
       round(avg(dot / (vn * cn)), 6) AS mean_cos_to_centroid
FROM pv JOIN cnorm ON pv.label = cnorm.label
GROUP BY pv.label
"""


@register("embedding_centroids", oracle=_centroid_oracle, tags=("similarity",))
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed per-label centroid + intra-class cohesion (mean
    cosine of members to their centroid) — the embedding-quality probe
    run before training on a corpus.

    Scale shape: posexplode to (label, vec_id, pos, val) — 64× the rows
    but only 4 narrow columns — then per-(label, pos) partial+final avg
    gives the centroid WITHOUT collecting vectors to the driver; the
    member-to-centroid dot products are a (label, pos) equi-join (the
    centroid side is dims × labels rows — broadcast), re-aggregated per
    vector. Everything is JVM-side hash aggregation; no Python, no
    driver matmul, no per-vector UDF."""
    emb = load_table(spark, "embeddings", sf_dir)
    ex = emb.select(
        "label", "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).withColumn("val", F.col("val").cast("double"))
    cent = ex.groupBy("label", "pos").agg(F.avg("val").alias("cval"))
    cnorm = cent.groupBy(F.col("label").alias("cl")).agg(
        F.sqrt(F.sum(F.col("cval") * F.col("cval"))).alias("cn")
    )
    pv = (
        ex.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("label", "vec_id")
        .agg(
            F.sum(F.col("val") * F.col("cval")).alias("dot"),
            F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("vn"),
        )
    )
    return (
        pv.join(F.broadcast(cnorm), pv.label == F.col("cl"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.max("cn"), 6).alias("centroid_norm"),
            F.round(
                F.avg(F.col("dot") / (F.col("vn") * F.col("cn"))), 6
            ).alias("mean_cos_to_centroid"),
        )
    )


@register("knn_pq", oracle=None, tags=("similarity",))
def knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via product quantization + ADC with exact
    re-rank (FAISS IVF-PQ's compression half): corpus-wide scoring
    reads 16 one-byte codes per vector instead of 256 bytes of floats,
    then the exact kernel re-scores only the k·rerank shortlist.
    Rows-only driver check; zero-quantization-error golden, recall
    (≥0.9 on noise embeddings) and determinism pinned in
    tests/test_similarity.py. knn_pq_portable below is the hash-gated
    integer-arithmetic twin of the same index structure."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    out = S.knn_pq(
        queries, emb, k=_K, n_subspaces=16, n_codes=16, rerank=4,
        fit_sample=0.25,
    )
    return out.select(
        "query_id", "neighbor_id", "cosine_sim", F.col("rank").alias("knn_rank")
    )


_scale_report_oracle = """
WITH ex AS (
  SELECT vec_id, unnest(embedding)::DOUBLE AS val,
         generate_subscripts(embedding, 1) - 1 AS dim
  FROM embeddings),
st AS (SELECT dim, avg(val) AS m, stddev_pop(val) AS s,
              count(*) AS n FROM ex GROUP BY 1)
SELECT st.dim::BIGINT AS dim,
       round(st.m, 6) AS dim_mean,
       round(st.s, 6) AS dim_std,
       sum(CASE WHEN abs((ex.val - st.m) / st.s) > 3 THEN 1 ELSE 0 END)::BIGINT
         AS n_outliers
FROM ex JOIN st USING (dim)
GROUP BY st.dim, st.m, st.s
"""


@register("embedding_scale_report", oracle=_scale_report_oracle, tags=("similarity",))
def embedding_scale_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension feature-scaling report (mean, population std,
    |z|>3 outlier count) — the screening pass that decides whether an
    embedding corpus needs normalization before training, and the
    oracle twin of functions/similarity.zscore_normalize (which rewrites
    the vectors with the same stats via a broadcast one-row zip_with).

    Scale shape: posexplode to (dim, val) — narrow rows — then ONE
    per-dim partial+final aggregate (shuffle = d rows per map partition
    after combine); the outlier pass re-scans and joins the d-row stats
    table back by broadcast, so nothing but the tiny stats table ever
    moves. At 100 TB both passes are map-side scans; no vector is ever
    collected."""
    emb = load_table(spark, "embeddings", sf_dir)
    ex = emb.select(F.posexplode("embedding").alias("dim", "val")).withColumn(
        "val", F.col("val").cast("double")
    )
    st = ex.groupBy("dim").agg(
        F.avg("val").alias("m"), F.stddev_pop("val").alias("s")
    )
    return (
        ex.join(F.broadcast(st), "dim")
        .groupBy("dim", "m", "s")
        .agg(
            F.sum(
                (F.abs((F.col("val") - F.col("m")) / F.col("s")) > 3).cast("int")
            )
            .cast("bigint")
            .alias("n_outliers")
        )
        .select(
            F.col("dim").cast("bigint").alias("dim"),
            F.round("m", 6).alias("dim_mean"),
            F.round("s", 6).alias("dim_std"),
            "n_outliers",
        )
    )


# ---- hash-gated product quantization: the last ANN family member ----
# knn_pq's float sub-codebooks (numpy k-means per 8-dim subspace) have
# no SQL twin. This variant is PQ with every stage in portable integer
# arithmetic: each of the 8 subspaces (8 dims each, 8 codes — see
# _PQ_NSUB/_PQ_SUBDIM/_PQ_INIT) projects to 2-D int64 through its
# own md5-derived integer planes (an OPQ-style fixed sketch), the
# per-subspace codebooks are fit by fixed-point Lloyd (floor-div
# centroids, index tiebreak), codes are the per-subspace argmins, ADC
# is the exact integer sum of per-subspace squared distances in
# projected space, and only the k·rerank shortlist is re-scored with
# exact cosine. DuckDB replays fit → encode → ADC → shortlist → rerank,
# completing the gated ANN family: brute ✓, LSH ✓, IVF ✓, PQ ✓.
_PQ_NSUB = 8
_PQ_SUBDIM = _DIM // _PQ_NSUB
_PQ_ITERS = 2
_PQ_RERANK = 8  # shortlist = K * rerank
# init ring matched to subspace projection magnitude
# (std ≈ sqrt(8)·2^12·74 ≈ 9e5); 8 codes per subspace → 24-bit codes
_PQ_INIT = [
    (900_000, 0), (640_000, 640_000), (0, 900_000), (-640_000, 640_000),
    (-900_000, 0), (-640_000, -640_000), (0, -900_000), (640_000, -640_000),
]
_PQ_PLANES = [
    S.portable_plane_weights(_PQ_SUBDIM, 2, seed=100 + s)
    for s in range(_PQ_NSUB)
]


def _pq_proj_sql(e: str, s: int) -> tuple[str, str]:
    """DuckDB (px, py) for subspace ``s``: 1-based slice offset."""
    out = []
    for row in _PQ_PLANES[s]:
        lits = "[" + ", ".join(str(int(x)) for x in row) + "]"
        out.append(
            f"list_sum(list_transform(range(1, {_PQ_SUBDIM + 1}), "
            f"i -> floor({e}[i + {s * _PQ_SUBDIM}] * {S.LSH_QUANT})::BIGINT"
            f" * ({lits})[i]))"
        )
    return out[0], out[1]


def _pq_oracle() -> str:
    proj_cols = ", ".join(
        f"{_pq_proj_sql('e', s)[0]} AS px{s}, {_pq_proj_sql('e', s)[1]} AS py{s}"
        for s in range(_PQ_NSUB)
    )
    sql = f"""WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), p AS (
  SELECT vec_id, e, {proj_cols} FROM v
)"""
    finals = []
    for s in range(_PQ_NSUB):
        init_vals = ", ".join(
            f"({j}, {cx}, {cy})" for j, (cx, cy) in enumerate(_PQ_INIT)
        )
        d = (
            f"(px{s} - cx)*(px{s} - cx) + (py{s} - cy)*(py{s} - cy)"
        )
        sql += f""",
cb{s}_0(j, cx, cy) AS (VALUES {init_vals})"""
        prev = f"cb{s}_0"
        for t in range(1, _PQ_ITERS + 1):
            sql += f""",
as{s}_{t} AS (
  SELECT vec_id, px{s}, py{s}, j, row_number() OVER (
      PARTITION BY vec_id ORDER BY {d}, j) AS rn
  FROM p CROSS JOIN {prev}
),
gs{s}_{t} AS (SELECT j, count(*)::BIGINT AS n, sum(px{s})::BIGINT AS sx,
                     sum(py{s})::BIGINT AS sy
              FROM as{s}_{t} WHERE rn = 1 GROUP BY j),
cb{s}_{t}(j, cx, cy) AS (
  SELECT {prev}.j,
         CASE WHEN gs{s}_{t}.n > 0
              THEN (gs{s}_{t}.sx - (((gs{s}_{t}.sx % gs{s}_{t}.n) + gs{s}_{t}.n)
                    % gs{s}_{t}.n)) // gs{s}_{t}.n
              ELSE {prev}.cx END,
         CASE WHEN gs{s}_{t}.n > 0
              THEN (gs{s}_{t}.sy - (((gs{s}_{t}.sy % gs{s}_{t}.n) + gs{s}_{t}.n)
                    % gs{s}_{t}.n)) // gs{s}_{t}.n
              ELSE {prev}.cy END
  FROM {prev} LEFT JOIN gs{s}_{t} USING (j)
)"""
            prev = f"cb{s}_{t}"
        finals.append(prev)
        sql += f""",
code{s} AS (
  SELECT vec_id, j AS c{s} FROM (
    SELECT vec_id, j, row_number() OVER (
        PARTITION BY vec_id ORDER BY {d}, j) AS rn
    FROM p CROSS JOIN {prev}) WHERE rn = 1
)"""
    code_join = " ".join(f"JOIN code{s} USING (vec_id)" for s in range(1, _PQ_NSUB))
    adc_terms = " + ".join(
        f"(qp.px{s} - b{s}.cx)*(qp.px{s} - b{s}.cx)"
        f" + (qp.py{s} - b{s}.cy)*(qp.py{s} - b{s}.cy)"
        for s in range(_PQ_NSUB)
    )
    book_joins = " ".join(
        f"JOIN {finals[s]} b{s} ON b{s}.j = codes.c{s}" for s in range(_PQ_NSUB)
    )
    qp_cols = ", ".join(f"px{s}, py{s}" for s in range(_PQ_NSUB))
    sql += f""",
codes AS (
  SELECT * FROM code0 {code_join}
),
qp AS (
  SELECT vec_id AS query_id, e AS qe, {qp_cols}
  FROM p WHERE vec_id < {_N_QUERIES}
),
adc AS (
  SELECT qp.query_id, codes.vec_id AS neighbor_id, qp.qe,
         {adc_terms} AS d
  FROM qp CROSS JOIN codes {book_joins}
  WHERE codes.vec_id <> qp.query_id
),
short AS (
  SELECT query_id, neighbor_id, qe, row_number() OVER (
      PARTITION BY query_id ORDER BY d, neighbor_id) AS srn
  FROM adc
),
scored AS (
  SELECT query_id, neighbor_id, {_cos_sql('short.qe', 'c.e')} AS cosine_sim
  FROM short JOIN v c ON c.vec_id = short.neighbor_id
  WHERE srn <= {_K * _PQ_RERANK}
), ranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine_sim DESC, neighbor_id) AS knn_rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine_sim, knn_rank
FROM ranked WHERE knn_rank <= {_K}
"""
    return sql


def _pq_proj_exprs(s: int):
    """(px, py) codegen expressions for subspace ``s``."""
    sub = F.slice(F.col("embedding"), s * _PQ_SUBDIM + 1, _PQ_SUBDIM)
    q = F.transform(
        sub, lambda v: F.floor(v.cast("double") * S.LSH_QUANT).cast("long")
    )
    out = []
    for row in _PQ_PLANES[s]:
        w = F.array(*[F.lit(int(x)).cast("long") for x in row])
        out.append(
            F.aggregate(
                F.zip_with(q, w, lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
        )
    return out[0], out[1]


def _pq_project_arrow(emb):
    """LONG-format (vec_id, s, px, py) subspace projections via an
    Arrow kernel — bit-identical to the _pq_proj_exprs Column folds
    (exact int64 math after the deterministic floor-quantize) without
    8 subspaces × 2 planes of fold codegen AND without the posexplode
    pass (the kernel emits long format directly). Equality with the
    Column form asserted in tests/test_similarity.py."""
    import numpy as np

    # (nsub, 2, subdim) integer plane stack
    W = np.array(_PQ_PLANES, dtype=np.int64)

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            M = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            Q = np.floor(M * S.LSH_QUANT).astype(np.int64)
            n = len(pdf)
            # einsum over per-subspace slices: (n, nsub, 2), exact int64
            Qs = Q.reshape(n, _PQ_NSUB, _PQ_SUBDIM)
            D = np.einsum("nsd,spd->nsp", Qs, W)
            ids = pdf["vec_id"].to_numpy().astype(np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, _PQ_NSUB),
                    "s": np.tile(np.arange(_PQ_NSUB, dtype=np.int32), n),
                    "px": D[:, :, 0].ravel(),
                    "py": D[:, :, 1].ravel(),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        kernel, "vec_id long, s int, px long, py long"
    )


@register("knn_pq_portable", oracle=_pq_oracle(), tags=("similarity", "headline"))
def knn_pq_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with every stage hash-gated (module
    comment above). K=5 over 8 subspaces × 8 codes (24-bit codes), ADC
    shortlist of k·rerank=40, exact cosine re-rank.

    Scale shape: the ADC scan reads CODES only (8 small ints per
    vector, never the 256-byte float vector — PQ's entire point); the
    shortlist join touches ≤ k·rerank vectors per query. Codebook fit
    runs driver-side in exact int64 numpy over the bounded projection
    sample (see inline comment — the production knn_pq fits the same
    way on a 100k-capped collect); corpus-scale ENCODE stays a
    LONG-format relational plan — (vec, subspace) rows joined to a
    broadcast codebook and argmin'd via a lexicographic struct-min
    aggregate — because the wide-format alternative (8 nested
    when-chains over 8 codes each) overflowed the JVM's 64KB codegen
    method limit and fell back to interpretation (measured 27s at
    sf0.1). Every distributed expression stays inside whole-stage
    codegen."""
    import numpy as np

    from pyspark.sql import Window

    emb = load_table(spark, "embeddings", sf_dir)
    plong = _pq_project_arrow(emb).persist()

    def book_df(books):
        return spark.createDataFrame(
            [
                (s_, j, cx, cy)
                for s_ in range(_PQ_NSUB)
                for j, (cx, cy) in enumerate(books[s_])
            ],
            "s int, j int, cx long, cy long",
        )

    # Codebook fit: collected in FULL by design (ADVICE r06) — the
    # oracle replays the Lloyd fit over the same full projection, so a
    # sample cap must be mirrored on both sides; the projection is 3
    # narrow int columns (~20 B/row — ~120 MB at the ×100 tier), far
    # below driver memory, while the production knn_pq float path is
    # the one that caps its fit collect at 100k
    # (functions/similarity.py). Collect ONCE and run
    # the fixed-point Lloyd driver-side in exact int64 numpy. r5 ran
    # each iteration as a Spark job (broadcast codebook join +
    # struct-min shuffle + collect): identical arithmetic, ~0.7 s of
    # plan/codegen/scheduling per round on the same 16k cached rows
    # (VERDICT r05 #2). np.argmin's first-min tiebreak == the oracle's
    # ORDER BY d, j; python/numpy // floor-division == DuckDB's
    # non-negative-count floor-div in the centroid update.
    fit = plong.toPandas()  # full projection; this job also fills the cache
    S_ = fit["s"].to_numpy(dtype=np.int64)
    PX = fit["px"].to_numpy(dtype=np.int64)
    PY = fit["py"].to_numpy(dtype=np.int64)
    books = [list(_PQ_INIT) for _ in range(_PQ_NSUB)]
    for _ in range(_PQ_ITERS):
        for s_ in range(_PQ_NSUB):
            m = S_ == s_
            px, py = PX[m], PY[m]
            C = np.asarray(books[s_], dtype=np.int64)  # (8, 2)
            d = (px[:, None] - C[:, 0]) ** 2 + (py[:, None] - C[:, 1]) ** 2
            a = np.argmin(d, axis=1)
            books[s_] = [
                (
                    (int(px[a == j].sum()) // int((a == j).sum()),
                     int(py[a == j].sum()) // int((a == j).sum()))
                    if (a == j).any()
                    else old
                )
                for j, old in enumerate(books[s_])
            ]

    def assign(books):
        """(vec_id, s, px, py, c): per-subspace argmin over the
        broadcast codebook — lexicographic struct-min breaks distance
        ties toward the lowest code index, matching the oracle's
        ORDER BY d, j. This distributed pass is the one that scales
        with the corpus (encode reads every vector once)."""
        d = (F.col("px") - F.col("cx")) * (F.col("px") - F.col("cx")) + (
            F.col("py") - F.col("cy")
        ) * (F.col("py") - F.col("cy"))
        return (
            plong.join(F.broadcast(book_df(books)), "s")
            .select("vec_id", "s", "px", "py", d.alias("d"), "j")
            .groupBy("vec_id", "s", "px", "py")
            .agg(F.min(F.struct("d", "j")).alias("m"))
            .select("vec_id", "s", "px", "py", F.col("m.j").alias("c"))
        )

    codes = assign(books).select("vec_id", "s", "c")
    # r12 probe: building qp driver-side from the already-collected
    # `fit` frame was tried (the knn_ivf_portable treatment) and
    # measured NO job-count or wall change — AQE already folds this
    # broadcast build into the ADC job — so the lazy cache-read form
    # stays (simpler, and the 320-row subtree is free).
    qp = plong.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        "s",
        F.col("px").alias("qpx"),
        F.col("py").alias("qpy"),
    )
    term = (F.col("qpx") - F.col("cx")) * (F.col("qpx") - F.col("cx")) + (
        F.col("qpy") - F.col("cy")
    ) * (F.col("qpy") - F.col("cy"))
    adc = (
        codes.join(
            F.broadcast(book_df(books).withColumnRenamed("j", "c")),
            ["s", "c"],
        )
        .join(F.broadcast(qp), "s")
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum(term).alias("d"))
    )
    wshort = Window.partitionBy("query_id").orderBy(
        F.col("d").asc(), F.col("neighbor_id")
    )
    short = (
        adc.withColumn("srn", F.row_number().over(wshort))
        .filter(F.col("srn") <= _K * _PQ_RERANK)
        .select("query_id", "neighbor_id")
    )
    qvec = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    scored = (
        short.join(F.broadcast(qvec), "query_id")
        .join(
            emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(S.cosine(F.col("q_vec"), F.col("embedding")), 6).alias(
                "cosine_sim"
            ),
        )
    )
    wrank = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("knn_rank", F.row_number().over(wrank))
        .filter(F.col("knn_rank") <= _K)
        .select("query_id", "neighbor_id", "cosine_sim", "knn_rank")
    )
