#!/usr/bin/env python
"""Scaling probe: measure headline queries at sf0.01, sf0.1, and
synthetic 10× and 100× sf0.1 tiers (facts unioned with shifted keys --
~6M / ~60M lineitem rows), then write SCALING.md's tier and skew tables.

The point is the TREND: a plan that scales linearly from 60k → 600k →
6M rows has no hidden quadratic/driver bottleneck, which is the
property that transfers to a real cluster at 100 TB (where the
constant factors come from executors, not this laptop-class run).

    python scripts/scaling_probe.py [--restage]
    python scripts/scaling_probe.py --one NAME   # child: one query's tiers
    python scripts/scaling_probe.py --one _skew  # child: the skew probe

Staging ~3 GB of ×100 parquet costs minutes, so re-runs reuse the staged
tier dirs; pass --restage to rebuild them after a fixture regeneration.
"""

from __future__ import annotations

import os
import sys
import time

import probe
from probe import SF001, SF01, STAGE_X10, STAGE_X100

QUERIES = [
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "q26",
    "q25",
    "q05",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "q21_waiting_supplier",
    "q9_product_type_profit",
    "funnel_conversion",
    "timeseries_similarity",
    "embedding_centroids",
    "dedup_minhash",
    "text_stats",
    "benchmark_decontaminate",
    "tokenize_to_ids",
    "sequence_packing",
    "triangle_count",
    "lang_id_ngram",
    # streaming: fixed engine-startup cost per run (~1-2s) plus
    # data-linear state work; the growth column shows the data part
    "stream_tumbling_counts",
    "stream_stream_join_purchases",
    # round 4 surfaces
    "hdf5_ingest_agg",
    "embedding_dedup_clusters",
    "duplicate_span_report",
    "bpe_encode_stats",
    "dedup_simhash",
    # round 4, late: portable-arithmetic gated surfaces
    "hll_distinct_portable",
    "kmeans_lloyd_exact",
    "knn_ivf_portable",
    "knn_lsh",
    "knn_pq_portable",
    "fuzzy_decontaminate",
    "bpe_encode_fixed",
    # r6: the corpus-prep chain joins the ×100 set (VERDICT r05 #5)
    "corpus_prep_pipeline",
    # late r6: the persisted-index ANN deployment shape
    "knn_ivf_persisted",
    # r7: the q01 pair generator (VERDICT r06 #2) and the full BPE
    # training run join the tier table.
    "q01_copurchase",
    "bpe_train_merges",
]

REPLICAS = 10

# ×100 tier (VERDICT r04 #5): sf0.1 replicated 100× with disjoint keys
# (~60M lineitem rows) for the TOP-10 headline queries, so the "still
# linear at 100×" claim is measured, not extrapolated from ×10. Nine
# relational queries + the near-dup representative (dedup_minhash,
# whose candidate-PAIR output is quadratic in duplicate multiplicity:
# 100 verbatim copies per doc → C(100,2) = 4950 pairs per doc, ~110×
# the ×10 tier's 45 — the output bound itself, not a plan defect).
# triangle_count is deliberately NOT here: replicating orders over the
# SAME part catalog densifies the co-purchase graph, and triangle work
# grows O(m^1.5) in edge count by problem definition — a densification
# artifact of the replication scheme, not a scan-scaling signal.
REPLICAS_X100 = 100
X100_QUERIES = [
    "q1_pricing_summary",
    "q26",
    "q25",
    "q05",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "q21_waiting_supplier",
    "q9_product_type_profit",
    "dedup_minhash",
    # r6 (VERDICT r05 #5): the LLM-pipeline headliners a 100 TB
    # training-data run actually executes at that scale. Output bounds
    # under 100-way verbatim replication (documented in the header):
    # dedup_simhash — same C(100,2) pair-output bound as dedup_minhash;
    # fuzzy_decontaminate — the eval slice is doc_id % 10 == 0 of the
    # SAME table and the replica key shift (10M ≡ 0 mod 10) preserves
    # eval membership, so BOTH sides replicate: pair output is ×N² per
    # planted contaminated pair (×100 step bound between tiers) — an
    # adversarial artifact of replicating the benchmark along with the
    # corpus (real deployments hold eval fixed; the candidate JOIN
    # itself stays band-bucketed either way);
    # corpus_prep_pipeline / tokenize_to_ids — linear scan shapes;
    # knn_lsh — fixed 8-query probe set over a 100× corpus (ANN's
    # actual deployment shape; bucket candidate lists grow ×100).
    "dedup_simhash",
    "fuzzy_decontaminate",
    "corpus_prep_pipeline",
    "tokenize_to_ids",
    "knn_lsh",
    # late r6: the remaining per-doc gating/packing stages of the
    # training pipeline. All linear under replication: lang_id's
    # profile stays 5 langs × 50 trigrams however large the corpus
    # (the distinct-gram side of its broadcast join is content-bound);
    # benchmark_decontaminate's eval gram set is DISTINCT grams — the
    # same content replicated contributes nothing new — so its join
    # output grows ×N with the dirty side, not ×N²; sequence_packing
    # is one explode + per-source running sum.
    "lang_id_ngram",
    "benchmark_decontaminate",
    "sequence_packing",
    # late r6: SemDeDup joined the sig-dedup family — the per-bucket
    # gram kernel runs over one representative per distinct (bucket,
    # vector) and copies rejoin as rep→copy star edges (O(n) edges vs
    # the full pair clique's O(n²)); the id-level full-pair shape
    # measured 106 s at ×100 vs 13 s rep-level under identical
    # conditions.
    "embedding_dedup_clusters",
    # late r6, second batch — all linearly bounded under replication:
    # duplicate_span_report shuffles (window_hash, doc_id) and emits
    # one row per multi-doc hash (replication multiplies
    # n_occurrences, not rows); hll_distinct_portable is 512 registers
    # per group however large the scan; knn_ivf_persisted is the ANN
    # deployment shape — linear hive-partitioned index build + a
    # fixed-query probe that reads only n_probe partition directories.
    "duplicate_span_report",
    "hll_distinct_portable",
    "knn_ivf_persisted",
    # r7 (VERDICT r06 #2): the q01 pair generator — output bounded by
    # Σ_orders k² with k ≈ lines/order; the replica key shift keeps
    # per-order line counts unchanged, so pairs grow ×N (linear) and
    # the self-join's single pinned exchange carries the corpus once.
    "q01_copurchase",
    # r7 (VERDICT r06 #4): the remaining gated twins. All fit on
    # bounded or narrow collected supports by design, so the expected
    # ×100 shape is near-flat fit cost + linear assignment/scan:
    # kmeans_lloyd_exact — driver-side exact-int64 Lloyd over a ≤K-cell
    # quantized histogram (collect capped by construction);
    # knn_ivf_portable / knn_pq_portable — integer-projection fits over
    # the full but NARROW projection (2-3 int64 cols; ~100 MB at ×100),
    # then cell-keyed equi-joins;
    # bpe_encode_fixed — fixed 16-merge vocab, linear re-encode;
    # bpe_train_merges — 64 training rounds over a top-64k-capped vocab.
    "kmeans_lloyd_exact",
    "knn_ivf_portable",
    "knn_pq_portable",
    "bpe_encode_fixed",
    "bpe_train_merges",
]


def _skew_probe(spark, big_dir: str) -> dict:
    """Measured skew evidence at tier scale (VERDICT r05 #6): a
    zipfian-key variant of the heavy lineitem⋈orders equi-join, run
    with AQE skew-join off vs on, plus the plan marker proving
    OptimizeSkewedJoin engaged.

    Shape: ~80% of the ×10 tier's ~6M lineitem rows are remapped onto
    ONE hot order key (worse than any real zipf head), so the sort-
    merge join funnels ~4.8M rows through a single reducer unless the
    skew splitter engages. Broadcast is disabled for the probe — a
    broadcast-hash join is shuffle-free and therefore skew-immune,
    which is the FIRST mitigation in practice but would measure
    nothing here. The skew thresholds are scaled to the tier
    (threshold 16 MB / advisory 8 MB vs the 256 MB / 64 MB defaults)
    exactly as the 100 TB stance scales shuffle-partition counts: at
    production bytes the defaults trigger on the same 5× median
    factor."""
    from pyspark.sql import functions as F

    from hpat_jl_spark.tables import load_table

    li = load_table(spark, "lineitem", big_dir)
    orders = load_table(spark, "orders", big_dir)
    skewed = li.withColumn(
        "jk",
        F.when(F.col("l_orderkey") % 5 != 0, F.lit(1).cast("long")).otherwise(
            F.col("l_orderkey")
        ),
    )
    right = orders.select(F.col("o_orderkey").alias("jk"), "o_custkey")

    joined = skewed.join(right, "jk").groupBy("o_custkey").agg(
        F.sum("l_quantity").alias("sum_qty")
    )

    prev = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
    times: dict[str, float] = {}
    marker = False
    try:
        for flag in ("false", "true"):
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", flag)
            t0 = time.perf_counter()
            probe.run_noop(joined)
            times[flag] = round(time.perf_counter() - t0, 2)
            if flag == "true":
                # The write command runs its OWN QueryExecution, so the
                # frame's executedPlan is never AQE-finalized by it —
                # drive the frame's own execution (untimed) to read the
                # final plan with the skew annotation.
                joined.collect()
                plan = joined._jdf.queryExecution().executedPlan().toString()
                marker = "skew=true" in plan
            print(
                f"# skew probe (skewJoin={flag}): {times[flag]}s",
                file=sys.stderr,
            )
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return {"off": times["false"], "on": times["true"], "marker": marker}


TIER10, TIER100 = f"sf0.1x{REPLICAS}", f"sf0.1x{REPLICAS_X100}"
SCALING_MD = os.path.join(probe.REPO, "SCALING.md")


def tier_records(results: dict[str, dict[str, float]]) -> list[dict]:
    """One record per query, as BENCH_DETAIL.json's ``scaling_tiers``
    and the TIERS table carry them; ×100 fields only where measured."""
    out = []
    for name, r in results.items():
        rec = {"query": name, "sf0.01_s": r["sf0.01"], "sf0.1_s": r["sf0.1"],
               "x10_s": r[TIER10],
               "growth_x10": round(r[TIER10] / max(r["sf0.1"], 1e-9), 1)}
        if TIER100 in r:
            rec["x100_s"] = r[TIER100]
            rec["growth_x100"] = round(r[TIER100] / max(r[TIER10], 1e-9), 1)
        out.append(rec)
    return out


def render_tiers(results: dict[str, dict[str, float]]) -> list[str]:
    lines = [
        "| query | sf0.01 (s) | sf0.1 (s) | ×10 (s) | sf0.1→×10 growth | ×100 (s) | ×10→×100 growth |",
        "|---|---|---|---|---|---|---|",
    ]
    for rec in tier_records(results):
        x100 = (f" {rec['x100_s']} | {rec['growth_x100']}× |" if "x100_s" in rec
                else " — | — |")
        lines.append(f"| {rec['query']} | {rec['sf0.01_s']} | {rec['sf0.1_s']} "
                     f"| {rec['x10_s']} | {rec['growth_x10']}× |" + x100)
    return lines


def read_tiers(path: str = SCALING_MD) -> dict[str, dict[str, float]]:
    """The TIERS block of ``path`` back as the timings ``render_tiers``
    took: the one reader of SCALING.md's tier table."""
    results = {}
    for ln in probe.read_block(path, "TIERS")[2:]:
        cells = [c.strip() for c in ln.strip("|").split("|")]
        r = {"sf0.01": float(cells[1]), "sf0.1": float(cells[2]),
             TIER10: float(cells[3])}
        if cells[5] != "—":
            r[TIER100] = float(cells[5])
        results[cells[0]] = r
    return results


def render_skew(skew: dict) -> list[str]:
    speedup = round(skew["off"] / max(skew["on"], 1e-9), 2)
    return [
        "| AQE skew-join | wall (s) | OptimizeSkewedJoin in plan |",
        "|---|---|---|",
        f"| off | {skew['off']} | — |",
        f"| on | {skew['on']} | {'yes (skew=true)' if skew['marker'] else 'NO'} |",
        "",
        f"Speedup with skew splitting: **{speedup}×**.",
    ]


def _ensure_staged(restage: bool = False) -> None:
    probe.stage_once({
        STAGE_X10: lambda spark, d: probe.stage_amplified(spark, d, REPLICAS),
        STAGE_X100: lambda spark, d: probe.stage_amplified(spark, d, REPLICAS_X100),
    }, restage=restage)


def _child(name: str) -> dict:
    if name == "_skew":
        from hpat_jl_spark.session import get_spark

        spark = get_spark(app_name="scaling-skew", shuffle_partitions=128)
        skew = _skew_probe(spark, STAGE_X10)
        spark.sparkContext.setLogLevel("OFF")
        spark.stop()
        return skew
    tiers = [("sf0.01", SF001), ("sf0.1", SF01), (TIER10, STAGE_X10)]
    if name in X100_QUERIES:
        tiers.append((TIER100, STAGE_X100))
    cell = probe.time_cell(name, tiers)
    return {"name": name, "timings": {t: runs[0]["wall_s"] for t, runs in cell.items()}}


def _run(name: str) -> dict:
    rec = probe.run_child([os.path.abspath(__file__), "--one", name])
    if not rec.get("ok", True):
        raise RuntimeError(f"cell {name} failed: {rec['err']}")
    return rec


def main() -> None:
    _ensure_staged(restage="--restage" in sys.argv)
    results = {name: _run(name)["timings"] for name in QUERIES}
    probe.splice_block(SCALING_MD, "TIERS", render_tiers(results))
    probe.splice_block(SCALING_MD, "SKEW", render_skew(_run("_skew")))
    print("wrote SCALING.md")


if __name__ == "__main__":
    args = probe.child_args()
    if args is None:
        main()
    else:
        probe.emit(_child(args[0]))
