#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans for a documented set
of queries (``DOCUMENTED``, not the bench's ``headline`` tag) plus
automated checks of the scale-critical properties
(pushdown, pruning, broadcast, partial aggregation, no Python in
relational paths). Run after changing any plan:

    python scripts/dump_plans.py
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

from hpat_jl_spark import registry  # noqa: E402
from hpat_jl_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"

# query → what its plan shows
DOCUMENTED = [
    ("q1_pricing_summary", "scan-heavy single-pass aggregate"),
    ("q6_forecast_revenue", "multi-predicate scan + global sum"),
    ("q26", "broadcast dim join + wide conditional aggregate"),
    ("q3_shipping_priority", "selective dims + fact shuffle + top-k"),
    ("q25", "exact count-distinct RFM"),
    ("q01_copurchase", "per-order array pair-gen market basket (no self-join)"),
    ("asof_join_views", "single-shuffle merge-asof"),
    ("sessionize_events", "windowed gap sessionization"),
    ("dedup_minhash", "explode → partial-agg signatures → band join"),
    ("knn_bruteforce", "Arrow matmul scoring + rank-limit"),
    ("q5_local_supplier_volume", "6-table star join, one fact shuffle"),
    ("q21_waiting_supplier", "EXISTS/NOT-EXISTS decorrelated to one window"),
    ("embedding_centroids", "posexplode centroid, JVM-only vector math"),
    ("sql_nation_revenue", "ANSI SQL frontend → same Catalyst plan"),
    ("ewma_daily_value", "linear recurrence as one windowed prefix sum"),
    ("document_chunks", "token-window chunking, zero-shuffle map stage"),
    ("prefix_filter_similarity", "exact ppjoin: prefix candidates, no cross product"),
    ("cumsum_global_chunked", "two-pass global prefix sum, no full-data task"),
    ("repetition_quality", "JVM 5-gram explode, one doc-keyed shuffle"),
    ("salted_skew_join", "16-way salted replicate join, salt invisible"),
    ("benchmark_decontaminate", "n-gram overlap vs eval set, gram-keyed join"),
    ("tokenize_to_ids", "shared tokenization → vocab rank + encode join"),
    ("triangle_count", "degree-oriented wedge join, hub-safe"),
    ("sequence_packing", "exclusive prefix sum → fixed-length packs"),
    # round-5 additions
    ("dedup_simhash", "packed-long signatures: shift/mask bands, bit_count hamming"),
    ("knn_lsh", "Arrow bucket kernel + broadcast probe + fold scoring"),
    ("knn_ivf_persisted", "hive-partitioned index probe: PartitionFilters pruning"),
    ("bloom_prefilter_ingest", "broadcast prefix-set bloom before the anti-join"),
    ("multimodal_pixel_stats", "mapInPandas PNG/WAV decode, stats-only shuffle"),
]


def fmt_plan(df) -> str:
    """``df.explain("formatted")`` as a string (plan_lint and
    explain_query import it)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def check(plan: str, name: str) -> list[str]:
    notes = []
    if "PushedFilters: [" in plan and not re.search(r"PushedFilters: \[\]", plan):
        notes.append("predicates pushed to scan")
    if "BroadcastHashJoin" in plan:
        notes.append("broadcast join")
    if "partial" in plan:
        notes.append("map-side partial aggregation")
    if "TakeOrderedAndProject" in plan:
        notes.append("top-k without global sort")
    if "SortMergeJoin" in plan:
        notes.append("sort-merge join")
    py = [m for m in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas") if m in plan]
    if py:
        notes.append(f"python stages: {','.join(py)} (Arrow-vectorized)")
    else:
        notes.append("no Python in plan")
    return notes


def main() -> None:
    spark = get_spark(master="local[4]", shuffle_partitions=8)
    registry.load_all_plans()
    out = [
        "# PLANS — physical plans of the headline queries (sf0.001 shapes)",
        "",
        "Regenerated by `python scripts/dump_plans.py`. The properties",
        "line is auto-extracted; plans are `explain('formatted')` output",
        "(AQE: `isFinalPlan=false` until executed).",
        "",
    ]
    for name, desc in DOCUMENTED:
        df = registry.REGISTRY[name].fn(spark, SF)
        plan = fmt_plan(df)
        notes = check(plan, name)
        out.append(f"## {name} — {desc}")
        out.append("")
        out.append(f"**Properties:** {'; '.join(notes)}")
        out.append("")
        out.append("```")
        # keep the operator tree + the scan details, trim codegen ids
        trimmed = "\n".join(plan.splitlines()[:60])
        out.append(trimmed)
        out.append("```")
        out.append("")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
