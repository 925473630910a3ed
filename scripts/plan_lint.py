#!/usr/bin/env python
"""Registry-wide physical-plan linter: builds EVERY registered query's
plan at sf0.001 and fails on scale anti-patterns:

- BatchEvalPython          row-at-a-time Python UDF (CLAUDE.md invariant:
                           Python only as Arrow-vectorized kernels)
- CartesianProduct         unbounded cross product
- BroadcastNestedLoopJoin  cross/theta join — legitimate ONLY for
                           provably-1-row scalar-aggregate sides, which
                           must be allow-listed here with a reason
- UnpartitionedWindow      Window node with an empty partition spec:
                           the whole input sorts through ONE task. Fine
                           only over provably bounded inputs (a prior
                           aggregate / limit), which must be
                           allow-listed here with a reason (VERDICT r03
                           #2 — tokenize_to_ids ranked 10⁸+ vocab rows
                           through one task at the 100 TB design point).
                           Known blind spot: windows inside EAGER
                           sub-jobs run during plan construction (model
                           fits, dimension-id assignment) never appear
                           in the returned plan's text — e.g.
                           ml_naive_bayes_lang's 5-row lang-id
                           row_number. Those are audited by hand; all
                           current ones are over tiny dimension tables.

dump_plans.py documents a set of plans in depth; this linter is the
breadth pass — a new query (or a Catalyst regression after a rewrite)
that sneaks a cross product or row-Python stage into ANY of the
registered plans turns the build red.

    python scripts/plan_lint.py            # exit 0 iff clean
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from dump_plans import fmt_plan
from hpat_jl_spark import registry
from hpat_jl_spark.session import get_spark

SF = "/root/testdata/sf0.001"

# query → {operator: reason} for allowed occurrences.
ALLOW: dict[str, dict[str, str]] = {
    # 1-row scalar-aggregate sides: a cross join against a single-row
    # aggregate is the standard decorrelated-scalar-subquery shape.
    "tfidf_top_terms": {"BroadcastNestedLoopJoin": "1-row n_docs aggregate"},
    "unigram_logprob_quality": {
        "BroadcastNestedLoopJoin": "1-row corpus-total aggregate × vocab table"
    },
    "triangle_count": {"BroadcastNestedLoopJoin": "three 1-row aggregates composed"},
    "q6_forecast_revenue": {"BroadcastNestedLoopJoin": "1-row scalar aggregate"},
    "q11_important_stock": {"BroadcastNestedLoopJoin": "1-row threshold aggregate"},
    "inverted_index": {"BroadcastNestedLoopJoin": "1-row doc-count aggregate (df cap)"},
    "q14_promo_revenue": {"BroadcastNestedLoopJoin": "1-row scalar aggregate"},
    "q15_top_supplier": {"BroadcastNestedLoopJoin": "1-row max-revenue aggregate"},
    "q17_small_quantity_revenue": {"BroadcastNestedLoopJoin": "1-row scalar aggregate"},
    "q22_global_sales_opportunity": {"BroadcastNestedLoopJoin": "1-row avg-balance aggregate"},
    "cumsum_global_chunked": {
        "BroadcastNestedLoopJoin": "per-chunk offset table, #chunks rows",
        "UnpartitionedWindow": "Exscan offset window over the 64-row "
        "per-chunk sums table — that boundedness is the whole point",
    },
    "timeseries_similarity": {
        "BroadcastNestedLoopJoin": "documented capped demo (20 users); scale path is knn_lsh/ivf"
    },
    "funnel_conversion": {
        "BroadcastNestedLoopJoin": "three 1-row step-count aggregates composed"
    },
    "resample_daily_ffill": {
        "BroadcastNestedLoopJoin": "date-grid × keys; output-linear by construction"
    },
    "equidepth_binning": {
        "BroadcastNestedLoopJoin": "1-row sketch-boundaries aggregate broadcast"
    },
    "mix_rebalance_plan": {
        "BroadcastNestedLoopJoin": "1-row token-budget aggregate broadcast"
    },
    "knn_ivf_portable": {
        "BroadcastNestedLoopJoin": "8-query probe x 8-row centroid table "
        "(both model-sized constants, never data-sized)"
    },
    "ks_test_purchase_view": {
        "BroadcastNestedLoopJoin": "1-row sample-totals aggregate broadcast",
        "UnpartitionedWindow": "64-row chunk-offset window inside "
        "cumsum_chunked, twice (one per sample CDF)",
    },
    "js_divergence_sources": {
        "BroadcastNestedLoopJoin": "source-dim x source-dim pair anchor "
        "(|sources| rows per side; keeps disjoint pairs from vanishing)"
    },
    # Global windows over PROVABLY BOUNDED inputs (a prior aggregate or
    # the chunk-offset table) — the one legitimate unpartitioned-window
    # shape. Anything ranking raw fact/corpus rows globally must be
    # rewritten (tokenize_to_ids was, VERDICT r03 #2).
    "supplier_revenue_quartiles": {
        "UnpartitionedWindow": "global ntile over the per-supplier "
        "aggregate (|suppliers| rows, 5 orders below lineitem)"
    },
    "daily_anomalies": {
        "UnpartitionedWindow": "trailing-7-day stats over the per-day "
        "aggregate (|days| rows, calendar-bounded)"
    },
    "domain_mix_report": {
        "UnpartitionedWindow": "OVER () normalization across the "
        "per-source aggregate (|sources| rows)"
    },
}

BAD = ["BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin"]


def _top_level_groups(s: str) -> list[str]:
    """Top-level [...] groups in a Window node's Arguments line."""
    depth = 0
    groups: list[str] = []
    for ch in s:
        if ch == "[":
            if depth == 0:
                groups.append("")
            depth += 1
        elif ch == "]":
            depth -= 1
        elif depth > 0:
            groups[-1] += ch
    return groups


def has_unpartitioned_window(plan: str) -> bool:
    """A physical Window with an empty partition spec funnels the whole
    input through ONE task. Formatted-plan Arguments come as up to
    three top-level groups [exprs], [partition], [order]; the variants:
      3 groups                         → partitioned, parallel: fine
      2 groups, last is an order spec  → global sort window: FLAG
      2 groups, last is partition cols → partition-only window: fine
      1 group (bare OVER ())           → single-partition agg: FLAG
    """
    import re

    for m in re.finditer(
        r"\(\d+\) Window\n(?:Input[^\n]*\n)?Arguments: ([^\n]*)", plan
    ):
        groups = _top_level_groups(m.group(1))
        if len(groups) == 1:
            return True
        if len(groups) == 2 and (
            " ASC" in groups[-1] or " DESC" in groups[-1]
        ):
            return True
    return False


def main() -> int:
    spark = get_spark(app_name="plan-lint", master="local[4]", shuffle_partitions=8)
    qs = registry.queries()
    offenders: list[str] = []
    allowed_hits = 0
    for name, fn in qs.items():
        try:
            plan = fmt_plan(fn(spark, SF))
        except Exception as e:  # noqa: BLE001 — report, don't abort the sweep
            offenders.append(f"{name}: PLAN BUILD FAILED: {e!r}")
            continue
        hits = [op for op in BAD if op in plan]
        if has_unpartitioned_window(plan):
            hits.append("UnpartitionedWindow")
        for op in hits:
            reason = ALLOW.get(name, {}).get(op)
            if reason:
                allowed_hits += 1
                print(f"allow {name}: {op} ({reason})", file=sys.stderr)
            else:
                offenders.append(f"{name}: {op}")
    print(
        f"linted {len(qs)} plans; {len(offenders)} offenders, "
        f"{allowed_hits} allow-listed"
    )
    for o in offenders:
        print(f"  FAIL {o}")
    return 1 if offenders else 0


if __name__ == "__main__":
    sys.exit(main())
