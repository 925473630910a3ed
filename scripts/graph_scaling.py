#!/usr/bin/env python
"""Graph-family scale probe (VERDICT r09 #4): triangle_count,
clustering_coefficient, link_prediction_customers,
connected_components_repeat_pairs, pagerank_trade_graph at ×10/×100.

The main scaling tiers deliberately EXCLUDE the graph family: they
replicate orders over the SAME part catalog, which densifies the
co-purchase graph — co-occurrence multiplicities grow ×N over an
unchanged node set, and triangle work is O(m^1.5) in edges by problem
definition, so any superlinear growth there is a replication artifact,
not a scan-scaling signal (SCALING.md header). This probe stages
GRAPH-specific tiers that replicate EDGES: every vertex-forming key is
shifted per replica (lineitem l_orderkey/l_partkey/l_suppkey, orders
o_orderkey/o_custkey), so the ×N graph is N disjoint copies of the
base graph — nodes, edges, triangles, wedges, and components all grow
exactly ×N, and the honest expectation for every plan here is LINEAR
growth per decade (the output bound IS ×10/decade). Growth materially
above that indicates a real defect (a shuffle or driver loop that is
superlinear in edge count), which is exactly what the main tiers could
never distinguish from densification.

Same cells as scripts/scaling_probe.py (probe.run_child + probe.time_cell),
and the probe MUST own the box. Writes GRAPH_SCALING.json (consumed by
scripts/make_capacity.py for graph CAPACITY rows) and its table into
SCALING.md's graph appendix (the GRAPH_TABLE fence).

    python scripts/graph_scaling.py [--restage] [--rerun]
    python scripts/graph_scaling.py --one NAME   # child: one query's tiers
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import probe
from probe import REPO, SF01

GRAPH_QUERIES = [
    "triangle_count",
    "clustering_coefficient",
    "link_prediction_customers",
    "connected_components_repeat_pairs",
    "pagerank_trade_graph",
]

GX10_DIR = "/tmp/spark_graft_tier_gx10"
GX100_DIR = "/tmp/spark_graft_tier_gx100"
STAGE = {"gx10": (GX10_DIR, 10), "gx100": (GX100_DIR, 100)}
# Only the tables the graph family loads; EVERY vertex-forming key is
# shifted so replicas form disjoint subgraphs (edges replicate, the
# catalog does not densify).
_GRAPH_SHIFTS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
}

# g×100 is measured 3× (VERDICT r11 #3): the r11 single-run growths
# (triangle 11.8×, clustering 13.1×/decade) breached the 10× disjoint-
# copy output bound, and same-plan run-to-run noise on this VM is
# bounded at ±50% — a single cell cannot distinguish a real superlinear
# stage from scheduler jitter. The MEDIAN is the published number;
# min/max are recorded so a future breach can be read against the
# spread instead of re-litigated.
GX100_REPS = 3


def _child(name: str) -> dict:
    tiers = [("sf0.1", SF01)] + [(label, d) for label, (d, _n) in STAGE.items()]
    cell = probe.time_cell(name, tiers, reps={"gx100": GX100_REPS})
    out: dict[str, object] = {}
    for tier, runs in cell.items():
        walls = [r["wall_s"] for r in runs]
        out[tier] = round(statistics.median(walls), 2)
        if len(walls) > 1:
            out[f"{tier}_runs"] = sorted(walls)
    # Record the heap the cells ran under (r12: pagerank's g×100 cell
    # needs SPARK_GRAFT_DRIVER_MEM=12g — 8g OOMs reproducibly since the
    # restage — so cells are no longer all at one implicit budget).
    out["driver_mem"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    return {"name": name, "timings": out}


def _plans_hash() -> str:
    """Content hash of the modules whose code determines every graph
    cell. ADVICE r11: the old mtime comparison only caught local edits —
    git checkout/clone sets plan and artifact mtimes to the same
    instant, so the cross-clone staleness case (the one the guard was
    built for) resumed silently. Content can't lie."""
    import hashlib

    h = hashlib.md5()
    for p in ("plans/graph.py", "operators/iterative.py"):
        with open(os.path.join(REPO, "hpat_jl_spark", p), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def render(results: dict[str, dict[str, float]]) -> list[str]:
    lines = [
        "| query | sf0.1 (s) | g×10 (s) | growth | g×100 median (s) | g×100 min–max | growth/decade | heap |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, r in results.items():
        g10 = round(r["gx10"] / max(r["sf0.1"], 1e-9), 1)
        g100 = round(r["gx100"] / max(r["gx10"], 1e-9), 1)
        runs = r.get("gx100_runs")
        spread = f"{runs[0]}–{runs[-1]}" if runs else "—"
        lines.append(
            f"| {name} | {r['sf0.1']} | {r['gx10']} | {g10}× "
            f"| {r['gx100']} | {spread} | {g100}× "
            f"| {r.get('driver_mem', '8g')} |"
        )
    return lines


def main() -> int:
    probe.stage_once({
        d: lambda spark, d, n=n: probe.stage_amplified(spark, d, n, _GRAPH_SHIFTS)
        for d, n in STAGE.values()
    }, restage="--restage" in sys.argv)
    out_path = os.path.join(REPO, "GRAPH_SCALING.json")
    # Resume committed cells (the memory_probe discipline, ADVICE r09):
    # a killed/timed-out run must not lose every measured query. Pass
    # --rerun to remeasure everything.
    results: dict[str, dict[str, float]] = {}
    if "--rerun" not in sys.argv:
        try:
            with open(out_path) as fh:
                art = json.load(fh)
            results = art.get("queries", {})
            # Staleness guard (ADVICE r11 — content hash, not mtime:
            # git checkout sets plan and artifact mtimes to the same
            # instant, so the cross-clone stale case resumed silently
            # under the old mtime comparison). Cells measured under a
            # different plans/graph.py + operators/iterative.py must
            # never feed SCALING.md/CAPACITY.md.
            if results and art.get("plans_hash") != _plans_hash():
                print(
                    "# GRAPH_SCALING.json was measured under different "
                    "graph plan code (content hash mismatch) — "
                    "invalidating resumed cells",
                    file=sys.stderr,
                )
                results = {}
        except (OSError, ValueError):
            results = {}
    for name in GRAPH_QUERIES:
        if set(results.get(name, {})) >= {"sf0.1", *STAGE}:
            print(f"# {name}: resumed from {out_path} "
                  "(same-plan cells — pass --rerun to remeasure)",
                  file=sys.stderr)
            continue
        rec = probe.run_child([os.path.abspath(__file__), "--one", name])
        if not rec.get("ok", True):
            raise RuntimeError(f"cell {name} failed: {rec['err']}")
        results[name] = rec["timings"]
        payload = {
            "queries": results,
            "tier_bytes": {label: probe.dir_bytes(d)
                           for label, (d, _n) in STAGE.items()},
            "threads": 32,
            "plans_hash": _plans_hash(),
            "gx100_reps": GX100_REPS,
        }
        with open(out_path, "w") as fh:
            json.dump(payload, fh, indent=1)
    probe.splice_block(os.path.join(REPO, "SCALING.md"), "GRAPH_TABLE", render(results))
    print("# wrote GRAPH_SCALING.json + SCALING.md graph appendix",
          file=sys.stderr)
    return 0


if __name__ == "__main__":
    args = probe.child_args()
    if args is None:
        raise SystemExit(main())
    probe.emit(_child(args[0]))
