#!/usr/bin/env python
"""Memory/spill probe: the ×100 heavy set under constrained memory
budgets (VERDICT r07 #1 / r08 #3 — the one unmeasured 100 TB axis).

A 100 TB run lives in the SPILL regime: per-executor memory is fixed
while per-task data grows, so the engine's behavior when working sets
exceed the heap — graceful spill vs OOM — is a first-class scale
property, not an ops detail. On local[32] the whole engine is ONE JVM
whose heap is `spark.driver.memory`, so the budget here is the analog
of executor memory on a real cluster (32 task threads sharing it ≈ a
32-core executor).

For each (query, budget) pair a FRESH subprocess (JVM heap size is
fixed at launch; and probe isolation — CLAUDE.md r6) runs the query at
the staged ×100 tier (~60M lineitem rows / ~3 GB parquet; stage with
`python scripts/scaling_probe.py` first) and records from Spark's
in-process status store: wall seconds, memoryBytesSpilled / diskBytesSpilled and peak
execution memory over completed stages. The probe walks budgets
DOWNWARD (32g reference → 16g → 12g → 8g → 6g) and records the
smallest budget at which the query still completes ("floor"); an OOM
or JVM death marks the budget as failed and the walk continues (the
floor is the smallest SUCCEEDING budget, the verdict's contract).

Output: MEMORY_PROBE.json with the raw grid, and its table in
SCALING.md's memory appendix (the MEMORY fence).

MUST own the box (CLAUDE.md: concurrent Spark work garbles timings).

    python scripts/memory_probe.py            # full grid
    python scripts/memory_probe.py --one dedup_simhash 8g [TIER_DIR]  # child
"""

from __future__ import annotations

import json
import os
import sys

import probe
from graph_scaling import GX100_DIR
from probe import REPO, STAGE_X100, fmt_bytes

# The verdict's heavy set: the two sig-banded near-dup self-joins (the
# widest shuffles in the repo), the broadcast cross-join decontaminator,
# and the two heaviest TPC-H-suite pipelines. r9 extension: the pair-
# generating self-join (q01's single pinned+reused exchange) and the
# SemDeDup rep-level gram kernel — different memory shapes (pair
# explode through one exchange; Arrow-batched python kernels holding
# per-bucket state). triangle_count stays out: its ×100 tier is a
# documented densification artifact, not data scale.
QUERIES = [
    "dedup_simhash",
    "dedup_minhash",
    "fuzzy_decontaminate",
    "q25",
    "q05",
    "q01_copurchase",
    "embedding_dedup_clusters",
]

# Walked downward; 32g is the reference the slowdown column normalizes
# to (the documented known-good budget — CLAUDE.md r6: 8g OOM'd
# dedup_simhash at ×100 before this probe existed; the r9 grid shows
# that OOM is gone — the sig-level banding rewrites since r6 shrank
# the working sets — so the walk continues to 4g/3g to find the real
# edge: at 3g the 32 task threads share <100 MB each against ~300 MB
# of JVM/broadcast overhead).
BUDGETS = ["32g", "16g", "12g", "8g", "6g", "4g", "3g"]

# r10: graph-family rows (VERDICT r09 #4 closed the wall-clock axis;
# this closes the memory one). These run at the GRAPH probe's
# disjoint-copy g×100 tier (scripts/graph_scaling.py), not the main
# ×100 tier — the main tier densifies the graph (documented artifact).
# Reduced budget walk (the full 7-budget grid at ~300 s/cell for
# triangle_count would dominate probe time); 32g is the same
# normalization reference. The three shapes covered: cached
# edges+adjacency arrays with per-edge intersections (triangle),
# the same plus the 3-corner explode/per-node agg (clustering), and
# the 10-iteration checkpointed fixpoint (pagerank).
GRAPH_QUERIES = [
    "triangle_count",
    "clustering_coefficient",
    "pagerank_trade_graph",
]
# r12 added the 12g rung: pagerank_trade_graph's r10 "8g ok" cell
# stopped reproducing after the g×100 restage — two independent 8g
# runs died in the GCLocker/humongous-allocation storm (the same JVM
# mechanism as the 4g deaths) while 12g completes with margin
# (61-97 s, in line with the r11 8g wall). 8g was evidently a
# borderline pass (26 GiB mem-spill in its r10 cell), so the honest
# floor for the fixpoint shape is 12g; triangle/clustering keep
# their 8g floors (re-confirmed by this round's graph_scaling runs
# at the 8g default).
GRAPH_BUDGETS = ["32g", "12g", "8g", "4g"]


def _run(name: str, budget: str, tier_dir: str = STAGE_X100) -> dict:
    rec = probe.run_child(
        [os.path.abspath(__file__), "--one", name, budget, tier_dir],
        {"SPARK_GRAFT_DRIVER_MEM": budget},
        timeout=1800,  # a hung cell is a failed cell, not a lost grid
    )
    return rec if rec.get("ok") else {"name": name, "budget": budget, **rec}


def _child(name: str, budget: str, tier_dir: str = STAGE_X100) -> dict:
    """Child mode: run ONE query at the given tier (default ×100; graph
    queries pass the disjoint-copy g×100 dir) in this process's fresh
    JVM. Spill metrics are the run's StatusWindow totals."""
    run = probe.time_cell(name, [(tier_dir, tier_dir)])[tier_dir][0]
    return {"name": name, "budget": budget, "ok": True,
            **{k: run[k] for k in ("wall_s", "mem_spill_bytes", "disk_spill_bytes",
                                   "peak_exec_mem_bytes", "tasks")}}


def _render(grid: dict[str, dict[str, dict]]) -> list[str]:
    lines = [
        "| query | 32g wall (s) | floor | floor wall (s) | slowdown | spill@floor (mem / disk) | OOM budgets |",
        "|---|---|---|---|---|---|---|",
    ]
    for name in QUERIES + GRAPH_QUERIES:
        cells = grid.get(name, {})
        if name in GRAPH_QUERIES:
            if not cells:
                continue  # graph tier never probed on this box
            name = f"{name} (g×100)"
        ref = cells.get("32g", {})
        ok_budgets = [b for b in BUDGETS if cells.get(b, {}).get("ok")]
        # ADVICE r09: only genuine heap deaths render as OOM budgets —
        # other failures (timeout, staging, import) are infrastructure
        # noise and must not read as a deployment memory constraint.
        oom = [
            b for b in BUDGETS
            if cells.get(b) and not cells[b].get("ok") and cells[b].get("oom")
        ]
        failed = [
            f"{b}({cells[b].get('err', '?')[:40]})"
            for b in BUDGETS
            if cells.get(b) and not cells[b].get("ok") and not cells[b].get("oom")
        ]
        oom_col = ", ".join(oom) if oom else "—"
        if failed:
            oom_col += f" · non-OOM fail: {'; '.join(failed)}"
        if not ok_budgets:
            lines.append(f"| {name} | — | none completed | | | | {oom_col} |")
            continue
        floor = ok_budgets[-1]  # BUDGETS is ordered downward
        fc = cells[floor]
        slow = (
            f"{fc['wall_s'] / ref['wall_s']:.2f}×"
            if ref.get("ok") and ref["wall_s"] > 0
            else "—"
        )
        spill = (
            f"{fmt_bytes(fc['mem_spill_bytes'])} / "
            f"{fmt_bytes(fc['disk_spill_bytes'])}"
        )
        lines.append(
            f"| {name} | {ref.get('wall_s', '—')} | {floor} | {fc['wall_s']} "
            f"| {slow} | {spill} | {oom_col} |"
        )
    return lines


def main() -> int:
    if not probe.is_staged(STAGE_X100):
        print(
            f"×100 tier not staged at {STAGE_X100} — run "
            "`python scripts/scaling_probe.py` first",
            file=sys.stderr,
        )
        return 1
    # Resume: cells already measured in a committed MEMORY_PROBE.json
    # are reused (delete the file or pass --rerun for a full refresh) —
    # extending BUDGETS only runs the new cells.
    grid_path = os.path.join(REPO, "MEMORY_PROBE.json")
    grid: dict[str, dict[str, dict]] = {}
    if "--rerun" not in sys.argv:
        try:
            with open(grid_path) as fh:
                grid = json.load(fh)
        except (OSError, ValueError):
            grid = {}
    walks = [(name, BUDGETS, STAGE_X100) for name in QUERIES]
    if probe.is_staged(GX100_DIR):
        walks += [(name, GRAPH_BUDGETS, GX100_DIR) for name in GRAPH_QUERIES]
    else:
        print(f"# g×100 tier not staged at {GX100_DIR} — graph rows "
              "skipped (run scripts/graph_scaling.py first)", file=sys.stderr)
    for name, budgets, tier_dir in walks:
        cells = grid.setdefault(name, {})
        for budget in budgets:
            if budget in cells:
                continue
            rec = cells[budget] = _run(name, budget, tier_dir)
            # ADVICE r09: write after EVERY cell — a crash mid-grid keeps
            # everything measured so far for the resume path above.
            with open(grid_path, "w") as fh:
                json.dump(grid, fh, indent=1)
            status = (
                f"{rec['wall_s']}s spill {fmt_bytes(rec['mem_spill_bytes'])}/"
                f"{fmt_bytes(rec['disk_spill_bytes'])}"
                if rec.get("ok")
                else f"FAILED ({'OOM' if rec.get('oom') else rec.get('err', '?')})"
            )
            print(f"# {name} @ {budget} ({tier_dir}): {status}", file=sys.stderr)
    probe.splice_block(os.path.join(REPO, "SCALING.md"), "MEMORY", _render(grid))
    print("# wrote MEMORY_PROBE.json + SCALING.md memory appendix", file=sys.stderr)
    return 0


if __name__ == "__main__":
    args = probe.child_args()
    if args is None:
        raise SystemExit(main())
    probe.emit(_child(*args))
