#!/usr/bin/env python
"""Strong-scaling probe: fixed data, varying executor-thread count —
the third axis of the repo's scale evidence and the one that directly
backs the "1000-executor cluster" claim (two input regimes: the
split-rich ×10 staging and the probe's ×100 tier):

  SCALING.md  — wall-clock vs DATA tiers   (no hidden quadratics)
  SHUFFLE.md  — BYTES per query            (what crosses the network)
  CORES.md    — wall-clock vs PARALLELISM  (does the plan actually
                use the workers it is given?)

Method: every (query, cores) cell runs in its OWN subprocess (the
scaling probe's r6 isolation lesson — shared JVMs pollute later
measurements) with master=local[cores] via SPARK_GRAFT_CPUS and the
shuffle-partition ceiling HELD at 128 for every cell, so the physical
plan and partition count are identical across the row and only the
worker pool varies — pure strong scaling, not a re-plan. Each cell is
min-of-2 after an sf0.01 warmup that absorbs codegen/JIT compile.

Input layout matters as much as the plan: the scaling probe's shared
×10 dir writes ~11 part files per fact table, which under the default
128 MB maxPartitionBytes coalesces to 1-2 SCAN splits — every scan
stage would serialize onto 2 threads and the probe would measure the
fixture's file count, not the plans (a first run did exactly that:
q1 flat at ~1s from 8 threads up). A 100 TB lake table has thousands
of row groups, so scan-split abundance is the one resource a local
probe must emulate, never inherit from a toy fixture: this probe
stages its own ×10 copy repartitioned to 64 files per fact table and
sizes maxPartitionBytes/openCostInBytes so each file is its own split
(64-way scans, still far below the 128 shuffle fan-out).

Self-calibration: textbook efficiency (t4·4 / tN·N) presumes the
machine actually delivers N independent cores. This box does not —
it is a shared VM where a PURE-COMPUTE 128-task job (range →
aggregate fold, no IO, no shuffle data) speeds up only ~4× from
local[4] to local[32] (warmed, e.g. 5.3 → 2.9 → 1.9 → 1.3 s), an
8×-threads-for-4×-speedup hypervisor ceiling. So the
probe measures that calibration job in the same sweep and reports
each query's speedup AS A FRACTION OF the machine's deliverable
speedup at the same thread count: 1.0 means the plan extracted every
cycle the box had to give (fully parallel — no serial section, no
driver bottleneck, no straggler partition); well below 1.0 means the
PLAN left available parallelism unused. Absolute efficiency numbers
from a contended VM would indict the plans for the hypervisor's
sins — the ratio to calibration is the portable signal.

    python scripts/strong_scaling.py          # writes CORES.md
    python scripts/strong_scaling.py --one q05 8 x10   # child mode

NEVER run other Spark work concurrently (CLAUDE.md probe trap): the
tier timings are only meaningful if the probe owns the box.
"""

from __future__ import annotations

import json
import os
import sys

import probe
from probe import CALIBRATION as _CALIBRATION
from probe import REPO, STAGE_X100
from scaling_probe import REPLICAS, _ensure_staged

CORES = [4, 8, 16, 32]

# One representative per plan family, chosen where the ×10 tier gives
# real headroom over the job-scheduling floor (strong scaling of a
# 0.3s query measures the scheduler, not the plan):
#   q1  — single-scan codegen aggregate (scan-bandwidth bound)
#   q05 — broadcast-star join + two-level aggregate
#   q21 — shuffle-window decorrelated EXISTS/NOT-EXISTS
#   dedup_minhash   — sig-level LSH band self-join (the near-dup family)
#   tokenize_to_ids — explode-heavy text pipeline (vocab + encode)
#   triangle_count  — compute-dense graph kernel (cache re-reads,
#                     array_intersect per edge; byte-light, FLOP-heavy)
QUERIES = [
    "q1_pricing_summary",
    "q05",
    "q21_waiting_supplier",
    "dedup_minhash",
    "tokenize_to_ids",
    "triangle_count",
]

# ×100 strong-scaling set: strong scaling is input-size-dependent
# (Amdahl: the serial floor — job scheduling, broadcast builds, AQE
# stage rounds — is fixed while parallel work grows with data), so the
# ×10 table alone would understate the plans. These run at the probe's
# ×100 tier (~60M lineitem rows / ~500k docs), single cold run per
# cell (each cell is minutes; rep noise is proportionally small) —
# the LLM-pipeline headliners a 100 TB training-data run executes.
X100_SET = [
    "q05",
    "dedup_minhash",
    "tokenize_to_ids",
    "lang_id_ngram",
    "corpus_prep_pipeline",
    "knn_lsh",
    "fuzzy_decontaminate",
    # r7 (VERDICT r06 #5): the relational headliners a 100×-cluster
    # capacity plan would read, plus the q01 pair generator (#2) and
    # the sketch twin — ≥12 queries at the compute-dominated tier.
    "q3_shipping_priority",
    "q9_product_type_profit",
    "q25",
    "hll_distinct_portable",
    "q01_copurchase",
    # r11 (VERDICT r10 #4): every remaining ×100-measured query whose
    # CAPACITY.md of-ceiling column was "—" (provisioned core-h/TB was
    # incomputable for them), plus q21 — its old 0.28 came from the
    # floor-dominated ×10 table and the r11 exchange-reuse rewrite
    # needs the compute-dominated number.
    "q21_waiting_supplier",
    "benchmark_decontaminate",
    "dedup_simhash",
    "embedding_dedup_clusters",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "q26",
    "knn_ivf_portable",
    "knn_pq_portable",
    "knn_ivf_persisted",
    "bpe_encode_fixed",
    "bpe_train_merges",
    "duplicate_span_report",
    "kmeans_lloyd_exact",
    "sequence_packing",
]


STAGE_CPU = "/tmp/spark_graft_cpu_x10"
_SPLIT_FILES = 64  # part-files per fact table in the CPU staging

# each staged file ≈ its own scan split (files are ~0.1-1.6 MB; the
# default 4 MB openCost + 128 MB maxPartitionBytes would coalesce all
# 64 back into ~3 splits and serialize every scan stage)
_SPLIT_CONF = {
    "spark.sql.files.maxPartitionBytes": "4m",
    "spark.sql.files.openCostInBytes": "524288",
}


def _cell(name: str, cores: str, tier: str) -> dict:
    """Child: time one query (or the calibration job) under
    local[cores] at the given tier; min of 2 runs, 1 at ×100 (minutes
    per cell, so rep noise is proportionally small)."""
    x100 = tier == "x100"
    if name == _CALIBRATION:
        from hpat_jl_spark.session import get_spark

        spark = get_spark(app_name=f"strong-{name}-{cores}-{tier}",
                          shuffle_partitions=128, extra_conf=_SPLIT_CONF)
        sec = probe.yardstick_s(spark, 10_000_000 if x100 else 3_000_000, 2)
        spark.sparkContext.setLogLevel("OFF")
        spark.stop()
    else:
        cell = probe.time_cell(name, [(tier, STAGE_X100 if x100 else STAGE_CPU)],
                               {tier: 1 if x100 else 2}, _SPLIT_CONF)
        sec = min(r["wall_s"] for r in cell[tier])
    return {"name": name, "cores": int(cores), "sec": sec}


def _child(name: str, cores: int, tier: str = "x10") -> float:
    env = {"SPARK_GRAFT_CPUS": str(cores)}
    if tier == "x100":  # CLAUDE.md ×100 trap
        env["SPARK_GRAFT_DRIVER_MEM"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g")
    rec = probe.run_child([os.path.abspath(__file__), "--one", name, str(cores), tier], env)
    if not rec.get("ok", True):
        raise RuntimeError(f"cell ({name},{cores}) failed: {rec['err']}")
    return rec["sec"]


CORES_JSON = os.path.join(REPO, "CORES.json")


def _load_cores_json() -> dict:
    try:
        with open(CORES_JSON) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def _cell_parts(raw) -> tuple[float, float | None]:
    """(sec, same-run calibration sec or None for legacy cells)."""
    if isinstance(raw, dict):
        return raw["sec"], raw.get("calib")
    return raw, None


def _has_legacy_cells(tier_prior: dict, names: list[str]) -> bool:
    """True when any committed cell for these queries is a bare number
    (pre-r12: no same-run calibration snapshot). While one exists, the
    tier's persisted _pure_compute row is FROZEN — those cells fall
    back to it, so overwriting it re-normalizes them against a
    different box epoch (see _sweep docstring)."""
    return any(
        str(c) in tier_prior.get(name, {})
        and not isinstance(tier_prior[name][str(c)], dict)
        for name in names
        for c in CORES
    )


def _persist(tier: str, name: str, cores: int, cell) -> None:
    prior = _load_cores_json()
    prior.setdefault(tier, {}).setdefault(name, {})[str(cores)] = cell
    with open(CORES_JSON, "w") as fh:
        json.dump(prior, fh, indent=1)


def _sweep(names: list[str], tier: str) -> None:
    """Measure the cells of ``names`` that CORES.json lacks, persisting
    each as it completes (r11: extending the query set used to re-measure
    EVERY cell). Invalidate a changed plan's row by deleting it from
    CORES.json (or the whole file for a full refresh): resumed cells are
    only valid while the plan is unchanged.

    Calibration mixing (ADVICE r11): normalizing fresh timings against a
    yardstick resumed from an earlier run's box conditions is wrong. So
    whenever any cell must run, the calibration row is RE-MEASURED for
    this invocation, and every query cell stores the same-run calibration
    sec at its core count ({"sec": s, "calib": c}): the of-ceiling math
    normalizes each cell against its OWN run's yardstick. Legacy numeric
    cells (pre-r12) carry no snapshot and fall back to the tier's
    COMMITTED calibration row, which is therefore FROZEN while any such
    cell remains (late-r12 fix: one re-measured query on a degraded
    hypervisor day rewrote the row 3.62 → 11.81 s@32thr and every legacy
    of-ceiling inflated ~3×, q21 0.46 → 1.34). The fresh calibration still
    runs and is what THIS run's new cells snapshot."""
    cells = _load_cores_json().get(tier, {})
    missing = [(n, c) for n in names for c in CORES if str(c) not in cells.get(n, {})]
    if not missing and all(str(c) in cells.get(_CALIBRATION, {}) for c in CORES):
        print(f"# [{tier}] resumed from CORES.json", file=sys.stderr)
        return
    frozen = _has_legacy_cells(cells, names)
    calib = {}
    for c in CORES:
        calib[c] = _child(_CALIBRATION, c, tier)
        print(f"# [{tier}] {_CALIBRATION} @ local[{c}]: {calib[c]}s", file=sys.stderr)
        if not (frozen and str(c) in cells.get(_CALIBRATION, {})):
            _persist(tier, _CALIBRATION, c, calib[c])
    for name, c in missing:
        sec = _child(name, c, tier)
        print(f"# [{tier}] {name} @ local[{c}]: {sec}s", file=sys.stderr)
        _persist(tier, name, c, {"sec": sec, "calib": calib[c]})


def _results(cells: dict, names: list[str]) -> dict[str, dict[int, tuple]]:
    """A tier's table rows from its CORES.json cells: the persisted
    calibration row first, then (sec, calibration snapshot) per query."""
    rows = {_CALIBRATION: {c: (_cell_parts(cells[_CALIBRATION][str(c)])[0],) * 2
                           for c in CORES}}
    for name in names:
        rows[name] = {c: _cell_parts(cells[name][str(c)]) for c in CORES}
    return rows


def of_ceiling(results: dict[str, dict[int, tuple]], name: str) -> float:
    """``name``'s 4→32 speedup as a fraction of the machine's pure-compute
    speedup over the same thread counts. Each endpoint cell is normalized
    against ITS run's calibration (legacy cells without a snapshot use
    the persisted row)."""
    base, top = CORES[0], CORES[-1]
    calib, r = results[_CALIBRATION], results[name]
    norm_b = r[base][0] / (r[base][1] or calib[base][0])
    norm_t = r[top][0] / (r[top][1] or calib[top][0])
    return round(norm_b / max(norm_t, 1e-9), 2)


def _table(results: dict[str, dict[int, tuple]]) -> list[str]:
    lines = [
        "| query | local[4] (s) | local[8] (s) | local[16] (s) | local[32] (s) | speedup 4→32 | of ceiling |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, r in results.items():
        sp = r[CORES[0]][0] / max(r[CORES[-1]][0], 1e-9)
        if name == _CALIBRATION:
            label, oc = "machine ceiling (pure compute)", "—"
        else:
            label, oc = name, f"{of_ceiling(results, name):.2f}"
        lines.append(
            "| " + label + " | "
            + " | ".join(f"{r[c][0]}" for c in CORES)
            + f" | {sp:.1f}× | {oc} |"
        )
    return lines


# (CORES.json tier, queries, CORES.md fence)
TIERS = (("x10", QUERIES, "CORES_X10"), ("x100", X100_SET, "CORES_X100"))


def main() -> None:
    probe.stage_once({STAGE_CPU: lambda spark, d: probe.stage_amplified(
        spark, d, REPLICAS, files=_SPLIT_FILES)})
    _ensure_staged()  # the ×100 table reads the scaling probe's tier
    path = os.path.join(REPO, "CORES.md")
    for tier, names, fence in TIERS:
        _sweep(names, tier)
        probe.splice_block(path, fence, _table(_results(_load_cores_json()[tier], names)))
    print("wrote CORES.md")


if __name__ == "__main__":
    args = probe.child_args()
    if args is None:
        main()
    else:
        probe.emit(_cell(*args))
