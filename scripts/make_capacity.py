#!/usr/bin/env python
"""CAPACITY.md generator (VERDICT r07 #3 / r08 #4): join the four
measured scale views — SCALING.md ×100 wall-clock, SHUFFLE.md byte
volumes, CORES.json of-ceiling fractions, MEMORY_PROBE.json memory
floors — into one per-query capacity projection: core-hours per input
TB and a recommended cluster shape for a 100 TB run.

Everything here is derived from committed measurements; the script
re-reads the artifacts so a probe re-run regenerates the projection
with zero hand-editing. It rewrites only CAPACITY.md's fenced blocks,
the ones that carry numbers; the prose around them (the projection
model, caveats, section introductions) lives in CAPACITY.md. The model:

  core_s_per_TB   = wall_x100 * THREADS / tier_TB        (measured)
  provisioned/TB  = core_s_per_TB / of_ceiling           (what you buy)

where of_ceiling is the CORES.md ×100 fraction of the machine's own
deliverable pure-compute speedup — the part of strong scaling that
transfers to a real cluster (each executor brings its own memory
channels). Queries with superlinear ×10→×100 growth (pair-output
bounds) are flagged: their core-hours scale with OUTPUT size, not
input, and the projection is a lower bound at production duplicate
rates.

    python scripts/make_capacity.py
"""

from __future__ import annotations

import json
import os
import re

import strong_scaling
from probe import REPO, STAGE_X100, dir_bytes, fmt_bytes, read_block, splice_block
from scaling_probe import read_tiers, tier_records

CAPACITY_MD = os.path.join(REPO, "CAPACITY.md")
THREADS = 32
# Measured once from the staged tier (du -sb); recorded here so the
# projection regenerates without the staging present. Refreshed
# automatically when the staged dir exists at generation time.
X100_BYTES_DEFAULT = 1_589_713_000  # ~1.48 GiB parquet


def _json(name: str) -> dict:
    with open(os.path.join(REPO, name)) as fh:
        return json.load(fh)


def parse_shuffle() -> dict[str, float]:
    """Per-query shuffle:scan ratio at sf0.1 out of SHUFFLE.md's table
    (queries that errored in the audit carry no ratio)."""
    rows: dict[str, float] = {}
    for ln in read_block(os.path.join(REPO, "SHUFFLE.md"), "SHUFFLE_TABLE")[2:]:
        parts = [p.strip() for p in ln.strip().strip("|").split("|")]
        try:
            rows[parts[0]] = float(parts[8])
        except ValueError:
            continue
    return rows


def parse_cores() -> dict[str, float]:
    """of-ceiling per query out of CORES.json; the ×100 tier (compute-
    dominated regime — the transferable number) wins over the ×10 one
    when a query appears in both."""
    cells = strong_scaling._load_cores_json()
    out: dict[str, float] = {}
    for tier, names, _fence in strong_scaling.TIERS:  # ×100 last
        rows = strong_scaling._results(cells[tier], names)
        out.update({n: strong_scaling.of_ceiling(rows, n) for n in names})
    return out


def _gb(budget: str) -> float:
    return float(re.sub(r"[^\d.]", "", budget))


def parse_memory() -> dict[str, dict]:
    """floor budget + spill out of MEMORY_PROBE.json."""
    out: dict[str, dict] = {}
    for name, cells in _json("MEMORY_PROBE.json").items():
        budgets = [b for b, rec in cells.items() if rec.get("ok")]
        if not budgets:
            continue
        floor = min(budgets, key=_gb)
        rec = cells[floor]
        out[name] = {
            "floor": floor,
            "floor_gb": _gb(floor),
            "spill_bytes": rec.get("mem_spill_bytes", 0)
            + rec.get("disk_spill_bytes", 0),
            # numeric sort — lexicographic puts "16g" before "3g"
            "oom_budgets": sorted(
                (b for b, r in cells.items() if r.get("oom")), key=_gb),
        }
    return out


# Superlinear ×10→×100 growth documented as an OUTPUT bound of the
# verbatim-replication scheme (SCALING.md header), not a plan defect;
# flagged in the table because their production cost tracks duplicate
# rate, not input TB.
_OUTPUT_BOUND = {"dedup_minhash", "dedup_simhash", "fuzzy_decontaminate",
                 "embedding_dedup_clusters"}


def build() -> dict[str, list[str]]:
    """CAPACITY.md's fenced blocks by fence name."""
    scaling = {r["query"]: r for r in tier_records(read_tiers())}
    shuffle = parse_shuffle()
    cores = parse_cores()
    memory = parse_memory()
    tier_bytes = dir_bytes(STAGE_X100) or X100_BYTES_DEFAULT  # 0 when unstaged
    tier_tb = tier_bytes / 1e12

    names = [n for n, r in scaling.items() if "x100_s" in r]
    # ADVICE r09: a reader that silently drops rows would regenerate
    # CAPACITY.md with empty data instead of failing. Make drift loud.
    for what, got, floor in (
        ("SCALING.md ×100 rows", len(names), 5),
        ("SHUFFLE.md rows", len(shuffle), 10),
        ("CORES.json rows", len(cores), 5),
    ):
        if got < floor:
            raise SystemExit(
                f"make_capacity: parsed only {got} {what} (expected >= "
                f"{floor}) — a probe table's format likely drifted; fix "
                "the parser rather than regenerating empty CAPACITY.md"
            )
    rows = []
    for n in names:
        s = scaling[n]
        core_s_tb = s["x100_s"] * THREADS / tier_tb
        oc = cores.get(n)
        prov = core_s_tb / oc if oc else None
        mem = memory.get(n, {})
        rows.append({
            "name": n,
            "x100_s": s["x100_s"],
            "growth": s["growth_x100"],
            "core_h_tb": core_s_tb / 3600,
            "of_ceiling": oc,
            "prov_h_tb": prov / 3600 if prov else None,
            # shuffle:scan is scale-free (both sides grow linearly for
            # linear plans), so it reads as TB shuffled per TB scanned
            "sh_scan": shuffle.get(n),
            "mem_floor": mem.get("floor"),
            "spill": mem.get("spill_bytes"),
        })
    rows.sort(key=lambda r: -(r["prov_h_tb"] or r["core_h_tb"]))

    table = [
        "| query | ×100 wall (s) | growth/decade | core-h/TB | of-ceiling | provisioned core-h/TB | shuffle:scan | mem floor (32 thr) | spill@floor |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        flag = " ⚠output-bound" if r["name"] in _OUTPUT_BOUND else ""
        table.append(
            f"| {r['name']}{flag} | {r['x100_s']} "
            f"| {r['growth']}× "
            f"| {r['core_h_tb']:.2f} "
            f"| {r['of_ceiling'] if r['of_ceiling'] is not None else '—'} "
            f"| {f'{r_prov:.2f}' if (r_prov := r['prov_h_tb']) else '—'} "
            f"| {r['sh_scan'] if r['sh_scan'] is not None else '—'} "
            f"| {r['mem_floor'] or '—'} "
            f"| {fmt_bytes(r['spill']) if r['spill'] is not None else '—'} |"
        )
    top3 = []
    for i, r in enumerate(rows[:3], 1):
        cost = r["prov_h_tb"] or r["core_h_tb"]
        top3.append(
            f"{i}. **{r['name']}** — {cost:.2f} provisioned core-h/TB"
            f" (of-ceiling {r['of_ceiling'] or '?'}, shuffle:scan"
            f" {r['sh_scan'] if r['sh_scan'] is not None else '?'})"
            + (" — output-bound under 100-way verbatim duplication;"
               " production cost tracks duplicate rate"
               if r["name"] in _OUTPUT_BOUND else "")
        )
    ex = rows[0]
    return {
        "TIER_BYTES": [
            "    core_s/TB      = x100_wall × 32 threads ÷ measured tier bytes"
            f" ({tier_bytes / 1e9:.2f} GB)",
        ],
        "CAPACITY_TABLE": table,
        "TOP3": top3,
        "CLUSTER_SHAPE": _cluster_shape(rows, memory),
        **_graph_blocks(cores, memory),
        **_streaming_blocks(),
        "CROSS_CHECK": [
            "Cross-check against a measured row: "
            f"{ex['name']} ran the {tier_bytes / 1e9:.2f} GB ×100 tier in "
            f"{ex['x100_s']} s on {THREADS} threads = "
            f"{ex['x100_s'] * THREADS / 3600:.3f} core-h for "
            f"{tier_tb:.5f} TB → {ex['core_h_tb']:.2f} core-h/TB, the "
            "table's value, derived from a committed ×100 measurement.",
        ],
    }


def _cluster_shape(rows: list[dict], memory: dict[str, dict]) -> list[str]:
    """Driven by the total provisioned core-hours of the full headline
    pipeline and the measured worst memory floor."""
    total_prov = sum(r["prov_h_tb"] or r["core_h_tb"] for r in rows)
    worst_floor = max(m["floor_gb"] for m in memory.values())
    gb_per_core = worst_floor / THREADS
    oom_rows = sorted(
        (n, m["oom_budgets"]) for n, m in memory.items() if m.get("oom_budgets")
    )
    return [
        f"- Full headline set: **{total_prov:.1f} provisioned core-hours",
        f"  per input TB** → ~{total_prov * 100:.0f} k-core-hours per 100 TB",
        "  pass over every headline query (one-query pipelines take their",
        "  row's share).",
        f"- Memory: the measured worst floor is **{worst_floor:.0f} GB"
        f" per 32 task threads ({gb_per_core:.2f} GB/core)** at ×100"
        " bytes. The LLM/relational heavy set completes at EVERY"
        " probed budget down to 3 g (the engine degrades by spilling,"
        " ≤1.5× slowdown — SCALING.md memory appendix)."
        + (
            " The graph family has a REAL floor: "
            + "; ".join(f"{n} OOMs at {'/'.join(b)}" for n, b in oom_rows)
            + " — the triangle kernels carry Θ(wedges) bytes of"
            " adjacency arrays through two joins and the pagerank"
            " fixpoint holds per-iteration checkpoint blocks + join"
            " state, so provision graph stages at ≥2× that floor"
            " per 32 threads."
            if oom_rows
            else ""
        ),
        "  Production executors should still provision several× more"
        " per core: working sets grow with partition bytes, and"
        " headroom buys back the spill slowdown.",
        f"- Shape: 32-core executors with"
        f" {max(8, int(gb_per_core * 2 * 32))} GB each (2× floor),"
        " shuffle-partition ceiling ≈ 2 MB/partition of expected",
        "  shuffle bytes (session.sized_shuffle_partitions), AQE on.",
    ]


def _graph_blocks(cores: dict, memory: dict) -> dict[str, list[str]]:
    """Graph-family capacity rows (VERDICT r09 #4) from the
    disjoint-copy tiers of GRAPH_SCALING.json — the main tiers exclude
    the graph family because fact replication over an unchanged catalog
    DENSIFIES the graph (superlinear by problem definition, not a scan
    signal)."""
    g = _json("GRAPH_SCALING.json")
    queries = g["queries"]
    tier_bytes = g["tier_bytes"]["gx100"]
    if len(queries) < 3:
        raise SystemExit(
            f"make_capacity: GRAPH_SCALING.json has only {len(queries)} "
            "queries (expected >= 3) — a probe run likely aborted mid-grid"
        )
    tier_tb = tier_bytes / 1e12
    threads = g.get("threads", THREADS)
    table = [
        "| query | g×100 wall (s) | growth/decade (g×10→g×100) | core-h/TB | of-ceiling | provisioned core-h/TB | mem floor |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, t in queries.items():
        x100 = t.get("gx100")
        x10 = t.get("gx10")
        if x100 is None:
            continue
        growth = f"{round(x100 / x10, 1)}×" if x10 else "—"
        core_h = x100 * threads / tier_tb / 3600
        oc = cores.get(name)
        prov = core_h / oc if oc else None
        mem = memory.get(name, {})
        table.append(
            f"| {name} | {x100} | {growth} | {core_h:.2f} "
            f"| {oc if oc is not None else '—'} "
            f"| {f'{prov:.2f}' if prov else '—'} "
            f"| {mem.get('floor') or '—'} |"
        )
    return {
        "GRAPH_TIER_BYTES": [
            f"count). Tier bytes: {tier_bytes / 1e9:.2f} GB; same core-h/TB"],
        "GRAPH_TABLE": table,
    }


def _streaming_blocks() -> dict[str, list[str]]:
    """Streaming capacity rows (VERDICT r09 #5) from
    STREAMING_PROBE.json: state bytes per input TB — the number that
    sizes a 100 TB streaming deployment — plus sustained throughput
    from the sliced replay, at each query's largest measured tier."""
    s = _json("STREAMING_PROBE.json")
    results = s["results"]
    tier_bytes = s["tier_bytes"]
    order = ["x100", "x10", "sf0.1", "sf0.01"]
    if not any("x100" in tiers for tiers in results.values()):
        raise SystemExit(
            "make_capacity: STREAMING_PROBE.json has no x100 tier — run "
            "scripts/streaming_probe.py --tiers x100 before regenerating"
        )
    table = [
        "| query | tier | input MB | peak state MB | state GB per input TB | final/peak | evicted/input | MB/s sustained |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, tiers in results.items():
        label = next((t for t in order if t in tiers), None)
        if label is None:
            continue
        r = tiers[label]
        in_bytes = tier_bytes.get(label)
        in_mb = in_bytes / 1e6 if in_bytes else None
        peak_mb = r.get("peak_state_mb") or 0.0
        # peak_bytes/in_bytes × 1e12 B/TB ÷ 1e9 B/GB = peak_mb·2^20·1e3/in_bytes
        gb_tb = (peak_mb * (1 << 20) * 1e3 / in_bytes) if in_bytes else None
        peak_rows = r.get("peak_state_rows") or 0
        final_rows = r.get("final_state_rows") or 0
        total_in = sum((b.get("inputRows") or 0) for b in r.get("batches", []))
        evicted = r.get("rows_evicted") or 0
        mbs = (in_mb / r["wall_s"]) if (in_mb and r.get("wall_s")) else None
        table.append(
            f"| {name} | {label} | {f'{in_mb:.0f}' if in_mb else '—'} "
            f"| {peak_mb} "
            f"| {f'{gb_tb:.2f}' if gb_tb is not None else '—'} "
            f"| {f'{final_rows / peak_rows:.3f}' if peak_rows else '—'} "
            f"| {f'{evicted / total_in:.2f}' if total_in else '—'} "
            f"| {f'{mbs:.1f}' if mbs else '—'} |"
        )
    return {"STREAMING_TABLE": table,
            "BACKEND_TABLE": _backend_comparison(results, order)}


def _backend_comparison(results: dict, order: list[str]) -> list[str]:
    """State-store backend recommendation (VERDICT r11 #5): the
    probe's RocksDB cells (`<tier>@rocksdb` labels from
    `streaming_probe.py --backend rocksdb`) against the default
    HDFS-backed in-memory store at the same tier — a measured
    recommendation instead of the folklore one."""
    rows = []
    for name, tiers in results.items():
        for base in order:
            rk = tiers.get(f"{base}@rocksdb")
            hd = tiers.get(base)
            if rk and hd:
                rows.append((name, base, hd, rk))
                break
    if not rows:
        raise SystemExit(
            "make_capacity: STREAMING_PROBE.json has no RocksDB cells — run "
            "scripts/streaming_probe.py --backend rocksdb before regenerating"
        )
    lines = [
        "| query | tier | state MB (mem / rocksdb) | median trigger ms (mem / rocksdb) | wall s (mem / rocksdb) |",
        "|---|---|---|---|---|",
    ]
    worst_ratio = 0.0
    for name, base, hd, rk in rows:
        t_hd = hd.get("median_trigger_ms") or 0
        t_rk = rk.get("median_trigger_ms") or 0
        if t_hd:
            worst_ratio = max(worst_ratio, t_rk / t_hd)
        lines.append(
            f"| {name} | {base} | {hd.get('peak_state_mb')} / "
            f"{rk.get('peak_state_mb')} | {t_hd} / {t_rk} "
            f"| {hd.get('wall_s')} / {rk.get('wall_s')} |"
        )
    lines += [
        "",
        f"**Recommendation:** at the largest measured tier RocksDB's "
        f"median trigger is at worst {worst_ratio:.2f}× the in-memory "
        "store's (parity on the join and the per-key totals, the "
        "premium concentrated on watermark dedup's delete-heavy "
        "churn). The in-memory store wins raw latency while state fits "
        "the heap; a 100 TB deployment should run **RocksDB** for the "
        "stateful operators whose state scales with arrival rate "
        "(join/dedup) or key cardinality (running_user_totals) — "
        "state past the block cache lives on local disk, so a rate "
        "spike degrades to disk I/O instead of an executor OOM, at "
        "the measured trigger-latency premium. Tumbling windows "
        "(constant state) can keep the in-memory store.",
    ]
    return lines


def main() -> int:
    for name, lines in build().items():
        splice_block(CAPACITY_MD, name, lines)
    print(f"wrote {CAPACITY_MD}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
