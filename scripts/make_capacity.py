#!/usr/bin/env python
"""CAPACITY.md generator (VERDICT r07 #3 / r08 #4): join the four
measured scale views — SCALING.md ×100 wall-clock, SHUFFLE.md byte
volumes, CORES.md of-ceiling fractions, MEMORY_PROBE.json memory
floors — into one per-query capacity projection: core-hours per input
TB and a recommended cluster shape for a 100 TB run.

Everything here is derived from committed measurements; the script
re-reads the artifacts so a probe re-run regenerates the projection
with zero hand-editing. Projection model (documented in the output):

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

from probe import REPO, STAGE_X100, dir_bytes, fmt_bytes

THREADS = 32
# Measured once from the staged tier (du -sb); recorded here so the
# projection regenerates without the staging present. Refreshed
# automatically when the staged dir exists at generation time.
X100_BYTES_DEFAULT = 1_561_000_000  # ~1.45 GiB parquet


def _x100_bytes() -> int:
    try:
        return dir_bytes(STAGE_X100) or X100_BYTES_DEFAULT
    except OSError:
        return X100_BYTES_DEFAULT


def parse_scaling() -> dict[str, dict]:
    """Tier table rows out of SCALING.md (same shape bench.py reads)."""
    rows: dict[str, dict] = {}
    with open(os.path.join(REPO, "SCALING.md")) as fh:
        for ln in fh:
            parts = [p.strip() for p in ln.strip().strip("|").split("|")]
            if len(parts) != 7 or parts[1] in ("sf0.01 (s)", "---"):
                continue
            try:
                rec = {
                    "sf0.1_s": float(parts[2]),
                    "x10_s": float(parts[3]),
                    "growth_x10": float(parts[4].rstrip("×x")),
                }
            except ValueError:
                continue
            try:
                rec["x100_s"] = float(parts[5])
                rec["growth_x100"] = float(parts[6].rstrip("×x"))
            except ValueError:
                pass
            rows[parts[0]] = rec
    return rows


def parse_shuffle() -> dict[str, dict]:
    """Per-query byte volumes at sf0.1 out of SHUFFLE.md's main table."""
    rows: dict[str, dict] = {}
    with open(os.path.join(REPO, "SHUFFLE.md")) as fh:
        for ln in fh:
            parts = [p.strip() for p in ln.strip().strip("|").split("|")]
            if len(parts) != 10 or parts[1] in ("jobs", "---"):
                continue
            try:
                rows[parts[0]] = {
                    "scan_mb": float(parts[4]),
                    "shw_mb": float(parts[6]),
                    "sh_scan": float(parts[8]),
                }
            except ValueError:
                continue
    return rows


def parse_cores() -> dict[str, float]:
    """of-ceiling per query out of CORES.md; the ×100 table (compute-
    dominated regime — the transferable number) wins over the ×10 one
    when a query appears in both."""
    x10: dict[str, float] = {}
    x100: dict[str, float] = {}
    current = x10
    with open(os.path.join(REPO, "CORES.md")) as fh:
        for ln in fh:
            if ln.startswith("## Table 2"):
                current = x100
            parts = [p.strip() for p in ln.strip().strip("|").split("|")]
            if len(parts) != 7 or parts[1].startswith("local[4]") or parts[1] == "---":
                continue
            try:
                current[parts[0]] = float(parts[6])
            except ValueError:
                continue
    return {**x10, **x100}


def parse_graph() -> dict:
    """GRAPH_SCALING.json (scripts/graph_scaling.py): disjoint-copy graph
    tiers — {"queries": {name: {"sf0.1": s, "gx10": s, "gx100": s}},
    "tier_bytes": {"gx10": b, "gx100": b}}. May not exist yet."""
    try:
        with open(os.path.join(REPO, "GRAPH_SCALING.json")) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def parse_streaming() -> dict:
    """STREAMING_PROBE.json (scripts/streaming_probe.py): per-(query,
    tier) replay metrics + staged tier bytes. May not exist yet."""
    try:
        with open(os.path.join(REPO, "STREAMING_PROBE.json")) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def parse_memory() -> dict[str, dict]:
    """floor budget + spill out of MEMORY_PROBE.json (may not exist)."""
    path = os.path.join(REPO, "MEMORY_PROBE.json")
    out: dict[str, dict] = {}
    try:
        with open(path) as fh:
            grid = json.load(fh)
    except (OSError, ValueError):
        return out
    for name, cells in grid.items():
        budgets = [b for b, rec in cells.items() if rec.get("ok")]
        if not budgets:
            continue
        floor = min(budgets, key=lambda b: float(re.sub(r"[^\d.]", "", b)))
        rec = cells[floor]
        out[name] = {
            "floor": floor,
            "floor_gb": float(re.sub(r"[^\d.]", "", floor)),
            "spill_bytes": rec.get("mem_spill_bytes", 0)
            + rec.get("disk_spill_bytes", 0),
            "floor_wall_s": rec.get("wall_s"),
            # numeric sort — lexicographic puts "16g" before "3g"
            "oom_budgets": sorted(
                (b for b, r in cells.items() if r.get("oom")),
                key=lambda b: float(re.sub(r"[^\d.]", "", b)),
            ),
        }
    return out


# Superlinear ×10→×100 growth documented as an OUTPUT bound of the
# verbatim-replication scheme (SCALING.md header), not a plan defect;
# flagged in the table because their production cost tracks duplicate
# rate, not input TB.
_OUTPUT_BOUND = {"dedup_minhash", "dedup_simhash", "fuzzy_decontaminate",
                 "embedding_dedup_clusters"}

# Of-ceiling values with a profiled structural cause (not a plan
# defect) get a footnote so the provisioned/TB reader lands on the
# evidence instead of re-opening the investigation. Keep in sync with
# the CORES.md prose the note cites.
_OC_NOTES = {
    "embedding_dedup_clusters": (
        "of-ceiling 0.20 with a FLAT width profile (~6-7.4 s at every "
        "thread count) is a fixed job floor plus FIXTURE-bounded "
        "kernel parallelism, not a plan defect (CORES.md late-r12 "
        "re-measure): the late-r12 rewrites removed the CC fixpoint "
        "entirely (SemDeDup edges are label-bucket-local, so one "
        "Arrow union-find kernel replaces ~20 propagation rounds — "
        "×100 wall 14.94 → 5.14 s, a 2.9× cut) and what remains is "
        "persist-fill/gram/union-find/agg jobs whose kernel stages "
        "the fixture caps at its 8 label buckets. At 100 TB the "
        "bucket count (IVF cells) exceeds any core count and the "
        "floor amortizes with input, so the provisioned/TB row is a "
        "worst-case upper bound."
    ),
}


def build() -> str:
    scaling = parse_scaling()
    shuffle = parse_shuffle()
    cores = parse_cores()
    memory = parse_memory()
    tier_bytes = _x100_bytes()
    tier_tb = tier_bytes / 1e12

    names = [n for n, r in scaling.items() if "x100_s" in r]
    # ADVICE r09: the column-count-keyed parsers silently drop every
    # row if a generated table gains a column — CAPACITY.md would then
    # regenerate with empty data instead of failing. Make drift loud.
    for what, got, floor in (
        ("SCALING.md ×100 rows", len(names), 5),
        ("SHUFFLE.md rows", len(shuffle), 10),
        ("CORES.md rows", len(cores), 5),
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
        sh = shuffle.get(n, {})
        # shuffle bytes per input TB: sh:scan is scale-free (both sides
        # grow linearly for linear plans), so TB shuffled per TB scanned
        mem = memory.get(n, {})
        rows.append({
            "name": n,
            "x100_s": s["x100_s"],
            "growth": s.get("growth_x100"),
            "core_h_tb": core_s_tb / 3600,
            "of_ceiling": oc,
            "prov_h_tb": prov / 3600 if prov else None,
            "sh_scan": sh.get("sh_scan"),
            "mem_floor": mem.get("floor"),
            "spill": mem.get("spill_bytes"),
        })
    rows.sort(key=lambda r: -(r["prov_h_tb"] or r["core_h_tb"]))
    top3 = rows[:3]

    # Cluster shape: drive from the measured worst memory floor and the
    # total provisioned core-hours of the full headline pipeline.
    total_prov = sum(r["prov_h_tb"] or r["core_h_tb"] for r in rows)
    worst_floor = max(
        (m["floor_gb"] for m in memory.values()), default=None
    )
    gb_per_core = (worst_floor / THREADS) if worst_floor else None

    lines = [
        "# CAPACITY — projected cost of a 100 TB run",
        "",
        "Generated by `python scripts/make_capacity.py` from the four",
        "measured artifacts (re-run it after any probe refresh):",
        "SCALING.md (×100 wall), SHUFFLE.md (bytes), CORES.md",
        "(of-ceiling), MEMORY_PROBE.json (memory floors). Projection:",
        "",
        "    core_s/TB      = x100_wall × 32 threads ÷ measured tier bytes"
        f" ({tier_bytes / 1e9:.2f} GB)",
        "    provisioned/TB = core_s/TB ÷ of_ceiling   (cores you must BUY",
        "                     for the plan's achievable parallel fraction)",
        "",
        "Caveats, honestly stated: (a) this box's per-core throughput is",
        "a shared-VM lower bound — real cluster cores are faster, so the",
        "absolute core-hours are conservative; (b) rows flagged `output-",
        "bound` have superlinear ×10→×100 growth by OUTPUT size under the",
        "tier's verbatim 100-way duplication (SCALING.md header) — their",
        "production cost tracks duplicate rate, not input TB, and the",
        "projection is a lower bound at adversarial duplicate rates;",
        "(c) per-TB numbers assume the ×100 tier's compute-dominated",
        "regime transfers (CORES.md Table 2 shows of-ceiling RISING with",
        "input size — the fixed serial floor amortizes, so at 100 TB the",
        "per-TB cost falls below these numbers, again conservative).",
        "",
        "| query | ×100 wall (s) | growth/decade | core-h/TB | of-ceiling | provisioned core-h/TB | shuffle:scan | mem floor (32 thr) | spill@floor |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        flag = " ⚠output-bound" if r["name"] in _OUTPUT_BOUND else ""
        lines.append(
            f"| {r['name']}{flag} | {r['x100_s']} "
            f"| {r['growth']}× "
            f"| {r['core_h_tb']:.2f} "
            f"| {r['of_ceiling'] if r['of_ceiling'] is not None else '—'} "
            f"| {f'{r_prov:.2f}' if (r_prov := r['prov_h_tb']) else '—'} "
            f"| {r['sh_scan'] if r['sh_scan'] is not None else '—'} "
            f"| {r['mem_floor'] or '—'} "
            f"| {fmt_bytes(r['spill']) if r['spill'] is not None else '—'} |"
        )
    noted = [r["name"] for r in rows if r["name"] in _OC_NOTES]
    if noted:
        lines.append("")
        for n in noted:
            lines.append(f"*{n}*: {_OC_NOTES[n]}")
    lines += [
        "",
        "## Top-3 cost drivers",
        "",
    ]
    for i, r in enumerate(top3, 1):
        cost = r["prov_h_tb"] or r["core_h_tb"]
        lines.append(
            f"{i}. **{r['name']}** — {cost:.2f} provisioned core-h/TB"
            f" (of-ceiling {r['of_ceiling'] or '?'}, shuffle:scan"
            f" {r['sh_scan'] if r['sh_scan'] is not None else '?'})"
            + (" — output-bound under 100-way verbatim duplication;"
               " production cost tracks duplicate rate"
               if r["name"] in _OUTPUT_BOUND else "")
        )
    lines += [
        "",
        "## Recommended cluster shape (100 TB corpus)",
        "",
        f"- Full headline set: **{total_prov:.1f} provisioned core-hours",
        f"  per input TB** → ~{total_prov * 100:.0f} k-core-hours per 100 TB",
        "  pass over every headline query (one-query pipelines take their",
        "  row's share).",
    ]
    oom_rows = sorted(
        (n, m["oom_budgets"]) for n, m in memory.items() if m.get("oom_budgets")
    )
    if worst_floor and gb_per_core:
        lines += [
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
    else:
        lines += [
            "- Memory floors not yet measured (run scripts/memory_probe.py"
            " first; MEMORY_PROBE.json missing).",
        ]
    lines += _graph_section(cores, memory)
    lines += _streaming_section()
    ex = rows[0] if rows else None
    if ex:
        lines += [
            "",
            "Cross-check against a measured row: "
            f"{ex['name']} ran the {tier_bytes / 1e9:.2f} GB ×100 tier in "
            f"{ex['x100_s']} s on {THREADS} threads = "
            f"{ex['x100_s'] * THREADS / 3600:.3f} core-h for "
            f"{tier_tb:.5f} TB → {ex['core_h_tb']:.2f} core-h/TB, the "
            "table's value, derived from a committed ×100 measurement.",
        ]
    return "\n".join(lines) + "\n"


def _graph_section(cores: dict[str, float], memory: dict[str, dict]) -> list[str]:
    """Graph-family capacity rows (VERDICT r09 #4) from the
    disjoint-copy tiers — the main tiers exclude the graph family
    because fact replication over an unchanged catalog DENSIFIES the
    graph (superlinear by problem definition, not a scan signal)."""
    g = parse_graph()
    queries = g.get("queries") or {}
    tier_bytes = (g.get("tier_bytes") or {}).get("gx100")
    if not queries or not tier_bytes:
        return [
            "",
            "## Graph family",
            "",
            "Not yet measured — run `python scripts/graph_scaling.py`"
            " (stages disjoint-copy tiers, writes GRAPH_SCALING.json).",
        ]
    if len(queries) < 3:
        raise SystemExit(
            f"make_capacity: GRAPH_SCALING.json has only {len(queries)} "
            "queries (expected >= 3) — a probe run likely aborted mid-grid"
        )
    tier_tb = tier_bytes / 1e12
    threads = g.get("threads", THREADS)
    lines = [
        "",
        "## Graph family (disjoint-copy g×100 tier)",
        "",
        "From GRAPH_SCALING.json (scripts/graph_scaling.py): tiers",
        "shift every vertex-forming key per replica, so ×N is N disjoint",
        "copies of the base graph and the honest output bound is LINEAR",
        "(10×/decade) for every query — growth above ~10× would be a",
        "real plan defect (a shuffle or driver loop superlinear in edge",
        f"count). Tier bytes: {tier_bytes / 1e9:.2f} GB; same core-h/TB",
        "model as the main table.",
        "",
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
        lines.append(
            f"| {name} | {x100} | {growth} | {core_h:.2f} "
            f"| {oc if oc is not None else '—'} "
            f"| {f'{prov:.2f}' if prov else '—'} "
            f"| {mem.get('floor') or '—'} |"
        )
    return lines


def _streaming_section() -> list[str]:
    """Streaming capacity rows (VERDICT r09 #5): state bytes per input
    TB — the number that sizes a 100 TB streaming deployment — plus
    sustained throughput from the sliced replay."""
    s = parse_streaming()
    results = s.get("results") or {}
    tier_bytes = s.get("tier_bytes") or {}
    # prefer the largest measured tier per query
    order = ["x100", "x10", "sf0.1", "sf0.01"]
    if not results:
        return [
            "",
            "## Streaming operators",
            "",
            "Not yet measured — run `python scripts/streaming_probe.py`"
            " (writes STREAMING_PROBE.json).",
        ]
    if not any("x100" in tiers for tiers in results.values()):
        raise SystemExit(
            "make_capacity: STREAMING_PROBE.json has no x100 tier — run "
            "scripts/streaming_probe.py --tiers x100 before regenerating"
        )
    lines = [
        "",
        "## Streaming operators (sliced replay, largest measured tier)",
        "",
        "From STREAMING_PROBE.json (scripts/streaming_probe.py): the",
        "capacity number for a stateful stream is PEAK STATE per input",
        "byte — state is what you provision executors for; throughput",
        "follows from batch wall. `state GB/TB` projects peak state",
        "bytes linearly per input TB at the measured arrival-rate shape",
        "(tiers multiply the arrival RATE over a fixed event-time range,",
        "ids shifted per replica — a genuine ×N-key stream).",
        "Join/dedup state is bounded by rate × watermark delay (final ≪",
        "peak proves eviction keeps up); tumbling state is windows ×",
        "types (constant); running_user_totals state is one row per",
        "distinct user by design (NoTimeout) — size it by key count,",
        "not input. A state GB/TB above 1000 is not a typo: state-store",
        "rows cost ~450 B each (keys + values + store overhead,",
        "uncompressed) vs ~9 B/row in the snappy parquet input, so even",
        "a watermark horizon holding ~8% of arrivals exceeds the input's",
        "compressed bytes — provision state memory by ROWS in the",
        "horizon × ~450 B, which is what this column measures.",
        "",
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
        lines.append(
            f"| {name} | {label} | {f'{in_mb:.0f}' if in_mb else '—'} "
            f"| {peak_mb} "
            f"| {f'{gb_tb:.2f}' if gb_tb is not None else '—'} "
            f"| {f'{final_rows / peak_rows:.3f}' if peak_rows else '—'} "
            f"| {f'{evicted / total_in:.2f}' if total_in else '—'} "
            f"| {f'{mbs:.1f}' if mbs else '—'} |"
        )
    lines += _backend_comparison(results, order)
    return lines


def _backend_comparison(results: dict, order: list[str]) -> list[str]:
    """State-store backend recommendation (VERDICT r11 #5): when the
    probe has RocksDB cells (`<tier>@rocksdb` labels from
    `streaming_probe.py --backend rocksdb`), compare them against the
    default HDFS-backed in-memory store at the same tier and emit a
    measured recommendation instead of the folklore one."""
    rows = []
    for name, tiers in results.items():
        for base in order:
            rk = tiers.get(f"{base}@rocksdb")
            hd = tiers.get(base)
            if rk and hd:
                rows.append((name, base, hd, rk))
                break
    if not rows:
        return []
    lines = [
        "",
        "### State-store backend: RocksDB vs in-memory (measured)",
        "",
        "Same sliced replay per cell, `RocksDBStateStoreProvider` vs the",
        "default HDFS-backed in-memory store (largest tier with both",
        "backends, same box-day). `state MB` for RocksDB is the",
        "provider-reported NATIVE residency (block cache + memtables +",
        "pinned blocks — off-heap), and at these state sizes it reads",
        "LARGER than the in-memory store's on-heap map: the trade is not",
        "a smaller footprint, it is a BOUNDED, off-heap one — past the",
        "cache, state lives on local disk, so residency stops tracking",
        "state size while the in-memory store's heap usage grows with",
        "every row it holds.",
        "",
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
    text = build()
    with open(os.path.join(REPO, "CAPACITY.md"), "w") as fh:
        fh.write(text)
    print(text)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
