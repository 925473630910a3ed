#!/usr/bin/env python
"""Per-query job/stage/shuffle-byte audit → SHUFFLE.md.

Wall-clock tiers (SCALING.md) prove end-to-end growth; this audit
proves WHY from the engine's own accounting: for every bench headline
query it records, from Spark's in-process status stores (no UI, no
REST; probe.StatusWindow), the number of jobs,
completed + skipped (reused) stages, tasks, and the exact input /
shuffle-read / shuffle-write / output byte volumes — at two fixture
scales — and reports the shuffle:input ratio and the shuffle growth
between scales.

Why this matters at 100 TB: wall-clock at sf0.1 is dominated by fixed
JVM/scheduler overhead (BASELINE.md), so the scalable-vs-not signal
lives in the BYTES. A query whose shuffle volume is a small multiple of
its input and grows ~linearly with the fixture is scan-bound and ships
to a 1000-executor cluster as-is; a query whose shuffle grows
super-linearly is hiding a pair-explosion (the near-dup self-joins have
documented output bounds — the audit makes the actual volumes visible
instead of trusting the argument).

Methodology notes:
- Job attribution, scan volume (SQL scan nodes, not stage inputBytes,
  which is reported separately as `cache rd`) and skipped stages follow
  probe.StatusWindow; shuffle read/write bytes come from the shuffle
  writers and are exact.
- spark.catalog.clearCache() between queries (CLAUDE.md r6 trap:
  CacheManager entries persist for the session lifetime and later
  queries pay eviction interference; for a byte audit they would also
  report misleadingly small scan volumes on cache hits).

Usage:
  python scripts/shuffle_audit.py                # sf0.01 + sf0.1 → SHUFFLE.md table
  python scripts/shuffle_audit.py /root/testdata/sf0.01   # one tier, JSON to stdout
  python scripts/shuffle_audit.py --saturation   # staged tiers → saturation table
"""

from __future__ import annotations

import json
import os
import sys

import probe
from probe import REPO, SF001, SF01, STAGE_X10, STAGE_X100

DEFAULT_TIERS = [SF001, SF01]
_KEYS = ("jobs", "stages", "stages_skipped", "tasks", "scan_bytes", "cache_read_bytes",
         "shuffle_write_bytes", "shuffle_read_bytes", "output_bytes")


def audit_tier(sf_dir: str, names: list[str]) -> dict[str, dict]:
    from hpat_jl_spark import registry
    from hpat_jl_spark.session import get_spark

    spark = get_spark(app_name=f"shuffle-audit-{os.path.basename(sf_dir.rstrip('/'))}")
    qs = registry.queries()
    # warmup so session/codegen bootstrap jobs don't attribute to query 1
    spark.range(1000).selectExpr("sum(id)").collect()

    out: dict[str, dict] = {}
    for name in names:
        spark.catalog.clearCache()
        window = probe.StatusWindow(spark)
        try:
            probe.run_noop(qs[name](spark, sf_dir))
        except Exception as exc:  # keep auditing the rest
            out[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
            continue
        totals = window.totals()
        rec = out[name] = {k: totals[k] for k in _KEYS}
        print(f"# {sf_dir} {name}: jobs={rec['jobs']} "
              f"stages={rec['stages']}+{rec['stages_skipped']}skip "
              f"scan={rec['scan_bytes']>>20}MB "
              f"shw={rec['shuffle_write_bytes']>>20}MB",
              file=sys.stderr)
    spark.stop()
    return out


def _mb(n: int) -> str:
    return f"{n / 1048576:.1f}"


def render(tiers: dict[str, dict[str, dict]], names: list[str]) -> list[str]:
    (_, lo), (_, hi) = sorted(tiers.items())
    lines = [
        "| query | jobs | stages (+skip) | tasks | scan MB | cache rd MB | shw MB | shr MB | sh:scan | growΔ |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for n in names:
        h, l = hi.get(n, {}), lo.get(n, {})
        if "error" in h or not h:
            lines.append(f"| {n} | — | error/absent | | | | | | | |")
            continue
        sin = (h["shuffle_write_bytes"] / h["scan_bytes"]
               if h["scan_bytes"] else float("nan"))
        grow = (h["shuffle_write_bytes"] / l["shuffle_write_bytes"]
                if l.get("shuffle_write_bytes") else None)
        lines.append(
            f"| {n} | {h['jobs']} | {h['stages']} (+{h['stages_skipped']}) "
            f"| {h['tasks']} | {_mb(h['scan_bytes'])} | {_mb(h['cache_read_bytes'])} "
            f"| {_mb(h['shuffle_write_bytes'])} | {_mb(h['shuffle_read_bytes'])} "
            f"| {sin:.2f} | {f'{grow:.1f}×' if grow else '—'} |"
        )
    return lines


# Duplicate-saturation byte audit: the near-dup self-joins on the
# scaling probe's replicated tiers, where every document is a 10-/100-way
# duplicate — the adversarial case where a candidate join keyed on raw
# ids squares through the multiplicity. SCALING.md shows the wall-clock;
# this section shows the BYTES, which is the mechanism: sig-level
# banding keeps the shuffled stream proportional to DISTINCT content
# (+ the bounded C(N,2)-per-group pair output), not to id pairs.
SATURATION_QUERIES = [
    "dedup_minhash",
    "dedup_simhash",
    "embedding_dedup_clusters",
    "fuzzy_decontaminate",
    "benchmark_decontaminate",
]


def render_saturation(tiers: dict[str, dict[str, dict]]) -> list[str]:
    order = list(tiers)
    lines = [
        "| query | " + " | ".join(f"shw MB {t}" for t in order)
        + " | shw growth/decade | scan growth/decade |",
        "|---|" + "---|" * (len(order) + 2),
    ]
    for n in SATURATION_QUERIES:
        cells, shws, scans = [], [], []
        for t in order:
            h = tiers[t].get(n, {})
            if "error" in h or not h:
                cells.append("err")
                continue
            cells.append(_mb(h["shuffle_write_bytes"]))
            shws.append(h["shuffle_write_bytes"])
            scans.append(h["scan_bytes"])

        def _per_decade(vals: list[int]) -> str:
            if len(vals) < 2 or vals[0] <= 0:
                return "—"
            decades = len(vals) - 1  # tiers are ×10 apart
            return f"{(vals[-1] / vals[0]) ** (1 / decades):.1f}×"

        lines.append(
            f"| {n} | " + " | ".join(cells)
            + f" | {_per_decade(shws)} | {_per_decade(scans)} |"
        )
    return lines


def run_saturation() -> None:
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")  # ×100 OOMs at 8g
    tiers = {
        "base": audit_tier(SF01, SATURATION_QUERIES),
        "×10": audit_tier(STAGE_X10, SATURATION_QUERIES),
        "×100": audit_tier(STAGE_X100, SATURATION_QUERIES),
    }
    path = os.path.join(REPO, "SHUFFLE.md")
    probe.splice_block(path, "SATURATION_TABLE", render_saturation(tiers))
    print(f"wrote the saturation table of {path}")


def main() -> None:
    from hpat_jl_spark import registry

    names = registry.tagged("headline")
    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    if "--saturation" in sys.argv:
        run_saturation()
        return
    if args:
        print(json.dumps(audit_tier(args[0], names), indent=1))
        return
    tiers = {d: audit_tier(d, names) for d in DEFAULT_TIERS}
    path = os.path.join(REPO, "SHUFFLE.md")
    probe.splice_block(path, "SHUFFLE_TABLE", render(tiers, names))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
