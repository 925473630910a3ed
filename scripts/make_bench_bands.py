#!/usr/bin/env python
"""Generate BENCH_BANDS.json from an idle-box BENCH_DETAIL.json
(VERDICT r06 #7: per-query regression guard).

Bands are ±50% on the vs-DuckDB ratio PLUS an additive 0.35 noise
allowance where an oracle twin exists (ratios cancel most box noise
since both engines share the box within the same minute — but for
sub-second queries the ratio is decided by ~0.1 s quantities on BOTH
sides, and a purely multiplicative band on a small base ratio leaves
less absolute slack than one engine's scheduling jitter: three
back-to-back idle r9 runs each breached a DIFFERENT small query by
2-10% — dedup_exact 2.82 vs 2.80, q21 10.33 vs 10.11,
duplicate_span_report 2.84 vs 2.59 — pure noise, different victim
every run). The paired absolute sec_hi ceiling (×3) stays the real
regression backstop; a genuine plan regression clears both. Absolute
seconds ×1.5 band otherwise. Only UPPER breaches fail `bench.py
--check` — a query getting faster is not a regression. Refuses to
generate from a loaded-box run (the band would bake the contention
in).

Usage: python scripts/make_bench_bands.py [BENCH_DETAIL.json]
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# VERDICT r12 #7: how to READ a band breach on the stream_* queries -
# against the structural micro-batch floor, not as an operator
# regression. ASCII only: BENCH_BANDS.json carries this text byte for
# byte (tests/test_bench_contract.py pins the match).
BAND_NOTES = {
    "streaming_floor": (
        "stream_* queries carry a structural ~0.3 s/micro-batch "
        "trigger floor from the local file-source replay harness "
        "(listing + offset log + state-store commit per batch), "
        "independent of the operators; at sf0.1 each stream query "
        "is 2-3 batches, so ~0.6-0.9 s of any stream wall is "
        "floor, not plan. A breach on a stream band therefore "
        "needs the per-trigger medians from CAPACITY.md's "
        "state-store grid before it reads as a regression: "
        "in-memory store medians are 30-80 ms/trigger at bench "
        "scale (RocksDB at worst 1.85x on delete-heavy watermark "
        "dedup, parity elsewhere; state MB identical) - a real "
        "operator regression shows up THERE, a floor artifact "
        "shows up only in wall seconds."
    ),
}


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "BENCH_DETAIL.json")
    with open(src) as fh:
        d = json.load(fh)
    box = d.get("box_before", {})
    if box.get("loaded"):
        sys.exit(f"refusing: source run was on a loaded box ({box})")
    q, duck = d["queries"], d.get("duckdb", {})
    bands: dict[str, dict] = {}
    for name, sec in q.items():
        if duck.get(name):
            ratio = sec / duck[name]
            # floor the ratio band at 1.0: sub-0.1-ratio queries (e.g.
            # fuzzy_name_pairs at 0.02) would otherwise get a band so
            # tight that duckdb-side noise trips it — but pair it with
            # a secondary ABSOLUTE ceiling (ADVICE r07: the floor alone
            # lets a 0.02x query regress ~50x, to parity with its
            # ~2-min twin, before breaching), and the sec_hi also backs
            # the band up when the twin timing is absent at check time.
            bands[name] = {
                "ratio_hi": round(max(ratio * 1.5 + 0.35, 1.0), 2),
                "sec_hi": round(max(sec * 3.0, 0.5), 2),
            }
        else:
            bands[name] = {"sec_hi": round(max(sec * 1.5, 0.5), 2)}
    out = {
        "source": os.path.basename(src),
        "source_total_s": d.get("value"),
        "box_before": box,
        "bands": bands,
        "notes": BAND_NOTES,
    }
    # Band-source compute yardstick (r12): bench.py records its
    # pure-compute calibration in box.calibration_s; carrying it here
    # lets a later `bench.py --check` WITHHOLD breach verdicts when the
    # box-day is measurably slower than the day these bands were cut
    # (see bench.py _CAL_DEGRADED_HI). Refuse silently-uncalibrated
    # bands only with a warning — older detail files predate the field.
    cal = (d.get("box") or {}).get("calibration_s")
    if cal:
        out["calibration_s"] = cal
        out["calibration_source"] = f"{os.path.basename(src)} box.calibration_s"
    else:
        print("WARNING: source detail has no box.calibration_s — "
              "degraded-box withholding will be inactive", file=sys.stderr)
    path = os.path.join(REPO, "BENCH_BANDS.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print(f"wrote {path} ({len(bands)} bands)")


if __name__ == "__main__":
    main()
