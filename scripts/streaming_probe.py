#!/usr/bin/env python
"""Streaming state-size probe (VERDICT r06 #6).

The bench's availableNow replay of a single fixture file runs as ONE
micro-batch — the watermark never advances mid-run, so nothing about
state BOUNDEDNESS is demonstrated, and the 17 s constant on
stream_stream_join_purchases was never decomposed. This probe:

1. stages `events` sorted by ts into N time-sliced parquet files per
   tier (sf0.01, sf0.1, ×10 via the scaling probe's staged tier), with
   ascending mtimes so the file source replays them in event-time order;
2. runs the stateful queries (stream-stream join, watermark dedup,
   tumbling window) with maxFilesPerTrigger=1 + availableNow → one
   micro-batch per slice, watermark advancing between slices;
3. records per-batch stateOperators metrics (numRowsTotal,
   memoryUsedBytes) and trigger durations from recentProgress.

The scale claim under test: peak state is bounded by (arrival rate ×
watermark delay), NOT by corpus size — state rows must PLATEAU across
batches and grow ≈linearly with tier event-RATE (events/hour of event
time), while total input grows 10×/tier. MUST own the box (CLAUDE.md).

Usage: python scripts/streaming_probe.py [--tiers sf0.01,sf0.1,x10] [--backend rocksdb]
Merges the grid into STREAMING_PROBE.json and writes its table into
SCALING.md's streaming section (the STREAMING_TABLE fence).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import uuid

import probe
from probe import REPO, SF001, SF01, STAGE_X10, STAGE_X100

N_SLICES = 12
STAGE_ROOT = "/tmp/spark_graft_stream_tiers"

TIERS = {
    "sf0.01": SF001,
    "sf0.1": SF01,
    "x10": STAGE_X10,
    # VERDICT r09 #5: the ×100 tier (10M events over the SAME
    # event-time range — a ×100 arrival RATE; event/user ids are
    # shifted per replica as of r10, so state must genuinely scale
    # with rate and eviction must keep up).
    "x100": STAGE_X100,
}


def _stage_sliced(spark, src_dir: str, label: str) -> str:
    """Stage events as N_SLICES time-ordered files (shared helper:
    hpat_jl_spark/streaming/replay.py, also used by the kill-and-resume
    tests). The marker is keyed on (source row count, N_SLICES) —
    ADVICE r07: a bare "ok" marker silently reused stale slices when the
    fixture or the slice count changed, reporting numbers for old data."""
    from hpat_jl_spark.streaming.replay import stage_time_slices
    from hpat_jl_spark.tables import load_table

    out = os.path.join(STAGE_ROOT, label)
    n = load_table(spark, "events", src_dir).count()
    probe.stage_once(
        {out: lambda spark, d: stage_time_slices(spark, src_dir, d, N_SLICES)},
        spark=spark, key=f"rows={n} slices={N_SLICES}",
    )
    return out


def _run_stream(spark, make_stream, staged: str, mode: str) -> dict:
    """Run a stream over the sliced dir, one file per micro-batch, to a
    noop sink; return batch-level state metrics from recentProgress."""
    reader = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    out = make_stream(reader)
    t0 = time.perf_counter()
    q = (out.writeStream.format("noop")
         .outputMode(mode)
         .option("checkpointLocation",
                 os.path.join(STAGE_ROOT, f"ckpt_{uuid.uuid4().hex[:10]}"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    wall = time.perf_counter() - t0
    prog = q.recentProgress
    batches = []
    for p in prog:
        ops = p.get("stateOperators") or []
        batches.append({
            "batchId": p.get("batchId"),
            "inputRows": p.get("numInputRows"),
            "trigger_ms": (p.get("durationMs") or {}).get("triggerExecution"),
            "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
            "state_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
            "rows_removed": sum(o.get("numRowsRemoved", 0) for o in ops),
        })
    return {
        "wall_s": round(wall, 2),
        "n_batches": len([b for b in batches if (b["inputRows"] or 0) > 0
                          or b["state_rows"] > 0]),
        "batches": batches,
        "peak_state_rows": max((b["state_rows"] for b in batches), default=0),
        "final_state_rows": batches[-1]["state_rows"] if batches else 0,
        "peak_state_mb": round(max((b["state_bytes"] for b in batches),
                                   default=0) / 1048576, 2),
        "rows_evicted": sum(b["rows_removed"] or 0 for b in batches),
        "median_trigger_ms": sorted(
            b["trigger_ms"] or 0 for b in batches
        )[len(batches) // 2] if batches else None,
    }


def _queries():
    from hpat_jl_spark.streaming.dedup import dedup_within_watermark
    from hpat_jl_spark.streaming.windows import (
        stream_stream_purchase_after_view,
        tumbling_counts,
    )

    def join_q(ev):
        return stream_stream_purchase_after_view(ev, watermark="1 hour")

    def dedup_q(ev):
        return dedup_within_watermark(ev, keys=["event_id"], delay="1 hour")

    def tumbling_q(ev):
        return tumbling_counts(ev, window="1 hour", watermark="2 hours")

    def totals_q(ev):
        # VERDICT r09 #5: the custom-stateful (applyInPandasWithState)
        # operator joins the probe — its state is one row per user
        # (NoTimeout), so state rows must track USER cardinality
        # (shifted per replica), not event count.
        from hpat_jl_spark.streaming.stateful import running_user_totals

        return running_user_totals(ev)

    return [
        ("stream_stream_join_purchases", join_q, "append"),
        ("stream_dedup_events", dedup_q, "append"),
        ("stream_tumbling_counts", tumbling_q, "append"),
        ("stream_running_user_totals", totals_q, "update"),
    ]


def main() -> None:
    from hpat_jl_spark.session import get_spark

    tier_arg = None
    for i, a in enumerate(sys.argv):
        if a == "--tiers" and i + 1 < len(sys.argv):
            tier_arg = sys.argv[i + 1].split(",")
    tiers = {k: v for k, v in TIERS.items()
             if (tier_arg is None or k in tier_arg) and os.path.isdir(v)}

    # VERDICT r10 #7: the state-store BACKEND axis. `--backend rocksdb`
    # re-runs the same grid under RocksDBStateStoreProvider (off-heap,
    # disk-backed — the backend a 100 TB deployment would pick when
    # per-partition state exceeds executor heap) and records each cell
    # under the tier label "<tier>@rocksdb", so the JSON holds both
    # backends side by side and the delta (peak-state bytes, trigger
    # median) is a measured recommendation, not an assumed one.
    backend = "hdfs"
    if "--backend" in sys.argv:
        backend = sys.argv[sys.argv.index("--backend") + 1].lower()
    extra_conf = {}
    label_suffix = ""
    if backend == "rocksdb":
        extra_conf["spark.sql.streaming.stateStore.providerClass"] = (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
        label_suffix = "@rocksdb"

    spark = get_spark(
        app_name=f"streaming-probe-{backend}",
        shuffle_partitions=32,
        extra_conf=extra_conf or None,
    )
    os.makedirs(STAGE_ROOT, exist_ok=True)
    results: dict[str, dict[str, dict]] = {}
    for label, src in tiers.items():
        staged = _stage_sliced(spark, src, label)
        label = label + label_suffix
        for name, make, mode in _queries():
            r = _run_stream(spark, make, staged, mode)
            results.setdefault(name, {})[label] = r
            print(f"# {label} {name}: wall={r['wall_s']}s "
                  f"batches={r['n_batches']} peak_state={r['peak_state_rows']} "
                  f"final={r['final_state_rows']} evicted={r['rows_evicted']} "
                  f"median_trigger={r['median_trigger_ms']}ms",
                  file=sys.stderr)
    # cleanup checkpoints
    for d in os.listdir(STAGE_ROOT):
        if d.startswith("ckpt_"):
            shutil.rmtree(os.path.join(STAGE_ROOT, d), ignore_errors=True)
    # Persist the raw grid for make_capacity's streaming rows (state
    # bytes per input TB is the number a 100 TB operator needs).
    tier_bytes = {label: probe.dir_bytes(os.path.join(STAGE_ROOT, label))
                  for label in tiers}
    payload = {"results": results, "tier_bytes": tier_bytes}
    path = os.path.join(REPO, "STREAMING_PROBE.json")
    prior = {}
    try:
        with open(path) as fh:
            prior = json.load(fh)
    except (OSError, ValueError):
        pass
    # merge per (query, tier) so partial --tiers runs extend, not clobber
    for name, tr in payload["results"].items():
        prior.setdefault("results", {}).setdefault(name, {}).update(tr)
    prior.setdefault("tier_bytes", {}).update(tier_bytes)
    with open(path, "w") as fh:
        json.dump(prior, fh, indent=1)
    # Splice the MERGED grid (not just this run's tiers) so per-tier
    # partial runs compose into one complete SCALING.md table.
    all_tiers = [t for t in TIERS
                 if any(t in tr
                        for tr in prior.setdefault("results", {}).values())]
    probe.splice_block(os.path.join(REPO, "SCALING.md"), "STREAMING_TABLE",
                       render(prior["results"], all_tiers))
    print(json.dumps(results, indent=1))


def render(results: dict, tier_names: list[str]) -> list[str]:
    lines = [
        "| query | tier | batches | peak state rows | final rows | evicted"
        " | peak state MB | median trigger (ms) | wall (s) |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for name, tiers in results.items():
        for t in tier_names:
            r = tiers.get(t)
            if not r:
                continue
            lines.append(
                f"| {name} | {t} | {r['n_batches']} | {r['peak_state_rows']}"
                f" | {r['final_state_rows']} | {r['rows_evicted']}"
                f" | {r['peak_state_mb']} | {r['median_trigger_ms']}"
                f" | {r['wall_s']} |"
            )
    return lines


if __name__ == "__main__":
    main()
