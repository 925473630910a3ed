#!/usr/bin/env python
"""Per-query fixed-cost profiler (VERDICT r06 #1).

Runs ONE registered query at $SPARK_GRAFT_SF_DIR twice (first run pays
codegen JIT) and decomposes the STEADY-STATE run from Spark's
in-process status store (probe.StatusWindow): per-job wall spans and
inter-job driver gaps, per-stage task counts / executorRunTime, and the
wall-vs-work split — the fixed cost the sub-second TPC-H queries pay
(scheduling, AQE re-planning, broadcast builds, codegen) vs actual
executor work.

Usage: python scripts/profile_query.py q5_local_supplier_volume [...]
"""

from __future__ import annotations

import os
import sys
import time

import probe


def profile(spark, name: str, sf_dir: str) -> None:
    from hpat_jl_spark import registry
    from hpat_jl_spark.session import local_cpus

    fn = registry.queries()[name]

    spark.catalog.clearCache()
    t0 = time.perf_counter()
    probe.run_noop(fn(spark, sf_dir))
    warm = time.perf_counter() - t0

    window = probe.StatusWindow(spark)
    t0 = time.perf_counter()
    probe.run_noop(fn(spark, sf_dir))
    wall = time.perf_counter() - t0

    jobs = window.jobs()
    stage_ids = sorted({s for j in jobs for s in j["stage_ids"]})
    stages = {s["id"]: s for s in window.stages(stage_ids)}  # last attempt

    print(f"\n=== {name} @ {sf_dir} ===")
    print(f"warmup run : {warm:.3f}s")
    print(f"steady run : {wall:.3f}s   jobs={len(jobs)} "
          f"stages={len(stage_ids)}")
    # job spans + inter-job gaps (driver-side planning/AQE/broadcasts)
    spans = [(j["id"], j["start_s"], j["end_s"] or j["start_s"]) for j in jobs]
    in_jobs = sum(e - s for _, s, e in spans)
    gaps = 0.0
    for (a, b) in zip(spans, spans[1:]):
        gaps += max(0.0, b[1] - a[2])
    lead = wall - in_jobs - gaps  # pre-first-job planning + post tail
    print(f"decomposition: in-jobs {in_jobs:.3f}s, inter-job gaps "
          f"{gaps:.3f}s, outside (plan/analyze/tail) {max(lead,0):.3f}s")
    for jid, s, e in spans:
        print(f"  job {jid}: {e - s:.3f}s")
    print(f"{'stage':>6} {'tasks':>6} {'runMs':>8} {'status':>9}  name")
    task_ms = 0
    for sid in stage_ids:
        st = stages[sid]
        task_ms += st["run_ms"]
        print(f"{sid:>6} {st['tasks']:>6} {st['run_ms']:>8}"
              f" {st['status']:>9}  {st['name'].splitlines()[0][:60]}")
    cpus = local_cpus()
    print(f"sum executorRunTime: {task_ms/1000:.3f}s "
          f"(÷{cpus} threads ≈ {task_ms/1000/cpus:.3f}s ideal-parallel)")


def main() -> None:
    from hpat_jl_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", probe.SF01)
    spark = get_spark(app_name="profile-query")
    spark.range(1000).selectExpr("sum(id)").collect()
    for q in sys.argv[1:]:
        profile(spark, q, sf_dir)
    spark.stop()


if __name__ == "__main__":
    main()
