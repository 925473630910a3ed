#!/usr/bin/env python
"""Per-query fixed-cost profiler (VERDICT r06 #1).

Runs ONE registered query at $SPARK_GRAFT_SF_DIR twice (first run pays
codegen JIT) and decomposes the STEADY-STATE run via the status REST
API: per-job wall spans and inter-job driver gaps, per-stage task
counts / executorRunTime, and the wall-vs-work split — the fixed cost
the sub-second TPC-H queries pay (scheduling, AQE re-planning,
broadcast builds, codegen) vs actual executor work.

Usage: python scripts/profile_query.py q5_local_supplier_volume [...]
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _api(base: str, app: str, path: str):
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/{path}") as r:
        return json.load(r)


def _ts(s: str) -> float:
    # Spark REST timestamps: '2026-08-15T10:00:00.123GMT'
    return _dt.datetime.strptime(s.replace("GMT", "+0000"),
                                 "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def profile(spark, name: str, sf_dir: str) -> None:
    from hpat_jl_spark import registry

    sc = spark.sparkContext
    base, app = sc.uiWebUrl, sc.applicationId
    fn = registry.queries()[name]

    spark.catalog.clearCache()
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    warm = time.perf_counter() - t0

    before = {j["jobId"] for j in _api(base, app, "jobs")}
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0

    jobs = sorted(
        (j for j in _api(base, app, "jobs") if j["jobId"] not in before),
        key=lambda j: j["jobId"],
    )
    stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
    stages = {s["stageId"]: s for s in _api(base, app, "stages")
              if s["stageId"] in set(stage_ids)}

    print(f"\n=== {name} @ {sf_dir} ===")
    print(f"warmup run : {warm:.3f}s")
    print(f"steady run : {wall:.3f}s   jobs={len(jobs)} "
          f"stages={len(stage_ids)}")
    # job spans + inter-job gaps (driver-side planning/AQE/broadcasts)
    spans = []
    for j in jobs:
        t_sub = _ts(j["submissionTime"])
        t_end = _ts(j["completionTime"]) if j.get("completionTime") else t_sub
        spans.append((j["jobId"], t_sub, t_end))
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
        st = stages.get(sid)
        if st is None:
            print(f"{sid:>6}    (skipped — reused exchange)")
            continue
        task_ms += st.get("executorRunTime", 0)
        print(f"{sid:>6} {st['numTasks']:>6} {st.get('executorRunTime', 0):>8}"
              f" {st['status']:>9}  {st['name'].splitlines()[0][:60]}")
    from hpat_jl_spark.session import local_cpus

    cpus = local_cpus()
    print(f"sum executorRunTime: {task_ms/1000:.3f}s "
          f"(÷{cpus} threads ≈ {task_ms/1000/cpus:.3f}s ideal-parallel)")


def main() -> None:
    from hpat_jl_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        app_name="profile-query", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.range(1000).selectExpr("sum(id)").collect()
    for q in sys.argv[1:]:
        profile(spark, q, sf_dir)
    spark.stop()


if __name__ == "__main__":
    main()
