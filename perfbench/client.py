"""One closed-loop client in a fresh process: set up the engine, make
passes over the workload's query list one call at a time, check every
query's output once, and write the raw record as JSON.

A call is ``fn(spark, sf_dir)`` (the plan build) followed by a write to
the ``noop`` sink (execution). Run by run.py, which owns the
environment, the inputs and the process tree.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import random
import time
from contextlib import nullcontext

from stats import cpu_times, steal_share

MIN_WARM_PASSES = 4
# enough warm calls that the tail percentile (>=10 calls beyond it) lies
# above the median
MIN_WARM_CALLS = 21
# A warm pass during which the hypervisor stole this share of the box's
# CPU time or more is run once more, while the client is younger than
# STEAL_RERUN_UNTIL_S: stolen time slows a pass by several times its
# share, and a regression check of 48 runs cannot afford longer runs.
STEAL_GATE = 0.02
STEAL_RERUN_UNTIL_S = 50.0


def _parse() -> argparse.Namespace:
    p = argparse.ArgumentParser()
    p.add_argument("--queries", required=True, help="comma-separated names")
    p.add_argument("--data", required=True, help="staged input directory")
    p.add_argument("--expected", required=True, help="cached oracle results")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--t0", type=float, required=True, help="epoch at spawn")
    p.add_argument("--workdir", required=True, help="where queries write")
    p.add_argument("--out", required=True)
    return p.parse_args()


def main() -> None:
    args = _parse()
    names = args.queries.split(",")
    setup: dict[str, float] = {}

    t = time.perf_counter()
    from hpat_jl_spark import registry
    from hpat_jl_spark.session import get_spark, sized_shuffle_partitions

    registry.load_all_plans()
    setup["registry.import_s"] = time.perf_counter() - t

    t = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        shuffle_partitions=sized_shuffle_partitions(args.data),
    )
    setup["session.start_s"] = time.perf_counter() - t

    t = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    setup["session.warmup_s"] = time.perf_counter() - t
    setup["setup_s"] = time.time() - args.t0

    tracer = None
    if args.trace:
        from telemetry import dir_bytes

        tracer = _traced(spark, args.workdir)

    rng = random.Random(args.seed)
    specs = {n: registry.REGISTRY[n] for n in names}
    calls: list[dict] = []
    passes: list[dict] = []

    def run_pass(kind: str, traced: bool) -> None:
        order = list(names)
        rng.shuffle(order)
        if tracer is not None and traced:
            tracer.begin_pass()
            tracer.active = True
        cpu0, t0 = cpu_times(), time.perf_counter()
        for q in order:
            calls.append(_call(spark, specs[q], args.data, len(passes), tracer))
        passes.append(
            {
                "kind": kind,
                "traced": traced,
                "wall_s": time.perf_counter() - t0,
                "steal_share": steal_share(cpu0, cpu_times()),
            }
        )
        if tracer is not None:
            tracer.active = False
            passes[-1]["workdir_bytes"] = dir_bytes(args.workdir)

    run_pass("first", traced=bool(args.trace))
    # Warm passes until the budget is spent, and at least a fixed count:
    # passes keep getting faster while JIT compilation settles, so a count
    # that varied with the box's speed would move the median along that
    # slope. A traced run makes one more, untraced and traced alternating
    # (U T U T U), and re-runs none.
    warm_needed = max(MIN_WARM_PASSES, -(-MIN_WARM_CALLS // len(names)))
    t_warm = time.perf_counter()
    while True:
        warm = [p for p in passes if p["kind"] == "warm"]
        quiet = [p for p in warm if p["steal_share"] < STEAL_GATE]
        enough = len(warm) >= warm_needed + args.trace and (
            args.trace
            or len(quiet) >= warm_needed
            or time.time() - args.t0 >= STEAL_RERUN_UNTIL_S
        )
        if enough and time.perf_counter() - t_warm >= args.seconds:
            break
        run_pass("warm", traced=bool(args.trace) and len(warm) % 2 == 1)

    t = time.perf_counter()
    checks = {q: _check(spark, specs[q], args.data, args.expected) for q in names}
    check_s = time.perf_counter() - t

    record = {
        "setup": setup,
        "warm_needed": warm_needed,
        "check_s": check_s,
        "passes": passes,
        "calls": calls,
        "checks": checks,
        "cores": spark.sparkContext.defaultParallelism,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }
    if tracer is not None:
        record["spans"] = tracer.spans
    spark.stop()
    with open(args.out, "w") as fh:
        json.dump(record, fh)


def _call(spark, spec, sf_dir: str, pass_no: int, tracer) -> dict:
    """One timed call. On a traced pass it runs under its own job group
    and is followed (outside its timing) by the status-store capture."""
    rec = {"pass": pass_no, "query": spec.name, "error": None}
    traced = tracer is not None and tracer.active
    if traced:
        group = f"perfbench-{pass_no}-{spec.name}"
        spark.sparkContext.setJobGroup(group, spec.name)
        first_job = tracer.next_job_id()
    df = None
    with (tracer.span("call", query=spec.name) if traced else nullcontext()) as span:
        t0 = time.perf_counter()
        try:
            with (tracer.span("build") if traced else nullcontext()) as b:
                df = spec.fn(spark, sf_dir)
            t1 = time.perf_counter()
            if traced:
                span["build_span"] = b["id"]
                span["build_jobs"] = tracer.next_job_id() - first_job
            with (tracer.span("execute") if traced else nullcontext()) as ex:
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            rec["build_s"], rec["execute_s"] = t1 - t0, t2 - t1
        except Exception as exc:  # a failed call is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        rec["latency_s"] = time.perf_counter() - t0
    spark.catalog.clearCache()
    if traced:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        if rec["error"] is None:
            span["execute_span"] = ex["id"]
            tracer.capture(span, df, first_job, group)
        rec["span"] = span["id"]
    return rec


def _check(spark, spec, sf_dir: str, expected_dir: str) -> list[str]:
    """Compare the query's output with its cached DuckDB oracle result,
    exactly (hpat_jl_spark.testing.compare_frames)."""
    from hpat_jl_spark.testing import compare_frames

    try:
        actual = spec.fn(spark, sf_dir).toPandas()
    except Exception as exc:
        return [f"{type(exc).__name__}: {exc}"[:500]]
    finally:
        spark.catalog.clearCache()
    with open(os.path.join(expected_dir, f"{spec.name}.pkl"), "rb") as fh:
        expected = pickle.load(fh)
    return compare_frames(actual, expected, float_tol=spec.float_tol)


def _traced(spark, workdir: str):
    import hpat_jl_spark.sources.hdf5 as hdf5
    import hpat_jl_spark.tables as tables
    from telemetry import Tracer

    tracer = Tracer(spark, workdir)
    tracer.wrap(tables, "load_table", "tables.load")
    tracer.wrap(hdf5, "read_hdf5_table", "sources.hdf5_read")
    tracer.wrap(hdf5, "read_hdf5", "sources.hdf5_read")
    return tracer


if __name__ == "__main__":
    main()
