#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the repository root. Stages the inputs for the seed (cached in
.perfbench/data), starts one fresh client process on local[nproc], makes
a first pass and warm passes over the workload's queries for
``--seconds``, checks every query's output against its DuckDB oracle and
prints, as the last stdout line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run
(and writes the spans to .perfbench/traces/). The full record, with the
box it ran on, goes to .perfbench/results/.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# A run must end within 180 s; the client gets what staging left of this.
RUN_BUDGET_S = 165.0

from stats import cpu_times, hd_quantile, steal_share, tail  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    # SIGTERM unwinds like Ctrl-C, so the client's process tree is killed
    # and the run directory removed on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.isfile(os.path.join(ROOT, "hpat_jl_spark", "registry.py")):
        print(f"no hpat_jl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from stage import stage

    t_start = time.perf_counter()
    cpu_before = cpu_times()
    workload = WORKLOADS[args.workload]
    box = box_info()
    staged = stage(workload, args.seed, os.path.join(WORK, "data"))
    stage_s = time.perf_counter() - t_start
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    try:
        budget = RUN_BUDGET_S - (time.perf_counter() - t_start)
        record = run_client(workload, args, staged, run_dir, box, budget)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    record["stage_s"] = stage_s
    box["loadavg_after"] = os.getloadavg()
    box["steal_share"] = steal_share(cpu_before, cpu_times())
    box["foreign_jvms_after"] = len(foreign_jvms())
    box["java"] = record["java"]
    box["cores_used"] = record["cores"]

    result = summarize(record)
    if args.trace:
        result["metrics"] = per_layer(record, staged)
        write_trace(args, record, staged, box)
    full = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "box": box,
        "run_s": time.perf_counter() - t_start,
        **result,
        "details": record["details"],
        "passes": record["passes"],
        "calls": record["calls"],
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out = os.path.join(
        WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(out, "w") as fh:
        json.dump(full, fh, indent=1)
    print(f"# box: {json.dumps(box)}")
    print(f"# details: {json.dumps(record['details'])}")
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


# -- environment and process tree --------------------------------------


def child_env(run_dir: str, cores: int) -> dict[str, str]:
    """Spark sized from the box; every path the run writes kept inside
    ``run_dir``; the package importable by Python workers."""
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    mem = f"{max(1, min(8, round(mem_gb / 16)))}g"
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=mem,
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
    )
    return env


def run_client(
    workload, args, staged: str, run_dir: str, box: dict, timeout_s: float
) -> dict:
    out = os.path.join(run_dir, "record.json")
    os.makedirs(run_dir)
    env = child_env(run_dir, box["nproc"])
    cmd = [
        sys.executable,
        os.path.join(HERE, "client.py"),
        "--queries", ",".join(workload.queries),
        "--data", os.path.join(staged, "tables"),
        "--expected", os.path.join(staged, "expected"),
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--workdir", env["TMPDIR"],
        "--out", out,
    ]
    sampler = RssSampler()
    t0 = time.time()
    proc = subprocess.Popen(
        cmd + ["--t0", repr(t0)],
        env=env,
        cwd=run_dir,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.PIPE,
        start_new_session=True,
    )
    sampler.start(proc.pid)
    try:
        _out, err = proc.communicate(timeout=max(timeout_s, 1.0))
    except subprocess.TimeoutExpired:
        kill_group(proc.pid)
        proc.communicate()
        raise SystemExit(f"client exceeded {timeout_s:.0f} s")
    except BaseException:  # interrupted or terminated: take the client down too
        kill_group(proc.pid)
        raise
    finally:
        sampler.stop()
        reap_group(proc.pid)
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(err.decode(errors="replace")[-4000:])
        raise SystemExit(f"client failed with exit code {proc.returncode}")
    with open(out) as fh:
        record = json.load(fh)
    record["peak_rss_mb"] = sampler.peak_bytes / 2**20
    record["peak_rss_parts_mb"] = {k: v / 2**20 for k, v in sampler.peak_parts.items()}
    return record


def session_pids(sid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == sid:
                pids.append(int(entry))
    return pids


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes with pages shared between
    processes (forked Python workers) split among them, so a sum over
    processes counts each page once."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as fh:
        return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


class RssSampler:
    """Peak summed resident memory of the client's process tree (its
    session: Python driver, JVM, Python workers), sampled every 250 ms.
    Python processes count their PSS (forked workers share pages); the
    JVM, which shares nothing with them, its RSS: reading a multi-GB
    JVM's smaps walks its page tables (~16 ms on a 4-core Xeon) and
    would perturb what is measured."""

    def __init__(self):
        self.peak_bytes = 0
        self.peak_parts: dict[str, int] = {}
        self._done = threading.Event()

    def start(self, sid: int) -> None:
        self._thread = threading.Thread(target=self._run, args=(sid,), daemon=True)
        self._thread.start()

    def _run(self, sid: int) -> None:
        while not self._done.is_set():
            parts = {"driver": 0, "jvm": 0, "workers": 0}
            for pid in session_pids(sid):
                try:
                    with open(f"/proc/{pid}/comm") as fh:
                        comm = fh.read().strip()
                    if comm == "java":
                        parts["jvm"] += rss_bytes(pid)
                    else:
                        parts["driver" if pid == sid else "workers"] += pss_bytes(pid)
                except OSError:
                    pass
            total = sum(parts.values())
            if total > self.peak_bytes:
                self.peak_bytes, self.peak_parts = total, parts
            self._done.wait(0.25)

    def stop(self) -> None:
        self._done.set()
        self._thread.join(timeout=5)


def kill_group(sid: int) -> None:
    try:
        os.killpg(sid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def reap_group(sid: int, timeout_s: float = 20.0) -> None:
    """Wait until every process of the client's session has exited (the
    JVM and Python workers outlive the client by a moment); kill any
    left after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while session_pids(sid):
        if time.monotonic() > deadline:
            kill_group(sid)
            time.sleep(0.5)
            return
        time.sleep(0.1)


# -- box ---------------------------------------------------------------


def foreign_jvms() -> list[int]:
    """java processes outside this benchmark's process trees."""
    me = os.getsid(0)
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/comm") as fh:
                if fh.read().strip() != "java":
                    continue
            if os.getsid(int(entry)) != me:
                out.append(int(entry))
        except OSError:
            continue
    return out


def box_info() -> dict:
    import pyspark

    cpu = "unknown"
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    cpu = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30,
        "cpu_model": cpu,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "loadavg_before": os.getloadavg(),
        "foreign_jvms_before": len(foreign_jvms()),
    }


# -- metrics -----------------------------------------------------------


def summarize(record: dict) -> dict:
    """End-to-end metrics from the client's raw record. The warm passes
    measured are the ``warm_needed`` untraced passes after the first
    during which the hypervisor stole the least CPU time."""
    passes = record["passes"]
    calls = record["calls"]
    failed_checks = {q for q, problems in record["checks"].items() if problems}
    failed = [c for c in calls if c["error"] or c["query"] in failed_checks]
    untraced = [
        i for i, p in enumerate(passes) if p["kind"] == "warm" and not p["traced"]
    ]
    warm = sorted(
        sorted(untraced, key=lambda i: passes[i]["steal_share"])[: record["warm_needed"]]
    )
    warm_calls = [c for c in calls if c["pass"] in warm]
    # latencies of the successful warm calls; of all of them if none was
    warm_lat = [c["latency_s"] for c in warm_calls if c["error"] is None] or [
        c["latency_s"] for c in warm_calls
    ]
    tail_s, tail_pct, n = tail(warm_lat)
    metrics = {
        "setup_s": (record["setup"]["setup_s"], "s"),
        "first_pass_s": (passes[0]["wall_s"], "s"),
        "pass_s": (statistics.median(passes[i]["wall_s"] for i in warm), "s"),
        "query_p50_s": (hd_quantile(warm_lat, 0.5), "s"),
        "query_tail_s": (tail_s, "s"),
        "success_ratio": (1.0 - len(failed) / len(calls), "ratio"),
        "peak_rss_mb": (record["peak_rss_mb"], "MB"),
    }
    record["details"] = {
        "query_tail_percentile": tail_pct,
        "query_tail_samples": n,
        "warm_passes": len(warm),
        "warm_passes_run": len(untraced),
        "error_rate": len(failed) / len(calls),
        "failed_checks": {q: record["checks"][q] for q in sorted(failed_checks)},
        "call_errors": sorted({f"{c['query']}: {c['error']}" for c in calls if c["error"]}),
        "setup": record["setup"],
        "peak_rss_parts_mb": record["peak_rss_parts_mb"],
        "stage_s": record["stage_s"],
        "check_s": record["check_s"],
    }
    return {
        "correct": not failed,
        "attempted": len(calls),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _self_time(span: dict, children: dict[int, list[dict]]) -> float:
    return (span["end"] - span["start"]) - sum(
        c["end"] - c["start"] for c in children.get(span["id"], ())
        if c["name"] != "job"
    )


def pass_layers(record: dict, pass_no: int) -> dict[str, float]:
    """Per-layer totals of one traced pass, from its call spans."""
    spans = record["spans"]
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    calls = [
        spans[c["span"]] for c in record["calls"]
        if c["pass"] == pass_no and "span" in c and c["error"] is None
    ]
    out: dict[str, float] = {}

    def add(key: str, value: float) -> None:
        out[key] = out.get(key, 0) + value

    def descendants(span_id: int):
        for c in children.get(span_id, ()):
            yield c
            yield from descendants(c["id"])

    tables_hits = 0
    coverage = []
    for call in calls:
        build = spans[call["build_span"]]
        execute = spans[call["execute_span"]]
        coverage.append(
            ((build["end"] - build["start"]) + (execute["end"] - execute["start"]))
            / (call["end"] - call["start"])
        )
        add("plans.build_s", _self_time(build, children))
        add("plans.build_py4j_calls", build["py4j_calls"])
        add("plans.build_jobs", call["build_jobs"])
        for s in descendants(call["id"]):
            if s["name"] == "tables.load":
                add("tables.load_calls", 1)
                add("tables.load_s", _self_time(s, children))
                tables_hits += s["py4j_calls"] == 0
            elif s["name"] == "sources.hdf5_read":
                add("sources.hdf5_read_s", _self_time(s, children))
        for key, field in _CALL_FIELDS.items():
            add(key, call.get(field, 0))
        for key in ("streaming.state_rows", "streaming.state_bytes"):
            field = key.split(".")[1]
            out[key] = max(out.get(key, 0), call.get(field, 0))
    calls_n = out.get("tables.load_calls", 0)
    out["tables.cache_hit_ratio"] = tables_hits / calls_n if calls_n else 0.0
    in_job = out.get("scheduler.in_job_s", 0)
    out["executor.slot_util"] = (
        out.get("executor.run_s", 0) / (in_job * record["cores"]) if in_job else 0.0
    )
    out["trace.span_coverage_min"] = min(coverage) if coverage else 0.0
    out["workdirs.bytes"] = record["passes"][pass_no]["workdir_bytes"]
    return out


_CALL_FIELDS = {
    "catalyst.analysis_s": "analysis_s",
    "catalyst.optimization_s": "optimization_s",
    "catalyst.planning_s": "planning_s",
    "catalyst.exchanges": "exchanges",
    "scheduler.jobs": "jobs",
    "scheduler.jobs_outside_group": "jobs_outside_group",
    "scheduler.stages": "stages",
    "scheduler.stages_skipped": "stages_skipped",
    "scheduler.tasks": "tasks",
    "scheduler.in_job_s": "in_job_s",
    "scheduler.gap_s": "gap_s",
    "scheduler.outside_jobs_s": "outside_jobs_s",
    "executor.run_s": "run_s",
    "executor.cpu_s": "cpu_s",
    "executor.gc_s": "gc_s",
    "shuffle.write_bytes": "shuffle_write_bytes",
    "shuffle.read_bytes": "shuffle_read_bytes",
    "shuffle.fetch_wait_s": "fetch_wait_s",
    "shuffle.spill_bytes": "spill_bytes",
    "scan.files_bytes": "files_bytes",
    "scan.tasks": "scan_tasks",
    "functions.arrow_bytes_to_py": "arrow_bytes_to_py",
    "functions.arrow_bytes_from_py": "arrow_bytes_from_py",
    "functions.arrow_rows_from_py": "arrow_rows_from_py",
    "driver.result_bytes": "result_bytes",
    "streaming.batches": "batches",
    "streaming.trigger_s": "trigger_s",
    "streaming.planning_s": "planning_s",
    "streaming.wal_s": "wal_s",
}

# Layer metrics read from the first pass (where the work happens) rather
# than from the warm passes.
_FIRST_PASS = ("tables.load_calls", "tables.load_s", "tables.cache_hit_ratio")

PER_LAYER_UNITS = {
    "registry.import_s": "s",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "tables.load_calls": "count",
    "tables.load_s": "s",
    "tables.cache_hit_ratio": "ratio",
    "plans.build_s": "s",
    "plans.build_py4j_calls": "count",
    "plans.build_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "catalyst.exchanges": "count",
    "scheduler.jobs": "count",
    "scheduler.jobs_outside_group": "count",
    "scheduler.stages": "count",
    "scheduler.stages_skipped": "count",
    "scheduler.tasks": "count",
    "scheduler.in_job_s": "s",
    "scheduler.gap_s": "s",
    "scheduler.outside_jobs_s": "s",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.slot_util": "ratio",
    "shuffle.write_bytes": "B",
    "shuffle.read_bytes": "B",
    "shuffle.fetch_wait_s": "s",
    "shuffle.spill_bytes": "B",
    "scan.files_bytes": "B",
    "scan.tasks": "count",
    "functions.arrow_bytes_to_py": "B",
    "functions.arrow_bytes_from_py": "B",
    "functions.arrow_rows_from_py": "count",
    "driver.result_bytes": "B",
    "sources.hdf5_read_s": "s",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.planning_s": "s",
    "streaming.wal_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "B",
    "workdirs.bytes": "B",
    "trace.overhead_ratio": "ratio",
    "trace.span_coverage_min": "ratio",
}


def per_layer(record: dict, staged: str) -> dict:
    """Per-layer metrics of a traced run: the median over traced warm
    passes of each pass total; setup layers from the setup; table
    loading from the first pass."""
    passes = record["passes"]
    traced = [i for i, p in enumerate(passes) if p["kind"] == "warm" and p["traced"]]
    untraced = [i for i, p in enumerate(passes) if p["kind"] == "warm" and not p["traced"]]
    per_pass = [pass_layers(record, i) for i in traced]
    first = pass_layers(record, 0)
    values: dict[str, float] = {}
    for key in PER_LAYER_UNITS:
        if key in record["setup"]:
            values[key] = record["setup"][key]
        elif key in _FIRST_PASS:
            values[key] = first.get(key, 0)
        elif key == "trace.overhead_ratio":
            values[key] = statistics.median(passes[i]["wall_s"] for i in traced) / (
                statistics.median(passes[i]["wall_s"] for i in untraced)
            )
        else:
            values[key] = statistics.median(p.get(key, 0) for p in per_pass)
    record["per_query"] = per_query(record, traced, staged)
    return {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in values.items()}


def per_query(record: dict, traced: list[int], staged: str) -> dict:
    """Median per query over traced warm calls, next to the DuckDB twin's
    time for the same query on the same input."""
    with open(os.path.join(staged, "twins.json")) as fh:
        twins = json.load(fh)
    spans = record["spans"]
    by_q: dict[str, list[dict]] = {}
    for c in record["calls"]:
        if c["pass"] in traced and "span" in c and c["error"] is None:
            by_q.setdefault(c["query"], []).append({**spans[c["span"]], **c})
    out = {}
    for q, cs in sorted(by_q.items()):
        row = {
            k: statistics.median(c.get(k, 0) for c in cs)
            for k in ("latency_s", "build_s", "execute_s", "jobs", "build_jobs",
                      "exchanges", "scan_tasks", "files_bytes",
                      "arrow_bytes_to_py", "batches", "in_job_s", "gap_s")
        }
        row["duckdb_s"] = twins[q]
        row["vs_duckdb"] = row["latency_s"] / twins[q]
        out[q] = row
    return out


def write_trace(args, record: dict, staged: str, box: dict) -> None:
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump(
            {
                "workload": args.workload,
                "seed": args.seed,
                "box": box,
                "per_query": record["per_query"],
                "passes": record["passes"],
                "calls": record["calls"],
                "spans": record["spans"],
            },
            fh,
        )


if __name__ == "__main__":
    sys.exit(main())
