"""Tracing for the benchmark's traced run: spans kept in memory, counts at
the calls into each layer, and per-call records read from Spark's
in-process status stores (no UI, no REST).

Spans nest pass -> call -> {build, execute} -> jobs, with the layer
spans (tables, sources) wrapped around the package's public functions
inside build. Spark-side numbers come from:

* ``AppStatusStore`` -- jobs, stages, task metrics;
* ``SQLAppStatusStore`` -- SQL node metrics ("size of files read", the
  Python-exec bytes) and the final AQE plan text;
* the query's ``QueryPlanningTracker`` -- Catalyst phases;
* a ``StreamingQueryListener`` -- micro-batch progress.

Jobs are attributed to a call by job-id delta: micro-batches submit
jobs from the stream thread, outside the call's job group, so the group
alone would miss them. The record keeps both counts.
"""

from __future__ import annotations

import os
import re
import sys
import time
from contextlib import contextmanager

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_EXCHANGE = re.compile(r"\b(?:Broadcast)?Exchange \(\d+\)")


def parse_metric(text: str) -> float:
    """A SQL metric value as a number: '10.3 MiB' -> bytes, '1,024' ->
    1024. Multi-task metrics render as a 'total (min, med, max ...)'
    header line and then the values; the total leads the last line."""
    parts = text.strip().splitlines()[-1].split()
    value = float(parts[0].replace(",", ""))
    if len(parts) > 1 and parts[1] in _UNITS:
        value *= _UNITS[parts[1]]
    return value


def final_plan_exchanges(plan_text: str) -> int:
    """Exchanges in the final AQE plan of a formatted physical plan (the
    whole plan when it is not adaptive). Reused exchanges do not count."""
    tree = plan_text.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return len(_EXCHANGE.findall(tree))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class Tracer:
    """In-memory spans plus per-call counters. ``active`` gates every
    recording, so untraced passes of a traced run pay only a flag test."""

    def __init__(self, spark, workdir: str):
        self.spark = spark
        self.workdir = workdir
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.py4j_calls = 0
        self.progress: list = []
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._seen_stages: set[int] = set()
        self._exec_seen = self._sql.executionsCount()
        # perf_counter <-> epoch offset, to place JVM job times on the
        # same axis as the Python spans
        self._epoch_minus_pc = time.time() - time.perf_counter()
        self._install_py4j_counter(sc._gateway._gateway_client)
        self._install_streaming_listener()

    # -- spans -----------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        py4j_before = self.py4j_calls
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j_calls"] = self.py4j_calls - py4j_before
            self._stack.pop()

    def wrap(self, module, fn_name: str, span_name: str) -> None:
        """Record a span around ``module.fn_name`` wherever the package
        bound it (plan modules import loaders by name)."""
        original = getattr(module, fn_name)

        def traced(*args, **kwargs):
            with self.span(span_name):
                return original(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("hpat_jl_spark") and (
                getattr(mod, fn_name, None) is original
            ):
                setattr(mod, fn_name, traced)

    def _install_py4j_counter(self, client) -> None:
        send = client.send_command

        def counting(*args, **kwargs):
            if self.active:
                self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counting

    def _install_streaming_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                tracer.progress.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(_Progress())

    # -- per-call capture ----------------------------------------------

    def begin_pass(self) -> None:
        """Forget what untraced calls left behind (SQL executions,
        micro-batch progress), so the next capture sees only its call."""
        self._jsc.listenerBus().waitUntilEmpty()
        self._exec_seen = self._sql.executionsCount()
        self.progress = []

    def next_job_id(self) -> int:
        return self._jsc.dagScheduler().numTotalJobs()

    def capture(self, call: dict, df, first_job: int, group: str) -> None:
        """Fill ``call`` (a finished call's span) with what Spark recorded
        for it: jobs first_job.. now, their stages, the SQL executions
        since the last capture, and the query's Catalyst phases."""
        self._jsc.listenerBus().waitUntilEmpty()
        last_job = self.next_job_id()
        job_ids = range(first_job, last_job)
        in_group = set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        rec = {
            "jobs": len(job_ids),
            "jobs_outside_group": len([j for j in job_ids if j not in in_group]),
            "stages": 0,
            "stages_skipped": 0,
            "tasks": 0,
            "run_s": 0.0,
            "cpu_s": 0.0,
            "gc_s": 0.0,
            "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0,
            "fetch_wait_s": 0.0,
            "spill_bytes": 0,
            "result_bytes": 0,
            "scan_tasks": 0,
        }
        intervals = []
        for jid in job_ids:
            job = self._store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                start = sub.get().getTime() / 1000.0 - self._epoch_minus_pc
                end = done.get().getTime() / 1000.0 - self._epoch_minus_pc
                intervals.append((start, end))
                self.spans.append(
                    {
                        "id": len(self.spans),
                        "name": "job",
                        "parent": call["build_span"]
                        if jid < first_job + call["build_jobs"]
                        else call["execute_span"],
                        "start": start,
                        "end": end,
                        "job_id": jid,
                    }
                )
            rec["stages_skipped"] += job.numSkippedStages()
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                self._add_stage(rec, stage_ids.apply(k))
        rec.update(_job_time_split(intervals, call["start"], call["end"]))
        rec.update(self._sql_executions())
        rec.update(_catalyst_phases(df))
        rec.update(self._streaming())
        rec["workdir_bytes"] = dir_bytes(self.workdir)
        call.update(rec)

    def _add_stage(self, rec: dict, sid: int) -> None:
        if sid in self._seen_stages:
            return
        attempts = self._store.stageData(sid, False, None, False, self._no_quantiles)
        for a in range(attempts.size()):
            s = attempts.apply(a)
            if s.status().toString() == "SKIPPED":
                continue
            self._seen_stages.add(sid)
            rec["stages"] += 1
            rec["tasks"] += s.numTasks()
            rec["run_s"] += s.executorRunTime() / 1e3
            rec["cpu_s"] += s.executorCpuTime() / 1e9
            rec["gc_s"] += s.jvmGcTime() / 1e3
            rec["shuffle_write_bytes"] += s.shuffleWriteBytes()
            rec["shuffle_read_bytes"] += s.shuffleReadBytes()
            rec["fetch_wait_s"] += s.shuffleFetchWaitTime() / 1e3
            rec["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            rec["result_bytes"] += s.resultSize()
            if s.inputRecords() > 0:
                rec["scan_tasks"] += s.numTasks()

    def _sql_executions(self) -> dict:
        out = {
            "exchanges": 0,
            "files_bytes": 0.0,
            "arrow_bytes_to_py": 0.0,
            "arrow_bytes_from_py": 0.0,
            "arrow_rows_from_py": 0.0,
        }
        count = self._sql.executionsCount()
        new = self._sql.executionsList(self._exec_seen, count - self._exec_seen)
        self._exec_seen = count
        for e in range(new.size()):
            execution = new.apply(e)
            eid = execution.executionId()
            out["exchanges"] += final_plan_exchanges(
                execution.physicalPlanDescription()
            )
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                name = node.name()
                python = "Python" in name or "Pandas" in name or "Arrow" in name
                if not (python or name.startswith("Scan")):
                    continue
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    key = _NODE_METRICS.get((python, m.name()))
                    if key is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[key] += parse_metric(v.get())
        return out

    def _streaming(self) -> dict:
        events, self.progress = self.progress, []
        out = {
            "batches": len(events),
            "trigger_s": 0.0,
            "planning_s": 0.0,
            "wal_s": 0.0,
            "state_rows": 0,
            "state_bytes": 0,
        }
        for p in events:
            d = p.durationMs
            out["trigger_s"] += d.get("triggerExecution", 0) / 1e3
            out["planning_s"] += d.get("queryPlanning", 0) / 1e3
            out["wal_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
            ops = p.stateOperators
            out["state_rows"] = max(out["state_rows"], sum(o.numRowsTotal for o in ops))
            out["state_bytes"] = max(
                out["state_bytes"], sum(o.memoryUsedBytes for o in ops)
            )
        return out


_NODE_METRICS = {
    (False, "size of files read"): "files_bytes",
    (True, "data sent to Python workers"): "arrow_bytes_to_py",
    (True, "data returned from Python workers"): "arrow_bytes_from_py",
    (True, "number of output rows"): "arrow_rows_from_py",
}


def _job_time_split(intervals: list[tuple[float, float]], start: float, end: float) -> dict:
    """Split a call's wall time into time inside jobs (union of job
    intervals), gaps between its first and last job, and time outside
    that span (plan build, Catalyst, driver work)."""
    if not intervals:
        return {"in_job_s": 0.0, "gap_s": 0.0, "outside_jobs_s": end - start}
    intervals.sort()
    covered, cur_s, cur_e = 0.0, *intervals[0]
    for s, e in intervals[1:]:
        if s > cur_e:
            covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    covered += cur_e - cur_s
    first, last = intervals[0][0], max(e for _s, e in intervals)
    return {
        "in_job_s": covered,
        "gap_s": (last - first) - covered,
        "outside_jobs_s": max((end - start) - (last - first), 0.0),
    }


def _catalyst_phases(df) -> dict:
    """Analysis, optimization and planning time of the query's own plan
    (forcing its physical plan if the call did not). Spark's per-step
    analysis during DataFrame construction is inside the build span."""
    out = {"analysis_s": 0.0, "optimization_s": 0.0, "planning_s": 0.0}
    if df is None:
        return out
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)
        if summary.isDefined():
            out[f"{phase}_s"] = summary.get().durationMs() / 1e3
    return out
