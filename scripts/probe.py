"""The one measurement harness behind the probe scripts.

scaling_probe, strong_scaling, memory_probe, graph_scaling,
streaming_probe, shuffle_audit and profile_query keep only their query
and tier lists, their record-to-table renderers and their ``main``.
Everything they share is decided here, once:

* ``stage_once`` / ``stage_amplified`` -- replicated tiers on disk,
  complete only once their ``.staged`` marker is written (last);
* ``run_child`` -- one measured cell per fresh process;
* ``time_cell`` -- the timed cell body (fresh session, sf0.01 warmup,
  noop writes, ``clearCache`` between runs);
* ``StatusWindow`` -- jobs, stages and SQL scan bytes read from Spark's
  in-process status stores: no UI, no REST;
* ``splice_block`` -- the one rule for writing a generated table into a
  Markdown artifact. Generators own only their fenced tables; the prose
  around them lives in the artifact. ``read_block`` reads a table back.
"""

from __future__ import annotations

import inspect
import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF001 = "/root/testdata/sf0.01"
SF01 = "/root/testdata/sf0.1"
STAGE_X10 = "/tmp/spark_graft_tier_x10"
STAGE_X100 = "/tmp/spark_graft_tier_x100"

KEY_SHIFT = 10_000_000  # keeps replicated keys disjoint

# The columns shifted per replica of each table. None marks a dimension
# table, staged ONCE: its keys carry no shift, so N unshifted replicas
# would fan every dim join (lineitem⋈supplier, customer⋈nation, ...)
# out ×N -- a replication artifact, not data scale (r5: q5@×100 joined
# each lineitem row against 100 duplicate supplier rows). Real
# warehouses scale facts, not dims.
TIER_SHIFTS: dict[str, list[str] | None] = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "part": None,
    "supplier": None,
    "nation": None,
    "region": None,
    # Shifted event/user ids make tier ×N a genuinely ×N-rate stream over
    # the same event-time range; verbatim replicas let dedup state hold
    # only the base keys, so the streaming boundedness claim was vacuous.
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    # Shifted vec_ids grow the corpus while the fixed vec_id < 8 probe
    # set stays in replica 0 (ANN's deployment shape); N copies of one
    # id merged query groups and produced duplicate "neighbors".
    "embeddings": ["vec_id"],
}


def stage_once(builds: dict, spark=None, restage: bool = False, key: str = "ok") -> None:
    """Build each missing tier directory with ``build(spark, dir)``.

    A directory counts as staged only when its ``.staged`` marker holds
    ``key``. The marker is written LAST, so a killed staging run is
    rebuilt from scratch, never mistaken for a tier (keying the skip on
    the first table written silently reused a killed run). ``key`` may
    name the staged content, so a changed source or layout restages.
    Without ``spark``, one staging session is opened for the missing
    directories and stopped before returning, so it cannot share the box
    with the cells measured afterwards."""
    todo = {}
    for d, build in builds.items():
        if restage or not is_staged(d, key):
            shutil.rmtree(d, ignore_errors=True)
            todo[d] = build
    if not todo:
        return
    own = spark is None
    if own:
        from hpat_jl_spark.session import get_spark

        spark = get_spark(app_name="probe-stage", shuffle_partitions=128)
    try:
        for d, build in todo.items():
            print(f"# staging {d}", file=sys.stderr)
            build(spark, d)
            with open(os.path.join(d, ".staged"), "w") as fh:
                fh.write(key + "\n")
    finally:
        if own:
            spark.stop()


def is_staged(d: str, key: str = "ok") -> bool:
    try:
        with open(os.path.join(d, ".staged")) as fh:
            return fh.read() == key + "\n"
    except OSError:
        return False


def stage_amplified(spark, out_dir: str, replicas: int, shifts=TIER_SHIFTS,
                    files: int | None = None, base: str = SF01) -> None:
    """Write each table of ``shifts`` as ``replicas`` key-shifted copies
    of ``base`` (dimension tables once), as real parquet so a probe
    measures query time, not union-plan construction. ``files``
    repartitions each replicated table to that many part-files."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from hpat_jl_spark.tables import load_table

    for name, keys in shifts.items():
        copies = []
        for i in range(1 if keys is None else replicas):
            df = load_table(spark, name, base)
            for c in keys or []:
                df = df.withColumn(c, F.col(c) + i * KEY_SHIFT)
            copies.append(df)
        out = reduce(DataFrame.unionByName, copies)
        if files and keys is not None:
            out = out.repartition(files)
        out.write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")
    if "documents" in shifts:
        # The per-doc array_distinct rewrites (benchmark_decontaminate,
        # corpus_prep, fuzzy_decontaminate) are exact only for unique doc_id.
        docs = spark.read.parquet(f"{out_dir}/documents.parquet")
        n, distinct = docs.agg(F.count("*"), F.countDistinct("doc_id")).first()
        if n != distinct:
            raise RuntimeError(
                f"{out_dir}: {n - distinct} of {n} staged documents repeat a "
                "doc_id; replicas must shift doc_id apart"
            )


def child_args() -> list[str] | None:
    """The arguments after ``--one`` when this process is a child cell."""
    if "--one" not in sys.argv:
        return None
    return sys.argv[sys.argv.index("--one") + 1:]


def emit(record: dict) -> None:
    """A child cell's result: one JSON line, the last on stdout."""
    print(json.dumps(record), flush=True)


def run_child(argv: list[str], env: dict | None = None, timeout: float | None = None) -> dict:
    """Run ``python *argv`` from the repo root in a fresh process and
    return the last JSON line it prints.

    One cell per process: a shared session measurably degrades later
    queries even with clearCache between them (triangle_count@sf0.01
    31.9 s in-session after the ×100 near-dup runs vs 6.8 s fresh --
    old-gen heap, reused Python workers, page cache).

    A child that prints no JSON, or outlives ``timeout``, is a failed
    cell, returned as ``{"ok": False, "oom": ..., "err": ...}`` so a grid
    records it and moves on. ``oom`` is read from the evidence, not the
    exit code: the JVM reported OutOfMemoryError / heap space, or the
    process died by SIGKILL (the kernel OOM killer). A missing staged
    dir, an import error or a segfault is not a memory constraint."""
    try:
        proc = subprocess.run(
            [sys.executable, *argv],
            capture_output=True,
            text=True,
            cwd=REPO,
            env=dict(os.environ, **(env or {})),
            timeout=timeout,
        )
    except subprocess.TimeoutExpired:
        return {"ok": False, "oom": False, "err": f"timeout ({timeout:.0f}s)"}
    sys.stderr.write(proc.stderr[-4000:])
    for ln in reversed(proc.stdout.strip().splitlines()):
        if ln.strip().startswith("{"):
            return json.loads(ln)
    blob = proc.stderr + proc.stdout
    tail = proc.stderr[-2000:].strip()
    return {
        "ok": False,
        "oom": "OutOfMemoryError" in blob
        or "Java heap space" in blob
        or proc.returncode in (-9, 137),
        "err": tail.splitlines()[-1] if tail else f"rc={proc.returncode}",
    }


def run_noop(df) -> None:
    """Execute a frame to the end without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def time_cell(name: str, tiers: list[tuple[str, str]], reps: dict | None = None,
              extra_conf: dict | None = None) -> dict[str, list[dict]]:
    """Time one registered query at each ``(label, dir)`` tier, in this
    process's own session, and stop the session.

    The session pins a 128-partition shuffle ceiling: the ×100 tier
    shuffles ~60M-row streams, and a 32-partition ceiling forces ~2M rows
    per reducer (spill that pollutes the growth signal); the small tiers
    still coalesce to the same effective fan-out. A warmup at sf0.01
    absorbs first-compile codegen/JIT and footer reads. ``clearCache``
    follows every run: persisted frames stay in CacheManager for the
    session's lifetime and later runs would pay eviction interference.

    ``reps`` maps tier labels to run counts (default 1). Returns, per
    tier label, one record per run: ``wall_s`` plus the run's
    ``StatusWindow.totals()``."""
    from hpat_jl_spark import registry
    from hpat_jl_spark.session import get_spark

    spark = get_spark(app_name=f"probe-{name}", shuffle_partitions=128, extra_conf=extra_conf)
    registry.load_all_plans()
    fn = inspect.unwrap(registry.REGISTRY[name].fn)  # each wall includes the build
    run_noop(fn(spark, SF001))
    spark.catalog.clearCache()
    out: dict[str, list[dict]] = {}
    for label, d in tiers:
        runs = out[label] = []
        for _ in range((reps or {}).get(label, 1)):
            window = StatusWindow(spark)
            t0 = time.perf_counter()
            run_noop(fn(spark, d))
            wall = round(time.perf_counter() - t0, 2)
            runs.append({"wall_s": wall, **window.totals()})
            print(f"# {name} @ {label}: {wall}s", file=sys.stderr)
            spark.catalog.clearCache()
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    return out


CALIBRATION = "_pure_compute"


def yardstick_s(spark, fold: int, reps: int) -> float:
    """The machine's deliverable-compute yardstick: best of ``reps`` runs
    of 128 identical CPU-only tasks (range -> integer fold; no IO, no
    shuffle payload), after a codegen warm run. Whatever this job loses
    to contention is the box's, not a plan's. ``fold`` sizes each task's
    slab so the runtime is comparable to the queries it calibrates."""

    def job(f: int):
        return spark.range(0, 128, 1, 128).selectExpr(
            "id", f"aggregate(sequence(1, {f}), 0L, (a, x) -> a + (x * 37) % 1000003) v"
        ).agg({"v": "sum"})

    def timed() -> float:
        t0 = time.perf_counter()
        job(fold).collect()
        return time.perf_counter() - t0

    job(300_000).collect()
    return round(min(timed() for _ in range(reps)), 2)


_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_size(text: str) -> int:
    """Bytes in a SQL size metric as Spark renders it, e.g. '10.3 MiB'.

    Multi-task metrics render as two lines -- a 'total (min, med, max
    (stageId: taskId))' header, then '13.2 MiB (4.4 MiB, ...)' -- so the
    leading number+unit pair of the LAST line is the total."""
    parts = text.strip().splitlines()[-1].split()
    return int(float(parts[0]) * _UNIT[parts[1]])


def scan_bytes(executions: list[dict], since: int) -> int:
    """'size of files read' summed over the scan nodes of the SQL
    executions numbered ``since`` or later.

    Scan volume comes from the scan nodes, not stage inputBytes: on
    Spark 4 + local files the vectorized parquet reader's column reads
    bypass the Hadoop FileSystem statistics behind task inputMetrics (a
    full scan of an 11 MB lineitem reports ~17 KB of footers). The
    metric counts bytes ASSIGNED to file scans (pre column pruning, post
    partition pruning) once per execution, so a query that re-scans
    parquet each pass counts each pass."""
    total = 0
    for q in executions:
        if q["id"] < since:
            continue
        for node in q["nodes"]:
            if "Scan" not in node["nodeName"]:
                continue
            for m in node["metrics"]:
                if m["name"] == "size of files read":
                    total += parse_size(m["value"])
    return total


class StatusWindow:
    """What Spark recorded from construction on, read in-process from
    ``AppStatusStore`` (jobs, stages) and ``SQLAppStatusStore`` (SQL node
    metrics). The stores are filled with ``spark.ui.enabled=false``.

    Jobs are attributed by job-id delta, not job group: micro-batches
    submit their jobs from the stream thread, outside any group set on
    the driver thread. Callers run one thing at a time, so the delta is
    exact."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._sc.listenerBus().waitUntilEmpty()
        self.first_job = self._sc.dagScheduler().numTotalJobs()
        self.first_execution = self._last_execution() + 1

    def _last_execution(self) -> int:
        n = self._sql.executionsCount()
        return self._sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def jobs(self) -> list[dict]:
        """The window's jobs: id, epoch start/end seconds, stage ids."""
        self._sc.listenerBus().waitUntilEmpty()
        out = []
        for jid in range(self.first_job, self._sc.dagScheduler().numTotalJobs()):
            job = self._store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            ids = job.stageIds()
            out.append({
                "id": jid,
                "start_s": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                "end_s": done.get().getTime() / 1e3 if done.isDefined() else None,
                "stage_ids": [ids.apply(k) for k in range(ids.size())],
            })
        return out

    def stages(self, stage_ids) -> list[dict]:
        """One record per attempt of each stage (skipped stages included,
        with status SKIPPED)."""
        out = []
        for sid in stage_ids:
            attempts = self._store.stageData(sid, False, None, False, self._no_quantiles)
            for a in range(attempts.size()):
                s = attempts.apply(a)
                out.append({
                    "id": sid,
                    "status": s.status().toString(),
                    "name": s.name(),
                    "tasks": s.numTasks(),
                    "run_ms": s.executorRunTime(),
                    "input_bytes": s.inputBytes(),
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                    "shuffle_read_bytes": s.shuffleReadBytes(),
                    "output_bytes": s.outputBytes(),
                    "mem_spill_bytes": s.memoryBytesSpilled(),
                    "disk_spill_bytes": s.diskBytesSpilled(),
                    "peak_exec_mem_bytes": s.peakExecutionMemory(),
                })
        return out

    def executions(self) -> list[dict]:
        """The window's SQL executions with their scan nodes' 'size of
        files read' values, in the shape ``scan_bytes`` reads."""
        self._sc.listenerBus().waitUntilEmpty()
        out = []
        for eid in range(self.first_execution, self._last_execution() + 1):
            if self._sql.execution(eid).isEmpty():
                continue
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            scans = []
            for i in range(nodes.size()):
                node = nodes.apply(i)
                if "Scan" not in node.name():
                    continue
                metrics = []
                for k in range(node.metrics().size()):
                    m = node.metrics().apply(k)
                    if m.name() != "size of files read":
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics.append({"name": m.name(), "value": v.get()})
                scans.append({"nodeName": node.name(), "metrics": metrics})
            out.append({"id": eid, "nodes": scans})
        return out

    def totals(self) -> dict:
        """Jobs, completed and skipped stages, tasks and byte volumes.
        Sums run over COMPLETE stage attempts; a SKIPPED stage is Spark
        reusing an earlier shuffle output (exchange reuse, not missing
        work). ``cache_read_bytes`` is stage inputBytes, which does count
        block-manager reads of persisted frames. ``peak_exec_mem_bytes`` is
        the max over stages of each stage's summed task peaks: a shape
        signal, not a heap gauge."""
        jobs = self.jobs()
        ids = sorted({s for j in jobs for s in j["stage_ids"]})
        done = [s for s in self.stages(ids) if s["status"] == "COMPLETE"]

        def total(key: str) -> int:
            return sum(s[key] for s in done)

        return {
            "jobs": len(jobs),
            "stages": len(done),
            "stages_skipped": len(ids) - len({s["id"] for s in done}),
            "tasks": total("tasks"),
            "scan_bytes": scan_bytes(self.executions(), self.first_execution),
            "cache_read_bytes": total("input_bytes"),
            "shuffle_write_bytes": total("shuffle_write_bytes"),
            "shuffle_read_bytes": total("shuffle_read_bytes"),
            "output_bytes": total("output_bytes"),
            "mem_spill_bytes": total("mem_spill_bytes"),
            "disk_spill_bytes": total("disk_spill_bytes"),
            "peak_exec_mem_bytes": max((s["peak_exec_mem_bytes"] for s in done), default=0),
        }


def splice_block(path: str, name: str, lines: list[str]) -> None:
    """Replace the lines between ``<!-- NAME:BEGIN ...-->`` and the
    ``<!-- NAME:END -->`` that FOLLOWS it with ``lines``; append a fenced
    block when the fences are absent. Everything outside the fences --
    the hand-written prose, other generators' blocks -- is kept byte for
    byte. END is searched after BEGIN: a stray earlier END (an orphaned
    block) must not become the cut point."""
    begin, end = f"<!-- {name}:BEGIN", f"<!-- {name}:END -->"
    try:
        with open(path) as fh:
            text = fh.read()
    except FileNotFoundError:
        text = ""
    body = "".join(ln + "\n" for ln in lines)
    s = text.find(begin)
    e = text.find(end, s) if s != -1 else -1
    if e == -1:
        head = text.rstrip("\n") + "\n\n" if text.strip() else ""
        text = f"{head}{begin} -->\n{body}{end}\n"
    else:
        s = text.index("\n", s) + 1  # the BEGIN line itself stays
        text = text[:s] + body + text[e:]
    with open(path, "w") as fh:
        fh.write(text)


def read_block(path: str, name: str) -> list[str]:
    """The lines between a block's fences: the inverse of ``splice_block``."""
    with open(path) as fh:
        text = fh.read()
    body = text.split(f"<!-- {name}:BEGIN", 1)[1].split(f"<!-- {name}:END -->", 1)[0]
    return body.split("\n")[1:-1]


def fmt_bytes(n: int) -> str:
    if n >= 1 << 30:
        return f"{n / (1 << 30):.1f} GiB"
    if n >= 1 << 20:
        return f"{n / (1 << 20):.1f} MiB"
    return "0" if not n else f"{n / 1024:.0f} KiB"


def dir_bytes(d: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(d):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
