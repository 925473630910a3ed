#!/usr/bin/env python
"""Benchmark harness: runs the queries registered with the ``headline``
tag (``registry.tagged``, in registration order; the role tags are
documented there) at $SPARK_GRAFT_SF_DIR (default: the sf0.1 fixtures)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line: {"metric": ...,
"value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query executes end-to-end via the noop writer (full compute, no
driver materialization). A warmup first (``_warmup``: codegen, every
fixture table's resolution, a few non-headline TPC-H queries), so
session first-use costs are not billed to the first headline query.

VERDICT r01 #8: BASELINE.md commits no absolute reference timings, so
"within 2× of baseline" was unfalsifiable. The bench therefore also
times the same oracle SQL on single-threaded-by-default DuckDB over the
same parquet. DuckDB is an excellent single-node columnar engine, so it
is a demanding stand-in baseline at bench scale; Spark carries JVM/
codegen/scheduling overhead that amortizes at 100 TB, not at sf0.1.

Artifact split (VERDICT r03 #7): the stdout JSON line stays under the
driver's 2000-char tail window (summary ratios only); the full payload
— per-query duckdb timings, vs_duckdb ratios, flaky errors, and the
SCALING.md tier table — is written to BENCH_DETAIL.json at the repo
root. The JSON line is the LAST thing the process emits (the Spark JVM
is stopped first so shutdown noise cannot follow it).
"""

from __future__ import annotations

import inspect
import json
import os
import sys
import time

from hpat_jl_spark import registry

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.append(os.path.join(ROOT, "scripts"))
from probe import yardstick_s  # noqa: E402
from scaling_probe import read_tiers, tier_records  # noqa: E402


def _foreign_jvms() -> list[str]:
    """Pids of java/spark processes NOT in this process tree — a bench
    run that shares the box with another Spark JVM measures contention,
    not plans (VERDICT r06 #3: the r6 driver run overstated several
    queries 25-75% vs the idle-box run and the artifact couldn't say
    so). Best-effort /proc scan; empty on any failure."""
    def _ppid(pid: int) -> int:
        with open(f"/proc/{pid}/stat") as fh:
            return int(fh.read().split(")")[-1].split()[1])

    out: list[str] = []
    me = os.getpid()
    try:
        for pid in os.listdir("/proc"):
            if not pid.isdigit() or int(pid) == me:
                continue
            try:
                # Match the EXECUTABLE name, not cmdline substrings —
                # unrelated processes routinely carry "java"/"spark" in
                # their argv text (this repo's own driver does).
                with open(f"/proc/{pid}/comm") as fh:
                    comm = fh.read().strip()
                if comm != "java":
                    continue
                # Exclude our own JVM: walk the ancestry chain up to
                # init (spark-submit may interpose a shell).
                anc, hops = int(pid), 0
                mine = False
                while anc > 1 and hops < 16:
                    anc = _ppid(anc)
                    if anc == me:
                        mine = True
                        break
                    hops += 1
                if not mine:
                    out.append(pid)
            except OSError:
                continue
    except OSError:
        pass
    return out


# A loaded box: another Spark JVM running, or 1-min load already above
# this threshold BEFORE we start (this 32-thread shared VM idles at
# ~1-2; the polluted r6 driver run shared the box with a second
# multi-thread Spark JVM, which shows up as both signals).
_LOAD1_IDLE_MAX = 4.0


def _box_conditions() -> dict:
    load = os.getloadavg()
    foreign = _foreign_jvms()
    return {
        "load_avg_1m": round(load[0], 2),
        "load_avg_5m": round(load[1], 2),
        "foreign_spark_jvms": len(foreign),
        "loaded": bool(foreign) or load[0] > _LOAD1_IDLE_MAX,
    }


# Box-day compute guard (r12). The bands are min/max envelopes from an
# idle band-source day, but "idle" (no foreign JVMs, low load) does not
# mean "delivering the same compute": r12's end-of-round bench breached
# a streaming ratio band on a box whose load was 1.0 and steal was low
# at idle — yet the SAME 128-task pure-compute yardstick the CORES
# calibration uses ran 1.28-1.58x slower than on the band-source day
# (4.65-5.73 s best-of-3 vs 3.62 s), with ~5% steal under load, while
# the DuckDB twins rode a warm page cache 25% FASTER — inflating every
# Spark/DuckDB ratio from both ends with zero plan changes. So: bench
# measures the yardstick once per run; if breaches exist AND the
# yardstick exceeds the band-source calibration by >_CAL_DEGRADED_HI,
# the verdict is WITHHELD (exit 2) like the loaded-box path — a
# degraded-hypervisor breach must never read as a plan regression, and
# deliberately never as a green gate either.
_CAL_DEGRADED_HI = 1.25


def _committed_bands() -> dict:
    """BENCH_BANDS.json, or {} when it is absent or unreadable."""
    try:
        with open(os.path.join(ROOT, "BENCH_BANDS.json")) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def _band_calibration() -> float | None:
    """The band-source day's yardstick seconds from BENCH_BANDS.json
    (None when absent — older band files predate the field)."""
    v = _committed_bands().get("calibration_s")
    return float(v) if v else None


def _box_degraded(cal_now: float | None, cal_band: float | None) -> bool:
    """True when the box is measurably delivering less JVM compute than
    the band-source day (see _CAL_DEGRADED_HI note)."""
    return bool(cal_now and cal_band and cal_now > cal_band * _CAL_DEGRADED_HI)


def _wait_for_idle(budget_s: float, poll_s: float = 20.0) -> dict:
    """VERDICT r09 #3: the committed round artifact must BE an idle
    run, not a loaded run with a loaded flag. Before starting, poll up
    to ``budget_s`` for foreign Spark JVMs to exit and the 1-min load
    to decay below the idle ceiling; give up (and proceed, stamped
    loaded) only when the budget is spent — the plain run stays
    resilient for the driver. Returns the final box sample. Override
    the budget with SPARK_GRAFT_IDLE_WAIT_S (0 disables)."""
    deadline = time.monotonic() + budget_s
    box = _box_conditions()
    while box["loaded"] and time.monotonic() < deadline:
        print(
            f"# box loaded ({box}) — waiting up to "
            f"{deadline - time.monotonic():.0f}s for idle before the "
            "artifact run",
            file=sys.stderr,
        )
        time.sleep(poll_s)
        box = _box_conditions()
    return box


def _check_bands(
    timings: dict, duck: dict, errors: dict, bands: dict | None = None
) -> list[str]:
    """Regression guard (VERDICT r06 #7): compare this run against the
    committed idle-box expected band per query (BENCH_BANDS.json).
    Ratio bands (Spark/DuckDB on the SAME box, same minute) are used
    where an oracle twin exists — they cancel most box noise; absolute
    seconds otherwise. Returns breach descriptions (upper breaches
    only: a query getting faster is not a regression). ``bands`` is
    injectable for tests; None loads the committed file."""
    if bands is None:
        bands = _committed_bands().get("bands", {})
    breaches = []
    for name, band in bands.items():
        if name in errors:
            breaches.append(f"{name}: ERROR {errors[name][:80]}")
            continue
        if name not in timings:
            breaches.append(f"{name}: missing from run")
            continue
        # ADVICE r07: a missing DuckDB twin timing must not silently
        # disable a ratio band (a failed duckdb import would otherwise
        # let --check pass vacuously) — fall back to the absolute
        # guard, and breach loudly if the band has no fallback either.
        # ADVICE r08: presence != magnitude — a twin that rounds to
        # 0.0 s (sub-ms oracle at small sf) RAN fine; it just can't
        # anchor a ratio, so it falls to sec_hi like an absent twin
        # instead of emitting a spurious "no duckdb timing" breach.
        has_twin = name in duck and duck[name] is not None
        if "ratio_hi" in band and has_twin and duck[name] > 0:
            ratio = timings[name] / duck[name]
            if ratio > band["ratio_hi"]:
                breaches.append(
                    f"{name}: vs_duckdb {ratio:.2f} > band {band['ratio_hi']}"
                )
                continue
        elif "ratio_hi" in band and "sec_hi" not in band:
            # ADVICE r09: a twin that ran but timed 0.0 s is as useless
            # a ratio anchor as an absent twin — without a sec_hi
            # fallback the query would be checked against NOTHING, a
            # silent pass. Breach loudly in both cases.
            why = (
                "twin timed 0.0s (no ratio anchor)"
                if has_twin
                else "twin failed or skipped"
            )
            breaches.append(
                f"{name}: no usable duckdb timing for ratio-banded query "
                f"({why}) and no sec_hi fallback — cannot verify band"
            )
            continue
        # Secondary absolute ceiling (ADVICE r07: the 1.0-floored ratio
        # band lets a 0.02x query regress ~50x before breaching; the
        # sec_hi guard catches that class). Applied on every band that
        # carries one, including ratio bands that already passed.
        if "sec_hi" in band and timings[name] > band["sec_hi"]:
            breaches.append(
                f"{name}: {timings[name]:.2f}s > band {band['sec_hi']}s"
            )
    return breaches


def _breach_names(breaches: list[str]) -> list[str]:
    """Query names referenced by breach strings ('name: ...')."""
    return sorted({b.split(":", 1)[0] for b in breaches})


def _check_exit_code(breaches: list[str], loaded: bool) -> int:
    """--check verdict policy (VERDICT r07 #4): 0 = clean; 1 = real
    breach measured on an IDLE box; 2 = verdict WITHHELD — breaches
    exist but the box was loaded even after the self-heal re-run, so
    the numbers measure contention, not plans. 2 is deliberately not
    1: a loaded-box breach must never read as a plan regression, and
    deliberately not 0: it must never read as a green gate either."""
    if not breaches:
        return 0
    return 2 if loaded else 1


def _merge_heal_results(
    names: list[str],
    timings: dict,
    errors: dict,
    duck: dict,
    t2: dict,
    e2: dict,
    d2: dict,
) -> dict:
    """Fold a self-heal re-run into the primary results IN PLACE and
    return the provenance record. Policy: keep the better (min) timing
    on both engines — the re-run adds reps, and min-of-more-reps is
    the same estimator the bench already uses; a query that healed
    clears its error; a query that errored in BOTH runs keeps the
    fresher message. Factored out of main() so the loaded-box path is
    unit-testable without a loaded box (VERDICT r08 #6)."""
    self_heal: dict = {}
    for n in names:
        rec = {"before": timings.get(n)}
        if n in t2:
            timings[n] = min(timings.get(n, t2[n]), t2[n])
            errors.pop(n, None)
        elif n in e2 and n not in timings:
            errors[n] = e2[n]
        if n in d2:
            duck[n] = min(duck.get(n, d2[n]), d2[n])
        rec["after"] = timings.get(n)
        self_heal[n] = rec
    return self_heal


# Non-headline TPC-H shapes (aggregate shuffles, shuffle and broadcast
# joins) the warmup runs a few times each: the first headline query
# otherwise pays for a cold JIT of Catalyst and the operators. q26 run
# first against q26 in 7th place (sf0.01, 4-core Xeon VM): after one
# run of one simple query it built in 0.58-0.62 s against 0.18-0.25 s;
# after these it builds in 0.19-0.22 s against 0.15-0.16 s and
# executes in 0.25-0.29 s against 0.19-0.24 s.
WARMUP_QUERIES = (
    "q18_large_orders",
    "q4_order_priority",
    "q12_priority_lateness",
    "q14_promo_revenue",
)


def _warmup(spark, sf_dir: str) -> None:
    """Pay the session's first-use costs before anything is timed, so
    the first headline query (and the first to touch each table) does
    not: codegen, every fixture table's resolution and footer reads,
    and the WARMUP_QUERIES, each built through its raw builder."""
    from hpat_jl_spark.tables import load_tables

    spark.range(1000).selectExpr("sum(id)").collect()
    try:
        load_tables(spark, sf_dir)
        for name in WARMUP_QUERIES:
            df = inspect.unwrap(registry.REGISTRY[name].fn)(spark, sf_dir)
            for _ in range(3):
                df.write.format("noop").mode("overwrite").save()
    except Exception as exc:
        print(f"# warmup failed (continuing): {exc}", file=sys.stderr)


def _run_spark_queries(
    spark, qs: dict, names: list[str], reps: int, sf_dir: str
) -> tuple[dict, dict, dict, dict]:
    """Run each named query min-of-reps to the noop sink; returns
    (timings, errors, flaky, plan_build). Factored so the loaded-box
    self-heal pass can re-run just the breached subset."""
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    flaky: dict[str, str] = {}
    plan_build: dict[str, float] = {}
    for name in names:
        fn = qs[name]
        best = None
        # Isolate queries from each other's persisted frames (CLAUDE.md
        # r6 trap: Dataset.persist entries accumulate in CacheManager
        # for the session lifetime and later queries pay eviction
        # interference). Reps of the SAME query stay warm — min-of-reps
        # measures the plan's steady cost including its own caches.
        spark.catalog.clearCache()
        df = None
        if "prepared" in registry.REGISTRY[name].tags:  # build once, time runs
            t0 = time.perf_counter()
            try:
                # the raw builder: a plan the registry kept from an
                # earlier call in this session would time as a ~0 s build
                df = inspect.unwrap(fn)(spark, sf_dir)
                plan_build[name] = round(time.perf_counter() - t0, 3)
            except Exception as exc:
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                print(f"# {name}: ERROR {errors[name][:120]}", file=sys.stderr)
                continue
        for _ in range(reps):
            t0 = time.perf_counter()
            try:
                target = df if df is not None else fn(spark, sf_dir)
                target.write.format("noop").mode("overwrite").save()
            except Exception as exc:
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                print(f"# {name}: ERROR {errors[name][:120]}", file=sys.stderr)
                break
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        if best is not None:
            timings[name] = round(best, 3)
            if name in errors:  # some rep failed AFTER a success
                flaky[name] = errors.pop(name)
            print(f"# {name}: {timings[name]}s (min of {reps})", file=sys.stderr)
    return timings, errors, flaky, plan_build


def _run_duck(names: list[str], reps: int, sf_dir: str) -> dict[str, float]:
    """Time the DuckDB oracle twins for the named queries (min-of-reps,
    same contract as the Spark side). Empty on any duckdb failure —
    _check_bands then falls back to the absolute sec_hi guards."""
    duck: dict[str, float] = {}
    try:
        from hpat_jl_spark.testing import duckdb_con

        oracles = registry.oracle_sql()
        con = duckdb_con(sf_dir)
        for name in names:
            sql = oracles.get(name)
            if sql is None:
                continue
            best = None
            try:
                for _ in range(reps):  # same min-of-reps as the Spark side
                    t0 = time.perf_counter()
                    con.execute(sql).fetchall()
                    dt = time.perf_counter() - t0
                    best = dt if best is None else min(best, dt)
                    if dt > 10:
                        # a >10s twin (fuzzy_name_pairs' quadratic plan
                        # is ~2 min) is far past JIT/noise resolution;
                        # re-running it only stalls the bench
                        break
            except Exception as exc:
                print(f"# duckdb {name}: ERROR {exc}", file=sys.stderr)
                continue
            duck[name] = round(best, 3)
            print(f"# duckdb {name}: {duck[name]}s", file=sys.stderr)
    except Exception as exc:  # bench must still emit its line
        print(f"# duckdb timing skipped: {exc}", file=sys.stderr)
    return duck


def _concurrent_mode(n_way: int) -> None:
    """`bench.py --concurrent N`: run the ``concurrent`` queries once serially,
    then with N queries in flight at a time (worker threads pulling a
    shared queue, one Spark session, FAIR scheduler so no query's
    stages starve). Prints ONE JSON line with per-query slowdown vs
    serial — the multi-tenant interference number a shared 100 TB
    cluster pays. Absolute walls here are NOT bench numbers (no
    min-of-reps warm discipline beyond one warm pass); the SLOWDOWN
    ratio is the signal."""
    import queue
    import threading

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from hpat_jl_spark.session import get_spark, sized_shuffle_partitions

    names = registry.tagged("concurrent")
    spark = get_spark(
        app_name=f"hpat_jl_spark-bench-concurrent{n_way}",
        shuffle_partitions=sized_shuffle_partitions(sf_dir),
        extra_conf={"spark.scheduler.mode": "FAIR"},
    )
    qs = registry.queries()
    spark.range(1000).selectExpr("sum(id)").collect()
    # Build all plans serially before any thread starts (so the threads
    # share one session safely), warm each with one untimed pass.
    dfs = {name: qs[name](spark, sf_dir) for name in names}
    for df in dfs.values():
        df.write.format("noop").mode("overwrite").save()

    def _run(name: str) -> float:
        t0 = time.perf_counter()
        dfs[name].write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    serial = {name: _run(name) for name in names}

    work: queue.Queue[str] = queue.Queue()
    for name in names:
        work.put(name)
    conc: dict[str, float] = {}
    errors: dict[str, str] = {}
    lock = threading.Lock()

    def worker(wid: int) -> None:
        # ADVICE r09: spark.scheduler.mode=FAIR alone is not enough —
        # with no per-thread pool every job lands in the single default
        # pool, whose INTERNAL scheduling is FIFO. Pools are created on
        # demand and FAIR-shared BETWEEN each other, so one pool per
        # worker thread is what actually delivers "no query's stages
        # starve". Local properties are per-thread (PySpark pins python
        # threads to JVM threads), so set it once per worker.
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", f"bench-w{wid}")
        while True:
            try:
                name = work.get_nowait()
            except queue.Empty:
                return
            try:
                dt = _run(name)
                with lock:
                    conc[name] = dt
            except Exception as exc:  # noqa: BLE001
                with lock:
                    errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            finally:
                work.task_done()

    t0 = time.perf_counter()
    threads = [
        threading.Thread(target=worker, args=(i,)) for i in range(n_way)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    conc_wall = round(time.perf_counter() - t0, 3)
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()

    slow = {
        n: round(conc[n] / serial[n], 2)
        for n in conc
        if serial.get(n, 0) > 0
    }
    ranked = sorted(slow.values())
    serial_wall = round(sum(serial.values()), 3)
    out = {
        "metric": "concurrent_slowdown",
        "n_way": n_way,
        "sf": sf_dir.rstrip("/").split("sf")[-1],
        "serial": serial,
        "concurrent": conc,
        "slowdown": slow,
        "median_slowdown": ranked[len(ranked) // 2] if ranked else None,
        # throughput win: wall-clock for the whole set vs serial total —
        # <1.0 means interleaving pays despite per-query slowdown
        "set_wall_serial_s": serial_wall,
        "set_wall_concurrent_s": conc_wall,
        "throughput_gain": round(serial_wall / conc_wall, 2) if conc_wall else None,
    }
    if errors:
        out["errors"] = errors
    sys.stderr.flush()
    time.sleep(1.0)
    print(json.dumps(out), flush=True)


def main() -> None:
    if "--concurrent" in sys.argv:
        i = sys.argv.index("--concurrent")
        n_way = int(sys.argv[i + 1]) if len(sys.argv) > i + 1 else 2
        _concurrent_mode(n_way)
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = None
    idle_wait = float(os.environ.get("SPARK_GRAFT_IDLE_WAIT_S", "600"))
    box_before = _wait_for_idle(idle_wait) if idle_wait > 0 else _box_conditions()
    if box_before["loaded"]:
        print(
            f"# WARNING: box not idle at start ({box_before}) even after "
            f"waiting {idle_wait:.0f}s — absolute timings will overstate; "
            "ratios are partially protected (both engines share the box)",
            file=sys.stderr,
        )

    from hpat_jl_spark.session import get_spark, sized_shuffle_partitions

    # Shuffle-partition ceiling sized by the corpus (VERDICT r06 #1):
    # one partition per ~2 MB of input, floor 8, cap 4× threads — the
    # same formula a 100 TB deployment uses (where it saturates the
    # cap). At sf0.1 this is 8; the fixed per-task scheduling cost on
    # KB-sized reduce stages was the measured bulk of the sub-second
    # TPC-H queries' wall time.
    nparts = sized_shuffle_partitions(sf_dir)
    print(f"# shuffle partitions: {nparts}", file=sys.stderr)
    spark = get_spark(app_name="hpat_jl_spark-bench", shuffle_partitions=nparts)
    qs = registry.queries()
    headline = registry.tagged("headline")

    _warmup(spark, sf_dir)

    # Box-day compute yardstick (r12, see _CAL_DEGRADED_HI): measured
    # only where bands apply (sf0.1) — it costs ~15 s of pure compute.
    # Same fold as the CORES ×100 calibration, so the committed
    # reference is directly comparable.
    cal_now = yardstick_s(spark, 10_000_000, 3) if str(sf_val) == "0.1" else None
    if cal_now is not None:
        print(f"# pure-compute calibration: {cal_now}s "
              f"(band source: {_band_calibration()})", file=sys.stderr)

    # Per-query isolation: one broken query must never zero the round's
    # perf evidence (VERDICT r02 — the whole bench died at query 11/26).
    # Each query runs SPARK_GRAFT_BENCH_REPS times (default 2) and the
    # MIN is reported — this box is a shared VM with 1.5-2x run-to-run
    # noise (measured 43.6s..77.5s for an identical headline set), and
    # min-of-reps estimates the plan's cost, not the neighbors'.
    # A query that succeeds on some rep but throws on another is
    # recorded in ``flaky`` alongside its timing (ADVICE r03: the error
    # was previously discarded, hiding intermittent crashes).
    # 5 reps (r7, was 3): with the per-query medians now decided by
    # 60-130 ms queries, this box's scheduling noise dominated min-of-3
    # (back-to-back idle runs: samework median 1.92 / 2.01 at 3 reps vs
    # 1.58 at 5 — identical code); min-of-5 converges both engines'
    # timings to their plan cost. The first rep still pays codegen JIT.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5")))
    timings, errors, flaky, plan_build = _run_spark_queries(
        spark, qs, headline, reps, sf_dir
    )
    # Spark work is done: stop the JVM NOW so its shutdown noise cannot
    # land after the final JSON line (the driver records a 2000-char
    # tail of combined output; r3's line was evicted past the window —
    # VERDICT r03 #7). Log4j OFF first (VERDICT r04 #4): the r4 tail
    # carried an executor-shutdown ScheduledThreadPoolExecutor stack
    # trace, which Spark logs at ERROR during local-executor teardown —
    # with the root logger off, teardown is silent.
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()

    # DuckDB twin: time the oracle SQL for every headline query that has
    # one (rows-only queries have no SQL twin). fetchall() forces full
    # materialization — the moral equivalent of the noop write above.
    duck = _run_duck(headline, reps, sf_dir)

    box_after = _box_conditions()

    # Band guard + loaded-box self-heal (VERDICT r07 #4 / r08 #6; the
    # helpers existed since r8 but main() never called them — ADVICE
    # r08). Breaches measured on a loaded box are re-run ONCE in a
    # fresh session (both engines, breached subset only): contention
    # noise heals, real regressions reproduce. Provenance (which
    # queries re-ran, before/after seconds) lands in the artifacts so
    # a loaded-box round is machine-distinguishable. Bands are an
    # sf0.1 artifact — a smoke run at another sf must not compare
    # against them (every band would spuriously breach).
    breaches = (
        _check_bands(timings, duck, errors) if str(sf_val) == "0.1" else []
    )
    self_heal: dict = {}
    loaded_now = box_before["loaded"] or box_after["foreign_spark_jvms"] > 0
    if breaches and loaded_now:
        names = [n for n in _breach_names(breaches) if n in headline]
        print(
            f"# box loaded + {len(breaches)} breach(es) — self-heal "
            f"re-run of {names}",
            file=sys.stderr,
        )
        spark2 = get_spark(
            app_name="hpat_jl_spark-bench-heal", shuffle_partitions=nparts
        )
        spark2.range(1000).selectExpr("sum(id)").collect()
        t2, e2, _f2, _pb2 = _run_spark_queries(spark2, qs, names, reps, sf_dir)
        spark2.sparkContext.setLogLevel("OFF")
        spark2.stop()
        d2 = _run_duck(names, reps, sf_dir)
        self_heal = _merge_heal_results(
            names, timings, errors, duck, t2, e2, d2
        )
        breaches = _check_bands(timings, duck, errors)
        box_heal = _box_conditions()
        loaded_now = box_heal["foreign_spark_jvms"] > 0 or (
            box_heal["load_avg_1m"] > _LOAD1_IDLE_MAX
        )
    cal_band = _band_calibration()
    degraded = bool(breaches) and _box_degraded(cal_now, cal_band)
    if degraded:
        print(
            f"# box DEGRADED: pure-compute calibration {cal_now}s > "
            f"{_CAL_DEGRADED_HI}x band-source {cal_band}s — breach "
            "verdict withheld (measures the hypervisor, not the plans)",
            file=sys.stderr,
        )
    exit_code = _check_exit_code(breaches, loaded_now or degraded)
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        # Box-condition stamp (VERDICT r06 #3): a loaded-box run is
        # visibly flagged so it can never be mistaken for a regression.
        # The AFTER sample only counts foreign JVMs — its load average
        # still carries this bench's own 32-thread run (1-min decay),
        # so using it would self-flag every healthy sf0.1 run.
        "box": {
            "loaded": box_before["loaded"]
            or box_after["foreign_spark_jvms"] > 0,
            "load_1m": [box_before["load_avg_1m"], box_after["load_avg_1m"]],
            "foreign_jvms": max(
                box_before["foreign_spark_jvms"],
                box_after["foreign_spark_jvms"],
            ),
        },
    }
    if errors:
        out["errors"] = {n: e[:80] for n, e in errors.items()}
    if flaky:
        out["flaky"] = sorted(flaky)
    detail = dict(out)
    if flaky:
        detail["flaky"] = flaky  # full messages in the detail artifact
    if duck:
        not_same_work = registry.tagged("not_same_work")
        ratios = sorted(
            round(timings[n] / duck[n], 2) for n in duck if duck[n] > 0
        )
        samework = sorted(
            round(timings[n] / duck[n], 2)
            for n in duck
            if duck[n] > 0 and n not in not_same_work
        )
        out["duckdb_total"] = round(sum(duck.values()), 3)
        out["vs_duckdb_median"] = ratios[len(ratios) // 2] if ratios else None
        out["vs_duckdb_median_samework"] = (
            samework[len(samework) // 2] if samework else None
        )
        detail["duckdb"] = duck
        detail["duckdb_total"] = out["duckdb_total"]
        detail["not_same_work"] = sorted(not_same_work)
        detail["vs_duckdb"] = {
            n: round(timings[n] / duck[n], 2) for n in duck if duck[n] > 0
        }
    detail["box_before"] = box_before
    detail["box_after"] = box_after
    detail["plan_build"] = plan_build  # prepared-plan build cost, sec
    # Band verdict (VERDICT r08 #6): the emitted JSON always carries
    # the exit-code verdict and any self-heal provenance, so a loaded-
    # box round is machine-distinguishable from a regression. Only
    # `--check` turns the verdict into a nonzero exit (the driver's
    # plain run stays resilient, the verify recipe gets a hard gate).
    if cal_now is not None:
        out["box"]["calibration_s"] = cal_now
        # Ratio vs the band-source day's yardstick: >1 means THIS run's
        # box delivered less JVM compute than the day the bands (and
        # the headline vs_duckdb numbers the judge compares against)
        # were cut — read the run's Spark/DuckDB ratios through it.
        if cal_band:
            out["box"]["calibration_vs_band"] = round(cal_now / cal_band, 2)
    out["check"] = {
        "verdict": {0: "clean", 1: "breach", 2: "withheld"}[exit_code],
        "exit_code": exit_code,
    }
    if degraded:
        out["check"]["box_degraded"] = {
            "calibration_s": cal_now,
            "band_calibration_s": cal_band,
            "ratio": round(cal_now / cal_band, 2),
        }
    if self_heal:
        out["check"]["self_healed"] = sorted(self_heal)
        detail["self_heal"] = self_heal
    detail["check"] = out["check"]
    if breaches:
        detail["band_breaches"] = breaches
        out["band_breaches"] = len(breaches)
        for b in breaches:
            print(f"# BAND BREACH: {b}", file=sys.stderr)
    try:
        tiers = tier_records(read_tiers())
    except OSError:
        tiers = []
    detail["scaling_tiers"] = tiers
    if tiers:
        worst = max(tiers, key=lambda r: r["growth_x10"])
        out["scaling_growth_max"] = {worst["query"]: worst["growth_x10"]}
    # Full payload → repo artifact; stdout carries the compact line only
    # (the driver keeps a 2000-char tail — the r3 line with per-query
    # duckdb ratios inlined was 3.4 kB and lost its head, parsed=null).
    # BENCH_DETAIL.json is the CANONICAL sf0.1 artifact — a quick run at
    # another sf (e.g. a sf0.001 smoke) writes a suffixed file so it
    # cannot clobber the committed sf0.1 numbers (this happened in r6).
    detail_name = ("BENCH_DETAIL.json" if str(sf_val) == "0.1"
                   else f"BENCH_DETAIL_sf{sf_val}.json")
    # VERDICT r09 #3: a loaded-box run must not clobber the committed
    # idle-box canonical artifact — divert it to a .loaded twin (the
    # stdout line still carries the stamped box state either way).
    if detail_name == "BENCH_DETAIL.json" and out["box"]["loaded"]:
        detail_name = "BENCH_DETAIL.loaded.json"
        print(
            "# box loaded — detail diverted to BENCH_DETAIL.loaded.json "
            "(canonical idle artifact preserved)",
            file=sys.stderr,
        )
    try:
        with open(os.path.join(ROOT, detail_name), "w") as fh:
            json.dump(detail, fh, indent=1)
        out["detail"] = detail_name
    except OSError as exc:
        print(f"# detail write failed: {exc}", file=sys.stderr)
    line = json.dumps(out)
    if len(line) > 1900:  # never outgrow the driver's tail window again
        slim = dict(out)
        slim.pop("errors", None)
        line = json.dumps(slim)
    # Let any straggler JVM-teardown output land BEFORE the JSON line so
    # the line stays the true tail of combined stdout+stderr.
    sys.stderr.flush()
    time.sleep(1.0)
    print(line, flush=True)
    if "--check" in sys.argv:
        sys.exit(exit_code)


if __name__ == "__main__":
    main()
