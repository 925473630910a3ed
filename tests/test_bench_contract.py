"""Contract tests for bench.py's query roles and prepared-plan timing
(VERDICT r06 #1).

A query's bench role is a tag on its registration (``registry.tagged``).
``prepared`` queries are timed as build-once / execute-per-rep, which is
only honest if fn() is a PURE plan builder: no Spark jobs, no writes, no
driver-side fits during construction. These tests pin that contract so
a future rewrite that adds an eager fit to a prepared query fails loudly
instead of silently being under-timed, and pin the tags to the
committed bench artifacts.
"""

from __future__ import annotations

import inspect
import json
import os
import sys

import pytest

sys.path.insert(0, "/root/repo")

import bench  # noqa: E402
from hpat_jl_spark import registry  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.abspath(bench.__file__))


def _artifact(name: str) -> dict:
    with open(os.path.join(ROOT, name)) as fh:
        return json.load(fh)


def test_prepared_is_subset_of_headline_and_registry():
    headline = set(registry.tagged("headline"))
    assert headline <= set(registry.queries())
    for role in ("prepared", "not_same_work", "concurrent"):
        assert set(registry.tagged(role)) <= headline, role


def test_role_tags_match_committed_artifacts():
    """The tags name exactly the queries the committed bench artifacts
    were cut from; ``concurrent`` keeps its 8-query mix."""
    detail = _artifact("BENCH_DETAIL.json")
    headline = set(registry.tagged("headline"))
    assert len(headline) == 42
    assert headline == set(detail["queries"])
    assert headline == set(_artifact("BENCH_BANDS.json")["bands"])
    assert set(registry.tagged("prepared")) == set(detail["plan_build"])
    assert set(registry.tagged("not_same_work")) == set(detail["not_same_work"])
    assert len(registry.tagged("concurrent")) == 8


@pytest.mark.parametrize("name", sorted(registry.tagged("prepared")))
def test_prepared_builds_run_no_jobs(spark, name):
    """Every prepared fn must construct its DataFrame without launching
    a single Spark job (first call may resolve tables — warm that up —
    the contract is on the steady-state build the bench reps rely on).
    Both calls go to the raw builder: through ``REGISTRY[name].fn`` the
    second would hand back the kept plan without building anything.
    """
    fn = inspect.unwrap(registry.REGISTRY[name].fn)
    fn(spark, SF_SMOKE)  # warm: table resolution, codegen caches
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    fn(spark, SF_SMOKE)
    after = set(tracker.getJobIdsForGroup(None) or [])
    assert after == before, (
        f"{name} launched {sorted(after - before)} Spark job(s) during "
        "plan construction — drop its \"prepared\" tag or make the "
        "builder lazy"
    )


# ---------------------------------------------------------------- bands

def test_band_check_missing_duck_falls_back_to_sec_hi():
    """ADVICE r07: a missing DuckDB twin timing must not vacuously pass
    a ratio band — it falls back to the absolute sec_hi ceiling."""
    bands = {"q": {"ratio_hi": 2.0, "sec_hi": 1.0}}
    # twin absent, absolute ceiling breached
    assert bench._check_bands({"q": 1.5}, {}, {}, bands=bands) == [
        "q: 1.50s > band 1.0s"
    ]
    # twin absent, absolute ceiling respected → clean
    assert bench._check_bands({"q": 0.5}, {}, {}, bands=bands) == []


def test_band_check_missing_duck_without_fallback_breaches():
    bands = {"q": {"ratio_hi": 2.0}}
    out = bench._check_bands({"q": 0.1}, {}, {}, bands=bands)
    assert out and "no usable duckdb timing" in out[0]
    assert "twin failed or skipped" in out[0]


def test_band_check_sec_hi_guards_even_when_ratio_passes():
    """ADVICE r07: the 1.0-floored ratio band alone lets a 0.02x query
    regress ~50x; the paired absolute guard catches it."""
    bands = {"q": {"ratio_hi": 1.0, "sec_hi": 0.5}}
    # ratio 0.9 (passes) but absolute 0.9s > 0.5s ceiling
    assert bench._check_bands({"q": 0.9}, {"q": 1.0}, {}, bands=bands) == [
        "q: 0.90s > band 0.5s"
    ]
    # both fine
    assert bench._check_bands({"q": 0.4}, {"q": 1.0}, {}, bands=bands) == []


def test_band_check_ratio_breach_reported_once():
    bands = {"q": {"ratio_hi": 1.5, "sec_hi": 10.0}}
    out = bench._check_bands({"q": 2.0}, {"q": 1.0}, {}, bands=bands)
    assert out == ["q: vs_duckdb 2.00 > band 1.5"]


# ------------------------------------------------------- check verdict

def test_check_exit_code_policy():
    """VERDICT r07 #4 / r08 #6: 0 = clean, 1 = real breach on an idle
    box, 2 = verdict withheld (breaches measured under load)."""
    assert bench._check_exit_code([], False) == 0
    assert bench._check_exit_code([], True) == 0
    assert bench._check_exit_code(["q: slow"], False) == 1
    assert bench._check_exit_code(["q: slow"], True) == 2


def test_breach_names_dedupes_and_sorts():
    assert bench._breach_names(["b: x", "a: y", "b: z"]) == ["a", "b"]


def test_box_degraded_policy():
    """r12: a breach measured on a box delivering >1.25x less pure
    compute than the band-source day is withheld, not reported as a
    regression — and the guard degrades to inactive (False) when
    either yardstick is missing, so old band files keep exit 1."""
    assert bench._box_degraded(4.65, 3.62) is True       # 1.28x — the r12 day
    assert bench._box_degraded(4.0, 3.62) is False       # 1.10x — in-band noise
    assert bench._box_degraded(3.62 * 1.25, 3.62) is False  # boundary excluded
    assert bench._box_degraded(None, 3.62) is False
    assert bench._box_degraded(4.65, None) is False
    # composed with the exit-code policy: degraded behaves like loaded
    assert bench._check_exit_code(["q: slow"], True) == 2


def test_band_calibration_reads_committed_file():
    """The committed BENCH_BANDS.json must carry the band-source
    yardstick, or the degraded-box guard is silently inactive."""
    cal = bench._band_calibration()
    assert cal is not None and 0.5 < cal < 60.0


def test_band_notes_match_generator():
    """The committed BENCH_BANDS.json notes are the generator's ASCII
    constant byte for byte, and the file ends with one newline, so a
    regeneration leaves no spurious diff in either."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "make_bench_bands", os.path.join(ROOT, "scripts", "make_bench_bands.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert all(v.isascii() for v in mod.BAND_NOTES.values())
    with open(os.path.join(ROOT, "BENCH_BANDS.json"), "rb") as fh:
        raw = fh.read()
    assert raw.endswith(b"}\n") and not raw.endswith(b"\n\n")
    assert json.loads(raw)["notes"] == mod.BAND_NOTES
    # byte-level: the notes block serializes exactly as json.dump writes it
    block = json.dumps({"notes": mod.BAND_NOTES}, indent=1)[2:-2]
    assert block.encode() in raw


def test_band_check_zero_duck_timing_is_not_a_missing_twin():
    """ADVICE r08: a twin that rounds to 0.0s RAN — it just cannot
    anchor a ratio. It must fall back to sec_hi, not emit the spurious
    'no duckdb timing' breach."""
    bands = {"q": {"ratio_hi": 2.0, "sec_hi": 1.0}}
    assert bench._check_bands({"q": 0.5}, {"q": 0.0}, {}, bands=bands) == []
    assert bench._check_bands({"q": 1.5}, {"q": 0.0}, {}, bands=bands) == [
        "q: 1.50s > band 1.0s"
    ]
    # genuinely absent twin with no sec_hi still breaches loudly
    bands2 = {"q": {"ratio_hi": 2.0}}
    out = bench._check_bands({"q": 0.1}, {}, {}, bands=bands2)
    assert out and "no usable duckdb timing" in out[0]
    # ADVICE r09: a PRESENT twin that timed 0.0s with no sec_hi was a
    # silent pass (checked against nothing at all) — now a loud breach.
    out0 = bench._check_bands({"q": 0.1}, {"q": 0.0}, {}, bands=bands2)
    assert out0 and "twin timed 0.0s" in out0[0]


def test_main_wires_helpers():
    """ADVICE r08: main() must call the factored helpers (the r8 copies
    drifted); pin the call sites so a future inline rewrite fails."""
    import inspect

    src = inspect.getsource(bench.main)
    for helper in ("_run_spark_queries", "_run_duck", "_check_bands",
                   "_check_exit_code", "_breach_names"):
        assert helper + "(" in src, f"main() no longer calls {helper}()"
    # the emitted JSON must carry the verdict (VERDICT r08 #6)
    assert 'out["check"]' in src


def test_wait_for_idle_polls_until_idle(monkeypatch):
    """VERDICT r09 #3: the artifact run waits for the box to go idle
    (bounded), rather than stamping a loaded run and moving on."""
    samples = [
        {"loaded": True, "load_avg_1m": 9.0, "foreign_spark_jvms": 1},
        {"loaded": True, "load_avg_1m": 5.0, "foreign_spark_jvms": 0},
        {"loaded": False, "load_avg_1m": 1.0, "foreign_spark_jvms": 0},
    ]
    monkeypatch.setattr(bench, "_box_conditions", lambda: samples.pop(0))
    box = bench._wait_for_idle(budget_s=60.0, poll_s=0.0)
    assert box["loaded"] is False
    assert samples == []  # consumed exactly the three polls


def test_wait_for_idle_gives_up_after_budget(monkeypatch):
    loaded = {"loaded": True, "load_avg_1m": 9.0, "foreign_spark_jvms": 1}
    monkeypatch.setattr(bench, "_box_conditions", lambda: dict(loaded))
    box = bench._wait_for_idle(budget_s=0.05, poll_s=0.01)
    assert box["loaded"] is True  # proceeds, stamped loaded


def test_self_heal_merge_policy():
    """VERDICT r08 #6: the loaded-box self-heal pass must take the
    better (min) timing on both engines, clear healed errors, and
    record before/after provenance."""
    timings = {"a": 2.0, "b": 1.0}
    errors = {"c": "Boom"}
    duck = {"a": 0.5}
    # re-run: a healed (faster), b got slower (keep original), c ran
    t2 = {"a": 1.2, "b": 1.5, "c": 0.8}
    d2 = {"a": 0.6, "c": 0.4}
    prov = bench._merge_heal_results(
        ["a", "b", "c"], timings, errors, duck, t2, {}, d2
    )
    assert timings == {"a": 1.2, "b": 1.0, "c": 0.8}
    assert errors == {}                       # c healed
    assert duck == {"a": 0.5, "c": 0.4}       # min on the duck side too
    assert prov["a"] == {"before": 2.0, "after": 1.2}
    assert prov["c"] == {"before": None, "after": 0.8}


def test_self_heal_merge_keeps_fresh_error_when_still_failing():
    timings: dict = {}
    errors = {"a": "old"}
    prov = bench._merge_heal_results(
        ["a"], timings, errors, {}, {}, {"a": "new"}, {}
    )
    assert errors == {"a": "new"}
    assert prov["a"] == {"before": None, "after": None}


def test_self_heal_end_to_end_verdict():
    """Compose the helpers the way main() does: a loaded-box breach
    that heals on the re-run yields exit 0; one that persists on a
    still-loaded box yields 2 (withheld), on an idle box 1."""
    bands = {"q": {"ratio_hi": 2.0, "sec_hi": 3.0}}
    timings, errors, duck = {"q": 2.5}, {}, {"q": 1.0}
    breaches = bench._check_bands(timings, duck, errors, bands=bands)
    assert breaches and bench._breach_names(breaches) == ["q"]
    # heal pass: contention gone, q is fast again
    bench._merge_heal_results(["q"], timings, errors, duck, {"q": 1.1}, {}, {})
    assert bench._check_bands(timings, duck, errors, bands=bands) == []
    assert bench._check_exit_code([], False) == 0
    # persistent breach: withheld under load, real when idle
    timings2, duck2 = {"q": 9.9}, {"q": 1.0}
    b2 = bench._check_bands(timings2, duck2, {}, bands=bands)
    assert b2
    assert bench._check_exit_code(b2, True) == 2
    assert bench._check_exit_code(b2, False) == 1
