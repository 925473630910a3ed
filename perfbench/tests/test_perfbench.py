"""Tests of the benchmark's own code: input staging, the metric
arithmetic and the contract file. Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import run
import stage
import telemetry
from stats import METRIC_NAME, hd_quantile, tail, tail_rank
from workloads import FIXTURES, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _digest(path: str) -> dict[str, str]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.fixture(scope="module")
def docs() -> pa.Table:
    return pq.read_table(os.path.join(FIXTURES, "documents.parquet"))


def test_fixtures_are_single_file_single_row_group():
    names = sorted(n.removesuffix(".parquet") for n in os.listdir(FIXTURES))
    from hpat_jl_spark.tables import SCHEMAS

    assert names == sorted(SCHEMAS)
    for n in names:
        meta = pq.ParquetFile(os.path.join(FIXTURES, f"{n}.parquet")).metadata
        assert meta.num_row_groups == 1 and meta.num_rows > 0, n


def test_split_restage_same_seed_identical(docs, tmp_path):
    stage.restage_split(docs, str(tmp_path / "a"), seed=11)
    stage.restage_split(docs, str(tmp_path / "b"), seed=11)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))


def test_split_restage_other_seed_same_rows_other_order(docs, tmp_path):
    stage.restage_split(docs, str(tmp_path / "a"), seed=11)
    stage.restage_split(docs, str(tmp_path / "b"), seed=12)
    a = pq.read_table(str(tmp_path / "a"))
    b = pq.read_table(str(tmp_path / "b"))
    assert a["doc_id"].to_pylist() != b["doc_id"].to_pylist()
    assert a.sort_by("doc_id").equals(b.sort_by("doc_id"))
    assert a.sort_by("doc_id").equals(docs.sort_by("doc_id"))


def test_split_restage_layout(docs, tmp_path):
    stage.restage_split(docs, str(tmp_path / "d"), seed=1, files=4, row_groups=5)
    parts = sorted(os.listdir(tmp_path / "d"))
    assert len(parts) == 4
    for p in parts:
        assert pq.ParquetFile(str(tmp_path / "d" / p)).metadata.num_row_groups == 5


def test_scan_split_count_split_rich_vs_committed_layout(docs, tmp_path):
    """The split restage feeds every core; the one-file, one-row-group
    layout of the committed fixtures is a single scan task."""
    from hpat_jl_spark.session import get_spark, scan_split_count

    cores = 4
    spark = get_spark(master=f"local[{cores}]")
    split = str(tmp_path / "documents.parquet")
    stage.restage_split(docs, split, seed=2)
    single = os.path.join(FIXTURES, "documents.parquet")
    assert scan_split_count(spark, split) >= cores
    assert scan_split_count(spark, single) == 1
    assert spark.read.parquet(split).rdd.getNumPartitions() >= cores


def test_tail_leaves_ten_beyond():
    assert tail_rank(20) == 10 and tail_rank(100) == 90 and tail_rank(11) == 1
    value, pct, n = tail([float(v) for v in range(1, 21)])
    assert (pct, n) == (50.0, 20) and value == pytest.approx(10.5)
    value, pct, n = tail([float(v) for v in range(100)])
    assert (pct, n) == (90.0, 100)
    assert 88.0 < value < 90.0
    assert tail([1.0] * 11)[1] == pytest.approx(100 / 11)
    # too few calls for a tail: the maximum, at percentile 100
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    with pytest.raises(ValueError):
        tail_rank(10)


def test_hd_quantile_smooths_across_clusters():
    assert hd_quantile([2.0] * 7, 0.5) == pytest.approx(2.0)
    assert hd_quantile([float(v) for v in range(21)], 0.5) == pytest.approx(10.0)
    # two clusters, the median on their boundary: the plain median jumps
    # from 1 to 2 when one call swaps sides, the estimate moves a little
    low = [1.0] * 11 + [2.0] * 10
    high = [1.0] * 10 + [2.0] * 11
    assert hd_quantile(high, 0.5) - hd_quantile(low, 0.5) < 0.25
    assert hd_quantile(low, 0.5) < hd_quantile(high, 0.5)


def _record(checks: dict[str, list[str]], error_query: str | None = None) -> dict:
    passes = [{"kind": "first", "traced": False, "wall_s": 3.0, "steal_share": 0.0}] + [
        {"kind": "warm", "traced": False, "wall_s": 1.0 + i / 10, "steal_share": 0.0}
        for i in range(3)
    ]
    calls = [
        {
            "pass": p,
            "query": q,
            "error": "boom" if (q == error_query and p == 2) else None,
            "latency_s": 0.1 * (k + 1) + p / 100,
        }
        for p in range(4)
        for k, q in enumerate(["a", "b", "c", "d"])
    ]
    return {
        "passes": passes,
        "calls": calls,
        "checks": checks,
        "setup": {"setup_s": 9.0},
        "warm_needed": 3,
        "peak_rss_mb": 100.0,
        "peak_rss_parts_mb": {},
        "stage_s": 1.0,
        "check_s": 1.0,
    }


def test_summarize_counts_failed_check_against_every_call():
    ok = run.summarize(_record({q: [] for q in "abcd"}))
    assert ok["correct"] and ok["failed"] == 0 and ok["attempted"] == 16
    assert ok["metrics"]["success_ratio"]["value"] == 1.0
    assert ok["metrics"]["pass_s"]["value"] == pytest.approx(1.1)
    assert ok["metrics"]["first_pass_s"]["value"] == 3.0

    bad = run.summarize(
        _record({"a": [], "b": ["row count differs"], "c": [], "d": []}, "c")
    )
    # 4 calls of b (its check failed) + the one call of c that raised
    assert bad["failed"] == 5 and not bad["correct"]
    assert bad["metrics"]["success_ratio"]["value"] == pytest.approx(11 / 16)


def test_summarize_measures_the_least_stolen_warm_passes():
    rec = _record({q: [] for q in "abcd"})
    rec["passes"] += [
        {"kind": "warm", "traced": False, "wall_s": 0.9, "steal_share": 0.001},
        {"kind": "warm", "traced": False, "wall_s": 5.0, "steal_share": 0.2},
    ]
    rec["passes"][2]["steal_share"] = 0.1  # the 1.1 s pass
    rec["calls"] += [
        {"pass": p, "query": q, "error": None, "latency_s": 9.0 if p == 5 else 0.1}
        for p in (4, 5)
        for q in "abcd"
    ]
    out = run.summarize(rec)
    # passes 1, 3 and 4 (1.0, 1.2 and 0.9 s); pass 5's slow calls unused
    assert out["metrics"]["pass_s"]["value"] == pytest.approx(1.0)
    assert rec["details"]["warm_passes_run"] == 5
    assert out["metrics"]["query_tail_s"]["value"] < 1.0
    assert out["attempted"] == 24


def test_summarize_reports_when_most_calls_fail():
    """Too few successful warm calls for a tail, or none at all: the run
    still reports, with the failures in success_ratio."""
    rec = _record({q: [] for q in "abcd"})
    for c in rec["calls"]:
        if c["query"] == "c":
            c["error"] = "boom"
    few = run.summarize(rec)  # 9 successful warm calls
    assert few["failed"] == 4
    assert rec["details"]["query_tail_percentile"] == 100.0
    assert few["metrics"]["query_tail_s"]["value"] == pytest.approx(0.43)
    rec = _record({q: ["wrong"] for q in "abcd"})
    for c in rec["calls"]:
        c["error"] = "boom"
    none = run.summarize(rec)
    assert none["failed"] == none["attempted"] == 16
    assert none["metrics"]["success_ratio"]["value"] == 0.0
    assert none["metrics"]["query_p50_s"]["value"] > 0


def _span(i, name, parent, start, end, **attrs):
    return {"id": i, "name": name, "parent": parent, "start": start, "end": end,
            "py4j_calls": 2, **attrs}


def test_pass_layers_skips_failed_calls():
    """A traced call that raised has a call span but no build or execute
    span; the layer totals come from the calls that succeeded."""
    spans = [
        _span(0, "call", None, 0.0, 1.0, build_span=1, execute_span=2,
              build_jobs=0, jobs=3),
        _span(1, "build", 0, 0.0, 0.4),
        _span(2, "execute", 0, 0.4, 1.0),
        _span(3, "call", None, 1.0, 1.5),
        _span(4, "build", 3, 1.0, 1.5),
    ]
    record = {
        "spans": spans,
        "cores": 4,
        "passes": [{"kind": "warm", "traced": True, "wall_s": 1.5,
                    "workdir_bytes": 0}],
        "calls": [
            {"pass": 0, "query": "a", "error": None, "span": 0, "latency_s": 1.0},
            {"pass": 0, "query": "b", "error": "boom", "span": 3, "latency_s": 0.5},
        ],
    }
    out = run.pass_layers(record, 0)
    assert out["scheduler.jobs"] == 3
    assert out["plans.build_s"] == pytest.approx(0.4)
    assert out["trace.span_coverage_min"] == pytest.approx(1.0)


def test_metric_names_and_contract_file():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = run.summarize(_record({q: [] for q in "abcd"}))["metrics"]
    assert [m["name"] for m in bench["end_to_end"]] == list(e2e)
    assert [m["name"] for m in bench["per_layer"]] == list(run.PER_LAYER_UNITS)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [w["why"] for w in bench["workloads"]] == [w.why for w in WORKLOADS.values()]
    for m in bench["end_to_end"]:
        assert m["unit"] == e2e[m["name"]]["unit"]
    for m in bench["per_layer"]:
        assert m["unit"] == run.PER_LAYER_UNITS[m["name"]]
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert all(METRIC_NAME.fullmatch(n) for n in names)
    assert len(set(names)) == len(names)


def test_parse_metric():
    assert telemetry.parse_metric("10.0 MiB") == 10 * 2**20
    assert telemetry.parse_metric("1,024") == 1024
    assert telemetry.parse_metric(
        "total (min, med, max (stageId: taskId))\n"
        "336.0 B (168.0 B, 168.0 B, 168.0 B (stage 0.0: task 0))"
    ) == 336


def test_final_plan_exchanges_counts_final_plan_only():
    plan = (
        "== Physical Plan ==\n"
        "AdaptiveSparkPlan (11)\n"
        "+- == Final Plan ==\n"
        "   ShuffleQueryStage (5)\n"
        "   +- Exchange (4)\n"
        "      +- BroadcastQueryStage (3)\n"
        "         +- BroadcastExchange (2)\n"
        "            +- ReusedExchange (1)\n"
        "+- == Initial Plan ==\n"
        "   Exchange (9)\n"
        "\n\n(4) Exchange\nInput [1]\n"
    )
    assert telemetry.final_plan_exchanges(plan) == 2


def test_job_time_split():
    split = telemetry._job_time_split([(1.0, 2.0), (1.5, 3.0), (4.0, 5.0)], 0.0, 6.0)
    assert split["in_job_s"] == pytest.approx(3.0)
    assert split["gap_s"] == pytest.approx(1.0)
    assert split["outside_jobs_s"] == pytest.approx(2.0)
    assert telemetry._job_time_split([], 0.0, 2.0)["outside_jobs_s"] == 2.0
