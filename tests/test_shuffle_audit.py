"""Unit tests for the status parsing in scripts/probe.py that
scripts/shuffle_audit.py (SHUFFLE.md) and every other probe read.

The audit's conclusions hinge on two parsing decisions that Spark's
status stores make easy to get silently wrong:

- SQL-node size metrics render either as a bare value ('10.3 MiB') or,
  for multi-task scans, as a two-line 'total (min, med, max (stageId:
  taskId))' header followed by the totals line — the parser must take
  the TOTAL, not choke on (or mis-sum) the distribution.
- Scan volume must come from the SQL scan nodes, not stage inputBytes:
  on Spark 4 + local files the vectorized parquet reader's column reads
  bypass Hadoop FS statistics (a full 11 MB lineitem scan reports ~17 KB
  of footer bytes). That fact is exercised end-to-end by the audit run
  itself; here we pin the pure parsing layer so a metric-format change
  in a Spark upgrade fails loudly.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

import probe  # noqa: E402


def test_parse_size_bare_value():
    assert probe.parse_size("10.3 MiB") == int(10.3 * (1 << 20))
    assert probe.parse_size("842 B") == 842
    assert probe.parse_size("  1.5 KiB ") == 1536


def test_parse_size_distribution_takes_total():
    text = (
        "total (min, med, max (stageId: taskId))\n"
        "13.2 MiB (4.4 MiB, 4.4 MiB, 4.4 MiB (stage 4.0: task 7))"
    )
    assert probe.parse_size(text) == int(13.2 * (1 << 20))


def test_scan_bytes_sums_only_new_scan_nodes():
    execs = [
        {  # already-seen execution: must be excluded
            "id": 1,
            "nodes": [
                {
                    "nodeName": "Scan parquet",
                    "metrics": [{"name": "size of files read", "value": "1.0 GiB"}],
                }
            ],
        },
        {  # new execution: one scan node counted, non-scan node ignored
            "id": 2,
            "nodes": [
                {
                    "nodeName": "Scan parquet ",
                    "metrics": [
                        {"name": "number of files read", "value": "3"},
                        {"name": "size of files read", "value": "2.0 MiB"},
                    ],
                },
                {
                    "nodeName": "HashAggregate",
                    "metrics": [{"name": "size of files read", "value": "9.9 GiB"}],
                },
                {
                    "nodeName": "Scan parquet",
                    "metrics": [{"name": "size of files read", "value": "512 KiB"}],
                },
            ],
        },
    ]
    assert probe.scan_bytes(execs, since=2) == 2 * (1 << 20) + 512 * (1 << 10)


def test_status_window_reads_the_stores_without_ui(spark, sf_dir):
    """The in-process stores hold what the REST API served, with the UI
    off: a window around one query sees exactly the job ids Spark's
    statusTracker files under the query's job group, its stages, and a
    non-zero scan volume from the SQL scan nodes."""
    from hpat_jl_spark import registry

    sc = spark.sparkContext
    assert sc.getConf().get("spark.ui.enabled") == "false"
    assert sc.uiWebUrl is None
    fn = registry.queries()["q5_local_supplier_volume"]
    window = probe.StatusWindow(spark)
    sc.setJobGroup("status-window-test", "q5")
    try:
        probe.run_noop(fn(spark, sf_dir))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = window.jobs()
    assert [j["id"] for j in jobs] == sorted(
        sc.statusTracker().getJobIdsForGroup("status-window-test")
    )
    assert all(j["start_s"] <= j["end_s"] for j in jobs)
    totals = window.totals()
    assert totals["jobs"] == len(jobs) > 0
    assert totals["stages"] > 0 and totals["tasks"] >= totals["stages"]
    assert totals["scan_bytes"] > 0
