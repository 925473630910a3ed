"""Probe artifacts round-trip through their generators (no Spark).

Each probe owns only its fenced tables in SCALING.md / CORES.md /
CAPACITY.md; the prose around the tables lives in the artifact.
Rendering every table from the committed raw data and splicing it into
a copy of the artifact must reproduce the committed file byte for byte
-- a renderer that drifts from its artifact, or a splice that touches
anything outside its fences, fails here.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

import graph_scaling  # noqa: E402
import make_capacity  # noqa: E402
import memory_probe  # noqa: E402
import probe  # noqa: E402
import scaling_probe  # noqa: E402
import streaming_probe  # noqa: E402
import strong_scaling  # noqa: E402


def _json(name: str) -> dict:
    with open(os.path.join(REPO, name)) as fh:
        return json.load(fh)


def _copy(tmp_path, name: str) -> tuple[str, str]:
    src = os.path.join(REPO, name)
    dst = str(tmp_path / name)
    shutil.copy(src, dst)
    with open(src) as fh:
        return dst, fh.read()


def _parse_skew(lines: list[str]) -> dict:
    off = lines[2].split("|")[2].strip()
    on, marker = (c.strip() for c in lines[3].split("|")[2:4])
    return {"off": float(off), "on": float(on), "marker": marker.startswith("yes")}


def test_scaling_md_round_trips(tmp_path):
    path, committed = _copy(tmp_path, "SCALING.md")
    tiers = scaling_probe.read_tiers(path)
    assert list(tiers) == scaling_probe.QUERIES
    probe.splice_block(path, "TIERS", scaling_probe.render_tiers(tiers))
    probe.splice_block(path, "SKEW", scaling_probe.render_skew(
        _parse_skew(probe.read_block(path, "SKEW"))))
    probe.splice_block(path, "MEMORY", memory_probe._render(_json("MEMORY_PROBE.json")))
    probe.splice_block(path, "GRAPH_TABLE",
                       graph_scaling.render(_json("GRAPH_SCALING.json")["queries"]))
    results = _json("STREAMING_PROBE.json")["results"]
    tiers = [t for t in streaming_probe.TIERS if any(t in r for r in results.values())]
    probe.splice_block(path, "STREAMING_TABLE", streaming_probe.render(results, tiers))
    with open(path) as fh:
        assert fh.read() == committed


def test_cores_md_round_trips(tmp_path):
    path, committed = _copy(tmp_path, "CORES.md")
    cells = _json("CORES.json")
    for tier, names, fence in strong_scaling.TIERS:
        rows = strong_scaling._results(cells[tier], names)
        probe.splice_block(path, fence, strong_scaling._table(rows))
    with open(path) as fh:
        assert fh.read() == committed


def test_scaling_tier_records_match_bench_detail():
    """The tier reader's records are the committed bench artifact's."""
    records = scaling_probe.tier_records(scaling_probe.read_tiers())
    assert records == _json("BENCH_DETAIL.json")["scaling_tiers"]


def test_capacity_md_round_trips(tmp_path, monkeypatch):
    """CAPACITY.md regenerates from the committed artifacts, with the
    ×100 tier unstaged (its recorded byte count stands in)."""
    monkeypatch.setattr(make_capacity, "STAGE_X100", str(tmp_path / "unstaged"))
    path, committed = _copy(tmp_path, "CAPACITY.md")
    for name, lines in make_capacity.build().items():
        probe.splice_block(path, name, lines)
    with open(path) as fh:
        assert fh.read() == committed
