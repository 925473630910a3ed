"""Probe artifacts round-trip through their generators (no Spark).

Each probe owns only its fenced table in SCALING.md / CORES.md; the
prose around the tables lives in the artifact. Rendering every table
from the committed raw data and splicing it into a copy of the artifact
must reproduce the committed file byte for byte -- a renderer that
drifts from its artifact, or a splice that touches anything outside
its fences, fails here.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

import graph_scaling  # noqa: E402
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


def _block(text: str, name: str) -> list[str]:
    body = text.split(f"<!-- {name}:BEGIN", 1)[1].split(f"<!-- {name}:END -->", 1)[0]
    return body.split("\n")[1:-1]


def _parse_tiers(lines: list[str]) -> dict[str, dict[str, float]]:
    tier10 = f"sf0.1x{scaling_probe.REPLICAS}"
    tier100 = f"sf0.1x{scaling_probe.REPLICAS_X100}"
    rows = {}
    for ln in lines[2:]:
        cells = [c.strip() for c in ln.strip("|").split("|")]
        r = {"sf0.01": float(cells[1]), "sf0.1": float(cells[2]), tier10: float(cells[3])}
        if cells[5] != "—":
            r[tier100] = float(cells[5])
        rows[cells[0]] = r
    return rows


def _parse_skew(lines: list[str]) -> dict:
    off = lines[2].split("|")[2].strip()
    on, marker = (c.strip() for c in lines[3].split("|")[2:4])
    return {"off": float(off), "on": float(on), "marker": marker.startswith("yes")}


def test_scaling_md_round_trips(tmp_path):
    path, committed = _copy(tmp_path, "SCALING.md")
    tiers = _parse_tiers(_block(committed, "TIERS"))
    assert list(tiers) == scaling_probe.QUERIES
    probe.splice_block(path, "TIERS", scaling_probe.render_tiers(tiers))
    probe.splice_block(path, "SKEW", scaling_probe.render_skew(
        _parse_skew(_block(committed, "SKEW"))))
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
    for tier, names, fence in (("x10", strong_scaling.QUERIES, "CORES_X10"),
                               ("x100", strong_scaling.X100_SET, "CORES_X100")):
        rows = strong_scaling._results(cells[tier], names)
        probe.splice_block(path, fence, strong_scaling._table(rows))
    with open(path) as fh:
        assert fh.read() == committed
