"""Unit tests for scripts/strong_scaling.py's calibration-epoch rules.

The of-ceiling fractions feeding CORES.md/CAPACITY.md are only
meaningful when every cell is normalized against a calibration
measured under the SAME box conditions (ADVICE r11; CLAUDE.md CORES
trap). Two mechanisms enforce that:

- every cell measured since r12 stores a same-run calibration snapshot
  ({"sec": s, "calib": c}) and normalizes against it;
- legacy bare-number cells fall back to the tier's persisted
  _pure_compute row, which must therefore be FROZEN while any such
  cell remains (late-r12 fix: a one-query re-measure on a degraded
  hypervisor day rewrote the row 3.62 -> 11.81 s@32thr and every
  legacy of-ceiling inflated ~3x before the freeze).

These tests pin the cell-format parsing and the freeze predicate.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

import strong_scaling as SS  # noqa: E402


def test_cell_parts_formats():
    assert SS._cell_parts(12.5) == (12.5, None)  # legacy: no snapshot
    assert SS._cell_parts({"sec": 12.5, "calib": 3.6}) == (12.5, 3.6)
    assert SS._cell_parts({"sec": 12.5}) == (12.5, None)


def test_has_legacy_cells_detects_bare_numbers():
    tier = {
        "q_old": {"4": 10.0, "32": 3.0},
        "q_new": {"4": {"sec": 10.0, "calib": 16.0}},
    }
    assert SS._has_legacy_cells(tier, ["q_old", "q_new"]) is True
    assert SS._has_legacy_cells(tier, ["q_new"]) is False
    # only queries in the sweep list count — a stale foreign row must
    # not freeze the region a fresh sweep owns outright
    assert SS._has_legacy_cells(tier, ["q_other"]) is False
    assert SS._has_legacy_cells({}, ["q_old"]) is False


def test_committed_calibration_row_matches_legacy_epoch():
    """The committed CORES.json must keep a _pure_compute row that is
    plausibly the LEGACY epoch's yardstick wherever legacy cells
    remain: monotone non-increasing with threads (a frozen row from a
    sane epoch), never the signature of a chaotic re-measure (more
    threads slower than fewer). Guards the artifact the freeze exists
    to protect."""
    import json

    with open(os.path.join(REPO, "CORES.json")) as fh:
        data = json.load(fh)
    for tier, cells in data.items():
        names = [n for n in cells if not n.startswith("_")]
        if not SS._has_legacy_cells(cells, names):
            continue
        row = cells[SS._CALIBRATION]
        secs = [SS._cell_parts(row[str(c)])[0] for c in SS.CORES]
        assert all(a >= b * 0.8 for a, b in zip(secs, secs[1:])), (
            f"{tier}: frozen calibration row {secs} is not monotone — "
            "a chaotic-epoch re-measure overwrote the legacy yardstick"
        )
