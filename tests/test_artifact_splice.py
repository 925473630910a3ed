"""probe.splice_block robustness: the one fence rule every probe uses
to write its table into a shared artifact (SCALING.md is co-owned by
five generators). The cases are the r12 interaction bugs: a heading-
delimited replace ate the next block's BEGIN fence, the next splice
appended a duplicate block, and the duplicate's stray END scrambled
every later first-END splice. Synthetic files; no Spark session.
"""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

from probe import splice_block  # noqa: E402

GRAPH_BLOCK = (
    "<!-- GRAPH:BEGIN (scripts/graph_scaling.py) -->\n\n"
    "## Graph appendix (disjoint-copy tiers)\n\nold graph table\n\n"
    "<!-- GRAPH:END -->"
)
MEMORY_BLOCK = (
    "## Memory appendix (constrained-budget)\n\n"
    "<!-- MEMORY:BEGIN -->\nold memory table\n<!-- MEMORY:END -->\n"
)


def test_memory_splice_preserves_following_fence(tmp_path):
    path = tmp_path / "SCALING.md"
    path.write_text("# SCALING\n\n" + MEMORY_BLOCK + GRAPH_BLOCK + "\n")
    splice_block(str(path), "MEMORY", ["new memory table"])
    text = path.read_text()
    assert "new memory table" in text
    assert "old memory table" not in text
    # the whole point: the graph block's BEGIN fence must survive
    assert text.count("<!-- GRAPH:BEGIN") == 1
    assert text.index("<!-- GRAPH:BEGIN") < text.index("<!-- GRAPH:END")
    assert "old graph table" in text


def test_splice_keeps_unfenced_later_section(tmp_path):
    path = tmp_path / "SCALING.md"
    path.write_text(
        "# SCALING\n\n" + MEMORY_BLOCK + "\n## Unfenced later section\n\nkeep me\n"
    )
    splice_block(str(path), "MEMORY", ["new memory"])
    assert path.read_text() == (
        "# SCALING\n\n## Memory appendix (constrained-budget)\n\n"
        "<!-- MEMORY:BEGIN -->\nnew memory\n<!-- MEMORY:END -->\n"
        "\n## Unfenced later section\n\nkeep me\n"
    )


def test_graph_splice_ignores_stray_earlier_end(tmp_path):
    path = tmp_path / "SCALING.md"
    # orphaned block (BEGIN eaten) with a stray END before the real one
    path.write_text(
        "# SCALING\n\n## Graph appendix (orphan)\n\nstale table\n\n"
        "<!-- GRAPH:END -->\n\n" + GRAPH_BLOCK + "\n"
    )
    splice_block(str(path), "GRAPH", ["| triangle_count | 1.0 | 2.0 |"])
    text = path.read_text()
    # replaced the REAL block, left everything before it untouched
    assert "old graph table" not in text
    assert "| triangle_count | 1.0 | 2.0 |" in text
    assert text.count("<!-- GRAPH:BEGIN") == 1
    # the stray earlier END is untouched prefix content, not a cut point
    assert "stale table" in text
    s = text.index("<!-- GRAPH:BEGIN")
    assert "<!-- GRAPH:END -->" in text[s:]


def test_streaming_splice_ignores_stray_earlier_end(tmp_path):
    path = tmp_path / "SCALING.md"
    block = (
        "<!-- STREAMING:BEGIN (scripts/streaming_probe.py) -->\n\n"
        "old stream table\n\n<!-- STREAMING:END -->"
    )
    path.write_text(
        "# SCALING\n\nstray\n<!-- STREAMING:END -->\n\n" + block + "\n"
    )
    splice_block(str(path), "STREAMING", ["| q | sf0.01 | 1 |"])
    text = path.read_text()
    assert "old stream table" not in text
    assert text.count("<!-- STREAMING:BEGIN") == 1
    assert "stray" in text
    # the BEGIN line (with its generator note) is kept as it was
    assert "<!-- STREAMING:BEGIN (scripts/streaming_probe.py) -->\n| q |" in text


def test_splice_appends_fenced_block_when_absent(tmp_path):
    path = tmp_path / "CORES.md"
    path.write_text("# CORES\n\nprose\n")
    splice_block(str(path), "CORES_X10", ["| a |"])
    splice_block(str(path), "CORES_X10", ["| b |"])
    assert path.read_text() == (
        "# CORES\n\nprose\n\n<!-- CORES_X10:BEGIN -->\n| b |\n<!-- CORES_X10:END -->\n"
    )
    # a name that prefixes another fence's name is a different block
    splice_block(str(path), "CORES", ["| c |"])
    assert "| b |" in path.read_text() and "| c |" in path.read_text()
