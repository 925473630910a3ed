"""A bounded stream replay forks no `readlink`.

Without the native Hadoop library, Hadoop's local filesystem forks a
`readlink` for each link-status check and a `chmod` for each permission
it sets. Spark's default (FileContext-based) checkpoint manager checks
link status twice for every checkpoint file it renames or looks for:
64 forked `readlink`s a `stream_tumbling_counts` replay.
`plans/streaming._start_bounded` starts every temporary-checkpoint
replay with the FileSystem-based manager, which forks none.

The count comes from logging wrappers first on the `PATH` of a fresh
session (the driver JVM inherits it), so this runs in a subprocess.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = ("readlink", "chmod")

_SESSION = textwrap.dedent(
    """
    import sys
    from hpat_jl_spark import registry
    from hpat_jl_spark.session import get_spark

    sf_dir, log = sys.argv[1], sys.argv[2]
    spark = get_spark(master="local[2]")
    query = registry.queries()["stream_tumbling_counts"]
    for call in range(2):
        with open(log, "a") as fh:
            fh.write(f"CALL {call}\\n")
        query(spark, sf_dir).collect()
    spark.stop()
    """
)


def _wrappers(bin_dir, log) -> None:
    """A script per tool that logs its arguments, then runs the tool."""
    os.makedirs(bin_dir)
    for tool in TOOLS:
        path = os.path.join(bin_dir, tool)
        with open(path, "w") as fh:
            fh.write(f'#!/bin/sh\necho "{tool} $*" >> "{log}"\n')
            fh.write(f'exec "{shutil.which(tool)}" "$@"\n')
        os.chmod(path, 0o755)


def _forks_per_call(log) -> list[dict[str, int]]:
    """Fork counts by tool for each call; forks before the first call
    (session start) are not counted."""
    calls: list[dict[str, int]] = []
    with open(log) as fh:
        for line in fh:
            word = line.split(" ", 1)[0].strip()
            if word == "CALL":
                calls.append(dict.fromkeys(TOOLS, 0))
            elif calls:
                calls[-1][word] += 1
    return calls


@pytest.mark.skipif(
    not all(shutil.which(tool) for tool in TOOLS), reason="readlink/chmod not found"
)
def test_bounded_replay_forks_no_readlink(tmp_path, sf_dir):
    log = str(tmp_path / "forks.log")
    bin_dir = str(tmp_path / "bin")
    _wrappers(bin_dir, log)
    env = dict(
        os.environ,
        PATH=bin_dir + os.pathsep + os.environ["PATH"],
        PYTHONPATH=REPO_ROOT,
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, "-c", _SESSION, sf_dir, log],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    calls = _forks_per_call(log)
    assert len(calls) == 2
    # the JVM ran the wrappers: the remaining chmods are logged
    assert all(call["chmod"] > 0 for call in calls), calls
    assert [call["readlink"] for call in calls] == [0, 0], calls
