"""Session-scoped working dirs (VERDICT r09 #1): no registered query
may write to a fixed temp path shared across engine sessions. Pins the
structural rule (only workdirs.py composes gettempdir, calls mkdtemp
or registers atexit hooks; no /tmp literals in the package) and the
functional guarantees (per-process token, per-corpus keying,
memoization, cross-process disjointness, staged inputs built once per
realpath and forgotten by ``invalidate_table_cache``)."""

from __future__ import annotations

import glob
import os
import subprocess
import sys

import pytest

import hpat_jl_spark
from hpat_jl_spark.tables import invalidate_table_cache
from hpat_jl_spark.workdirs import _SESSION_TOKEN, session_workdir, staged

PKG_ROOT = os.path.dirname(hpat_jl_spark.__file__)
SF = "/root/testdata/sf0.001"
# only workdirs.py may make a scratch dir or register an exit hook
SCRATCH_CALLS = ("gettempdir", "mkdtemp(", "atexit.register(")


def _package_sources():
    for dirpath, _dirs, files in os.walk(PKG_ROOT):
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def test_only_workdirs_composes_gettempdir():
    """The defect class that broke a concurrent sweep during r9 judging
    was a query composing its own name under gettempdir(); per-module
    mkdtemp dirs with their own atexit hooks and memos then keyed one
    input two ways (a symlinked sf_dir staged twice) and kept
    per-call dirs until exit. The rule: plans/operators get their dirs
    from session_workdir or staged, and nothing else touches the system
    temp root or registers an exit hook."""
    offenders = []
    for path in _package_sources():
        if os.path.basename(path) == "workdirs.py":
            continue
        with open(path) as fh:
            for i, line in enumerate(fh, 1):
                if any(n in line for n in SCRATCH_CALLS):
                    offenders.append(f"{path}:{i} {line.strip()}")
    assert offenders == [], "\n".join(offenders)


def test_no_fixed_tmp_literals_in_package():
    offenders = []
    for path in _package_sources():
        with open(path) as fh:
            for i, line in enumerate(fh, 1):
                if '"/tmp' in line or "'/tmp" in line:
                    offenders.append(f"{path}:{i} {line.strip()}")
    assert offenders == [], "\n".join(offenders)


def test_session_workdir_memoizes_and_separates(tmp_path):
    a = session_workdir("t_ckpt")
    assert a == session_workdir("t_ckpt")  # memoized within a session
    assert os.path.isdir(a)
    assert _SESSION_TOKEN in os.path.basename(a)
    b = session_workdir("t_other")
    assert b != a

    # corpus keying: realpath-canonical (ADVICE r06), distinct corpora
    # never share
    c1 = tmp_path / "corpus1"
    c2 = tmp_path / "corpus2"
    c1.mkdir()
    c2.mkdir()
    p1 = session_workdir("t_idx", corpus=str(c1))
    p1b = session_workdir("t_idx", corpus=str(tmp_path / "." / "corpus1"))
    p2 = session_workdir("t_idx", corpus=str(c2))
    assert p1 == p1b
    assert p1 != p2

    # parent is the 0700-verified per-user dir
    parent = os.path.dirname(a)
    st = os.lstat(parent)
    assert st.st_uid == os.getuid()
    assert (st.st_mode & 0o777) == 0o700


def test_two_sessions_never_share_a_path():
    """A second engine session (fresh process) gets a disjoint dir for
    the SAME kind — the exact scenario that raced in r9 judging."""
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "from hpat_jl_spark.workdirs import session_workdir;"
            "print(session_workdir('t_ckpt'))",
        ],
        capture_output=True,
        text=True,
        check=True,
        cwd=os.path.dirname(PKG_ROOT),
    )
    theirs = out.stdout.strip()
    ours = session_workdir("t_ckpt")
    assert theirs != ours
    # and the child's atexit cleanup removed its dir on exit
    assert not os.path.exists(theirs)


def _builder(log):
    def build(d):
        log.append(d)
        with open(os.path.join(d, "out"), "w") as fh:
            fh.write("x")

    return build


def test_staged_builds_once_per_realpath(tmp_path):
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    link = tmp_path / "link"
    link.symlink_to(corpus)
    log = []
    d = staged("t_stage", str(corpus), _builder(log))
    assert os.path.isfile(os.path.join(d, "out"))
    assert os.path.dirname(d) == os.path.dirname(session_workdir("t_ckpt"))
    assert staged("t_stage", str(link), _builder(log)) == d
    assert staged("t_stage", str(tmp_path / "." / "corpus"), _builder(log)) == d
    assert log == [d]

    # a vanished dir is built again, at the same path
    os.rename(d, d + "_gone")
    assert staged("t_stage", str(corpus), _builder(log)) == d
    assert log == [d, d]
    # forgetting the staged inputs builds again into an emptied dir
    open(os.path.join(d, "stray"), "w").close()
    invalidate_table_cache()
    assert staged("t_stage", str(corpus), _builder(log)) == d
    assert log == [d, d, d]
    assert os.listdir(d) == ["out"]


def test_staged_records_nothing_when_build_raises(tmp_path):
    def broken(d):
        open(os.path.join(d, "partial"), "w").close()
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        staged("t_broken", str(tmp_path), broken)
    log = []
    d = staged("t_broken", str(tmp_path), _builder(log))
    assert log == [d]
    assert os.listdir(d) == ["out"]


def _mark(d):
    """Drop a file that only survives while ``d`` is not rebuilt."""
    open(os.path.join(d, "__mark"), "w").close()
    return lambda: os.path.exists(os.path.join(d, "__mark"))


def test_symlinked_sf_dir_reuses_staged_inputs(spark, tmp_path):
    """One input spelled two ways (a symlink to sf_dir) is staged once:
    the h5 file, the CSV copy and the events symlink farm are the same
    files, not rebuilt copies."""
    from hpat_jl_spark.plans.hdf5_source import _stage_lineitem_h5, _stage_orders
    from hpat_jl_spark.plans.streaming import _stage_events_dir
    from hpat_jl_spark.sources.io import write_csv
    from hpat_jl_spark.testing import check_query

    link = tmp_path / "sf_link"
    link.symlink_to(SF)
    stages = {
        "h5": lambda sf: os.path.dirname(_stage_lineitem_h5(spark, sf)),
        "csv": lambda sf: os.path.dirname(
            _stage_orders(spark, sf, "csv", write_csv)
        ),
        "events": lambda sf: _stage_events_dir(sf),
    }
    kept = {kind: _mark(stage(SF)) for kind, stage in stages.items()}
    for kind, stage in stages.items():
        assert stage(str(link)) == stage(SF), kind
        assert kept[kind](), f"{kind} was staged again for the symlink"
    for name in ("hdf5_ingest_agg", "csv_ingest_agg", "stream_tumbling_counts"):
        assert check_query(spark, name, str(link)) == [], name
    assert all(k() for k in kept.values())

    # invalidate_table_cache() forgets staged inputs: staging runs again
    invalidate_table_cache()
    for kind, stage in stages.items():
        stage(SF)
        assert not kept[kind](), f"{kind} was not staged again"


def test_upsert_calls_share_one_workdir(spark):
    """stream_foreach_batch_upsert writes its versions into one session
    workdir and clears it per call: three calls leave one dir holding
    one call's versions (each call used to leave its own temp dir until
    the process exited)."""
    from hpat_jl_spark import registry
    from hpat_jl_spark.testing import check_query

    fn = registry.queries()["stream_foreach_batch_upsert"]
    root = session_workdir("stream_upsert", SF)
    counts = []
    for _ in range(3):
        fn(spark, SF).collect()
        counts.append(len(os.listdir(os.path.join(root, "versions"))))
    assert counts[0] >= 2 and counts == counts[:1] * 3
    parent = os.path.dirname(root)
    assert glob.glob(os.path.join(parent, f"stream_upsert_*_{_SESSION_TOKEN}")) == [root]
    assert check_query(spark, "stream_foreach_batch_upsert", SF) == []
