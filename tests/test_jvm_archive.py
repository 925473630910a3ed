"""The driver JVM of a local session runs against a per-machine AppCDS
archive (session._class_archive_launch): the first session writes it
as its JVM exits, later sessions map it. Any launch the archive could
break (a classpath directory that is not empty, the caller's own CDS
options) is left exactly as Spark would make it.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import time
import types

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

from hpat_jl_spark import session

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JAVA_OPTS = "spark.driver.extraJavaOptions"
MAGIC = session._DYNAMIC_ARCHIVE_MAGIC


@pytest.fixture
def home(monkeypatch, tmp_path):
    """A SPARK_HOME with two jars and a stock conf dir (templates only),
    a private cache, and none of the environment that would make the
    launch step aside."""
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "conf").mkdir()
    (spark_home / "jars" / "a.jar").write_bytes(b"a" * 10)
    (spark_home / "jars" / "b.jar").write_bytes(b"b" * 20)
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("# x\n")
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for var in (
        "SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS",
        *session._CLASSPATH_VARS, *session._JAVA_OPTION_VARS,
    ):
        monkeypatch.delenv(var, raising=False)
    return spark_home


def _launch(monkeypatch, **kwargs) -> tuple[dict[str, str], str | None]:
    """The conf and SPARK_CONF_DIR that ``get_spark`` would launch a new
    driver JVM with; nothing is launched."""
    seen = {}

    def get_or_create(builder):
        seen["conf"] = dict(builder._options)
        seen["conf_dir"] = os.environ.get("SPARK_CONF_DIR")
        return types.SimpleNamespace(
            sparkContext=types.SimpleNamespace(setLogLevel=lambda _level: None)
        )

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    session.get_spark(**{"master": "local[2]", **kwargs})
    return seen["conf"], seen["conf_dir"]


def _archive(home, tmp_path) -> str:
    return str(
        tmp_path / "cache" / "hpat_jl_spark" / "jvm"
        / (session._class_archive_key(str(home)) + ".jsa")
    )


def test_key_follows_jar_size_and_mtime(home):
    jar = home / "jars" / "a.jar"
    key = session._class_archive_key(str(home))
    assert session._class_archive_key(str(home)) == key
    jar.write_bytes(b"a" * 11)
    resized = session._class_archive_key(str(home))
    assert resized != key
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert session._class_archive_key(str(home)) not in (key, resized)


def test_first_session_dumps_into_an_empty_conf_dir(monkeypatch, home, tmp_path):
    conf, conf_dir = _launch(monkeypatch)
    archive = _archive(home, tmp_path)
    assert conf[JAVA_OPTS].split() == [
        f"-XX:ArchiveClassesAtExit={archive}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
    ]
    assert conf_dir == os.path.join(os.path.dirname(archive), "conf")
    assert os.listdir(conf_dir) == []
    assert "SPARK_CONF_DIR" not in os.environ  # restored after the launch


@pytest.mark.parametrize(
    "head, flag",
    [
        (bytes(4096), "ArchiveClassesAtExit"),  # a dump cut short
        (MAGIC + bytes(4092), "SharedArchiveFile"),
    ],
)
def test_only_a_complete_archive_is_mapped(monkeypatch, home, tmp_path, head, flag):
    archive = _archive(home, tmp_path)
    os.makedirs(os.path.dirname(archive))
    with open(archive, "wb") as fh:
        fh.write(head)
    conf, _conf_dir = _launch(monkeypatch)
    assert f"-XX:{flag}={archive}" in conf[JAVA_OPTS].split()


def test_callers_java_options_survive(monkeypatch, home):
    conf, _conf_dir = _launch(
        monkeypatch, extra_conf={JAVA_OPTS: "-Dfoo=bar -Xss4m"}
    )
    opts = conf[JAVA_OPTS].split()
    assert opts[:2] == ["-Dfoo=bar", "-Xss4m"]
    assert any(o.startswith("-XX:ArchiveClassesAtExit=") for o in opts[2:])


@pytest.mark.parametrize("case", ["defaults_file", "hadoop_conf_dir", "xshare_off"])
def test_launch_unchanged_when_cds_could_break_it(monkeypatch, home, tmp_path, case):
    extra_conf = {}
    if case == "defaults_file":
        (home / "conf" / "spark-defaults.conf").write_text("spark.x 1\n")
    elif case == "hadoop_conf_dir":
        monkeypatch.setenv("HADOOP_CONF_DIR", str(tmp_path))
    else:
        extra_conf = {JAVA_OPTS: "-Xshare:off"}
    conf, conf_dir = _launch(monkeypatch, extra_conf=extra_conf)
    assert conf.get(JAVA_OPTS) == extra_conf.get(JAVA_OPTS)
    assert conf_dir is None


def test_launch_unchanged_without_a_cache_dir(monkeypatch, home, tmp_path):
    blocker = tmp_path / "not_a_dir"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    conf, conf_dir = _launch(monkeypatch)
    assert JAVA_OPTS not in conf and conf_dir is None


def test_cluster_master_launch_unchanged(monkeypatch, home):
    conf, conf_dir = _launch(monkeypatch, master="spark://nowhere:7077")
    assert JAVA_OPTS not in conf and conf_dir is None


_SESSION = textwrap.dedent(
    """
    import sys
    from hpat_jl_spark.session import get_spark
    from hpat_jl_spark.testing import check_query

    spark = get_spark(master="local[2]")
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/maps") as fh:
        mapped = sorted({line.split()[-1] for line in fh if line.rstrip().endswith(".jsa")})
    print("MAPPED", *mapped)
    print("DIFF", check_query(spark, "q1_pricing_summary", sys.argv[1]))
    """
)


def _session(tmp_path, sf_dir) -> dict[str, str]:
    env = dict(
        os.environ,
        XDG_CACHE_HOME=str(tmp_path / "cache"),
        PYTHONPATH=REPO_ROOT,
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, "-c", _SESSION, sf_dir],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return {
        key: value
        for key, _, value in (line.partition(" ") for line in out.stdout.splitlines())
        if key in ("MAPPED", "DIFF")
    }


def _head(path) -> bytes:
    with open(path, "rb") as fh:
        return fh.read(len(MAGIC))


def test_second_session_maps_the_first_sessions_archive(tmp_path, sf_dir):
    jvm_dir = tmp_path / "cache" / "hpat_jl_spark" / "jvm"
    first = _session(tmp_path, sf_dir)
    assert first["DIFF"] == "[]"
    assert str(jvm_dir) not in first["MAPPED"]
    # the JVM writes the archive as it exits, header last
    deadline = time.monotonic() + 120
    while not (complete := [a for a in jvm_dir.glob("*.jsa") if _head(a) == MAGIC]):
        assert time.monotonic() < deadline, "no complete archive"
        time.sleep(1)
    (archive,) = complete

    second = _session(tmp_path, sf_dir)
    assert str(archive) in second["MAPPED"].split()
    assert second["DIFF"] == "[]"
