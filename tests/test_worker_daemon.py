"""Python workers start from the installed pyspark (worker_daemon.py):
Spark's source-only archives under $SPARK_HOME leave the worker path
when the installed pyspark matches the JVM's, and package kernels
import from any working directory.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pandas as pd

from hpat_jl_spark.worker_daemon import filtered_path

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_installed_pyspark(spark):
    import pyspark

    def report(batches):
        import sys
        import zipimport

        import pyspark

        zipped = sum(
            isinstance(v, zipimport.zipimporter)
            for v in sys.path_importer_cache.values()
        )
        for _ in batches:
            yield pd.DataFrame(
                {"file": [pyspark.__file__], "version": [pyspark.__version__],
                 "zipped": [zipped]}
            )

    rows = (
        spark.range(0, 4, 1, 4)
        .mapInPandas(report, "file string, version string, zipped long")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert os.path.isfile(r.file), r.file  # not a member of an archive
        assert r.version == pyspark.__version__
        assert r.zipped == 0


def _fake_layout(tmp_path, jvm_version, installed_version):
    """A SPARK_HOME with Spark's worker archives, a site directory that
    holds pyspark (at ``installed_version``, or none) and py4j, and a
    user zip outside SPARK_HOME. Returns (spark_home, path)."""
    home = tmp_path / "spark"
    lib = home / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f'__version__: str = "{jvm_version}"\n')
    with zipfile.ZipFile(lib / "py4j-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    (home / "jars").mkdir()
    (home / "jars" / "spark-core.jar").write_bytes(b"PK\x05\x06" + b"\0" * 18)
    site = tmp_path / "site"
    (site / "py4j").mkdir(parents=True)
    (site / "py4j" / "__init__.py").write_text("")
    if installed_version is not None:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_text(
            f'__version__: str = "{installed_version}"\n'
        )
    user_zip = tmp_path / "deps.zip"
    with zipfile.ZipFile(user_zip, "w") as z:
        z.writestr("userlib.py", "")
    path = [
        str(tmp_path),
        str(lib / "pyspark.zip"),
        str(lib / "py4j-src.zip"),
        str(home / "jars" / "spark-core.jar"),
        str(user_zip),
        str(site),
    ]
    return str(home), path


def test_filter_drops_spark_archives_keeps_user_zip(tmp_path):
    home, path = _fake_layout(tmp_path, "4.1.2", "4.1.2")
    assert filtered_path(path, home) == [path[0], path[4], path[5]]


def test_filter_keeps_path_without_installed_pyspark(tmp_path):
    home, path = _fake_layout(tmp_path, "4.1.2", None)
    assert filtered_path(path, home) == path


def test_filter_keeps_path_on_version_mismatch(tmp_path):
    home, path = _fake_layout(tmp_path, "4.1.2", "4.0.0")
    assert filtered_path(path, home) == path


# bpe_encode_stats' kernel calls the module-level apply_merges, which
# the worker imports by reference: it needs the package on its path.
_FRESH_DIR_SCRIPT = f"""
import sys
sys.path.insert(0, {REPO_ROOT!r})
import pandas as pd
from pyspark.sql import functions as F
from hpat_jl_spark import get_spark
from hpat_jl_spark.functions.bpe import bpe_encode_stats

spark = get_spark(master="local[2]", shuffle_partitions=2)
docs = spark.range(3).select(
    F.col("id").alias("doc_id"), F.lit("low lower lowest").alias("text")
)
stats = bpe_encode_stats(docs, [("l", "o"), ("lo", "w")])
words, subwords = stats.agg(F.sum("n_words"), F.sum("n_subwords")).first()

@F.pandas_udf("long")
def plus_one(s: pd.Series) -> pd.Series:
    return s + 1

udf_total = spark.range(10).select(F.sum(plus_one("id"))).first()[0]
spark.stop()
print("RESULT", words, subwords, udf_total)
"""


def test_kernels_run_from_any_working_directory(tmp_path):
    """The package is found only through the driver's sys.path: no
    PYTHONPATH, and a working directory that does not hold it."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _FRESH_DIR_SCRIPT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "RESULT 9 33 55" in proc.stdout, proc.stdout
