"""Python-worker daemon that imports pyspark from the installed package.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the
spark-core jar first on every worker's ``sys.path``. On Python 3.11 the
``importlib.invalidate_caches()`` that pyspark's ``setup_spark_files``
runs on every task makes each of those zip importers re-read its whole
archive directory, and ``pyspark.zip`` ships no ``.pyc``, so every cold
worker also compiles pyspark from source. ``session.get_spark`` points
``spark.python.daemon.module`` here on local masters: the archives
under ``$SPARK_HOME`` leave the path, then Spark's own daemon runs
unchanged. The path stays as Spark set it when no installed pyspark is
importable or its version differs from the zip's (the zip matches the
JVM). This module must not import pyspark before the path is fixed.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__(?:\s*:\s*str)?\s*=\s*["']([^"']+)["']""")


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def filtered_path(path: list[str], spark_home: str | None) -> list[str]:
    """``path`` without the archives under ``spark_home``, or ``path``
    unchanged when the installed pyspark (and py4j) are not importable
    from what remains or the installed pyspark's version differs from
    ``pyspark/version.py`` in ``$SPARK_HOME/python/lib/pyspark.zip``.
    Directories and archives elsewhere (user ``--py-files``) stay."""
    if not spark_home:
        return path
    home = os.path.realpath(spark_home) + os.sep
    kept = [
        p
        for p in path
        if not (os.path.isfile(p) and os.path.realpath(p).startswith(home))
    ]
    specs = [PathFinder.find_spec(m, kept) for m in ("pyspark", "py4j")]
    if not all(s is not None and s.origin for s in specs):
        return path
    try:
        with zipfile.ZipFile(os.path.join(home, "python", "lib", "pyspark.zip")) as z:
            jvm_version = _version(z.read("pyspark/version.py").decode())
        with open(os.path.join(os.path.dirname(specs[0].origin), "version.py")) as f:
            installed = _version(f.read())
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return kept if jvm_version is not None and installed == jvm_version else path


def main() -> None:
    kept = filtered_path(sys.path, os.environ.get("SPARK_HOME"))
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == p or key.startswith(p + os.sep) for p in dropped):
            del sys.path_importer_cache[key]

    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
