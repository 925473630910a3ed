"""Package code builds no DataFrame from a Python RDD.

A DataFrame over ``sparkContext.parallelize`` (or any other RDD made in
Python) runs a pickled Python stage in every task that reads it; under
a ``mapInPandas`` that is a second Python worker per task, and peak
worker memory that depends on timing. Small frames come from
``spark.range`` and literals in the JVM instead (sources/hdf5.py
``_split_frame``). This scan fails on any RDD entry point in the
package source.
"""

from __future__ import annotations

import ast
import os

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "hpat_jl_spark"
)

# attributes that create an RDD in Python: SparkContext's constructors
# and DataFrame.rdd
RDD_ENTRY_POINTS = {
    "rdd",
    "parallelize",
    "emptyRDD",
    "textFile",
    "wholeTextFiles",
    "binaryFiles",
    "binaryRecords",
    "pickleFile",
    "sequenceFile",
    "hadoopFile",
    "hadoopRDD",
    "newAPIHadoopFile",
    "newAPIHadoopRDD",
}


def _uses(path: str) -> list[str]:
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    return [
        f"{os.path.relpath(path, PACKAGE)}:{node.lineno} .{node.attr}"
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute) and node.attr in RDD_ENTRY_POINTS
    ]


def test_package_builds_no_python_rdd():
    found = [
        use
        for root, _dirs, files in os.walk(PACKAGE)
        for f in files
        if f.endswith(".py")
        for use in _uses(os.path.join(root, f))
    ]
    assert not found

