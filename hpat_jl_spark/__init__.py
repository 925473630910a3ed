"""hpat_jl_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of IntelLabs/HPAT.jl (reference at
/root/reference, studied in SURVEY.md), rebuilt Spark-first.

The reference is a Julia→C++/MPI compiler exposing three relational
operators (filter / join / aggregate) plus array kernels; this package
re-expresses that surface (and a modern extension layer: window ops, set
ops, dedup, similarity search, text analysis, multimodal columns,
streaming) as thin, well-typed wrappers over the PySpark DataFrame API so
that Catalyst/Tungsten/AQE provide the distribution, shuffle planning,
codegen and optimization the reference implemented by hand.

Layout:
    session      SparkSession bootstrap tuned for scale (AQE, Arrow, ...)
    tables       schema'd loaders for the canonical star-schema fixtures
    operators/   HPAT-surface relational + windowed + set operators
    functions/   text analysis, dedup, similarity, multimodal kernels
    plans/       end-to-end query plans (BigBench q05/q25/q26 analogues,
                 TPC-H-style headline queries)
    streaming/   Structured Streaming surface (sessionization, windows)
    ml/          DAAL-kernel equivalents via pyspark.ml
"""

__version__ = "0.1.0"


def __getattr__(name: str):
    # Lazy export (PEP 562): importing the package must not import
    # pyspark, because Spark's Python workers start from
    # ``hpat_jl_spark.worker_daemon``, which fixes sys.path first.
    if name == "get_spark":
        from hpat_jl_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
