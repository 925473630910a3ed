"""Repeated queries in one session reuse their generated classes.

Spark compiles each stage's generated Java with Janino and keeps the
classes in one JVM-wide LRU cache (``spark.sql.codegen.cache.maxEntries``,
100 by default). The six perfbench ``relational`` queries alone generate
~113 distinct classes, so at the default a second pass over them
recompiled 66-89 classes; ``get_spark`` sizes the cache for the whole
registry.
"""

from __future__ import annotations

from conftest import SF_CORRECT

from hpat_jl_spark import registry
from hpat_jl_spark.session import codegen_compiles

RELATIONAL = (
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "q21_waiting_supplier",
    "q01_copurchase",
    "asof_join_views",
    "sessionize_events",
)


def _pass(spark) -> int:
    before = codegen_compiles(spark)
    for name in RELATIONAL:
        df = registry.REGISTRY[name].fn(spark, SF_CORRECT)
        df.write.format("noop").mode("overwrite").save()
    return codegen_compiles(spark) - before


def test_warm_pass_reuses_generated_classes(spark):
    registry.load_all_plans()
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"
    first = _pass(spark)
    second = _pass(spark)
    # Earlier queries in the session may already have compiled some of
    # these classes; a cold session's first pass compiles ~113.
    assert second * 10 < max(first, 10), (first, second)
