"""Prepared queries build once per session (``registry._plans_once``).

``REGISTRY[name].fn`` of a query tagged ``prepared`` keeps the analyzed
plan of its first build and hands every later call with the same
session, input dir and SQL conf a new Dataset over it. These tests pin
what that may and may not change: a hit is a new Dataset with its own
QueryExecution, runs the same jobs as a build and matches the oracle;
anything the plan could depend on forces a rebuild; builders that
persist, and queries not tagged ``prepared``, are never kept.
"""

from __future__ import annotations

import inspect
import os
import re
import sys

import pytest
from conftest import SF_CORRECT, SF_SMOKE

from hpat_jl_spark import registry, tables
from hpat_jl_spark.testing import check_query

PREPARED = registry.tagged("prepared")


def _key(name: str, sf_dir: str = SF_SMOKE):
    return (inspect.unwrap(registry.REGISTRY[name].fn), os.path.realpath(sf_dir))


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _run_jobs(spark, df) -> int:
    before = _jobs(spark)
    df.write.format("noop").mode("overwrite").save()
    return _jobs(spark) - before


def _optimized(df) -> str:
    """The optimized plan without expression IDs and the counters of
    lambda variable names (``x_2``), which differ between any two builds."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"(lambda \w+)_\d+", r"\1", re.sub(r"#\d+", "", plan))


def test_hit_is_a_new_dataset_and_runs_no_job(spark):
    fn = registry.REGISTRY["q21_waiting_supplier"].fn
    first = fn(spark, SF_SMOKE)
    kept = registry._PLAN_CACHE[_key("q21_waiting_supplier")]
    before = _jobs(spark)
    hit = fn(spark, SF_SMOKE)
    assert _jobs(spark) == before
    assert registry._PLAN_CACHE[_key("q21_waiting_supplier")] is kept
    assert not hit._jdf.equals(first._jdf)
    assert not hit._jdf.queryExecution().equals(first._jdf.queryExecution())


def test_hits_run_the_jobs_of_a_build(spark):
    """A shared QueryExecution would make the second run reuse the
    first run's shuffle output: 1 job instead of q21's several."""
    fn = registry.REGISTRY["q21_waiting_supplier"].fn
    registry._PLAN_CACHE.pop(_key("q21_waiting_supplier"), None)
    built = _run_jobs(spark, fn(spark, SF_SMOKE))
    assert built > 1
    assert [_run_jobs(spark, fn(spark, SF_SMOKE)) for _ in range(2)] == [built, built]


def test_conf_input_dir_and_invalidation_force_a_rebuild(spark, tmp_path):
    name = "q5_local_supplier_volume"
    fn = registry.REGISTRY[name].fn
    fn(spark, SF_SMOKE)
    kept = registry._PLAN_CACHE[_key(name)]

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(int(prev) + 1))
    try:
        fn(spark, SF_SMOKE)
        assert registry._PLAN_CACHE[_key(name)] is not kept
    finally:
        spark.conf.set(key, prev)
    fn(spark, SF_SMOKE)  # the restored conf is another change
    kept = registry._PLAN_CACHE[_key(name)]

    # one entry per real input dir: a link to the same dir hits
    link = tmp_path / "sf_link"
    link.symlink_to(SF_SMOKE)
    fn(spark, str(link))
    assert registry._PLAN_CACHE[_key(name)] is kept
    registry._PLAN_CACHE.pop(_key(name, SF_CORRECT), None)
    fn(spark, SF_CORRECT)
    assert _key(name, SF_CORRECT) in registry._PLAN_CACHE
    assert registry._PLAN_CACHE[_key(name)] is kept

    tables.invalidate_table_cache()
    assert not registry._PLAN_CACHE
    fn(spark, SF_SMOKE)
    assert registry._PLAN_CACHE[_key(name)] is not kept


def test_only_prepared_builders_are_wrapped():
    for name, spec in registry.REGISTRY.items():
        raw = inspect.unwrap(spec.fn)
        if name in PREPARED:
            assert spec.fn is not raw, name
        else:
            assert spec.fn is raw, name
        # the module-level name stays the raw builder
        assert getattr(sys.modules[raw.__module__], raw.__name__) is raw, name


def test_stream_query_replays_on_every_call(spark):
    fn = registry.REGISTRY["stream_tumbling_counts"].fn
    for _ in range(2):
        before = _jobs(spark)
        fn(spark, SF_SMOKE)
        assert _jobs(spark) > before


def test_builds_that_persist_are_not_kept(spark):
    spark.catalog.clearCache()
    registry.REGISTRY["triangle_count"].fn(spark, SF_SMOKE)
    assert _key("triangle_count") not in registry._PLAN_CACHE
    spark.catalog.clearCache()


@pytest.mark.parametrize("name", PREPARED)
def test_hit_plans_and_answers_like_a_raw_build(spark, name):
    """After ``clearCache`` (as bench and perfbench call between
    queries) a kept plan optimizes to what a fresh build does; a build
    that persisted a fragment would not, since only the rebuild
    registers the fragment again."""
    fn = registry.REGISTRY[name].fn
    fn(spark, SF_SMOKE)
    spark.catalog.clearCache()
    kept = registry._PLAN_CACHE.get(_key(name))
    hit = _optimized(fn(spark, SF_SMOKE))
    assert registry._PLAN_CACHE.get(_key(name)) is kept
    raw = _optimized(inspect.unwrap(fn)(spark, SF_SMOKE))
    spark.catalog.clearCache()
    assert hit == raw
    assert check_query(spark, name, SF_SMOKE) == []
    assert check_query(spark, name, SF_SMOKE) == []
    spark.catalog.clearCache()
