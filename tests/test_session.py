"""session.scan_split_count: the job-free scan-parallelism estimate
(ADVICE r12) must agree with what Spark actually reports on a bare
scan wherever the row-group cap does not bind, and must be capped by
the parquet row-group count where it does (the r7 trap: byte-range
splits only yield rows where a row group starts).
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from hpat_jl_spark import session
from hpat_jl_spark.session import (
    _parse_jvm_bytes,
    driver_memory,
    local_cpus,
    pinned_width,
    scan_split_count,
    sized_shuffle_partitions,
    starved_scan_pin_width,
)
from hpat_jl_spark.tables import TABLE_NAMES, table_path


def test_parse_jvm_bytes():
    assert _parse_jvm_bytes("128MB") == 128 << 20
    assert _parse_jvm_bytes("4194304b") == 4 << 20
    assert _parse_jvm_bytes("1g") == 1 << 30
    assert _parse_jvm_bytes("512") == 512
    assert _parse_jvm_bytes(42) == 42
    assert _parse_jvm_bytes("2k") == 2048


def test_defaults_follow_the_box_when_env_unset(monkeypatch, tmp_path):
    """Without SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM the session is
    sized from the machine: the CPUs this process may use, and half the
    RAM capped at 8g and floored at 1g."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    cpus = len(os.sched_getaffinity(0))
    assert local_cpus() == cpus
    # the per-core cap binds: 1 MB of input at one partition per byte
    (tmp_path / "t.parquet").write_bytes(bytes(1 << 20))
    assert session.sized_shuffle_partitions(
        str(tmp_path), target_bytes=1, floor=0
    ) == 4 * cpus
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert driver_memory() == f"{max(1024, min(8192, ram_mb // 2))}m"
    for pages, want in ((1 << 18, "1024m"), (1 << 19, "1024m"),
                        (3 << 19, "3072m"), (1 << 23, "8192m")):
        # 4 KiB pages: 1 GiB, 2 GiB, 6 GiB and 32 GiB of RAM
        monkeypatch.setattr(
            session.os, "sysconf",
            lambda name, pages=pages: 4096 if name == "SC_PAGE_SIZE" else pages,
        )
        assert driver_memory() == want, pages


def test_env_overrides_box_defaults(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "12g")
    assert local_cpus() == 3
    assert driver_memory() == "12g"


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
)
def test_scan_split_count_matches_spark(spark, sf_dir):
    """Against ground truth: min(reported partitions, row groups).
    The .rdd call is fine HERE (a test may plan); the production
    plan-construction path must not (the bench zero-jobs contract)."""
    for name in TABLE_NAMES:
        path = table_path(sf_dir, name)
        reported = spark.read.parquet(path).rdd.getNumPartitions()
        row_groups = pq.ParquetFile(path).metadata.num_row_groups
        assert scan_split_count(spark, path) == min(reported, row_groups), (
            name,
            sf_dir,
            reported,
            row_groups,
        )


def test_scan_split_count_tracks_conf(spark):
    """A probe that re-tunes maxPartitionBytes (scaling_probe stages
    do) must see the packing move in lockstep with Spark's."""
    path = table_path("/root/testdata/sf0.1", "lineitem")
    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    prev = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set(keys[0], "262144b")  # 256 KB splits
        spark.conf.set(keys[1], "16384b")
        reported = spark.read.parquet(path).rdd.getNumPartitions()
        row_groups = pq.ParquetFile(path).metadata.num_row_groups
        assert scan_split_count(spark, path) == min(reported, row_groups)
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_row_group_cap_fires_on_synthetic_single_group(spark, tmp_path):
    """A file whose byte size spans many splits but holds ONE row group
    must count as 1 (r7 trap) — the case the old
    .rdd.getNumPartitions() input overstated."""
    import pyarrow as pa

    f = str(tmp_path / "one_group.parquet")
    n = 200_000
    tbl = pa.table({"x": pa.array(range(n)), "s": pa.array(["y" * 40] * n)})
    pq.write_table(tbl, f, row_group_size=n)
    assert pq.ParquetFile(f).metadata.num_row_groups == 1
    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    prev = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set(keys[0], "65536b")
        spark.conf.set(keys[1], "1024b")
        reported = spark.read.parquet(f).rdd.getNumPartitions()
        assert reported > 1  # Spark reports many byte-range partitions...
        assert scan_split_count(spark, f) == 1  # ...only one yields rows
        # and the pin decision flips to "starved", as it should
        assert starved_scan_pin_width(1, 32, 8) == 32
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def _with_confs(spark, confs: dict, fn):
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        return fn()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _nonempty_partitions(spark, path: str) -> int:
    from pyspark.sql import functions as F

    return spark.read.parquet(path).select(F.spark_partition_id().alias("p")).distinct().count()


def test_row_group_cap_is_per_file(spark, tmp_path):
    """ADVICE r13 #3: a big single-row-group file cut into 3 byte ranges
    yields rows from ONE of them; a small 8-row-group file in one range
    adds one more. Two scan tasks produce rows, not min(packed, 9)."""
    import pyarrow as pa

    d = tmp_path / "mixed"
    d.mkdir()
    n = 200_000
    big = pa.table({"x": pa.array(range(n)), "s": pa.array(["y" * 40] * n)})
    pq.write_table(big, str(d / "big.parquet"), row_group_size=n)
    small = big.slice(0, 800)
    pq.write_table(small, str(d / "small.parquet"), row_group_size=100)
    assert pq.ParquetFile(str(d / "small.parquet")).metadata.num_row_groups == 8
    split = os.path.getsize(d / "big.parquet") // 3 + 1  # 3 ranges of big
    confs = {
        "spark.sql.files.maxPartitionBytes": f"{split}b",
        "spark.sql.files.openCostInBytes": "1024b",
        "spark.sql.files.minPartitionNum": "1",
    }

    def check():
        assert spark.read.parquet(str(d)).rdd.getNumPartitions() >= 3
        assert scan_split_count(spark, str(d)) == _nonempty_partitions(spark, str(d)) == 2

    _with_confs(spark, confs, check)


def test_scan_split_count_unchanged_on_split_rich_documents(spark, tmp_path):
    """The split-rich documents layout (8 files x 4 row groups) keeps the
    value the total row-group cap gave: there the per-file cap does not
    bind, so stream state widths and scan pins see the same count."""
    docs = pq.read_table(table_path("/root/testdata/sf0.01", "documents"))
    d = tmp_path / "documents.parquet"
    d.mkdir()
    rows = -(-docs.num_rows // 8)
    for i in range(8):
        part = docs.slice(i * rows, rows)
        pq.write_table(part, str(d / f"part-{i}.parquet"),
                       row_group_size=max(-(-part.num_rows // 4), 1))
    reported = spark.read.parquet(str(d)).rdd.getNumPartitions()
    assert scan_split_count(spark, str(d)) == min(reported, 32)
    assert scan_split_count(spark, str(d)) == _nonempty_partitions(spark, str(d))


def test_invalidate_table_cache_drops_scan_listings(spark, tmp_path):
    """A directory restaged at the same path is re-listed only after
    invalidate_table_cache(): the scan listing shares the table cache's
    files-never-change assumption, so both are dropped together."""
    import pyarrow as pa

    from hpat_jl_spark.tables import invalidate_table_cache

    d = tmp_path / "staged"
    d.mkdir()
    tbl = pa.table({"x": pa.array(range(1000))})
    pq.write_table(tbl, str(d / "part-0.parquet"))
    assert scan_split_count(spark, str(d)) == 1
    for i in range(1, 4):
        pq.write_table(tbl, str(d / f"part-{i}.parquet"))
    assert scan_split_count(spark, str(d)) == 1  # the stale listing
    invalidate_table_cache()
    assert scan_split_count(spark, str(d)) == 4


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_pinned_width_is_the_r9_rule(spark, sf):
    """pinned_width is the expression the eight pinned exchanges spelled
    out before it existed, with the relational and the graph cap."""
    sf_dir = f"/root/testdata/{sf}"
    par = spark.sparkContext.defaultParallelism
    assert pinned_width(spark, sf_dir) == max(par, sized_shuffle_partitions(sf_dir))
    assert pinned_width(spark, sf_dir, per_core_cap=16) == max(
        par, sized_shuffle_partitions(sf_dir, per_core_cap=16)
    )
