"""Input staging: copy a workload's tables from the committed fixtures,
restage its split-rich tables from the seed, and cache each query's
DuckDB oracle result (and the DuckDB twin's time) beside the input. A
staged input is reused by later runs with the same workload and seed
(any seed, for a workload without split-rich tables: its input does not
depend on the seed).

Two layouts are read by the queries:

* the fixtures' own: every table in one file with one row group, where
  each scan is a single task;
* ``restage_split``: one table rewritten as a directory of several files
  with several row groups each, rows permuted by the seed, so the scan
  yields at least ``files`` tasks.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from workloads import FIXTURES, Workload


def stage(workload: Workload, seed: int, cache_dir: str) -> str:
    """Directory holding ``tables/``, ``expected/<query>.pkl`` and
    ``twins.json`` for (workload, seed); built once, atomically."""
    seeded = f"seed-{seed}-" if workload.split_tables else ""
    final = os.path.join(cache_dir, workload.name, f"{seeded}{_key(workload)}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tables_dir = os.path.join(tmp, "tables")
    os.makedirs(tables_dir)
    for name in sorted(os.listdir(FIXTURES)):
        src = os.path.join(FIXTURES, name)
        if name.removesuffix(".parquet") in workload.split_tables:
            restage_split(pq.read_table(src), os.path.join(tables_dir, name), seed)
        else:
            shutil.copyfile(src, os.path.join(tables_dir, name))
    twins = write_expected(workload.queries, tables_dir, os.path.join(tmp, "expected"))
    with open(os.path.join(tmp, "twins.json"), "w") as fh:
        json.dump(twins, fh)
    os.makedirs(os.path.dirname(final), exist_ok=True)
    os.rename(tmp, final)
    return final


def _key(workload: Workload) -> str:
    """Changes whenever the staged files or the expected results would:
    with the workload, the fixtures, this file or an oracle."""
    from hpat_jl_spark import registry

    registry.load_all_plans()
    oracles = [registry.REGISTRY[q].oracle for q in workload.queries]
    digest = hashlib.sha256(repr((workload, oracles)).encode())
    for path in [__file__] + sorted(
        os.path.join(FIXTURES, n) for n in os.listdir(FIXTURES)
    ):
        with open(path, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    return digest.hexdigest()[:12]


def restage_split(
    tbl: pa.Table, out_path: str, seed: int, files: int = 8, row_groups: int = 4
) -> None:
    """Write ``tbl`` as ``files`` part-files of ``row_groups`` row groups
    each, rows permuted by ``seed``: the same rows in a seed-chosen order."""
    order = np.random.default_rng(seed).permutation(tbl.num_rows)
    tbl = tbl.take(pa.array(order))
    os.makedirs(out_path, exist_ok=True)
    per_file = -(-tbl.num_rows // files)
    for i in range(files):
        part = tbl.slice(i * per_file, per_file)
        pq.write_table(
            part,
            os.path.join(out_path, f"part-{i:05d}.parquet"),
            row_group_size=max(-(-part.num_rows // row_groups), 1),
        )


def write_expected(queries, sf_dir: str, out_dir: str) -> dict[str, float]:
    """Run each query's oracle SQL in DuckDB over ``sf_dir``; pickle the
    result frame for the exact compare and return the DuckDB seconds."""
    from hpat_jl_spark import registry
    from hpat_jl_spark.testing import duckdb_con

    registry.load_all_plans()
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb_con(sf_dir)
    twins = {}
    for q in queries:
        sql = registry.REGISTRY[q].oracle
        if sql is None:
            raise ValueError(f"{q} has no DuckDB oracle; it cannot be checked")
        t = time.perf_counter()
        frame = con.execute(sql).df()
        twins[q] = time.perf_counter() - t
        with open(os.path.join(out_dir, f"{q}.pkl"), "wb") as fh:
            pickle.dump(frame, fh)
    con.close()
    return twins
