"""Workload definitions: which registered queries a client runs, on which
input layout, and why the workload exists."""

from __future__ import annotations

import os
from dataclasses import dataclass

# The input: a copy of the repository's sf0.01 test fixtures (TESTDATA.md;
# 60k lineitems, 500 documents), kept here because a run reads only files
# of its own checkout. sf0.1 does not fit the run budget (README.md).
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.01")


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    # tables restaged split-rich (several files x several row groups);
    # every other table keeps the one-file, one-row-group layout
    split_tables: tuple[str, ...] = ()


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="relational",
            why=(
                "TPC-H/BigBench joins, windows and as-of joins: the job-floor "
                "regime (Catalyst, AQE rounds, inter-job gaps, plan build) "
                "with no Python workers"
            ),
            queries=(
                "q1_pricing_summary",
                "q5_local_supplier_volume",
                "q21_waiting_supplier",
                "q01_copurchase",
                "asof_join_views",
                "sessionize_events",
            ),
        ),
        Workload(
            name="llm_ingest",
            why=(
                "text and ingest queries on a split-rich document scan: "
                "shuffle, Arrow (mapInPandas) kernels, streaming state and "
                "checkpoints, HDF5 decode"
            ),
            queries=(
                # three of the six queries that carry the starved-scan pin
                "text_stats",
                "heavy_hitters",
                "inverted_index",
                # write side: micro-batch state and checkpoints, HDF5
                # encode and decode
                "stream_tumbling_counts",
                "hdf5_ingest_agg",
            ),
            split_tables=("documents",),
        ),
    )
}
