"""Replicated probe tiers (scripts/probe.stage_amplified) keep doc_id
unique: the per-doc array_distinct rewrites in benchmark_decontaminate,
corpus_prep and fuzzy_decontaminate are exact only for unique doc_id,
so staging refuses a tier whose replicas repeat one."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

import probe  # noqa: E402

SHIFTS = {"documents": ["doc_id"], "nation": None}


def test_stage_amplified_shifts_doc_ids_apart(spark, sf_dir, tmp_path):
    out = str(tmp_path / "x2")
    probe.stage_amplified(spark, out, 2, SHIFTS, base=sf_dir)
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert spark.read.parquet(f"{out}/documents.parquet").count() == 2 * base
    # dimension tables are staged once
    assert spark.read.parquet(f"{out}/nation.parquet").count() == (
        spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    )


def test_stage_amplified_refuses_repeated_doc_ids(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setattr(probe, "KEY_SHIFT", 0)
    with pytest.raises(RuntimeError, match="repeat a doc_id"):
        probe.stage_amplified(spark, str(tmp_path / "x2"), 2, SHIFTS, base=sf_dir)
