#!/usr/bin/env python
"""Dump .explain('formatted') for named registered queries to files.

Usage:
    python scripts/explain_query.py OUTDIR SUFFIX name [name ...]

Writes OUTDIR/<name>_<SUFFIX>.txt for each query, built (lazily — no
jobs run) against $SPARK_GRAFT_SF_DIR (default sf0.1). Used to produce
the plans/r12/ before/after evidence files.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    outdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from dump_plans import fmt_plan
    from hpat_jl_spark import registry
    from hpat_jl_spark.session import get_spark

    spark = get_spark()
    qs = registry.queries()
    for name in names:
        plan = fmt_plan(qs[name](spark, sf_dir))
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} @ {sf_dir} — explain('formatted')\n\n")
            fh.write(plan)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
