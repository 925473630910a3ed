#!/usr/bin/env python
"""Full local twin of the driver's correctness gate: run EVERY
registered query against its DuckDB oracle (or rows-only execute) at
sf0.01 and report failures. Exit 0 iff all green.

Every FAIL line is re-printed in the final summary (VERDICT r03 #3:
a one-off failure once scrolled out of a captured tail and the flake's
name was lost — the summary must be self-contained evidence).

Usage: python scripts/oracle_sweep.py [SF_DIR] [--tag TAG]

``--tag TAG`` sweeps only the queries registered with that tag (the
``tags`` of their ``QuerySpec``), e.g. ``--tag streaming`` for the
``stream_*`` queries."""

from __future__ import annotations

import argparse
import sys
import time

sys.path.insert(0, ".")  # run as scripts/oracle_sweep.py from the repo root

from hpat_jl_spark import registry
from hpat_jl_spark.session import get_spark
from hpat_jl_spark.testing import check_query


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--tag", help="sweep only queries registered with TAG")
    args, sys.argv[1:] = p.parse_known_args()  # leaves the SF_DIR positional
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    qs = registry.queries()
    if args.tag:
        qs = {n: f for n, f in qs.items() if args.tag in registry.REGISTRY[n].tags}
        if not qs:
            print(f"no registered query has tag {args.tag!r}", file=sys.stderr)
            return 2
    spark = get_spark(app_name="oracle-sweep")
    oracles = registry.oracle_sql()
    failures: list[str] = []
    for name in qs:
        t0 = time.perf_counter()
        try:
            if name in oracles:
                issues = check_query(spark, name, sf_dir)
            else:
                n = qs[name](spark, sf_dir).count()
                issues = [] if n >= 0 else [f"negative count {n}"]
        except Exception as exc:  # noqa: BLE001
            issues = [f"raised: {exc}"]
        # per-query cache isolation (r6): persisted fragments otherwise
        # accumulate in CacheManager for the whole 186-query session
        spark.catalog.clearCache()
        dt = time.perf_counter() - t0
        kind = "oracle" if name in oracles else "rows  "
        if issues:
            line = f"FAIL {kind} {name} ({dt:.1f}s): {issues}"
            failures.append(line)
            print(line, flush=True)
        else:
            print(f"ok   {kind} {name} ({dt:.1f}s)", flush=True)
    print(f"\n{len(qs) - len(failures)}/{len(qs)} green")
    for line in failures:
        print(f"  {line}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
