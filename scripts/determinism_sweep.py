#!/usr/bin/env python
"""Determinism sweep: run every registered query TWICE at sf0.001 and
compare canonicalized results. The oracle compare can't catch
run-to-run nondeterminism (it recomputes both sides each round); the
driver's value-hash gate CAN — any query whose output depends on
partition order (unordered any_value over ties, un-tiebroken limits,
PRNG without a fixed seed) would flicker between rounds. Run after
adding queries:

    python scripts/determinism_sweep.py
"""

from __future__ import annotations

import inspect
import sys

sys.path.insert(0, ".")

from hpat_jl_spark import registry  # noqa: E402
from hpat_jl_spark.session import get_spark  # noqa: E402
from hpat_jl_spark.testing import compare_frames  # noqa: E402

SF = "/root/testdata/sf0.001"


def main() -> int:
    registry.load_all_plans()
    spark = get_spark(app_name="determinism-sweep")
    bad = []
    for name in sorted(registry.REGISTRY):
        fn = registry.REGISTRY[name].fn
        try:
            a = fn(spark, SF).toPandas()
            # clearCache so run b genuinely RECOMPUTES (r6): identical
            # plans match run a's CacheManager entries, so without this
            # any query whose output flows through a persisted fragment
            # would trivially "agree" by reading run a's cached blocks
            # instead of re-executing — exactly the nondeterminism this
            # sweep exists to catch. Run b also goes through the raw
            # builder: fn of a ``prepared`` query would hand back run
            # a's kept plan and hide a builder that is nondeterministic
            # at build time.
            spark.catalog.clearCache()
            b = inspect.unwrap(fn)(spark, SF).toPandas()
            spark.catalog.clearCache()
        except Exception as exc:  # noqa: BLE001
            bad.append((name, [f"raised: {exc}"]))
            print(f"ERROR {name}: {exc}")
            continue
        problems = compare_frames(a, b)
        if problems:
            bad.append((name, problems))
            print(f"NONDETERMINISTIC {name}: {problems}")
    print(f"swept {len(registry.REGISTRY)} queries twice; unstable: {len(bad)}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
