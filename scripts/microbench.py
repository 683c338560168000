"""Focused steady-state microbench: warm shared caches, then per-query
best-of-N noop-write timing for the given names (bench.py methodology,
restricted set — for A/B comparison while optimizing).

Usage: python scripts/microbench.py [-nN] name [name ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from apl_commissions_etl_spark.registry import all_queries  # noqa: E402
from apl_commissions_etl_spark.session import (  # noqa: E402
    get_spark,
    warm_shared_caches,
)


def main() -> None:
    args = sys.argv[1:]
    n = 3
    if args and args[0].startswith("-n"):
        n = int(args[0][2:])
        args = args[1:]
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("microbench")
    spark.range(1).count()
    t0 = time.time()
    warm_shared_caches(spark, sf_dir)
    print(f"[micro] warm {time.time() - t0:.2f}s", file=sys.stderr, flush=True)
    qs = all_queries()
    results = {}
    for name in names:
        samples = []
        for _ in range(n + 1):  # first is the cold/JIT pass
            t0 = time.time()
            qs[name].spark_fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            samples.append(round(time.time() - t0, 3))
        results[name] = samples
        print(
            f"[micro] {name} cold={samples[0]} best={min(samples[1:])} "
            f"all={samples[1:]}",
            flush=True,
        )
    total = sum(min(s[1:]) for s in results.values())
    print(f"[micro] TOTAL best-of-{n}: {total:.3f}s", flush=True)


if __name__ == "__main__":
    main()
