"""Capture .explain("formatted") for every headline query into
plans/<round>/<query>_<tag>.txt (round = e.g. r14, tag = before/after).

Usage: python scripts/capture_plans.py <round> <tag> [name ...]
Defaults to every bench.HEADLINE name; explicit names restrict the set.
Runs at sf0.1 with the same session + warmed shared caches as bench.py
so the captured plan is the steady-state plan the bench times.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402

from apl_commissions_etl_spark.registry import all_queries  # noqa: E402
from apl_commissions_etl_spark.session import (  # noqa: E402
    get_spark,
    warm_shared_caches,
)


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    rnd = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        rnd,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(f"capture-plans-{rnd}")
    warm_shared_caches(spark, sf_dir)
    qs = all_queries()
    for name in names:
        if name not in qs:
            print(f"[plans] SKIP unknown {name}", file=sys.stderr)
            continue
        df = qs[name].spark_fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"[plans] wrote {path}", file=sys.stderr)


if __name__ == "__main__":
    main()
