"""Commission-flow benchmark.

    python3 perfbench/run.py --workload nightly_batch --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.py``) against the engine in the
directory above this one, checks its outputs against DuckDB, and prints
two JSON lines: a report with every metric under its workload's own
name, then the result line (``correct``, ``attempted``, ``failed``,
``metrics``). ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json; ``--trace 1`` turns on Spark's event log and the
benchmark's job groups and reports the per-layer metrics instead.
Run data goes to ``.perfbench/`` in the same directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "apl_commissions_etl_spark"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: no {ENGINE}/ next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import metrics
    from harness import Harness
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    h = Harness(out_dir, traced=bool(args.trace))
    try:
        res = WORKLOADS[args.workload](h, args.seed, args.seconds)
        mode = h.mode()
    finally:
        h.close()
    report, line = metrics.summarize(args.workload, h, res, mode)
    with open(os.path.join(out_dir, "result.json"), "w") as fh:
        json.dump({"report": report, "result": line}, fh, indent=1)
    h.tracer.dump(os.path.join(out_dir, "spans.jsonl"))
    for sub in ("inputs", "runs", "tmp", "warehouse", "eventlog"):
        shutil.rmtree(os.path.join(out_dir, sub), ignore_errors=True)
    print(json.dumps(report, sort_keys=True))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
